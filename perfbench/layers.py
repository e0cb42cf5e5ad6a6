"""Per-layer probes for the traced run.

Stage self times come from cumulative prefixes of a plan, each written
to the ``noop`` sink: a prefix's self time is its time minus the time
of the prefix before it.  ``count()`` is never used for timing, since
the optimizer prunes pandas UDFs whose output it does not need.
Per-doc costs come from direct single-core calls on a doc sample.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

ROUTES = ("fast_path", "span_fast_path", "clean_refast", "tolerant", "plain_text")
FUZZY = {"threshold": 0.8, "hub_cap": 512, "n_hubs": 2}  # the composed job's defaults


def noop_write(build, obs_expr=None) -> tuple[float, dict]:
    """Seconds to build a frame with ``build()`` and materialize it into
    the noop sink, and the values of ``obs_expr`` (aggregates observed
    during the same pass).  Building is timed too: some operators run
    driver-side work eagerly while they build their plan."""
    t0 = time.perf_counter()
    df = build()
    obs = None
    if obs_expr is not None:
        obs = Observation()
        df = df.observe(obs, *obs_expr)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, (obs.get if obs is not None else {})


def filter_prefixes(docs: DataFrame) -> dict:
    """scan -> +langid -> +quality -> +repair/ppl -> +scrub/keep, built
    the way ``pipeline.quality_filter`` builds them."""
    from json_remedy_spark.functions import langid, quality
    from json_remedy_spark.operators.pipeline import quality_filter
    from json_remedy_spark.operators.repair_udf import make_repair_udf

    text = F.col("text")
    lang = docs.withColumn("lang_id", langid.detect_language(text))
    qual = lang.withColumn("q_pass", quality.passes_quality(text, hof=quality.hof_metrics(text)))
    rep = qual.withColumn("r", make_repair_udf()(text))
    return {
        "sources.scan_s": docs,
        "langid.self_s": lang,
        "quality.self_s": qual,
        "repair_udf.self_s": rep,
        "scrub_keep.self_s": quality_filter(docs),
    }


def prefix_self_times(prefixes: dict, reps: int) -> tuple[dict, float]:
    """Median time of each prefix over ``reps`` passes, differenced.
    Returns the self times and the full prefix's time."""
    out, prev = {}, 0.0
    for name, df in prefixes.items():
        t = statistics.median(noop_write(lambda: df)[0] for _ in range(reps))
        out[name] = t - prev
        prev = t
    return out, prev


def kernel_probe(texts: list) -> dict:
    """Repair-kernel cost and route mix over ``texts``, single core.

    The route of each doc is read from its ``repair_with_debug`` result,
    plus whether the call built a ``TolerantParser``; the per-route
    time is the debug record's ``processing_time_us``."""
    from json_remedy_spark.kernel import pipeline as kp

    t0 = time.perf_counter()
    ok = sum(kp.repair(s).ok for s in texts)
    us_per_doc = (time.perf_counter() - t0) * 1e6 / len(texts)

    built = [0]
    real_parser = kp.TolerantParser

    class CountingParser(real_parser):
        def __init__(self, *a, **kw):
            built[0] += 1
            super().__init__(*a, **kw)

    n = {r: 0 for r in ROUTES}
    us = {r: 0 for r in ROUTES}
    kp.TolerantParser = CountingParser
    try:
        for s in texts:
            before = built[0]
            r, dbg = kp.repair_with_debug(s)
            if built[0] > before:
                route = "tolerant"
            elif r.fast_path:
                route = "span_fast_path" if r.repairs else "fast_path"
            elif r.repairs and r.repairs[0]["action"] == "plain text replaced with empty string":
                route = "plain_text"
            else:
                route = "clean_refast"
            n[route] += 1
            us[route] += dbg["processing_time_us"]
    finally:
        kp.TolerantParser = real_parser
    out = {"kernel.us_per_doc": us_per_doc, "kernel.ok_share": ok / len(texts)}
    for r in ROUTES:
        out[f"kernel.route.{r}.share"] = n[r] / len(texts)
        out[f"kernel.route.{r}.us_per_doc"] = us[r] / n[r] if n[r] else 0.0
    return out


def per_doc_probe(texts: list) -> dict:
    """Single-core µs/doc of the quality word-metrics kernel and the
    perplexity scorer, called directly."""
    from json_remedy_spark.functions.perplexity import score_texts
    from json_remedy_spark.functions.quality import make_hof_metrics_udf

    hof = make_hof_metrics_udf().func
    series = pd.Series(texts)
    t0 = time.perf_counter()
    hof(series)
    t1 = time.perf_counter()
    score_texts(texts)
    t2 = time.perf_counter()
    return {
        "quality.us_per_doc": (t1 - t0) * 1e6 / len(texts),
        "perplexity.us_per_doc": (t2 - t1) * 1e6 / len(texts),
    }


def dedup_chain(docs: DataFrame) -> dict:
    """The composed job's fuzzy-dedup stage as cumulative prefixes:
    shingles -> +minhash/bands -> +candidates -> +verify -> +components,
    with the count at each step observed during the same pass."""
    from json_remedy_spark.functions import dedup

    one = F.count(F.lit(1)).alias("n")

    def step(build, obs):
        # frames a step persists are dropped before the next step, which
        # would otherwise read them from cache instead of recomputing
        handles: list = []
        try:
            return noop_write(lambda: build(handles), obs)
        finally:
            for h in handles:
                h.unpersist()

    def banded(handles):
        return dedup.banded_signatures(dedup.minhash_from_shingles(dedup.shingles(docs)))

    t_sh, _ = step(lambda h: dedup.shingles(docs), [one])
    t_mh, o_mh = step(banded, [one])
    t_cand, o_cand = step(
        lambda h: dedup.candidate_pairs_from_banded(banded(h), hub_cap=FUZZY["hub_cap"], n_hubs=FUZZY["n_hubs"]),
        [one],
    )
    t_ver, o_ver = step(lambda h: dedup.lsh_verified_pairs(docs, handles=h, **FUZZY), [one])
    stats: dict = {}
    t_comp, o_comp = step(
        lambda h: dedup.near_dup_components(docs, handles=h, stats_out=stats, **FUZZY),
        [one, F.sum(F.col("is_canonical").cast("long")).alias("canon")],
    )
    return {
        "dedup.shingles_s": t_sh,
        "dedup.minhash_s": t_mh - t_sh,
        "dedup.candidates_s": t_cand - t_mh,
        "dedup.verify_s": t_ver - t_cand,
        "dedup.components_s": t_comp - t_ver,
        "dedup.band_rows": o_mh["n"],
        "dedup.candidate_pairs": o_cand["n"],
        "dedup.verified_pairs": o_ver["n"],
        "dedup.verify_yield": o_ver["n"] / o_cand["n"] if o_cand["n"] else 0.0,
        "dedup.driver_union_find": int(bool(stats.get("driver_union_find"))),
        "dedup.rounds": stats.get("rounds", 0),
        "dedup.removed": o_comp["n"] - (o_comp["canon"] or 0),
    }

"""End-to-end benchmark of the repo's two user jobs.

    python3 perfbench/run.py --workload filter_short --seed 1 --seconds 1 --trace 0

Workloads (one closed-loop client: submit one job, wait until its
output is committed, submit the next):

* ``filter_short`` -- what ``jobs/run_quality_filter.py`` runs:
  ``read_table`` -> ``run_with_checkpoints(quality_filter, n_buckets=8)``
  over pages from the default ``sources.webpages.make_row`` mix.
* ``corpus_build`` -- ``jobs/run_corpus_pipeline.run`` with its default
  stages (filter -> URL dedup -> line dedup -> fuzzy dedup -> write)
  over pages with planted duplicate families.

Each run builds a ``local[N]`` session sized from the host and writes
its seeded input (or reuses it).  Then jobs run for ``--seconds`` (at
least one; the first job of the fresh session is the one a CLI user
pays for), and every job's output is checked against the expected
table of its seed.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs a first job, one traced and one untraced job, then
the per-layer probes, and prints the per-layer metrics.  The last
stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import host
import layers
from pyspark.sql import functions as F
from spans import Tracer, event_log_metrics, job_counts

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM = ("json_remedy_spark/__init__.py", "jobs/run_corpus_pipeline.py", "jobs/run_quality_filter.py")

WORKLOADS = {
    "filter_short": {
        "n_docs": 20000,
        # jobs/run_quality_filter.py main()
        "app": "json_remedy_spark.quality_filter",
        "confs": {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        },
    },
    "corpus_build": {
        "n_docs": 3000,
        # jobs/run_corpus_pipeline.py main(), plus a host-sized shuffle
        # width: at Spark's default of 200 one cold job takes ~105 s on
        # 4 cores, which does not fit a run.
        "app": "jrs-corpus-pipeline",
        "confs": {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
        },
    },
}
N_BUCKETS = 8  # run_with_checkpoints' own default
TRACED_GROUP = "perfbench-traced"


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, file count) of the parquet files under ``path``."""
    size, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size / 2**20, files


def load_corpus_job():
    spec = importlib.util.spec_from_file_location(
        "run_corpus_pipeline", os.path.join(REPO, "jobs", "run_corpus_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class FilterShort:
    def __init__(self, spark):
        self.spark = spark

    def run(self, pages: str, out: str) -> None:
        from json_remedy_spark.operators.checkpoint import run_with_checkpoints
        from json_remedy_spark.operators.pipeline import quality_filter
        from json_remedy_spark.sources.catalog import read_table

        run_with_checkpoints(quality_filter, read_table(self.spark, pages), out, n_buckets=N_BUCKETS)

    def run_traced(self, pages: str, out: str, tracer, scratch: str) -> None:
        from json_remedy_spark.operators.checkpoint import run_with_checkpoints
        from json_remedy_spark.operators.pipeline import quality_filter
        from json_remedy_spark.sources.catalog import read_table

        docs = tracer.wrap("catalog.read_table", read_table)(self.spark, pages)
        tracer.wrap("checkpoint.run_with_checkpoints", run_with_checkpoints)(
            tracer.wrap("pipeline.quality_filter", quality_filter), docs, out, n_buckets=N_BUCKETS
        )

    def check(self, out: str, meta: dict) -> dict:
        """Counts and an order-free digest of (url, keep, repaired,
        scrubbed) against the expected table; bit_xor cannot overflow
        the way a sum of hashes does under ANSI mode."""
        res = self.spark.read.parquet(os.path.join(out, "part_bucket=*"))
        exp = self.spark.read.parquet(meta["expected"])
        got = res.agg(
            F.count("*").alias("n"),
            F.count_distinct("url").alias("urls"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.bit_xor(F.xxhash64("url", "keep", "repaired", "scrubbed")).alias("digest"),
        ).first()
        want = exp.agg(
            F.sum(F.col("expected_keep").cast("long")).alias("kept"),
            F.bit_xor(F.xxhash64("url", "expected_keep", "expected_repaired", "expected_scrubbed")).alias("digest"),
        ).first()
        j = res.join(exp, "url").agg(
            F.sum((F.col("keep") & F.col("expected_keep")).cast("long")).alias("tp"),
            F.sum((F.col("keep") & ~F.col("expected_keep")).cast("long")).alias("fp"),
            F.sum((~F.col("keep") & F.col("expected_keep")).cast("long")).alias("fn"),
            F.sum((F.col("repaired") == F.col("expected_repaired")).cast("long")).alias("exact"),
        ).first()
        tp, fp, fn = j["tp"] or 0, j["fp"] or 0, j["fn"] or 0
        ok = (
            got["n"] == got["urls"] == meta["n_out"]
            and got["kept"] == want["kept"]
            and got["digest"] == want["digest"]
        )
        return {
            "ok": ok,
            "filter.keep_f1": 2 * tp / (2 * tp + fp + fn) if tp else 0.0,
            "filter.repaired_exact_share": (j["exact"] or 0) / meta["n_pages"],
        }


class CorpusBuild:
    def __init__(self, spark):
        self.spark = spark
        self.job = load_corpus_job()

    def run(self, pages: str, out: str) -> None:
        self.job.run(self.spark, self.job.build_parser().parse_args(["--input", pages, "--output", out]))

    def run_traced(self, pages: str, out: str, tracer, scratch: str) -> None:
        """With ``--checkpoint-root`` each global stage materializes
        inside ``StageCheckpointer.stage``, so a span around that call
        times the stage; ``read_table`` and ``write_table`` get spans
        too.  The module attributes are patched for this call only."""
        from json_remedy_spark.operators import checkpoint
        from json_remedy_spark.sources import catalog

        args = self.job.build_parser().parse_args(
            ["--input", pages, "--output", out, "--checkpoint-root", scratch]
        )
        saved = (catalog.read_table, catalog.write_table, checkpoint.StageCheckpointer.stage)
        real_stage = saved[2]

        def stage(stager, name, fn):
            with tracer.span(f"stage.{name}"):
                return real_stage(stager, name, fn)

        catalog.read_table = tracer.wrap("catalog.read_table", catalog.read_table)
        catalog.write_table = tracer.wrap("catalog.write_table", catalog.write_table)
        checkpoint.StageCheckpointer.stage = stage
        try:
            self.job.run(self.spark, args)
        finally:
            catalog.read_table, catalog.write_table, checkpoint.StageCheckpointer.stage = saved

    def check(self, out: str, meta: dict) -> dict:
        """Exactly one output row per expected group, each at a url of
        that group and with that url's expected text."""
        res = self.spark.read.parquet(out)
        exp = self.spark.read.parquet(meta["expected"])
        r = res.join(exp, "url", "left").agg(
            F.count("*").alias("n"),
            F.count("grp").alias("matched"),
            F.count_distinct("grp").alias("groups"),
            F.sum((F.col("text") != F.col("expected_text")).cast("long")).alias("bad_text"),
        ).first()
        ok = r["n"] == r["matched"] == r["groups"] == meta["n_out"] and not r["bad_text"]
        return {"ok": ok}


JOBS = {"filter_short": FilterShort, "corpus_build": CorpusBuild}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def attempt(job, pages: str, out: str, run=None) -> float | None:
    """Wall seconds of one job, or None if it raised."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        (run or (lambda: job.run(pages, out)))()
        return time.perf_counter() - t0
    except Exception as e:  # a failed job is counted, and the run goes on
        log(f"job failed: {type(e).__name__}: {e}")
        return None


def measure(job, meta: dict, seconds: float, out_root: str) -> dict:
    """The closed loop: jobs back to back until ``seconds`` have passed
    (at least one), then every output is checked.  The first job of the
    fresh session is what a user of the CLI jobs pays on every run: it
    includes JIT compilation and the Python workers' imports."""
    me = os.getpid()
    walls, outs = [], []
    cpu0 = host.tree_cpu_s(me)
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        outs.append(os.path.join(out_root, f"job{len(walls)}"))
        walls.append(attempt(job, meta["pages"], outs[-1]))
    cpu = host.tree_cpu_s(me) - cpu0
    log(f"job walls: {walls}")
    failed = 0
    for w, out in zip(walls, outs):
        failed += w is None or not job.check(out, meta)["ok"]
        shutil.rmtree(out, ignore_errors=True)
    done = [w for w in walls if w is not None] or [float("nan")]
    wall = statistics.median(done)
    return {
        "attempted": len(walls),
        "failed": failed,
        "metrics": {
            "wall_s": wall,
            "docs_per_s": meta["n_pages"] / wall,
            "cpu_s_per_kdoc": cpu * 1000 / (meta["n_pages"] * len(walls)),
        },
    }


def traced(job, meta: dict, out_root: str, tracer, probe_texts: list) -> dict:
    """A first (cold) job, then a traced and an untraced job on the same
    input, then the per-layer probes.  The tracing overhead is the
    traced job's time over the untraced one's; both run warm."""
    spark = job.spark
    m: dict = {}
    outs = {k: os.path.join(out_root, k) for k in ("cold", "traced", "untraced")}
    ckpt = os.path.join(out_root, "stages")
    walls = {"cold": attempt(job, meta["pages"], outs["cold"])}
    spark.sparkContext.setJobGroup(TRACED_GROUP, "perfbench traced job")
    with host.PeakRss(os.getpid()) as rss, tracer.span("job"):
        walls["traced"] = attempt(job, meta["pages"], outs["traced"],
                                  lambda: job.run_traced(meta["pages"], outs["traced"], tracer, ckpt))
    m["peak_rss_mb"] = rss.peak
    spark.sparkContext.setJobGroup("perfbench-probes", "perfbench untraced job and layer probes")
    walls["untraced"] = attempt(job, meta["pages"], outs["untraced"])
    failed = 0
    for k, w in walls.items():
        checked = job.check(outs[k], meta) if w is not None else {"ok": False}
        failed += not checked.pop("ok")
        if k == "traced":
            m.update(checked)
    if walls["traced"] is None or walls["untraced"] is None:
        return {"attempted": 3, "failed": failed, "metrics": m}
    wall = walls["traced"]
    m.update(job_counts(spark, TRACED_GROUP))
    m["trace.overhead_s"] = wall - walls["untraced"]
    m["write.output_mb"], m["write.files"] = dir_stats(outs["traced"])
    m["sources.input_mb"] = dir_stats(meta["pages"])[0]

    root = tracer.find("job")
    selfs = tracer.self_by_name(root)
    pages = spark.read.parquet(meta["pages"])
    if isinstance(job, FilterShort):
        stage_s, full = layers.prefix_self_times(layers.filter_prefixes(pages), reps=3)
        m.update(stage_s)
        m["checkpoint.self_s"] = tracer.duration(tracer.find("checkpoint.run_with_checkpoints")) - full
        m["checkpoint.buckets"] = N_BUCKETS
        attributed = sum(stage_s.values()) + m["checkpoint.self_s"]
    else:
        from json_remedy_spark.operators.pipeline import quality_filter

        filter_s, seen = layers.noop_write(
            lambda: quality_filter(pages, with_actions=False).where("keep"),
            [F.count(F.lit(1)).alias("n")],
        )
        rows = {s: spark.read.parquet(os.path.join(ckpt, s)).count()
                for s in ("s1_filtered", "s2_line_dedup", "s5_fuzzy_dedup")}
        m["corpus.filter_s"] = filter_s
        m["corpus.url_dedup_s"] = selfs.get("stage.s1_filtered", 0.0) - filter_s
        m["corpus.url_dedup.removed"] = seen["n"] - rows["s1_filtered"]
        m["corpus.line_dedup_s"] = selfs.get("stage.s2_line_dedup", 0.0)
        m["corpus.line_dedup.removed"] = rows["s1_filtered"] - rows["s2_line_dedup"]
        m["corpus.fuzzy_dedup_s"] = selfs.get("stage.s5_fuzzy_dedup", 0.0)
        m["write.self_s"] = selfs.get("catalog.write_table", 0.0)
        attributed = sum(m[k] for k in ("corpus.filter_s", "corpus.url_dedup_s", "corpus.line_dedup_s",
                                         "corpus.fuzzy_dedup_s", "write.self_s"))
        m.update(layers.dedup_chain(spark.read.parquet(os.path.join(ckpt, "s2_line_dedup"))))
    m["trace.wall_s"] = tracer.duration(root)
    m["unattributed_s"] = m["trace.wall_s"] - attributed
    m.update(layers.kernel_probe(probe_texts))
    m.update(layers.per_doc_probe(probe_texts))
    return {"attempted": 3, "failed": failed, "metrics": m}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: program sources not found next to {HERE}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    cfg = WORKLOADS[args.workload]
    confs = dict(cfg["confs"])
    if args.workload == "corpus_build":
        confs["spark.sql.shuffle.partitions"] = str(2 * host.n_cpus())
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "events") if args.trace else None

    # set-up: JVM + session, a first Python worker, the program's
    # import-time work (the perplexity LM build)
    spark = host.build_session(REPO, run_dir, cfg["app"], confs, event_log)
    try:
        host.first_python_worker(spark)
        import gen
        from json_remedy_spark.operators import pipeline  # noqa: F401
        setup_s = host.process_age_s()

        n_files = 2 * host.n_cpus()
        data = os.path.join(WORK, "data")
        meta = gen.materialize(data, args.workload, args.seed, cfg["n_docs"], n_files)
        log(f"set-up {setup_s:.1f} s, inputs ready at {host.process_age_s():.1f} s")

        tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
        job = JOBS[args.workload](spark)

        if args.trace:
            import pyarrow.parquet as pq

            texts = pq.read_table(meta["pages"], columns=["text"]).column("text").to_pylist()[:2000]
            res = traced(job, meta, run_dir, tracer, texts)
        else:
            res = measure(job, meta, args.seconds, run_dir)
            res["metrics"]["setup_s"] = setup_s
        log(f"measured at {host.process_age_s():.1f} s")
    finally:
        host.stop_session(spark)
    if args.trace:
        res["metrics"].update(event_log_metrics(event_log, TRACED_GROUP))
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    # per-layer metrics of a layer the workload does not run read 0
    values = {m["name"]: res["metrics"].get(m["name"], 0.0) if args.trace else res["metrics"][m["name"]]
              for m in spec}
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

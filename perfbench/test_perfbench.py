"""Tests of the benchmark itself:  python3 -m pytest perfbench -q"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_a_function_of_the_seed(workload):
    make = gen.GENERATORS[workload]
    assert make(300, 5) == make(300, 5)
    assert make(300, 5)[0] != make(300, 6)[0]


def test_corpus_plants_one_family_per_dedup_stage():
    pages, expected, n_out = gen.corpus_rows(400, 3)
    urls = [p["url"] for p in pages]
    assert len(set(urls)) == len(urls)
    kept = len(expected)
    n_fam = 400 // 40
    # URL variants, byte copies and respelled notes each fold one row
    # into a group that already has one; nothing else shares a group
    assert kept - n_out >= 3 * n_fam
    notes = [e for e in expected if "notes" in e["url"]]
    assert len({e["grp"] for e in notes}) == len(notes) // 2
    assert all(len({e["expected_text"] for e in notes if e["grp"] == g}) == 2 for g in {e["grp"] for e in notes})


def test_materialize_reuses_the_tables(tmp_path):
    a = gen.materialize(str(tmp_path), "filter_short", 2, 100, 3)
    stamp = os.path.getmtime(os.path.join(a["pages"], "part-00000.parquet"))
    b = gen.materialize(str(tmp_path), "filter_short", 2, 100, 3)
    assert a == b and a["n_out"] == 100
    assert os.path.getmtime(os.path.join(a["pages"], "part-00000.parquet")) == stamp
    assert len(os.listdir(a["pages"])) == 3


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import host

    work = str(tmp_path_factory.mktemp("spark"))
    s = host.build_session(
        os.path.dirname(HERE), work, "perfbench-tests",
        {"spark.sql.shuffle.partitions": "4", "spark.sql.execution.arrow.pyspark.enabled": "true"},
    )
    yield s
    host.stop_session(s)


def test_py_scrub_matches_the_spark_scrub(spark):
    from pyspark.sql import functions as F

    from json_remedy_spark.functions.scrub import scrub

    _, expected, _ = gen.filter_rows(3000, 11)
    rows = [(e["expected_repaired"], e["expected_scrubbed"]) for e in expected]
    rows += [("call +1 555 123 4567 or a@b.io, ssn 123-45-6789", None), ("badword1 at 10.0.0.1", None)]
    rows = [(t, s if s is not None else gen.py_scrub(t)) for t, s in rows]
    df = spark.createDataFrame(rows, "t string, want string")
    assert df.where(scrub(F.col("t")) != F.col("want")).count() == 0
    assert df.where(F.col("t") != F.col("want")).count() > 2  # the rules fire


def test_digest_is_invariant_under_repartition(spark):
    from pyspark.sql import functions as F

    pages, _, _ = gen.filter_rows(500, 4)
    df = spark.createDataFrame([(p["url"], p["text"]) for p in pages], "url string, text string")

    def digest(d):
        return d.agg(F.bit_xor(F.xxhash64("url", "text"))).first()[0]

    want = digest(df)
    assert digest(df.repartition(7)) == want
    assert digest(df.orderBy(F.col("url").desc()).coalesce(1)) == want
    assert digest(df.limit(499)) != want


def test_prefix_plans_keep_their_arrow_hop(spark):
    import layers
    from json_remedy_spark.plans.explain import arrow_hops

    pages, _, _ = gen.filter_rows(50, 1)
    docs = spark.createDataFrame([(p["url"], p["text"]) for p in pages], "url string, text string")
    hops = {name: arrow_hops(df) for name, df in layers.filter_prefixes(docs).items()}
    assert hops == {
        "sources.scan_s": 0,
        "langid.self_s": 0,
        "quality.self_s": 1,
        "repair_udf.self_s": 1,
        "scrub_keep.self_s": 1,
    }
    # the noop sink writes every column, so the UDF stays in the plan
    t, seen = layers.noop_write(lambda: layers.filter_prefixes(docs)["repair_udf.self_s"],
                                [layers.F.count(layers.F.lit(1)).alias("n")])
    assert t > 0 and seen["n"] == 50

"""The shared MinHash-LSH core in operators/dedupe: the band self-join and
the bipartite gate on hand-built (key, band_id, band_val) frames, and the
plan shapes of their callers at sf0.001 (plans only, no action)."""

import re

import pytest
from pyspark.sql import functions as F

from hashio_spark.caching import release
from hashio_spark.operators.dedupe import (
    band_bipartite_join,
    band_self_join,
    lsh_candidate_pairs,
    minhash_signatures,
)
from hashio_spark.queries import REGISTRY
from test_queries_smoke import SF  # the sf0.001 tables every catalog smoke test reads

MAX_BAND = 3


def _bands(spark, rows):
    return spark.createDataFrame(rows, "key string, band_id int, band_val string")


def test_band_self_join_cap_and_singletons(spark):
    rows = (
        [(f"a{i}", 0, "full") for i in range(MAX_BAND)]  # exactly max_band docs: kept
        + [(f"b{i}", 0, "over") for i in range(MAX_BAND + 1)]  # max_band + 1: dropped
        + [("c0", 0, "solo")]  # singleton: no pair
        + [("a0", 1, "full"), ("a1", 1, "full")]  # a second shared band: pair emitted once
        + [("d0", 0, "v"), ("d1", 1, "v")]  # same value, different band_id: no pair
    )
    pairs = sorted(tuple(r) for r in band_self_join(_bands(spark, rows), MAX_BAND).collect())
    assert pairs == [("a0", "a1"), ("a0", "a2"), ("a1", "a2")]


def test_band_bipartite_join_gate(spark):
    train = _bands(spark, (
        [("t0", 0, "solo")]  # a train band of size 1 still pairs
        + [(f"f{i}", 0, "full") for i in range(MAX_BAND)]  # exactly max_band: kept
        + [(f"o{i}", 1, "over") for i in range(MAX_BAND + 1)]  # max_band + 1: dropped
        + [(f"x{i}", 0, "absent") for i in range(10)]  # no bench doc in this band
        + [("t0", 1, "solo")]  # same value, other band_id: not bench-present
    ))
    bench = _bands(spark, [
        ("B0", 0, "solo"), ("B1", 0, "solo"),  # a bench band may hold several docs
        ("B2", 0, "full"), ("B3", 1, "over"), ("B4", 1, "unused"),
    ])
    cand, hits = band_bipartite_join(train, bench, MAX_BAND)
    got = sorted(tuple(r) for r in cand.collect())
    assert got == sorted([("t0", "B0"), ("t0", "B1")] + [(f"f{i}", "B2") for i in range(MAX_BAND)])
    # band sizes are counted over the bench-present slice only
    sliced = hits.groupBy("band_id", "band_val").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sorted(tuple(r) for r in sliced) == [(0, "full", MAX_BAND), (0, "solo", 1), (1, "over", MAX_BAND + 1)]
    assert hits.storageLevel.useMemory
    hits.unpersist()


def _plan(df) -> str:
    """Optimized logical plan of ``df``; releases its persisted handles."""
    try:
        return df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        release(df)


def _formatted(df) -> str:
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    finally:
        release(df)


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.mark.parametrize("build, pipeline", [
    (lambda spark: REGISTRY["dedupe_minhash_lsh"][0](spark, SF), r"md5\(|udf\("),
    (lambda spark: lsh_candidate_pairs(minhash_signatures(_docs(spark), "doc_id", "text")), r"xxhash64\("),
], ids=["md5_dedupe_minhash_lsh", "xxhash64_lsh_candidate_pairs"])
def test_minhash_pipeline_not_inside_filter(spark, build, pipeline):
    """BENCH.md finding #8: a null test on the signature pushed below the
    band projection re-runs the whole shingle+minhash pipeline per row.
    The drop must stay a scan-column filter (md5 tier) or a filter on
    the generated band attribute (xxhash64 tier)."""
    bad = [ln.strip() for ln in _plan(build(spark)).splitlines()
           if (m := re.search(r"\bFilter\b(.*)", ln)) and re.search(pipeline, m.group(1))]
    assert not bad, bad[0][:160]


def _crosscorpus_operator(spark):
    from hashio_spark.operators.decontaminate import crosscorpus_neardup

    d = _docs(spark)
    return crosscorpus_neardup(d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0"))


@pytest.mark.parametrize("build", [
    lambda spark: REGISTRY["crosscorpus_neardup"][0](spark, SF),
    _crosscorpus_operator,
], ids=["md5_query", "xxhash64_operator"])
def test_crosscorpus_neardup_broadcast_shape(spark, build):
    """Bipartite LSH: the benchmark side broadcasts everywhere (bands,
    size gate, shingle sets), so the train corpus is never join-shuffled,
    and band sizes are a partial-aggregate pair over the semi-joined
    slice."""
    plan = _formatted(build(spark))
    for pat in (r"BroadcastHashJoin", r"HashAggregate"):
        assert re.search(pat, plan), f"missing /{pat}/"
    for pat in (r"SortMergeJoin", r"BatchEvalPython", r"CartesianProduct",
                r"SortAggregate", r"Exchange SinglePartition"):
        assert not re.search(pat, plan), f"forbidden /{pat}/ present"

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


def _join_form(bands, max_band):
    """The former band-row self-join form of ``band_self_join``."""
    on = ["band_id", "band_val"]
    sizes = bands.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
    ok = bands.join(sizes.filter((F.col("n") > 1) & (F.col("n") <= max_band)), on)
    a = ok.select(F.col("key").alias("key_a"), *on)
    b = ok.select(F.col("key").alias("key_b"), *on)
    return a.join(b, on).filter(F.col("key_a") < F.col("key_b")).select("key_a", "key_b").distinct()


# (key, band_id, band_val); keys 10 and 2 order differently as strings
_GROUPED_ROWS = (
    [(1, 0, "rep"), (1, 0, "rep"), (2, 0, "rep")]  # a key twice in one band: n = max_band rows
    + [(1, 1, "rep"), (1, 1, "rep"), (2, 1, "rep"), (3, 1, "rep")]  # same, n = max_band + 1: dropped
    + [(None, 0, "nul"), (4, 0, "nul"), (5, 0, "nul")]  # a NULL key counts in n, pairs with nothing
    + [(None, 1, "nul"), (4, 1, "nul"), (5, 1, "nul"), (6, 1, "nul")]  # ... and can push n past the cap
    + [(10, 0, "two"), (2, 0, "two"), (10, 2, "two"), (2, 2, "two")]  # one pair sharing two bands
    + [(7, 2, "full"), (8, 2, "full"), (9, 2, "full")]  # n = max_band: kept
    + [(20, 2, "over"), (21, 2, "over"), (22, 2, "over"), (23, 2, "over")]  # n = max_band + 1: dropped
    + [(30, 0, "solo"), (31, 1, "solo")]  # same value, different band_id: no pair
)


@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_band_self_join_matches_join_form(spark, key_type):
    cast = (lambda k: k) if key_type == "bigint" else str
    rows = [(None if k is None else cast(k), b, v) for k, b, v in _GROUPED_ROWS]
    bands = spark.createDataFrame(rows, f"key {key_type}, band_id int, band_val string")
    got = sorted(tuple(r) for r in band_self_join(bands, MAX_BAND).collect())
    want = sorted(tuple(r) for r in _join_form(bands, MAX_BAND).collect())
    assert got == want
    pairs = [(1, 2), (4, 5), (2, 10), (7, 8), (7, 9), (8, 9)]
    assert got == sorted(tuple(sorted((cast(a), cast(b)))) for a, b in pairs)


def test_band_self_join_plan_is_one_grouped_pass(spark):
    """Band sizes are counted once, each band's keys are collected once,
    below the collect sits the size gate's join (so a band over the cap
    never reaches a list), and no join pairs band rows (a self-join
    pushes ``key_a < key_b`` into its join condition)."""
    bands = spark.createDataFrame([(1, 0, "v")], "key bigint, band_id int, band_val string")
    plan = _plan(band_self_join(bands, MAX_BAND))
    assert len(re.findall(r"\bcount\(1\)", plan)) == 1, plan
    assert len(re.findall(r"\bcollect_list\(", plan)) == 1, plan
    assert plan.index("collect_list(") < plan.index("Join Inner") < plan.index("count(1)"), plan
    assert not _pair_joins(plan), plan
    assert _pair_joins(_plan(_join_form(bands, MAX_BAND)))  # the detector sees the former self-join


def _pair_joins(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if re.search(r"\bJoin\b.*key_a#\d+L? < key_b#\d+", ln)]


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
                r"SortAggregate", r"Arguments: SinglePartition"):
        assert not re.search(pat, plan), f"forbidden /{pat}/ present"


# Rows that pin the compiled signature form to the former lambda form:
# NULL and empty text, too few tokens, whitespace runs at either end,
# repeated shingles, non-ASCII tokens, and a key that repeats with two
# different texts (two output rows).
_EDGE_ROWS = [
    ("n", None), ("e", ""), ("t1", "one"), ("t2", "one two"),
    ("ws", "a  b c d"), ("lead", " a b c d"), ("trail", "a b c d "),
    ("rep", "a b c a b c a b c"), ("utf", "naïve café über straße 東京 タワー"),
    ("dup", "the quick brown fox jumps"), ("dup", "over the lazy sleeping dog"),
    ("long", "the quick brown fox jumps over the lazy dog and runs far away"),
]


def _lambda_sigs(df, n_perm, k):
    """The former transform/array_min form of ``minhash_signatures``."""
    from hashio_spark.functions.text import word_shingles_from_tokens

    toked = df.select(F.col("doc_id").alias("key"), F.split(F.col("text"), r"\s+").alias("_toks"))
    sh = toked.select("key", word_shingles_from_tokens("_toks", k).alias("_sh"))

    def perm(i: int):
        return F.array_min(F.transform(F.col("_sh"), lambda s: F.xxhash64(F.lit(i), s)))

    return sh.select("key", F.array(*[perm(i) for i in range(n_perm)]).alias("sig"))


@pytest.mark.parametrize("n_perm, k", [(16, 3), (4, 2), (4, 4)])
def test_minhash_signatures_match_lambda_form(spark, n_perm, k):
    df = spark.createDataFrame(_EDGE_ROWS, "doc_id string, text string")
    got = minhash_signatures(df, "doc_id", "text", n_perm=n_perm, shingle_k=k)
    want = _lambda_sigs(df, n_perm, k)
    assert got.count() == want.count() == len(_EDGE_ROWS)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    sigs = {r["key"]: r["sig"] for r in got.collect() if r["key"] != "dup"}
    assert sigs["n"] == sigs["e"] == sigs["t1"] == [None] * n_perm


def test_word_shingle_rows_match_array_form(spark):
    from hashio_spark.functions.text import word_shingle_rows, word_shingles_from_tokens

    df = spark.createDataFrame(list(enumerate(t for _, t in _EDGE_ROWS)), "doc_id int, text string")
    toked = df.select("doc_id", F.split("text", r"\s+").alias("_toks"))
    want = {r[0]: r[1] for r in toked.select("doc_id", word_shingles_from_tokens("_toks", 3)).collect()}
    got: dict = {}
    for r in word_shingle_rows(toked, "_toks", 3).collect():
        got.setdefault(r["doc_id"], [])
        if r["gram"] is not None:
            got[r["doc_id"]].append(r["gram"])
    assert got == want  # one row per doc at least, shingles in token order


def test_minhash_signature_plan_is_compiled(spark):
    """No interpreted lambda, no Filter over the shingle pipeline, no
    SortAggregate: one generate stage and a partial/final HashAggregate."""
    sig = minhash_signatures(_docs(spark), "doc_id", "text")
    plan = _formatted(sig)
    assert not re.search(r"lambdafunction", plan, re.I)
    assert not re.search(r"\bFilter\b", plan)
    assert not re.search(r"SortAggregate", plan)
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"HashAggregate \(\d+\)", tree)) == 2, tree
    assert re.search(r"Functions \[\d+\]: \[partial_min\(", plan)
    assert re.search(r"Functions \[\d+\]: \[min\(", plan)
    assert re.search(r"Arguments: explode\(.*\], true, \[", plan)  # explode_outer

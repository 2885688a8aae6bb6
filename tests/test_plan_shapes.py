"""Physical-plan shapes the engine is designed for, on the sf0.01 catalog.

Two invariants run through every row: no row-at-a-time Python UDF
(``BatchEvalPython``) in a hot path, and no single-partition funnel (a
single-partition exchange of more than one row per task, a global
``rangepartitioning`` sort, a cartesian or nested-loop all-pairs join)
where a hash-partitioned, broadcast or map-side-partial shape does the
job.  Each row names the
patterns the query's formatted plan must and must not contain.  The
plans are built, not run.

Shapes asserted elsewhere are not repeated here: the MinHash-LSH family
(``test_lsh_core.py``), the bucketed shuffle-free uniqueness check
(``test_bucketed.py``), the rolling-stats exchange count
(``test_ordering_entropy.py``) and the report's spans-width
SortAggregate guard (``test_validate.py``).
"""

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hashio_spark.caching import release
from hashio_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"

PY = r"BatchEvalPython"
# not a pattern: any single-partition exchange that carries more than one
# row per task (see _funnels)
SINGLE = "single-partition funnel"
# the formatted plan names an exchange's partitioning on its Arguments line
RANGE = r"Arguments: rangepartitioning"
CART = r"CartesianProduct"
BNL = r"BroadcastNestedLoopJoin"
SMJ = r"SortMergeJoin"
SORT_AGG = r"SortAggregate"
BHJ = r"BroadcastHashJoin"
HASH_AGG = r"HashAggregate"
TOP_K = r"TakeOrderedAndProject"


def _schema(cols: str) -> str:
    return rf"ReadSchema: struct<{cols}>"


# (query, must, must_not)
PLAN_SHAPES = [
    ("filter_query", [r"PushedFilters: \[[^\]]*(EqualTo|GreaterThanOrEqual)", r"Scan parquet"],
     [r"PushedFilters: \[\]"]),
    ("digest_md5", [_schema("doc_id:bigint,text:string")], []),
    ("top_revenue_customers", [BHJ, TOP_K], [SMJ]),
    ("embedding_neardup", [r"HashJoin|SortMergeJoin"], [CART, BNL]),
    ("q1_pricing_summary", [r"PushedFilters: \[[^\]]*LessThanOrEqual", HASH_AGG], []),
    ("doc_fingerprint", [_schema("doc_id:bigint,text:string")], [PY]),
    ("drift_psi_by_group", [BHJ, HASH_AGG], [CART]),
    ("q5_region_revenue",
     [BHJ, r"GreaterThanOrEqual\(o_orderdate",
      _schema("l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double")],
     [SMJ, CART]),
    ("events_asof_purchase", [], [SINGLE, BNL, CART]),
    ("pack_sequences", [r"Window"], [SINGLE, RANGE]),
    ("corpus_clean_pipeline", [r"Window"], [PY, CART, RANGE]),
    ("events_in_signup_window", [r"Join"], [BNL, CART, PY]),
    ("key_profile_users", [TOP_K, HASH_AGG], [RANGE, SORT_AGG]),
    ("pii_redact", [r"Project", r"Scan parquet"], [PY, r"Exchange", SORT_AGG]),
    ("domain_counts", [TOP_K, HASH_AGG], [PY, RANGE]),
    ("count_anomalies", [HASH_AGG, r"BroadcastNestedLoopJoin|BroadcastExchange"], [PY, SORT_AGG]),
    ("jaccard_pairs_exact", [r"xxhash64", HASH_AGG], [PY, CART, BNL]),
    # per-doc top-k is one aggregation plus a Generate, never a Window
    ("tfidf_top_terms", [HASH_AGG, r"BroadcastExchange", r"Generate"], [PY, SINGLE, CART, r"Window"]),
    ("retention_cohorts", [HASH_AGG], [PY, SORT_AGG, CART, BNL]),
    ("corr_by_segment", [HASH_AGG], [PY, SORT_AGG, SINGLE]),
    ("cluster_representatives", [BHJ, r"Window", HASH_AGG], [PY, SINGLE, CART]),
    ("sample_weighted", [HASH_AGG, r"BroadcastExchange"], [PY, SORT_AGG, r"Window", SINGLE, CART]),
    ("term_postings", [HASH_AGG, r"Window"], [PY, SINGLE, CART]),
    ("split_assign", [HASH_AGG], [PY, SORT_AGG, r"Window", SINGLE, CART, r"Join"]),
    ("zscore_outliers", [HASH_AGG, r"BroadcastExchange"], [PY, SORT_AGG, r"Window", SINGLE, CART]),
    # WindowGroupLimit keeps the top-1 per digest map-side, before the exchange
    ("ingest_gate", [r"LeftAnti", r"WindowGroupLimit", r"PushedFilters: \[IsNotNull\(source\)"],
     [PY, SINGLE, CART, SORT_AGG]),
    ("split_leakage", [HASH_AGG, r"Generate"], [PY, SINGLE, CART, SMJ]),
    ("vocab_coverage", [TOP_K, HASH_AGG], [PY, SORT_AGG, SINGLE, CART, SMJ]),
    ("duplicate_ngrams", [HASH_AGG, r"Generate"], [PY, SORT_AGG, SINGLE, CART, SMJ, r"Window"]),
    ("mixture_weights", [HASH_AGG, _schema("lang:string,n_chars:bigint")], [PY, SORT_AGG, CART, SMJ]),
    # its global-order Window runs over the manifest-sized partition listing
    ("compaction_plan", [HASH_AGG, r"Window", _schema("lang:string,source:string,n_chars:bigint")],
     [PY, SORT_AGG, CART]),
    ("zorder_key", [r"Project", _schema("doc_id:bigint,n_chars:bigint"), r"shiftleft"],
     [PY, HASH_AGG, r"Join", r"Generate"]),
    ("partition_bloom", [HASH_AGG, r"partial_bit_or", _schema("text:string,source:string")],
     [PY, SORT_AGG, r"Window", CART, SMJ]),
    ("bloom_probe", [HASH_AGG, BNL], [PY, SMJ, SORT_AGG]),
    ("shuffle_order", [r"hashpartitioning\(shard", _schema("doc_id:bigint")],
     [PY, SINGLE, r"rangepartitioning", CART]),
    ("quality_gate", [r"hashpartitioning\(source", _schema("doc_id:bigint,text:string,source:string")],
     [PY, SINGLE, r"Join"]),
    ("token_entropy", [HASH_AGG, r"partial_count", _schema("text:string,source:string")],
     [PY, SORT_AGG, r"Window", r"Join"]),
    ("rolling_user_stats", [r"hashpartitioning\(user_id", r"Window"], [PY, SINGLE, r"Join"]),
    ("duplicate_lines", [HASH_AGG, r"partial_count", _schema("doc_id:bigint,text:string")],
     [PY, SORT_AGG, r"Window", r"Join"]),
    ("expectation_gate",
     [HASH_AGG, r"hashpartitioning\(source", _schema("text:string,lang:string,source:string,n_chars:bigint")],
     [PY, SORT_AGG, r"Window", r"Join", SINGLE]),
    ("funnel_conversion",
     [r"hashpartitioning\(user_id", _schema("ts:timestamp(_ntz)?,user_id:bigint,event_type:string")],
     [PY, r"Window", CART]),
    ("dedupe_normalized", [HASH_AGG, r"partial_count", _schema("doc_id:bigint,text:string")],
     [PY, SORT_AGG, r"Window", SINGLE]),
    ("q3_shipping_priority", [BHJ, TOP_K], [PY, r"Window", CART, SINGLE]),
    ("q10_returned_items", [BHJ, TOP_K], [PY, r"Window", CART, SINGLE]),
    ("q18_large_volume", [HASH_AGG, BHJ, TOP_K], [PY, r"Window", SMJ, CART]),
    # max_by's struct buffer always plans a SortAggregate pair; that is the
    # fastest arg-max shape measured, so only Window, joins and Python are out
    ("latest_event_per_user", [r"partial_max_by", r"hashpartitioning\(user_id"], [PY, r"Window", r"Join"]),
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _funnels(plan: str) -> list[str]:
    """Ids of the single-partition exchanges in a formatted plan, except
    those fed by an aggregate without grouping keys: that exchange moves
    one partial row per task (a global count or sum), not the data."""
    tree, *details = plan.split("\n\n")
    nodes = {m.group(1): d for d in details if (m := re.match(r"\((\d+)\) ", d))}
    fed_by = dict(re.findall(r"Exchange \((\d+)\)\n[^\n]*?\+- [^\n]*\((\d+)\)", tree))
    return [
        n for n, d in nodes.items()
        if d.startswith(f"({n}) Exchange\n") and "Arguments: SinglePartition" in d
        and "Keys: []" not in nodes.get(fed_by.get(n), "")
    ]


def _assert_shape(plan: str, must, must_not) -> None:
    missing = [p for p in must if not re.search(p, plan)]
    present = [p for p in must_not if (_funnels(plan) if p == SINGLE else re.search(p, plan))]
    assert not missing and not present, f"missing {missing}, forbidden present {present}"


def test_funnel_detector(spark):
    """A global count's single-partition exchange is not a funnel; an
    unpartitioned window's and a ``repartition(1)``'s are."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert _funnels(_formatted(d.groupBy().count())) == []
    assert _funnels(_formatted(d.select(F.row_number().over(Window.orderBy("doc_id")))))
    assert _funnels(_formatted(d.groupBy("source").count().repartition(1)))


@pytest.mark.parametrize("query, must, must_not", PLAN_SHAPES, ids=[r[0] for r in PLAN_SHAPES])
def test_catalog_plan_shape(spark, query, must, must_not):
    df = REGISTRY[query][0](spark, SF)
    try:
        _assert_shape(_formatted(df), must, must_not)
    finally:
        release(df)


def test_asof_plan_has_one_key_exchange(spark):
    """The union-timeline as-of join needs exactly one exchange, hash
    partitioned on the join key."""
    plan = _formatted(REGISTRY["events_asof_purchase"][0](spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan


def test_no_shingle_filter_below_generate(spark):
    """BENCH.md finding #8: an inferred filter pushed below the Generate
    would re-run the shingle pipeline per row (explode_outer keeps it out)."""
    plan = REGISTRY["contamination_check"][0](spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    below = plan.split("Generate", 1)[-1]
    bad = [ln for ln in below.splitlines() if ln.strip().startswith("+- Filter") and "transform(" in ln]
    assert not bad, bad[0][:160]


def test_quality_gate_approx_plans_no_sort(spark):
    """The scale tier's thresholds are a sketch aggregate broadcast back
    into a per-row filter: no Window, no per-group sort of the corpus."""
    from hashio_spark.operators.ordering import quantile_gate_approx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = quantile_gate_approx(d.select("doc_id", "source", F.col("n_chars").alias("score")), "score", "source", 0.5)
    _assert_shape(_formatted(q), [HASH_AGG, r"approx_percentile", BHJ], [PY, r"Window", SMJ, SINGLE])


@pytest.fixture(scope="module")
def flagship_docs(spark, tmp_path_factory):
    from hashio_spark.datagen import documents_interleaved

    path = str(tmp_path_factory.mktemp("flagship") / "docs")
    documents_interleaved(spark, 2000, n_partitions=8).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("parity, must, must_not", [
    (False, [HASH_AGG, r"BroadcastHashJoin|BroadcastNestedLoop.*?catalog", r"Scan parquet"],
     [PY, r"ArrowEvalPython", CART]),
    (True, [r"ArrowEvalPython|BatchEvalPython"], []),
], ids=["hot_path", "parity"])
def test_flagship_report_plan(spark, flagship_docs, parity, must, must_not):
    """The report of a parquet-backed validate: a partial/final hash
    aggregate pair, a broadcast catalog join and no Python; the parity
    mode's digest is the Arrow UDF."""
    from hashio_spark.datagen import asset_catalog
    from hashio_spark.plans.validate import validate

    algo = "xxh64" if parity else "fast"
    res = validate(flagship_docs, asset_catalog(spark, 1000), algo=algo, parity=parity, persist_violations=False)
    try:
        plan = _formatted(res.report)
        _assert_shape(plan, must, must_not)
        if not parity:
            assert len(re.findall(HASH_AGG, plan)) >= 2
    finally:
        release(res.report)

"""Physical-plan audit: dump .explain("formatted") for the flagship plan
and key catalog queries, and assert the plan properties we design for:

* parquet scans carry PushedFilters / pruned ReadSchema where expected,
* small-dim joins are BroadcastHashJoin (no shuffled fact side),
* aggregations are partial (map-side) HashAggregate pairs,
* hot path contains no Python UDFs (BatchEvalPython) except in parity
  mode, and wide spans stay out of unrelated scans.

Writes PLANS.md at the repo root.  Usage:
    PYTHONPATH=/root/repo python tools/plan_audit.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_children(node) -> list:
    """Children of a JVM physical-plan node, looking through adaptive
    wrappers and query stages; a cached-relation scan is a leaf (its rows
    are whatever the cached frame holds)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    if cls == "InMemoryTableScanExec":
        return []
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def wide_sort_aggregates(plan) -> list[str]:
    """SortAggregate nodes whose subtree reads ``spans`` from a file scan,
    i.e. that sort rows carrying the spans payload."""

    def reads_spans(node) -> bool:
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            out = node.output()
            return any(out.apply(i).name() == "spans" for i in range(out.size()))
        return any(reads_spans(k) for k in _plan_children(node))

    found: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "SortAggregateExec" and reads_spans(node):
            found.append(node.simpleString(25)[:160])
        for k in _plan_children(node):
            walk(k)

    walk(plan)
    return found


def main() -> None:
    from pyspark.sql import functions as F

    from hashio_spark.datagen import asset_catalog, documents_interleaved
    from hashio_spark.plans.validate import validate
    from hashio_spark.queries import REGISTRY
    from hashio_spark.session import get_spark

    spark = get_spark(cores=8, app="plan-audit")
    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    def check(name: str, plan: str, must: list[str], must_not: list[str] = ()) -> list[str]:
        notes = []
        for pat in must:
            ok = re.search(pat, plan) is not None
            notes.append(f"{'OK ' if ok else 'MISSING '} expect /{pat}/")
            if not ok:
                failures.append(f"{name}: missing /{pat}/")
        for pat in must_not:
            bad = re.search(pat, plan) is not None
            notes.append(f"{'VIOLATION ' if bad else 'OK '} forbid /{pat}/")
            if bad:
                failures.append(f"{name}: forbidden /{pat}/ present")
        return notes

    # 1. flagship validation report
    docs = documents_interleaved(spark, 2000, n_partitions=8)
    import tempfile

    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(tmp + "/docs")
    docs_t = spark.read.parquet(tmp + "/docs")
    cat = asset_catalog(spark, 1000)
    res = validate(docs_t, cat, algo="fast", persist_violations=False)
    p = plan_of(res.report)
    notes = check(
        "flagship_report", p,
        must=[r"HashAggregate", r"BroadcastHashJoin|BroadcastNestedLoop.*?catalog",
              r"Scan parquet"],
        must_not=[r"BatchEvalPython", r"CartesianProduct"],
    )
    # partial aggregation: two HashAggregate nodes per grouping
    if len(re.findall(r"HashAggregate", p)) < 2:
        failures.append("flagship_report: no partial aggregation pair")
        notes.append("MISSING partial-agg pair")
    else:
        notes.append("OK partial-agg pair present")
    # r04: no SortAggregate may sort spans-width rows.  The report's one
    # aggregation IS a SortAggregate (string min/max), but over validate's
    # cached per-doc frame; the same detector must still flag the old
    # shape, an aggregation fed straight from the spans file scan.
    wide_sorts = wide_sort_aggregates(res.report._jdf.queryExecution().executedPlan())
    if wide_sorts:
        failures.append("flagship_report: SortAggregate over the spans-width projection")
        notes.append("VIOLATION wide SortAggregate: " + wide_sorts[0])
    else:
        notes.append("OK no SortAggregate over the spans-width projection")
    old_shape = docs_t.groupBy("partition_id").agg(F.min("doc_id"), F.sum(F.size("spans")))
    if not wide_sort_aggregates(old_shape._jdf.queryExecution().executedPlan()):
        failures.append("r04 detector: misses a SortAggregate over the spans scan")
        notes.append("MISSING r04 detector flags the hand-built wide SortAggregate")
    else:
        notes.append("OK r04 detector flags the hand-built wide SortAggregate")
    sections.append(("flagship_report (validate → report)", p, notes))

    # parity mode SHOULD show the Arrow Python UDF
    res_p = validate(docs_t, cat, algo="xxh64", parity=True, persist_violations=False)
    pp = plan_of(res_p.report)
    notes = check("flagship_parity", pp, must=[r"ArrowEvalPython|BatchEvalPython"])
    sections.append(("flagship_report parity mode (Arrow UDF expected)", pp, notes))

    # 2. filter pushdown: filter_query must push event_type/ts to the scan
    q = REGISTRY["filter_query"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "filter_query", p,
        must=[r"PushedFilters: \[[^\]]*(EqualTo|GreaterThanOrEqual)", r"Scan parquet"],
        must_not=[r"PushedFilters: \[\]"],
    )
    sections.append(("filter_query (P1 predicate pushdown)", p, notes))

    # 3. column pruning: digest_md5 reads only doc_id,text
    q = REGISTRY["digest_md5"][0](spark, SF)
    p = plan_of(q)
    ok = re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", p)
    notes = [("OK " if ok else "MISSING ") + "ReadSchema pruned to doc_id,text"]
    if not ok:
        failures.append("digest_md5: scan not pruned to doc_id,text")
    sections.append(("digest_md5 (column pruning)", p, notes))

    # 4. broadcast join: top_revenue_customers (customer is the small dim)
    q = REGISTRY["top_revenue_customers"][0](spark, SF)
    p = plan_of(q)
    # r04: top-k must be TakeOrderedAndProject (per-partition heaps), not a
    # global row_number window funnelling every row through one task
    notes = check("top_revenue", p, must=[r"BroadcastHashJoin", r"TakeOrderedAndProject"],
                  must_not=[r"SortMergeJoin"])
    sections.append(("top_revenue_customers (broadcast dim join, heap top-k)", p, notes))

    # 5. embedding_neardup must be a bucketed join, never a cartesian
    q = REGISTRY["embedding_neardup"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "embedding_neardup", p,
        must=[r"HashJoin|SortMergeJoin"],
        must_not=[r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )
    sections.append(("embedding_neardup (LSH bucket join, no all-pairs)", p, notes))

    # 6. Q1: pushdown + codegen + partial agg
    q = REGISTRY["q1_pricing_summary"][0](spark, SF)
    p = plan_of(q)
    # NB: AQE's pre-execution formatted plan omits WholeStageCodegen
    # annotations; codegen coverage is visible post-execution in the UI /
    # final plan, so we check pushdown + partial aggregation here.
    notes = check(
        "q1", p,
        must=[r"PushedFilters: \[[^\]]*LessThanOrEqual", r"HashAggregate"],
    )
    sections.append(("q1_pricing_summary", p, notes))

    # 7. doc_fingerprint: pruned scan, staged projections, no Python
    q = REGISTRY["doc_fingerprint"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "doc_fingerprint", p,
        must=[r"ReadSchema: struct<doc_id:bigint,text:string>"],
        must_not=[r"BatchEvalPython"],
    )
    sections.append(("doc_fingerprint (winnowing sketch, pruned scan)", p, notes))

    # 8. drift_psi_by_group: baseline histogram joins broadcast (tiny side)
    q = REGISTRY["drift_psi_by_group"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "drift_psi_by_group", p,
        must=[r"BroadcastHashJoin", r"HashAggregate"],
        must_not=[r"CartesianProduct"],
    )
    sections.append(("drift_psi_by_group (histogram shuffles only)", p, notes))

    # 6b. q5: all dims broadcast, fact side never sort-merge-joined,
    # date range pushed down, lineitem scan pruned to join+price columns
    q = REGISTRY["q5_region_revenue"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "q5_region_revenue", p,
        must=[r"BroadcastHashJoin", r"GreaterThanOrEqual\(o_orderdate",
              r"ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"],
        must_not=[r"SortMergeJoin", r"CartesianProduct"],
    )
    sections.append(("q5_region_revenue (multiway broadcast join)", p, notes))

    # 8b. finding-#8 guards: no inferred/pushed-down filter may duplicate
    # an expensive generator pipeline below a Generate
    q = REGISTRY["contamination_check"][0](spark, SF)
    op = q._jdf.queryExecution().optimizedPlan().toString()
    notes = []
    below = op.split("Generate", 1)[-1]
    bad = [ln for ln in below.splitlines() if ln.strip().startswith("+- Filter") and "transform(" in ln]
    if bad:
        failures.append("contamination_check: shingle pipeline duplicated into a filter below Generate")
        notes.append("VIOLATION filter-below-Generate re-evaluates shingles")
    else:
        notes.append("OK no shingle pipeline in any filter below the Generate (explode_outer shape)")
    sections.append(("contamination_check (finding-#8 guard)", plan_of(q), notes))

    # (the MinHash-LSH finding-#8 guards and the crosscorpus_neardup
    # broadcast shape are tier-1 tests: tests/test_lsh_core.py)

    # 9. as-of join: union-timeline plan — exactly ONE hash-partition
    # exchange on the key, no SinglePartition funnel, no BNL/cartesian
    # (the inequality-join formulation this operator exists to avoid)
    q = REGISTRY["events_asof_purchase"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "events_asof_purchase", p,
        must=[],
        must_not=[r"Exchange SinglePartition", r"BroadcastNestedLoopJoin", r"CartesianProduct"],
    )
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    if n_ex != 1 or "hashpartitioning(user_id" not in p:
        failures.append(f"events_asof_purchase: expected 1 key exchange, saw {n_ex}")
        notes.append(f"VIOLATION {n_ex} exchanges / key partitioning absent (want 1 on user_id)")
    else:
        notes.append("OK single hashpartitioning(user_id) exchange (union-timeline shape)")
    sections.append(("events_asof_purchase (as-of union-timeline)", p, notes))

    # 10. sequence packing: shard-partitioned windows only — no global sort
    q = REGISTRY["pack_sequences"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "pack_sequences", p,
        must=[r"Window"],
        must_not=[r"Exchange SinglePartition", r"Exchange rangepartitioning"],
    )
    sections.append(("pack_sequences (shard-local windows)", p, notes))

    # 11. capstone pipeline: whole cleaning chain in one plan — no
    # python in the hot path, no cartesian, packing windows shard-local
    q = REGISTRY["corpus_clean_pipeline"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "corpus_clean_pipeline", p,
        must=[r"Window"],
        must_not=[r"BatchEvalPython", r"CartesianProduct", r"Exchange rangepartitioning"],
    )
    sections.append(("corpus_clean_pipeline (gate→dedupe→decontaminate→pack)", p, notes))

    # 12. bucketed layout: uniqueness over a bucketed table has NO Exchange
    from hashio_spark.sources.bucketed import bucketed_self_check, has_exchange, write_bucketed

    write_bucketed(docs_t.select("doc_id", "partition_id"), "t_audit_bucketed", "doc_id", n_buckets=8)
    try:
        q = bucketed_self_check(spark, "t_audit_bucketed", "doc_id")
        p = plan_of(q)
        notes = []
        if has_exchange(q):
            failures.append("bucketed_uniqueness: shuffle Exchange present")
            notes.append("VIOLATION shuffle Exchange present")
        else:
            notes.append("OK no shuffle Exchange (bucketed scan satisfies distribution)")
        sections.append(("bucketed uniqueness (shuffle-free)", p, notes))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_audit_bucketed")

    # 13. bucketed interval join: the point-in-window join is an
    # EQUI-join on (user, bucket) — never the nested-loop/cartesian plan
    # Catalyst produces for a raw inequality join
    q = REGISTRY["events_in_signup_window"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "events_in_signup_window", p,
        must=[r"Join|ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin"],
        must_not=[r"BroadcastNestedLoopJoin", r"CartesianProduct", r"BatchEvalPython"],
    )
    sections.append(("events_in_signup_window (bucketed interval join, equi-shuffle)", p, notes))

    # 14. key-skew profile: top-N is per-partition heaps, not a global sort
    q = REGISTRY["key_profile_users"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "key_profile_users", p,
        must=[r"TakeOrderedAndProject", r"HashAggregate"],
        must_not=[r"Exchange rangepartitioning", r"SortAggregate"],
    )
    sections.append(("key_profile_users (skew profile, TakeOrderedAndProject)", p, notes))

    # 15. PII redaction: one codegen projection — no shuffle, no python
    q = REGISTRY["pii_redact"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "pii_redact", p,
        must=[r"Project", r"Scan parquet"],
        must_not=[r"BatchEvalPython", r"Exchange", r"SortAggregate"],
    )
    sections.append(("pii_redact (chained regex redaction, shuffle-free)", p, notes))

    # 16. domain profile: algebraic agg + heap top-N, no global sort
    q = REGISTRY["domain_counts"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "domain_counts", p,
        must=[r"TakeOrderedAndProject", r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"Exchange rangepartitioning"],
    )
    sections.append(("domain_counts (domain profile, TakeOrderedAndProject)", p, notes))

    # 17. count anomalies: two hash aggs + broadcast of one scalar row
    q = REGISTRY["count_anomalies"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "count_anomalies", p,
        must=[r"HashAggregate", r"BroadcastNestedLoopJoin|BroadcastExchange"],
        must_not=[r"BatchEvalPython", r"SortAggregate"],
    )
    sections.append(("count_anomalies (z-scores, broadcast scalar stats)", p, notes))

    # 18. exact jaccard join: candidate equi-join on hashed prefix
    # tokens — never a cartesian/nested-loop all-pairs
    q = REGISTRY["jaccard_pairs_exact"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "jaccard_pairs_exact", p,
        must=[r"xxhash64", r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    )
    sections.append(("jaccard_pairs_exact (prefix-filtered exact set-similarity)", p, notes))
    from hashio_spark.caching import release

    release(q)

    # 19. tf-idf top terms: hash aggs for tf/df; top-k per doc via ONE
    # aggregation (collect + sort_array + slice, then a Generate for the
    # rank explode) — r06 replaced the row_number window, whose extra
    # per-doc shuffle+sort cost ~0.7 s at sf1.0.  NO Window may appear,
    # and never a single-partition exchange.
    q = REGISTRY["tfidf_top_terms"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "tfidf_top_terms", p,
        must=[r"HashAggregate", r"BroadcastExchange", r"Generate"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition", r"CartesianProduct", r"Window"],
    )
    sections.append(("tfidf_top_terms (tf/df hash aggs, agg-based per-doc top-k)", p, notes))

    # 20. retention cohorts: first-seen agg + join co-partitioned on
    # user_id, then distinct + count — all hash aggregates
    q = REGISTRY["retention_cohorts"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "retention_cohorts", p,
        must=[r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"CartesianProduct",
                  r"BroadcastNestedLoopJoin"],
    )
    sections.append(("retention_cohorts (co-partitioned first-seen join)", p, notes))

    # 21. exact per-group correlation: ONE hash aggregate with map-side
    # partials (decimal sums are hash-aggregable), no sort, no python
    q = REGISTRY["corr_by_segment"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "corr_by_segment", p,
        must=[r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Exchange SinglePartition"],
    )
    sections.append(("corr_by_segment (exact integer-sum correlation, hash agg)", p, notes))

    # 22. cluster representatives: the tiny cluster table BROADCASTS into
    # the corpus join; rank window is partitioned by cluster_id
    q = REGISTRY["cluster_representatives"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "cluster_representatives", p,
        must=[r"BroadcastHashJoin", r"Window", r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition", r"CartesianProduct"],
    )
    sections.append(("cluster_representatives (broadcast cluster join, keep-one window)", p, notes))
    release(q)

    # 23. weighted PPS sample: one hash agg for per-group totals, broadcast
    # back, per-row gate — no window, no sort, no python
    q = REGISTRY["sample_weighted"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "sample_weighted", p,
        must=[r"HashAggregate", r"BroadcastExchange"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window",
                  r"Exchange SinglePartition", r"CartesianProduct"],
    )
    sections.append(("sample_weighted (PPS gate: totals hash-agg + broadcast, per-row filter)", p, notes))

    # 24. inverted-index postings: the cap is a term-PARTITIONED window
    # (bounded collect state); df + postings share the term shuffle
    q = REGISTRY["term_postings"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "term_postings", p,
        must=[r"HashAggregate", r"Window"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition", r"CartesianProduct"],
    )
    sections.append(("term_postings (capped-before-collect posting lists)", p, notes))

    # 25. split audit: pure per-row hash banding + ONE hash aggregate
    q = REGISTRY["split_assign"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "split_assign", p,
        must=[r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window",
                  r"Exchange SinglePartition", r"CartesianProduct", r"Join"],
    )
    sections.append(("split_assign (hash-band split + single audit agg)", p, notes))

    # 26. z-outliers: O(groups) stats hash-agg broadcast back, per-row gate
    q = REGISTRY["zscore_outliers"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "zscore_outliers", p,
        must=[r"HashAggregate", r"BroadcastExchange"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window",
                  r"Exchange SinglePartition", r"CartesianProduct"],
    )
    sections.append(("zscore_outliers (decimal-exact group stats, broadcast gate)", p, notes))
    release(q)

    # 28. ingest gate: digest anti-join (broadcast here; co-partitioned
    # shuffle at scale) + batch-internal winner — WindowGroupLimit must
    # pre-filter top-1-per-digest map-side BEFORE the window exchange
    q = REGISTRY["ingest_gate"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "ingest_gate", p,
        must=[r"LeftAnti", r"WindowGroupLimit", r"PushedFilters: \[IsNotNull\(source\)"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition",
                  r"CartesianProduct", r"SortAggregate"],
    )
    sections.append(("ingest_gate (digest anti-join + map-side-limited batch winner)", p, notes))

    # 29. split leakage: split labels are pure key functions computed ON
    # the pair table — no join back to the documents corpus, no python
    q = REGISTRY["split_leakage"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "split_leakage", p,
        must=[r"HashAggregate", r"Generate"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition",
                  r"CartesianProduct", r"SortMergeJoin"],
    )
    sections.append(("split_leakage (key-function split labels on the pair table, zero corpus joins)", p, notes))
    release(q)

    # 30. vocab coverage: ONE token hash-agg (persisted; feeds totals +
    # top-k), TakeOrderedAndProject cut — the vocabulary is never
    # globally sorted, and the rank window runs over <= max(k) rows
    q = REGISTRY["vocab_coverage"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "vocab_coverage", p,
        must=[r"TakeOrderedAndProject", r"HashAggregate"],
        must_not=[r"BatchEvalPython", r"SortAggregate",
                  r"Exchange SinglePartition", r"CartesianProduct",
                  r"SortMergeJoin"],
    )
    sections.append(("vocab_coverage (single token agg, TakeOrdered top-k cut, bounded rank window)", p, notes))
    release(q)

    # 31. duplicate n-gram spans: two stacked HashAggregates — (gram, doc)
    # partial-combines within-doc repeats map-side, then gram-only re-agg;
    # no window, no join, no python in the span pipeline
    q = REGISTRY["duplicate_ngrams"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "duplicate_ngrams", p,
        must=[r"HashAggregate", r"Generate"],
        must_not=[r"BatchEvalPython", r"SortAggregate",
                  r"Exchange SinglePartition", r"CartesianProduct",
                  r"SortMergeJoin", r"Window"],
    )
    sections.append(("duplicate_ngrams (span dedup: stacked hash aggs, map-side within-doc combine)", p, notes))

    # 32. mixture weights: ONE corpus hash-agg reading (lang, n_chars)
    # only; everything downstream is strata-sized (broadcast one-row
    # totals — the BroadcastNestedLoopJoin is over 1×strata rows)
    q = REGISTRY["mixture_weights"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "mixture_weights", p,
        must=[r"HashAggregate", r"ReadSchema: struct<lang:string,n_chars:bigint>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"CartesianProduct",
                  r"SortMergeJoin"],
    )
    sections.append(("mixture_weights (one pruned corpus agg, strata-sized solver)", p, notes))

    # 33. compaction plan: corpus agg is hash + pruned; the global-order
    # window is DELIBERATE — it runs on the manifest-sized partition
    # listing (10^5-10^6 rows at 100 TB), never row-level data
    q = REGISTRY["compaction_plan"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "compaction_plan", p,
        must=[r"HashAggregate", r"Window",
              r"ReadSchema: struct<lang:string,source:string,n_chars:bigint>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"CartesianProduct"],
    )
    sections.append(("compaction_plan (pruned corpus agg; planning window on manifest-sized rows)", p, notes))

    # 34. z-order key: one codegen projection over a two-column scan —
    # the 16-term interleave never leaves WholeStageCodegen
    q = REGISTRY["zorder_key"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "zorder_key", p,
        must=[r"Project", r"ReadSchema: struct<doc_id:bigint,n_chars:bigint>",
              r"shiftleft"],  # the interleave stays one JVM projection
        must_not=[r"BatchEvalPython", r"HashAggregate", r"Join", r"Generate"],
    )
    sections.append(("zorder_key (pure codegen Morton projection, two-column scan)", p, notes))

    # 35. partition bloom: ONE hash-agg whose shuffle carries 16 bit_or
    # longs per partition; scan pruned to (source, text)
    q = REGISTRY["partition_bloom"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "partition_bloom", p,
        must=[r"HashAggregate", r"partial_bit_or",
              r"ReadSchema: struct<text:string,source:string>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window",
                  r"CartesianProduct", r"SortMergeJoin"],
    )
    sections.append(("partition_bloom (bit_or fingerprint agg, map-side partials)", p, notes))

    # 36. bloom probe: probes BROADCAST into the fingerprint table (one
    # row per partition) — the nested-loop join is over fingerprint ×
    # probe rows, never the corpus
    q = REGISTRY["bloom_probe"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "bloom_probe", p,
        must=[r"HashAggregate", r"BroadcastNestedLoopJoin"],
        must_not=[r"BatchEvalPython", r"SortMergeJoin", r"SortAggregate"],
    )
    sections.append(("bloom_probe (broadcast probes × fingerprint rows, corpus untouched)", p, notes))

    # 37. training-order shuffle: per-row hash projection, ONE exchange
    # on shard, per-shard sort (never a global sort / single partition)
    q = REGISTRY["shuffle_order"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "shuffle_order", p,
        must=[r"hashpartitioning\(shard",
              r"ReadSchema: struct<doc_id:bigint>"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition",
                  r"rangepartitioning", r"CartesianProduct"],
    )
    sections.append(("shuffle_order (per-shard sort, one shard exchange, no global order)", p, notes))

    # 38. quality gate (exact tier): ONE exchange on the group column; the
    # scan reads only (doc_id, source, text)
    q = REGISTRY["quality_gate"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "quality_gate", p,
        must=[r"hashpartitioning\(source",
              r"ReadSchema: struct<doc_id:bigint,text:string,source:string>"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition", r"Join"],
    )
    sections.append(("quality_gate (exact percent_rank tier: one group exchange)", p, notes))

    # 38b. quality gate approx tier: threshold agg is a HashAggregate pair
    # broadcast back — NO window, NO per-group sort of the corpus
    from hashio_spark.operators.ordering import quantile_gate_approx
    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = quantile_gate_approx(d.select("doc_id", "source", F.col("n_chars").alias("score")),
                             "score", "source", 0.5)
    p = plan_of(q)
    notes = check(
        "quality_gate_approx", p,
        must=[r"HashAggregate", r"approx_percentile", r"BroadcastHashJoin"],
        must_not=[r"BatchEvalPython", r"Window", r"SortMergeJoin",
                  r"Exchange SinglePartition"],
    )
    sections.append(("quality_gate_approx (scale tier: sketch agg + broadcast filter, no sort)", p, notes))

    # 39. token entropy: two stacked HashAggregates (map-side partials);
    # scan pruned to (text, source); no window/join/python
    q = REGISTRY["token_entropy"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "token_entropy", p,
        must=[r"HashAggregate", r"partial_count",
              r"ReadSchema: struct<text:string,source:string>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window", r"Join"],
    )
    sections.append(("token_entropy (two hash-aggs over exact counts, pruned scan)", p, notes))

    # 40. rolling stats: both frames share one (partition, order) spec →
    # ONE exchange on user_id, ONE Window node
    q = REGISTRY["rolling_user_stats"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "rolling_user_stats", p,
        must=[r"hashpartitioning\(user_id", r"Window"],
        must_not=[r"BatchEvalPython", r"Exchange SinglePartition", r"Join"],
    )
    if len(re.findall(r"\(\d+\) Exchange", p)) != 1:
        failures.append("rolling_user_stats: expected exactly one hash exchange")
        notes.append("VIOLATION expected exactly one hash exchange")
    else:
        notes.append("OK exactly one hash exchange (both frames share the sort)")
    sections.append(("rolling_user_stats (one exchange + one shared Window sort)", p, notes))

    # 41. duplicate lines: same two-stacked-HashAggregate shape as
    # duplicate_ngrams — shuffle carries one row per DISTINCT (line, doc)
    q = REGISTRY["duplicate_lines"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "duplicate_lines", p,
        must=[r"HashAggregate", r"partial_count",
              r"ReadSchema: struct<doc_id:bigint,text:string>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window", r"Join"],
    )
    sections.append(("duplicate_lines (stacked hash-aggs, map-side dedup of within-doc repeats)", p, notes))

    # 42. expectation gate: ALL six rules in ONE aggregation over a scan
    # pruned to exactly the ruled columns; the count(distinct) metric adds
    # Spark's standard Expand two-round distinct-agg, still HashAggregate
    # end to end; verdict explode is an inline over the aggregated row
    # (no second scan, no join, no python)
    q = REGISTRY["expectation_gate"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "expectation_gate", p,
        must=[r"HashAggregate", r"hashpartitioning\(source",
              r"ReadSchema: struct<text:string,lang:string,source:string,n_chars:bigint>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window", r"Join",
                  r"Exchange SinglePartition"],
    )
    sections.append(("expectation_gate (six rules, one pruned agg pass, inline verdicts)", p, notes))

    # 43. funnel: per-step hash-aggs + equi-joins all keyed on user_id
    # (exchange reuse), pruned event scan, no Window / no python / no
    # single-partition exchange except the 3-row count tails
    q = REGISTRY["funnel_conversion"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "funnel_conversion", p,
        must=[r"hashpartitioning\(user_id",
              r"ReadSchema: struct<ts:timestamp(_ntz)?,user_id:bigint,event_type:string>"],
        must_not=[r"BatchEvalPython", r"Window", r"CartesianProduct"],
    )
    sections.append(("funnel_conversion (same-key agg/join ladder, pruned scan)", p, notes))

    # 44. normalized dedup: codegen-only normalization projection into a
    # partial/final HashAggregate on the 32-byte digest; no UDF, no
    # window, no sort-agg, scan pruned to (doc_id, text)
    q = REGISTRY["dedupe_normalized"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "dedupe_normalized", p,
        must=[r"HashAggregate", r"partial_count",
              r"ReadSchema: struct<doc_id:bigint,text:string>"],
        must_not=[r"BatchEvalPython", r"SortAggregate", r"Window",
                  r"Exchange SinglePartition"],
    )
    sections.append(("dedupe_normalized (codegen normalize -> digest hash-agg)", p, notes))

    # 45. TPC-H q3/q10: dims broadcast, fact never re-shuffled for the
    # joins, top-k is TakeOrderedAndProject (no global Window sort)
    for qn in ("q3_shipping_priority", "q10_returned_items"):
        q = REGISTRY[qn][0](spark, SF)
        p = plan_of(q)
        notes = check(
            qn, p,
            must=[r"BroadcastHashJoin", r"TakeOrderedAndProject"],
            must_not=[r"BatchEvalPython", r"Window", r"CartesianProduct",
                      r"Exchange SinglePartition"],
        )
        sections.append((f"{qn} (broadcast dims, TakeOrdered top-k)", p, notes))

    # 46. TPC-H q18: the only corpus-sized work is ONE lineitem hash-agg;
    # the filtered big-order set broadcasts into orders/customer
    q = REGISTRY["q18_large_volume"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "q18_large_volume", p,
        must=[r"HashAggregate", r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        must_not=[r"BatchEvalPython", r"Window", r"SortMergeJoin",
                  r"CartesianProduct"],
    )
    sections.append(("q18_large_volume (group-then-filter broadcast, one fact agg)", p, notes))

    # 47. latest-per-key: max_by arg-max.  max_by's (value, ordering)
    # buffer attributes are STRUCT-typed, which HashAggregateExec cannot
    # mutate in place — arg-max with a variable-width payload therefore
    # ALWAYS plans SortAggregate (partial pair; shuffle stays one
    # candidate row per (mapper, user)).  Measured 20M events: this
    # shape 0.74 s vs 3.87 s for the WindowGroupLimit row_number form
    # and 2.82 s for a dict-encoded hash-agg attempt — SortAggregate
    # here is the OPTIMAL shape, so the audit expects it and instead
    # forbids the genuinely bad shapes (window, joins, python).
    q = REGISTRY["latest_event_per_user"][0](spark, SF)
    p = plan_of(q)
    notes = check(
        "latest_event_per_user", p,
        must=[r"partial_max_by", r"hashpartitioning\(user_id"],
        must_not=[r"BatchEvalPython", r"Window", r"Join"],
    )
    sections.append(("latest_event_per_user (arg-max SortAggregate — optimal for payload arg-max, see queries.py docstring)", p, notes))

    with open("PLANS.md", "w") as f:
        f.write("# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)\n\n")
        f.write("Checked properties per plan; full `.explain('formatted')` output below.\n\n")
        for title, plan, notes in sections:
            f.write(f"## {title}\n\n")
            for n in notes:
                f.write(f"- {n}\n")
            f.write("\n```\n" + plan.strip()[:6000] + "\n```\n\n")
        f.write("## Audit result\n\n")
        if failures:
            f.write("FAILURES:\n" + "\n".join(f"- {x}" for x in failures) + "\n")
        else:
            f.write("All checked plan properties hold.\n")

    print("FAILURES:" if failures else "ALL PLAN CHECKS PASS")
    for x in failures:
        print(" -", x)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

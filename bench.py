"""Catalog timer: wall time of each benchmarked catalog query at one scale.

    python bench.py [query ...]

Times every name in ``BENCH_QUERIES`` (REGISTRY queries) plus the two
xxhash64 fast-tier legs by default, or only the named legs, over the
parquet tables in ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``).  One ``get_spark()`` session with host
defaults runs every leg.  Each pass clears the cache first and forces
the result with ``.count()``; a leg that takes over 1 s gets a second
pass and keeps the faster.

Prints one JSON line on stdout:

    {"metric": ..., "value": <sum of legs, s>, "unit": "sec",
     "sf": <SF dir>, "queries": {<leg>: <s>, ...}}

The flagship's end-to-end record is perfbench's ``validate_cli``
workload (``perfbench/run.py``), not this timer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# a leg at or under this many seconds gets one pass; slower legs get two
SINGLE_PASS_S = 1.0

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "top_revenue_customers",
    "stats_summary",
    "composite_digest",
    "dedupe_exact",
    "dedupe_minhash_lsh",
    "dedupe_clusters",
    "ngram_jaccard",
    "jaccard_pairs_exact",
    "doc_fingerprint",
    "drift_psi_by_group",
    "drift_trend",
    "verify_manifest",
    "dedupe_manifests",
    "snapshot_diff",
    "drift_psi",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "embedding_neardup",
    "embedding_neardup_scaled",
    "simhash_md5",
    "pii_redact",
    "domain_counts",
    "count_anomalies",
    "contamination_check",
    "crosscorpus_neardup",
    "ingest_gate",
    "split_leakage",
    "repetition_stats",
    "duplicate_ngrams",
    "sample_stratified",
    "sample_cap_per_group",
    "numeric_quantiles",
    "tfidf_top_terms",
    "vocab_coverage",
    "retention_cohorts",
    "corr_by_segment",
    "cluster_representatives",
    "sample_weighted",
    "term_postings",
    "split_assign",
    "zscore_outliers",
    "events_asof_purchase",
    "events_in_signup_window",
    "key_profile_users",
    "pack_sequences",
    "corpus_clean_pipeline",
    "media_features",
    "media_frames",
    "media_resize",
    "validate_interleaved",
    "mixture_weights",
    "compaction_plan",
    "zorder_key",
    "partition_bloom",
    "bloom_probe",
    "shuffle_order",
    "quality_gate",
    "token_entropy",
    "rolling_user_stats",
    "duplicate_lines",
    "expectation_gate",
    "funnel_conversion",
    "ngram_containment",
    "dedupe_normalized",
    "q3_shipping_priority",
    "q10_returned_items",
    "q18_large_volume",
    "latest_event_per_user",
    "event_spikes",
]


def _fast_tier_legs() -> dict:
    """The xxhash64 production dedupe tier.  Its token hashing has no
    DuckDB equivalent, so these legs are not REGISTRY queries."""
    from hashio_spark.operators.dedupe import lsh_candidate_pairs, minhash_signatures, simhash64

    def _docs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def minhash_lsh_fast(spark, sf_dir):
        sig = minhash_signatures(_docs(spark, sf_dir), "doc_id", "text", n_perm=4)
        return lsh_candidate_pairs(sig, n_bands=2, max_band_size=64, n_perm=4)

    def simhash64_fast(spark, sf_dir):
        return simhash64(_docs(spark, sf_dir), "doc_id", "text")

    return {"dedupe_minhash_lsh_fast": minhash_lsh_fast, "simhash64_fast": simhash64_fast}


def main(names: list[str]) -> None:
    from hashio_spark.queries import REGISTRY
    from hashio_spark.session import get_spark

    legs = {q: REGISTRY[q][0] for q in BENCH_QUERIES} | _fast_tier_legs()
    unknown = [n for n in names if n not in legs]
    if unknown:
        raise SystemExit(f"unknown leg(s): {', '.join(unknown)}")

    spark = get_spark(app="bench")
    qtimes: dict[str, float] = {}
    try:
        for name in names or legs:
            best, n = None, 0
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.monotonic()
                n = legs[name](spark, SF_DIR).count()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
                if best <= SINGLE_PASS_S:
                    break
            qtimes[name] = round(best, 3)
            print(f"# {name}: {qtimes[name]}s rows={n}", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps({
        "metric": "catalog wall time, sum of legs",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "sf": SF_DIR,
        "queries": qtimes,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])

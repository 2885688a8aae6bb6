"""Benchmark decontamination: train/test n-gram overlap detection.

A training-data pipeline must be able to answer "which training documents
contain n-grams from my evaluation benchmarks?" before a corpus ships —
the n-gram-overlap decontamination used by most published LLM training
pipelines.  Expressed Spark-first:

* both sides are tokenized and shingled with the SAME staged projections
  as the MinHash family (``dedupe.shingle_sets`` — bound-attribute
  staging, no interpreted-lambda recompute);
* the benchmark side (eval suites: thousands of docs) collapses to a
  DISTINCT shingle set and is **broadcast** — the trillion-row training
  side is never shuffled for the join;
* per-doc shingles are ``array_distinct``-ed BEFORE the explode, so the
  join input is bounded by unique-grams-per-doc, and the only shuffle is
  the final per-doc hit count aggregation;
* ``hashed=True`` joins on ``xxhash64(shingle)`` (8-byte keys, the scale
  path); ``hashed=False`` joins on raw shingle strings (oracle-parity
  path — replicable in any SQL engine).

The paraphrase-level :func:`crosscorpus_neardup` is a thin caller of the
MinHash-LSH core in ``operators/dedupe`` (band schema, bipartite gate,
rounded Jaccard verify), shared with the md5 oracle twin
``queries.crosscorpus_neardup_q``.

Extends the reference's dedupe family (``/root/reference/lib/hashio/
encoder.py:463-500``) from identical-content to cross-corpus n-gram
containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hashio_spark.caching import track
from hashio_spark.operators.dedupe import (
    band_bipartite_join,
    jaccard_verify,
    minhash_band_values,
    minhash_signatures,
    shingle_sets,
)


def _doc_grams(df: DataFrame, key_col: str, text_col: str, k: int, hashed: bool) -> DataFrame:
    # explode_OUTER + post-filter, not explode: Catalyst's
    # InferFiltersFromGenerate adds `size(child)>0 AND isnotnull(child)`
    # below a plain explode, and predicate pushdown substitutes the WHOLE
    # tokenize→shingle→distinct pipeline into that filter — the pipeline
    # then runs 2-3× per row in interpreted mode (measured 7×: 3.2 s →
    # 0.45 s at sf0.1).  explode_outer gets no inferred filter; empty
    # docs surface one NULL gram dropped on the GENERATED attribute,
    # which cannot be pushed below the Generate.  (BENCH.md finding #8.)
    g = shingle_sets(df, key_col, text_col, k).select("key", F.explode_outer("sh").alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    if hashed:
        g = g.select("key", F.xxhash64("gram").alias("gram"))
    return g


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_hits: int = 1,
    hashed: bool = True,
) -> DataFrame:
    """(key, n_shared) for every training doc sharing ≥ ``min_hits``
    distinct k-gram shingles with the benchmark corpus.

    ``n_shared`` counts DISTINCT contaminated shingles per doc (the usual
    decontamination severity signal); filter or anti-join the result
    against the corpus to drop flagged docs."""
    doc_g = _doc_grams(docs, key_col, text_col, k, hashed)
    bench_g = (
        _doc_grams(benchmark, key_col, text_col, k, hashed)
        .select("gram")
        .distinct()
    )
    hits = (
        doc_g.join(F.broadcast(bench_g), "gram")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # per-doc grams pre-distincted
        .filter(F.col("n_shared") >= min_hits)
    )
    return hits.select(F.col("key").alias(key_col), "n_shared")


def crosscorpus_neardup(
    train: DataFrame,
    benchmark: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 16,
    n_bands: int = 4,
    max_band_size: int = 64,
    min_jaccard: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Paraphrase-level decontamination: (train_key, bench_key, jaccard)
    for train docs whose shingle set near-duplicates a benchmark doc —
    the fuzzy complement of :func:`contamination`'s exact n-gram overlap
    (a reworded eval question shares few exact 3-grams but most of its
    shingle set).

    Scale shape (train = 10^12 docs, benchmark = 10^4..10^6): both
    corpora band through the SAME ``minhash_band_values`` expression
    (per-row projections, no shuffle); ``dedupe.band_bipartite_join``
    broadcasts the tiny benchmark band table, so the train corpus is
    never shuffled for the candidate join, and caps train band sizes
    counted over the bench-present slice only; candidates then pass the
    rounded exact Jaccard ≥ ``min_jaccard`` with the benchmark shingle
    sets ALSO broadcast.

    Returns all (train, bench, jaccard) matches; anti-join ``train``
    against ``.select(key_col)`` of the result to drop flagged docs.
    """

    def bands(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(df, key_col, text_col, n_perm=n_perm, shingle_k=shingle_k)
        return minhash_band_values(sig, n_bands=n_bands, n_perm=n_perm)

    cand, hits = band_bipartite_join(bands(train), bands(benchmark), max_band_size)
    out = jaccard_verify(
        cand.withColumnsRenamed({"key_a": "train_key", "key_b": "bench_key"}),
        shingle_sets(train, key_col, text_col, shingle_k),
        F.broadcast(shingle_sets(benchmark, key_col, text_col, shingle_k)),
        min_jaccard,
    )
    return track(out, hits)

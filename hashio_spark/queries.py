"""Driver-contract query catalog: Spark implementation + DuckDB oracle SQL
for every SQL-expressible operator (SURVEY.md §2), over the driver's parquet
testdata at ``/root/testdata/sf*``.

Alignment rules (the driver hash-compares values column-by-column):
* every computed column is aliased identically on both sides;
* money aggregates go through ``decimal(18,2)`` so sums are EXACT and
  engine-independent, then cast to double + round;
* ratio/statistic doubles replicate the exact operation order on both
  sides so the IEEE results are bit-identical, and are rounded as a belt;
* timestamps are reduced to epoch seconds (``unix_timestamp`` ↔
  ``floor(epoch(ts))``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hashio_spark.caching import track
from hashio_spark.functions.canonical import composite_digest_expr
from hashio_spark.functions.digests import digest_expr
from hashio_spark.operators import drift as drift_ops
from hashio_spark.operators import verify as verify_ops
from hashio_spark.operators.dedupe import (
    band_bipartite_join,
    band_self_join,
    explode_bands,
    jaccard_verify,
    pair_sets,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}

# Scan-parallelism floor (guide §2.2/§6): qualifying tables get one
# round-robin exchange right after the scan.  The sandbox testdata is
# single-file parquet with ONE row group per table — parquet cannot be
# split below a row group, so the scan yields one task and every
# expression-heavy pipeline above it (md5 shingle minhash, set-similarity
# ordering, Arrow matmuls) runs serial while the other cores idle
# (measured: dedupe_minhash_lsh 13.7 s at sf1.0, single scan task).
# Three gates, all read from the input's files and footers:
#   * fewer row groups than defaultParallelism: with at least one row
#     group per core the scan splits itself across every core (the
#     session's 1 MiB openCostInBytes lets a file of a few MB reach one
#     split per core), and the exchange would only move rows;
#   * size ≥ MIN (4 MB): dimension tables carry so little work that the
#     exchange is pure overhead (and several feed broadcast joins, where
#     an exchange below the BroadcastExchange is a wasted shuffle);
#   * avg row width ≥ MIN_ROW_BYTES (64 B compressed): wide rows (long
#     text, embedding arrays) mean the per-row kernels (interpreted
#     higher-order shingle/matmul pipelines) dwarf the scan, so the
#     fan-out shuffle pays for itself many times over; thin rows
#     (relational/event facts, ~16-20 B/row here) are cheap codegen
#     scans with map-side partial aggregation where the same shuffle
#     LOSES time — measured A/B at both sf0.1 and sf1.0: fanning
#     lineitem/orders/events cost +0.2-0.7 s per leg
#     (latest_event_per_user 0.98 → 0.24 s WITHOUT the fan-out), while
#     fanning documents/embeddings saves multiple seconds per leg.
_FANOUT_MIN_BYTES = 4 * 1024 * 1024
_FANOUT_MIN_ROW_BYTES = 64


def _table_files(path: str) -> list[str]:
    """The data files of a parquet table as Spark lists them: the path
    itself, or a directory's names that do not start with ``.`` or ``_``."""
    if os.path.isdir(path):
        return [os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_"))]
    return [path]


def _table_footer(path: str) -> tuple[int, int]:
    """(rows, row groups) of a parquet table, summed over its footers
    (driver-side, milliseconds) — for sizing decisions that need n but
    not a scan (the fan-out gate, the adaptive LSH band width).  The
    footer count is exact by format contract, as Spark's own
    metadata-only count."""
    import pyarrow.parquet as pq

    rows = groups = 0
    for f in _table_files(path):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
    return rows, groups


def _table_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _table_files(path))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table reader, memoized per (session, sf_dir, table): a correctness
    gate runs ~86 registry queries in one session and each
    ``spark.read.parquet`` call pays driver-side file listing + schema
    resolution — identical every time.  The memo stores the lazy
    DataFrame (no persist: caching data would change what the bench
    catalog measures), so repeated queries share one resolved plan.

    A table with fewer row groups than cores additionally gets a
    round-robin fan-out exchange (gates above ``_FANOUT_MIN_BYTES``) so
    a single-row-group file doesn't serialize the whole query on one
    scan task."""
    key = (id(spark), sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        n = spark.sparkContext.defaultParallelism
        try:
            tb = _table_bytes(path)
            rows, groups = _table_footer(path)
            fan = groups < n and tb >= _FANOUT_MIN_BYTES and tb >= _FANOUT_MIN_ROW_BYTES * max(rows, 1)
        except OSError:
            fan = False
        if fan:
            df = df.repartition(n)
        _TABLE_CACHE[key] = df
    return df


def _dec(col, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# Relational / TPC-H-style (scan, filter, agg, join — SURVEY §2.3, §2.6)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double), 2) AS sum_qty,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double), 2) AS sum_base_price,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double), 2) AS sum_disc_price,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2))) * (cast(1 AS decimal(18,2)) + cast(l_tax AS decimal(18,2)))) AS double), 2) AS sum_charge,
  round(cast(sum(cast(l_quantity AS decimal(18,2))) AS double) / count(*), 6) AS avg_qty,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) / count(*), 6) AS avg_price,
  round(cast(sum(cast(l_discount AS decimal(18,2))) AS double) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # aggregate FIRST on the long o_custkey, then broadcast-join the name:
    # the partial/final agg runs over a narrow bigint key instead of
    # dragging c_name strings through both agg stages, and the join
    # probes 150k aggregated rows, not 1.5M order lines.  c_custkey is
    # the customer PK (c_name functionally dependent) and the join stays
    # inner, so grouping by key alone is row-identical to the former
    # groupBy(c_custkey, c_name) after the join.
    per_cust = o.groupBy("o_custkey").agg(
        F.round(F.sum(_dec("o_totalprice")).cast("double"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    rev = per_cust.join(F.broadcast(c), per_cust["o_custkey"] == c["c_custkey"]).select(
        "c_custkey", "c_name", "revenue", "n_orders"
    )
    # top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps, driver merge of k rows) instead of a global row_number()
    # window, which funnels EVERY customer row through one task's sort.
    # The rank is stamped afterwards: the window now runs over the 10
    # surviving rows, not the corpus (r03 VERDICT "What's wrong #2").
    top = rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return top.withColumn("rank", F.row_number().over(w))


TOP_REVENUE_SQL = """
WITH rev AS (
  SELECT c_custkey, c_name,
    round(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double), 2) AS revenue,
    count(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_name
)
SELECT * FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank FROM rev
) WHERE rank <= 10
"""


def filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 analog (Cache.query): equality + since-timestamp + pattern filter
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp"))
            & F.col("props").like('%"k": 6%')
        )
        .select("event_id", F.unix_timestamp("ts").alias("ts_epoch"), "user_id", "value")
    )


FILTER_QUERY_SQL = """
SELECT event_id, cast(floor(epoch(ts)) AS bigint) AS ts_epoch, user_id, value
FROM events
WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-15 00:00:00' AND props LIKE '%"k": 6%'
"""


# ---------------------------------------------------------------------------
# Stats pass (SURVEY §2.3 A5/A6 generalization)
# ---------------------------------------------------------------------------


def stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count(F.lit(1)) - F.count("n_chars")).alias("n_chars_nulls"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
        F.countDistinct("source").alias("distinct_sources"),
        F.round(F.sum("n_chars").cast("double") / F.count("n_chars"), 6).alias("avg_n_chars"),
    )


STATS_SUMMARY_SQL = """
SELECT lang, count(*) AS row_count,
  count(*) - count(n_chars) AS n_chars_nulls,
  min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
  count(DISTINCT source) AS distinct_sources,
  round(cast(sum(n_chars) AS double) / count(n_chars), 6) AS avg_n_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Digest kernels (SURVEY §2.2 F3/F4/F11) and composite hash (A2)
# ---------------------------------------------------------------------------


def digest_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select("doc_id", digest_expr("text", "md5").alias("digest"))


DIGEST_MD5_SQL = "SELECT doc_id, md5(text) AS digest FROM documents"


def digest_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select("doc_id", digest_expr("text", "sha256").alias("digest"))


DIGEST_SHA256_SQL = "SELECT doc_id, sha256(text) AS digest FROM documents"


def composite_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", digest_expr("text", "md5").alias("h"))
    return d.groupBy("lang").agg(composite_digest_expr("doc_id", "h", "md5").alias("composite"))


COMPOSITE_DIGEST_SQL = """
SELECT lang,
  md5(string_agg(concat(cast(doc_id AS varchar), ':', md5(text)), chr(10)
      ORDER BY cast(doc_id AS varchar), md5(text))) AS composite
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Dedupe family (SURVEY §2.3 A3/A4 + training-data ops)
# ---------------------------------------------------------------------------


def dedupe_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-fingerprint dedupe: groups sharing the same 5-token prefix
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5)).cast("binary"))
    return (
        d.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("min_doc_id"), F.max("doc_id").alias("max_doc_id"))
        .filter(F.col("dup_count") > 1)
    )


DEDUPE_EXACT_SQL = """
SELECT md5(array_to_string((string_split(text, ' '))[1:5], ' ')) AS fingerprint,
  count(*) AS dup_count, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
"""


def minhash_signature(
    spark: SparkSession, sf_dir: str, drop_short: bool = False, with_sets: bool = False
) -> DataFrame:
    """4-permutation MinHash over 3-word shingles (near-dup building block).
    Permutation k = md5 prefixed with the permutation index.

    Docs with <3 tokens get an empty shingle set → NULL signatures (the
    unguarded ``sequence(1, size-2)`` is DESCENDING for short docs and
    crashes ``slice``; DuckDB's ``generate_series(1,0)`` is empty, so the
    guard also keeps the two engines in agreement)."""
    return _minhash_md5(_t(spark, sf_dir, "documents"), drop_short=drop_short, with_sets=with_sets)


def _minhash_md5(d: DataFrame, *carry: str, drop_short: bool, with_sets: bool) -> DataFrame:
    """(doc_id, *carry, [sh], sig0..sig3): the md5 signature frame of
    every md5 LSH query.

    ``drop_short`` drops docs with <3 tokens (exactly the NULL-signature
    docs) with a scan-column filter — one split at the scan — so
    downstream LSH never needs a sig-null check: a null test on the
    signature alias would push down through the signature projection and
    re-evaluate the whole shingle+md5 pipeline per row (BENCH.md finding
    #8).  ``with_sets`` rides the distinct shingle set along for
    verify-stage consumers, so one materialization serves banding AND
    exact verification."""
    from hashio_spark.functions.digests import minhash4_md5_arrow

    if drop_short:
        d = d.filter(F.size(F.split(F.col("text"), " ")) >= 3)
    # the whole text → shingles → 4×(md5, min) pipeline runs in ONE Arrow
    # kernel (functions/digests.minhash4_md5_arrow).  md5 stays in Python:
    # the compiled JVM form (shingle rows + min(md5) in one hash
    # aggregate) gives the same pairs but measured 3.00 and 2.44 s per
    # dedupe_minhash_lsh against the kernel's 1.99 and 1.91 s (20k docs,
    # one session, 4 cores; JVM md5 pays a JCA lookup per row, BENCH.md
    # finding #1).
    s = d.select("doc_id", *carry, minhash4_md5_arrow(with_sets)(F.col("text")).alias("_s"))
    sets = [F.col("_s.sh").alias("sh")] if with_sets else []
    return s.select("doc_id", *carry, *sets, *[F.col(f"_s.sig{k}").alias(f"sig{k}") for k in range(4)])


# band-size cap of every md5 LSH query; the oracle SQL spells it as 64
_MD5_MAX_BAND = 64


def _md5_bands(sig: DataFrame) -> DataFrame:
    """(key, band_id, band_val) of an md5 signature frame: 2 bands of 2
    signatures, ``band_val = sigA_sigB``.  The oracle SQL's band string
    ``'b<band_id>_sigA_sigB'`` is the same equality."""
    return explode_bands(sig, "doc_id", [F.concat_ws("_", "sig0", "sig1"), F.concat_ws("_", "sig2", "sig3")])


def _md5_sets(sig: DataFrame) -> DataFrame:
    """(key, sh) shingle sets of a ``with_sets`` md5 signature frame."""
    return sig.select(F.col("doc_id").alias("key"), "sh")


MINHASH_SIGNATURE_SQL = """
WITH s AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                   i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS shingles
  FROM documents
)
SELECT doc_id,
  list_min(list_transform(shingles, x -> md5(concat('0|', x)))) AS sig0,
  list_min(list_transform(shingles, x -> md5(concat('1|', x)))) AS sig1,
  list_min(list_transform(shingles, x -> md5(concat('2|', x)))) AS sig2,
  list_min(list_transform(shingles, x -> md5(concat('3|', x)))) AS sig3
FROM s
"""


def dedupe_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: docs agreeing on any MinHash band
    (banding = 2 sigs/band over the 4-sig signature).

    Bands shared by more than ``_MD5_MAX_BAND`` docs are dropped — the
    standard LSH guard against quadratic blowup on degenerate/boilerplate
    clusters (the synthetic corpus has a tiny vocabulary, so uncapped
    banding explodes at sf≥0.1).  The cap is part of the operator
    contract and is replicated exactly in the oracle SQL."""
    pairs, enr = _lsh_candidate_pairs(spark, sf_dir)
    return track(pairs, enr)


def _lsh_candidate_pairs(spark, sf_dir, with_sets: bool = False):
    """Shared front of the md5-minhash LSH self-join queries: (pairs
    (doc_a, doc_b), persisted signature frame).  Shingle-less docs are
    dropped at the scan (``drop_short``): concat_ws's null-skip would
    otherwise co-band every short doc.  The persisted frame carries the
    four signatures — and, when ``with_sets``, the distinct shingle set —
    so every consumer (the band-size count, the band rows it gates, a
    verify stage) reads one materialization of the shingle+md5 pipeline
    instead of recomputing it; both bands come from ONE pass
    (explode_bands)."""
    enr = minhash_signature(spark, sf_dir, drop_short=True, with_sets=with_sets).persist()
    pairs = band_self_join(_md5_bands(enr), _MD5_MAX_BAND)
    return pairs.withColumnsRenamed({"key_a": "doc_a", "key_b": "doc_b"}), enr


DEDUPE_MINHASH_LSH_SQL = """
WITH s AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                   i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS shingles
  FROM documents
), sig AS (
  SELECT doc_id,
    list_min(list_transform(shingles, x -> md5(concat('0|', x)))) AS sig0,
    list_min(list_transform(shingles, x -> md5(concat('1|', x)))) AS sig1,
    list_min(list_transform(shingles, x -> md5(concat('2|', x)))) AS sig2,
    list_min(list_transform(shingles, x -> md5(concat('3|', x)))) AS sig3
  FROM s
), bands AS (
  SELECT doc_id, concat('b0', '_', sig0, '_', sig1) AS band FROM sig WHERE sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id, concat('b1', '_', sig2, '_', sig3) AS band FROM sig WHERE sig0 IS NOT NULL
), sizes AS (
  SELECT band, count(*) AS n FROM bands GROUP BY band
), ok AS (
  SELECT bands.doc_id, bands.band FROM bands JOIN sizes USING (band)
  WHERE sizes.n > 1 AND sizes.n <= 64
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ok a JOIN ok b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard verification of the LSH candidate pairs
    (the verify stage of the near-dup pipeline): candidates from
    :func:`dedupe_minhash_lsh`, pairs kept at jaccard >= 0.2."""
    # the LSH helper's persisted frame carries the distinct shingle sets
    # (with_sets=True), so the verify stage reads the SAME
    # materialization the banding used instead of rebuilding the shingle
    # pipeline from the corpus (drop_short is output-neutral here:
    # candidates only ever reference banded docs)
    cand, enr = _lsh_candidate_pairs(spark, sf_dir, with_sets=True)
    return track(jaccard_verify(cand, _md5_sets(enr), _md5_sets(enr), 0.2), enr)


NGRAM_JACCARD_SQL = f"""
WITH s AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                   i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS shingles
  FROM documents
), sig AS (
  SELECT doc_id,
    list_min(list_transform(shingles, x -> md5(concat('0|', x)))) AS sig0,
    list_min(list_transform(shingles, x -> md5(concat('1|', x)))) AS sig1,
    list_min(list_transform(shingles, x -> md5(concat('2|', x)))) AS sig2,
    list_min(list_transform(shingles, x -> md5(concat('3|', x)))) AS sig3
  FROM s
), bands AS (
  SELECT doc_id, concat('b0', '_', sig0, '_', sig1) AS band FROM sig WHERE sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id, concat('b1', '_', sig2, '_', sig3) AS band FROM sig WHERE sig0 IS NOT NULL
), sizes AS (
  SELECT band, count(*) AS n FROM bands GROUP BY band
), ok AS (
  SELECT bands.doc_id, bands.band FROM bands JOIN sizes USING (band)
  WHERE sizes.n > 1 AND sizes.n <= 64
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok a JOIN ok b ON a.band = b.band AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list_distinct(shingles) AS sh FROM s
)
SELECT doc_a, doc_b,
  round(cast(len(list_intersect(sa.sh, sb.sh)) AS double)
        / cast(len(list_distinct(list_concat(sa.sh, sb.sh))) AS double), 6) AS jaccard
FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id JOIN sets sb ON cand.doc_b = sb.doc_id
WHERE round(cast(len(list_intersect(sa.sh, sb.sh)) AS double)
        / cast(len(list_distinct(list_concat(sa.sh, sb.sh))) AS double), 6) >= 0.2
"""


# ---------------------------------------------------------------------------
# Verify / diff (SURVEY §2.4 J3, J5/J6)
# ---------------------------------------------------------------------------


def verify_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    manifest = d.select("doc_id", digest_expr("text", "md5").alias("digest"))
    live = d.filter(F.col("doc_id") % 89 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0, digest_expr(F.reverse(F.col("text")), "md5"))
        .otherwise(digest_expr("text", "md5"))
        .alias("digest"),
    )
    out = verify_ops.verify_manifest(manifest, live, key="doc_id", digest="digest")
    return out.filter(F.col("status") != "pass")


VERIFY_MANIFEST_SQL = """
WITH m AS (SELECT doc_id, md5(text) AS digest FROM documents),
t AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 THEN md5(reverse(text)) ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % 89 <> 0
)
SELECT m.doc_id,
  CASE WHEN t.digest IS NULL THEN 'missing'
       WHEN m.digest = t.digest THEN 'pass'
       ELSE 'violation' END AS status,
  m.digest AS old_digest, t.digest AS new_digest
FROM m LEFT JOIN t USING (doc_id)
WHERE (CASE WHEN t.digest IS NULL THEN 'missing'
            WHEN m.digest = t.digest THEN 'pass'
            ELSE 'violation' END) <> 'pass'
"""


def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    s1 = d.filter(F.col("doc_id") % 7 != 0).select("doc_id", digest_expr("text", "md5").alias("digest"))
    s2 = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, digest_expr(F.reverse(F.col("text")), "md5"))
        .otherwise(digest_expr("text", "md5"))
        .alias("digest"),
    )
    return verify_ops.snapshot_diff(s1, s2, key="doc_id", digest="digest")


SNAPSHOT_DIFF_SQL = """
WITH s1 AS (SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 7 <> 0),
s2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0 THEN md5(reverse(text)) ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(s1.doc_id, s2.doc_id) AS doc_id,
  CASE WHEN s1.digest IS NULL THEN 'added'
       WHEN s2.digest IS NULL THEN 'removed'
       WHEN s1.digest <> s2.digest THEN 'changed' END AS change
FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id
WHERE (CASE WHEN s1.digest IS NULL THEN 'added'
            WHEN s2.digest IS NULL THEN 'removed'
            WHEN s1.digest <> s2.digest THEN 'changed' END) IS NOT NULL
"""


def dedupe_manifests_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-manifest 4-category dedupe (reference ``dedupe_cache_gen``):
    target tampers digests for %13 docs and drops %23 docs; source renames
    %19 keys (+1000000) and drops %17 docs — exercising every category."""
    d = _t(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 23 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, digest_expr(F.reverse(F.col("text")), "md5"))
        .otherwise(digest_expr("text", "md5"))
        .alias("digest"),
    )
    source = d.filter(F.col("doc_id") % 17 != 0).select(
        F.when(F.col("doc_id") % 19 == 0, F.col("doc_id") + 1000000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        digest_expr("text", "md5").alias("digest"),
    )
    return verify_ops.dedupe_manifests(target, source, key="doc_id", digest="digest")


DEDUPE_MANIFESTS_SQL = """
WITH t AS (
  SELECT doc_id AS target_key,
    CASE WHEN doc_id % 13 = 0 THEN md5(reverse(text)) ELSE md5(text) END AS t_digest
  FROM documents WHERE doc_id % 23 <> 0
), s AS (
  SELECT CASE WHEN doc_id % 19 = 0 THEN doc_id + 1000000 ELSE doc_id END AS source_key,
    md5(text) AS s_digest
  FROM documents WHERE doc_id % 17 <> 0
), by_key AS (
  SELECT t.target_key, s.source_key,
    CASE WHEN t.t_digest IS NULL THEN 'only_source'
         WHEN s.s_digest IS NULL THEN 'only_target'
         WHEN t.t_digest = s.s_digest THEN 'dupe_same_key'
         ELSE 'changed' END AS category
  FROM t FULL OUTER JOIN s ON t.target_key = s.source_key
), tsz AS (SELECT t_digest, count(*) AS n FROM t GROUP BY 1),
ssz AS (SELECT s_digest, count(*) AS n FROM s GROUP BY 1),
tok AS (SELECT t.* FROM t JOIN tsz USING (t_digest) WHERE tsz.n <= 64),
sok AS (SELECT s.* FROM s JOIN ssz USING (s_digest) WHERE ssz.n <= 64),
moved AS (
  SELECT tok.target_key, sok.source_key, 'dupe_moved' AS category
  FROM tok JOIN sok ON tok.t_digest = sok.s_digest
  WHERE tok.target_key <> sok.source_key
)
SELECT * FROM by_key UNION ALL SELECT * FROM moved
"""


# ---------------------------------------------------------------------------
# Drift (north-rule KS/PSI)
# ---------------------------------------------------------------------------

_PSI_LO, _PSI_HI, _PSI_N = 0.0, 500.0, 20
_KS_N = 200


def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    actual = e.filter(F.col("event_id") % 2 == 1)
    baseline = e.filter(F.col("event_id") % 2 == 0)
    out = drift_ops.psi(actual, baseline, "value", _PSI_LO, _PSI_HI, _PSI_N)
    return out.select(F.round(F.col("psi"), 6).alias("psi"))


DRIFT_PSI_SQL = f"""
WITH a AS (
  SELECT least({_PSI_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_PSI_N}) AS int))) AS bucket,
         count(*) AS cnt
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1
), b AS (
  SELECT least({_PSI_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_PSI_N}) AS int))) AS bucket,
         count(*) AS cnt
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, {_PSI_N - 1})) AS bucket),
d AS (
  SELECT spine.bucket, coalesce(a.cnt, 0) AS a_cnt, coalesce(b.cnt, 0) AS b_cnt
  FROM spine LEFT JOIN a USING (bucket) LEFT JOIN b USING (bucket)
), tot AS (SELECT sum(a_cnt) AS a_tot, sum(b_cnt) AS b_tot FROM d)
SELECT round(sum((a_cnt / a_tot + 1e-6 - (b_cnt / b_tot + 1e-6)) * ln((a_cnt / a_tot + 1e-6) / (b_cnt / b_tot + 1e-6))), 6) AS psi
FROM d, tot
"""


def drift_psi_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group PSI (each event_type's value distribution vs the global
    even-event baseline) — the per-partition drift check of the north
    rule, exercised through operators.drift.drift_by_group."""
    e = _t(spark, sf_dir, "events")
    actual = e.filter(F.col("event_id") % 2 == 1)
    baseline = e.filter(F.col("event_id") % 2 == 0)
    out = drift_ops.drift_by_group(actual, baseline, "value", "event_type", _PSI_LO, _PSI_HI, _PSI_N)
    return out.select("event_type", F.round(F.col("psi"), 6).alias("psi"))


DRIFT_PSI_BY_GROUP_SQL = f"""
WITH a0 AS (
  SELECT event_type,
         least({_PSI_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_PSI_N}) AS int))) AS bucket,
         count(*) AS a_cnt
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1, 2
), b0 AS (
  SELECT least({_PSI_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_PSI_N}) AS int))) AS bucket,
         count(*) AS cnt
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, {_PSI_N - 1})) AS bucket),
b AS (
  SELECT spine.bucket, coalesce(b0.cnt, 0) AS b_cnt FROM spine LEFT JOIN b0 USING (bucket)
), gs AS (SELECT DISTINCT event_type FROM a0),
aspine AS (SELECT gs.event_type, spine.bucket FROM gs, spine),
a AS (
  SELECT aspine.event_type, aspine.bucket, coalesce(a0.a_cnt, 0) AS a_cnt
  FROM aspine LEFT JOIN a0 ON aspine.event_type = a0.event_type AND aspine.bucket = a0.bucket
), tot AS (
  SELECT a.event_type, a.bucket, a.a_cnt, b.b_cnt,
         sum(a.a_cnt) OVER (PARTITION BY a.event_type) AS a_tot,
         (SELECT sum(b_cnt) FROM b) AS b_tot
  FROM a JOIN b USING (bucket)
)
SELECT event_type,
  round(sum((a_cnt / a_tot + 1e-6 - (b_cnt / b_tot + 1e-6)) * ln((a_cnt / a_tot + 1e-6) / (b_cnt / b_tot + 1e-6))), 6) AS psi
FROM tot GROUP BY event_type
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: the 4 smallest md5 shingle
    hashes concatenated (oracle-portable md5 twin of
    functions.text.rolling_fingerprint_expr, which uses xxhash64).
    Shingle-less docs (<3 tokens) fingerprint to the empty string.
    Staged projections per BENCH.md finding #7."""
    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    tk = F.col("_toks")
    idx = F.when(F.size(tk) >= 3, F.sequence(F.lit(1), F.size(tk) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    shingled = toked.select(
        "doc_id", F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, 3))).alias("_sh")
    )
    hashes = F.transform(F.col("_sh"), lambda s: F.md5(s.cast("binary")))
    fp = F.concat_ws("", F.slice(F.array_sort(hashes), 1, 4))
    return shingled.select("doc_id", fp.alias("fingerprint"))


DOC_FINGERPRINT_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> array_to_string(toks[i:i+2], ' ')) AS sh
  FROM t
)
SELECT doc_id,
  array_to_string((list_sort(list_transform(sh, x -> md5(x))))[1:4], '') AS fingerprint
FROM s
"""


def drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    actual = e.filter(F.col("event_id") % 2 == 1)
    baseline = e.filter(F.col("event_id") % 2 == 0)
    out = drift_ops.ks_statistic(actual, baseline, "value", _PSI_LO, _PSI_HI, _KS_N)
    return out.select(F.round(F.col("ks"), 6).alias("ks"))


DRIFT_KS_SQL = f"""
WITH a AS (
  SELECT least({_KS_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_KS_N}) AS int))) AS bucket,
         count(*) AS cnt
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1
), b AS (
  SELECT least({_KS_N - 1}, greatest(0, cast(floor((value - {_PSI_LO}) / {_PSI_HI - _PSI_LO} * {_KS_N}) AS int))) AS bucket,
         count(*) AS cnt
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, {_KS_N - 1})) AS bucket),
d AS (
  SELECT spine.bucket, coalesce(a.cnt, 0) AS a_cnt, coalesce(b.cnt, 0) AS b_cnt
  FROM spine LEFT JOIN a USING (bucket) LEFT JOIN b USING (bucket)
), tot AS (SELECT sum(a_cnt) AS a_tot, sum(b_cnt) AS b_tot FROM d),
c AS (
  SELECT bucket,
    sum(a_cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / a_tot AS a_cdf,
    sum(b_cnt) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / b_tot AS b_cdf
  FROM d, tot
)
SELECT round(max(abs(a_cdf - b_cdf)), 6) AS ks FROM c
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data ops: token count, quality, lang-id, fingerprint)
# ---------------------------------------------------------------------------


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.length("text").alias("n_chars_exact"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars_exact
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n = F.length(text).cast("double")
    alpha = F.length(F.regexp_replace(text, "[^a-z]", "")).cast("double")
    spaces = F.length(F.regexp_replace(text, "[^ ]", "")).cast("double")
    n_tok = F.size(F.split(text, " ")).cast("double")
    return d.select(
        "doc_id",
        F.round(alpha / n, 6).alias("alpha_ratio"),
        F.round(spaces / n, 6).alias("space_ratio"),
        F.round((n - spaces) / n_tok, 6).alias("avg_token_len"),
    )


TEXT_QUALITY_SQL = """
SELECT doc_id,
  round(cast(length(regexp_replace(text, '[^a-z]', '', 'g')) AS double) / cast(length(text) AS double), 6) AS alpha_ratio,
  round(cast(length(regexp_replace(text, '[^ ]', '', 'g')) AS double) / cast(length(text) AS double), 6) AS space_ratio,
  round((cast(length(text) AS double) - cast(length(regexp_replace(text, '[^ ]', '', 'g')) AS double)) / cast(len(string_split(text, ' ')) AS double), 6) AS avg_token_len
FROM documents
"""


_STOPWORD_PATTERN = r"\b(the|a|of|to|and)\b"


def lang_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(_STOPWORD_PATTERN), 0))
    return d.select(
        "doc_id",
        hits.alias("en_stopword_hits"),
        F.when(hits >= 3, "en").otherwise("unknown").alias("lang_guess"),
    )


LANG_SCORE_SQL = rf"""
SELECT doc_id,
  len(regexp_extract_all(text, '{_STOPWORD_PATTERN}')) AS en_stopword_hits,
  CASE WHEN len(regexp_extract_all(text, '{_STOPWORD_PATTERN}')) >= 3 THEN 'en' ELSE 'unknown' END AS lang_guess
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax language ID over the 4-language stopword heuristic
    (ties broken by hits desc, then lang string desc — the ordering
    ``array_max`` imposes on (hits, lang) structs)."""
    from hashio_spark.functions.text import lang_id_expr

    return _t(spark, sf_dir, "documents").select("doc_id", lang_id_expr("text").alias("lang_guess"))


def _lang_id_sql() -> str:
    from hashio_spark.functions.text import LANG_PATTERNS

    unions = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{k}' AS lang, len(regexp_extract_all(text, '{p}')) AS hits FROM documents"
        for k, p in LANG_PATTERNS.items()
    )
    return f"""
WITH h AS (
{unions}
), r AS (
  SELECT doc_id, lang, hits,
    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
  FROM h
)
SELECT doc_id, CASE WHEN hits >= 2 THEN lang ELSE 'unknown' END AS lang_guess
FROM r WHERE rn = 1
"""


LANG_ID_SQL = _lang_id_sql()


# ---------------------------------------------------------------------------
# Similarity search over embeddings (training-data ops)
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = (0, 1, 2)
_ANN_K = 5


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    nb = F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    return dot / F.sqrt(na * nb)


def _emb_double(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("ve")
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus norms computed once per row, query norms once per query
    # (broadcast side) — the pair expression folds only the dot product
    e = _emb_double(spark, sf_dir)
    nrm = F.sqrt(F.aggregate(F.transform(F.col("ve"), lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    en = e.select("vec_id", "ve", nrm.alias("nrm"))
    q = en.filter(F.col("vec_id").isin(*_ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("ve").alias("qe"), F.col("nrm").alias("qn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("ve"), lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    s = (
        en.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), (dot / (F.col("qn") * F.col("nrm"))).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", "rank", "neighbor_id")
    )


ANN_COSINE_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings),
en AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM e),
q AS (SELECT vec_id AS query_id, ve AS qe, nrm AS qn FROM en WHERE vec_id IN {_ANN_QUERY_IDS}),
s AS (
  SELECT query_id, vec_id AS neighbor_id,
    list_dot_product(qe, ve) / (qn * nrm) AS cos
  FROM en, q WHERE vec_id <> query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""


def _neardup_planes(n_planes: int = 16, dim: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplane components in [-1e6, 1e6]:
    md5-derived at plan-build time, embedded as literals in BOTH engines
    (no cross-engine hash-function parity needed)."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"hsplane|{p}|{d}".encode()).hexdigest()[:8], 16) % 2_000_001 - 1_000_000
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


_NEARDUP_PLANES = _neardup_planes()
_NEARDUP_BANDS = 4          # OR-amplification: candidate if ANY band agrees
_NEARDUP_BAND_BITS = 4      # sign bits per band (16 planes total)
_NEARDUP_MAX_BUCKET = 256   # per-(band, bucket) cap — quadratic-blowup guard


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED random-hyperplane
    LSH — the same (b bands × r bits, OR across bands) amplification as
    the MinHash banding in :func:`dedupe_minhash_lsh`: 16 hyperplanes
    grouped into 4 bands of 4 sign bits; two vectors are candidates iff
    ALL bits of at least one band agree; per-(band, bucket) population is
    capped at ``_NEARDUP_MAX_BUCKET`` (the standard LSH degenerate-
    cluster guard); candidates then pass an exact cosine >= 0.45 re-rank.

    Why banded (r03): a single 16-bit sketch with 1-bit multi-probe has
    ~1.5% recall at this query's 0.45 cosine contract (per-bit agreement
    p = 1 - θ/π ≈ 0.67 ⇒ P[Hamming≤1] ≈ 0.015) — scale-safe but finds
    nothing; the r02 3-plane variant found everything but had a CONSTANT
    8 buckets ⇒ O(n²/8) join volume (r02 VERDICT #2).  Banding is the
    standard middle: recall 1-(1-p^r)^b (~0.6 at cos 0.5, ~0.97 at cos
    0.8), candidate volume Σ_bucket n_bucket² bounded by the cap.  For
    corpora beyond ~10^5 rows, bits-per-band must grow with log2(n) —
    ``operators/similarity.neardup_pairs`` does exactly that (adaptive
    planes from the corpus count); this registered query pins r=4/b=4 so
    the DuckDB oracle replicates it literally.

    Sign bits are computed on vectors quantized to integers
    (floor(x*1000)) against integer plane components, so every engine
    gets bit-identical buckets — integer dot products stay < 2^53 and are
    exact in double arithmetic regardless of summation order."""
    from hashio_spark.operators.similarity import banded_sign_vals, dot_arrow

    e = _emb_double(spark, sf_dir)
    nrm = F.sqrt(F.aggregate(F.transform(F.col("ve"), lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    # all 16 plane signs per row from ONE Arrow matmul: integer planes ×
    # floor-quantized vectors keep every product/partial sum < 2^53, so
    # the matmul is bit-identical to the oracle's sequential
    # list_dot_product folds (proof in banded_sign_vals's docstring)
    base = e.select("vec_id", "ve", nrm.alias("nrm")).persist()
    # bands carries ONLY (vec_id, band_id, band_val): the candidate join
    # shuffles 3 narrow columns, never the vectors; vectors re-join from
    # `base` AFTER the pair set is distinct, so each unordered pair is
    # re-ranked exactly once (a pair agreeing in k bands used to fold
    # its 64-element dot k times before the old post-rerank distinct)
    bands = base.select(
        F.col("vec_id").alias("key"),
        F.posexplode(
            banded_sign_vals(
                F.col("ve"),
                [[float(w) for w in p] for p in _NEARDUP_PLANES],
                _NEARDUP_BANDS,
                _NEARDUP_BAND_BITS,
                quantize=1000.0,
            )
        ).alias("band_id", "band_val"),
    ).persist()
    cand = band_self_join(bands, _NEARDUP_MAX_BUCKET).withColumnsRenamed({"key_a": "a_id", "key_b": "b_id"})
    va = base.select(F.col("vec_id").alias("a_id"), F.col("ve").alias("a_ve"), F.col("nrm").alias("a_n"))
    vb = base.select(F.col("vec_id").alias("b_id"), F.col("ve").alias("b_ve"), F.col("nrm").alias("b_n"))
    # exact cosine re-rank via one Arrow einsum per batch (dot_arrow);
    # decision-safe: min |cos - 0.45| across ALL pairs is >= 1e-4 at
    # every shipped SF vs ~1e-16 summation-order noise
    out = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .filter(dot_arrow(F.col("a_ve"), F.col("b_ve")) / (F.col("a_n") * F.col("b_n")) >= 0.45)
        .select("a_id", "b_id")
    )
    from hashio_spark.caching import track

    return track(out, base, bands)


def _neardup_sql() -> str:
    def lit_arr(plane: list[int]) -> str:
        return "[" + ", ".join(f"{w}.0" for w in plane) + "]"

    def band_val(band: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(qv, {lit_arr(_NEARDUP_PLANES[band * _NEARDUP_BAND_BITS + j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(_NEARDUP_BAND_BITS)
        )

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, ve, nrm, {i} AS band_id, {band_val(i)} AS band_val FROM q"
        for i in range(_NEARDUP_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings),
q AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm,
             list_transform(ve, x -> floor(x * 1000.0)) AS qv FROM e),
bands AS (
{band_selects}
), sizes AS (
  SELECT band_id, band_val, count(*) AS n FROM bands GROUP BY band_id, band_val
), ok AS (
  SELECT bands.vec_id, bands.ve, bands.nrm, bands.band_id, bands.band_val
  FROM bands JOIN sizes USING (band_id, band_val)
  WHERE sizes.n > 1 AND sizes.n <= {_NEARDUP_MAX_BUCKET}
)
SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
FROM ok a JOIN ok b ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
WHERE list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= 0.45
"""


EMBEDDING_NEARDUP_SQL = _neardup_sql()


# -- corpus-scaled variant (r03 VERDICT next-round #4) ----------------------
# the SCALE path of operators/similarity.neardup_pairs carried by a green
# oracle row: bits_per_band derives from the corpus count with the SAME
# formula as neardup_pairs (ceil(log2(n / target_bucket)) clamped low at 4),
# replicated integer-exactly in the oracle SQL via a count-driven CASE —
# 64 * 2^bits >= n picks the same bits as the float formula without libm
# (smallest b with 2^b >= n/64 IS ceil(log2(n/64))).  The registered twin
# clamps high at 12 bits (the SQL enumerates branches 4..12; production
# clamps at 34 where the corpus, not a SQL oracle, is the constraint).

_SCALED_BANDS = 4
_SCALED_TARGET = 64     # target per-band bucket occupancy (neardup_pairs default)
_SCALED_MAX_BITS = 12
_SCALED_MAX_BUCKET = 256
_SCALED_PLANES = _neardup_planes(_SCALED_BANDS * _SCALED_MAX_BITS)


def _scaled_bits(n: int) -> int:
    for b in range(4, _SCALED_MAX_BITS + 1):
        if _SCALED_TARGET * (1 << b) >= n:
            return b
    return _SCALED_MAX_BITS


def embedding_neardup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane LSH near-dup whose band WIDTH scales with the
    corpus: per-band bucket occupancy stays ~``_SCALED_TARGET`` at any
    size, so candidate volume (Σ_bucket n² per band, capped) is linear in
    the corpus instead of quadratic — the 100-TB-safe shape of
    :func:`embedding_neardup`, which pins r=4/b=4 for oracle literalism.

    All ``4·bits`` plane signs per row come from ONE Arrow matmul
    (:func:`operators.similarity.banded_sign_vals`).  Signs are taken on
    vectors quantized to integers against integer plane components — dot
    products < 2^53, exact in doubles, so the matmul is bit-identical to
    the oracle's sequential folds."""
    from hashio_spark.operators.similarity import banded_sign_vals, dot_arrow

    e = _emb_double(spark, sf_dir)
    bits = _scaled_bits(_table_footer(f"{sf_dir}/embeddings.parquet")[0])
    nrm = F.sqrt(F.aggregate(F.transform(F.col("ve"), lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    planes = [[float(w) for w in p] for p in _SCALED_PLANES[: _SCALED_BANDS * bits]]
    base = e.select("vec_id", "ve", nrm.alias("nrm")).persist()
    # narrow bands + distinct-before-rerank + Arrow re-rank: same shape
    # and rationale as embedding_neardup above
    bands = base.select(
        F.col("vec_id").alias("key"),
        F.posexplode(
            banded_sign_vals(F.col("ve"), planes, _SCALED_BANDS, bits, quantize=1000.0)
        ).alias("band_id", "band_val"),
    ).persist()
    cand = band_self_join(bands, _SCALED_MAX_BUCKET).withColumnsRenamed({"key_a": "a_id", "key_b": "b_id"})
    va = base.select(F.col("vec_id").alias("a_id"), F.col("ve").alias("a_ve"), F.col("nrm").alias("a_n"))
    vb = base.select(F.col("vec_id").alias("b_id"), F.col("ve").alias("b_ve"), F.col("nrm").alias("b_n"))
    out = (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .filter(dot_arrow(F.col("a_ve"), F.col("b_ve")) / (F.col("a_n") * F.col("b_n")) >= 0.45)
        .select("a_id", "b_id")
    )
    from hashio_spark.caching import track

    return track(out, base, bands)


def _neardup_scaled_sql() -> str:
    def lit_arr(plane: list[int]) -> str:
        return "[" + ", ".join(f"{w}.0" for w in plane) + "]"

    bits_case = "CASE " + " ".join(
        f"WHEN cnt <= {_SCALED_TARGET * (1 << b)} THEN {b}"
        for b in range(4, _SCALED_MAX_BITS + 1)
    ) + f" ELSE {_SCALED_MAX_BITS} END"

    sign_cols = ",\n  ".join(
        f"CASE WHEN list_dot_product(qv, {lit_arr(_SCALED_PLANES[p])}) > 0 THEN 1 ELSE 0 END AS s{p}"
        for p in range(_SCALED_BANDS * _SCALED_MAX_BITS)
    )

    def band_sum(band: int, bits: int) -> str:
        return " + ".join(f"s{band * bits + j} * {1 << j}" for j in range(bits))

    band_case = "CASE bits " + " ".join(
        f"WHEN {bits} THEN (CASE band_id "
        + " ".join(f"WHEN {i} THEN {band_sum(i, bits)}" for i in range(_SCALED_BANDS))
        + " END)"
        for bits in range(4, _SCALED_MAX_BITS + 1)
    ) + " END"

    return f"""
WITH e AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings),
q AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm,
             list_transform(ve, x -> floor(x * 1000.0)) AS qv FROM e),
params AS (SELECT {bits_case} AS bits FROM (SELECT count(*) AS cnt FROM e)),
sgn AS (SELECT vec_id, ve, nrm,
  {sign_cols}
  FROM q),
bands AS (
  SELECT vec_id, ve, nrm, band_id, {band_case} AS band_val
  FROM sgn, params, (SELECT unnest(generate_series(0, {_SCALED_BANDS - 1})) AS band_id)
), sizes AS (
  SELECT band_id, band_val, count(*) AS n FROM bands GROUP BY band_id, band_val
), ok AS (
  SELECT bands.vec_id, bands.ve, bands.nrm, bands.band_id, bands.band_val
  FROM bands JOIN sizes USING (band_id, band_val)
  WHERE sizes.n > 1 AND sizes.n <= {_SCALED_MAX_BUCKET}
)
SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
FROM ok a JOIN ok b ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
WHERE list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= 0.45
"""


EMBEDDING_NEARDUP_SCALED_SQL = _neardup_scaled_sql()


LEGACY_EMBEDDING_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.ve, b.ve) / sqrt(list_dot_product(a.ve, a.ve) * list_dot_product(b.ve, b.ve)) >= 0.45
"""


# ---------------------------------------------------------------------------
# Window / grouping-set / pivot coverage + rollup digests
# ---------------------------------------------------------------------------


def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
        .filter(F.col("o_custkey") % 50 == 0)  # keep the oracle frame small
    )


TOPK_ORDERS_SQL = """
SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 2 AND o_custkey % 50 = 0
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >30-minute gap starts a new session; output
    sessions-per-user (lag + cumulative sum over an event-time window)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.withColumn("new_sess", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
    cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS bigint) AS gap
  FROM events
)
SELECT user_id,
  cast(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS bigint) AS n_sessions,
  count(*) AS n_events
FROM g GROUP BY user_id
"""


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    return (
        e.groupBy("day")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
    )


PIVOT_EVENTS_SQL = """
SELECT day(ts) AS day,
  count(*) FILTER (WHERE event_type = 'click') AS click,
  count(*) FILTER (WHERE event_type = 'view') AS view,
  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  count(*) FILTER (WHERE event_type = 'signup') AS signup,
  count(*) FILTER (WHERE event_type = 'error') AS error
FROM events GROUP BY 1
"""


def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            # grouping_id disambiguates rollup-subtotal NULLs from genuine
            # NULL data values (the driver hashes raw value tuples)
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
    )


ROLLUP_COUNTS_SQL = """
SELECT lang, source, cast(GROUPING(lang, source) AS bigint) AS gid,
  count(*) AS n, cast(sum(n_chars) AS bigint) AS chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


def dataset_digest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree hash: digest of per-lang composite digests in lang order —
    one digest for the whole documents table (rollup.dataset_digest)."""
    from hashio_spark.operators.rollup import ordered_digest_expr

    comp = composite_digest(spark, sf_dir)
    return comp.agg(ordered_digest_expr("lang", "composite", "md5").alias("dataset_digest"))


DATASET_DIGEST_SQL = """
WITH comp AS (
  SELECT lang,
    md5(string_agg(concat(cast(doc_id AS varchar), ':', md5(text)), chr(10)
        ORDER BY cast(doc_id AS varchar), md5(text))) AS composite
  FROM documents GROUP BY lang
)
SELECT md5(string_agg(composite, '' ORDER BY lang, composite)) AS dataset_digest FROM comp
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hashio_spark.functions.text import quality_score_expr

    return _t(spark, sf_dir, "documents").select("doc_id", quality_score_expr("text").alias("score"))


QUALITY_SCORE_SQL = r"""
WITH f AS (
  SELECT doc_id,
    cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double) AS alpha,
    cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS double) AS digits,
    cast(len(regexp_split_to_array(text, '\s+')) AS double) AS n_tok,
    cast(len(regexp_extract_all(text, '\b(the|of|and|a|to|in|is|that|it|for)\b')) AS double) AS stop,
    greatest(cast(length(text) AS double), 1.0) AS safe_n
  FROM documents
)
SELECT doc_id,
  round(greatest(0.0, least(1.0,
      0.35 * (alpha / safe_n)
    + 0.25 * least((stop / greatest(n_tok, 1.0)) * 4, 1.0)
    + 0.25 * least(n_tok / 100.0, 1.0)
    + 0.15 * (1 - least((digits / safe_n) * 5, 1.0)))), 6) AS score
FROM f
"""


def simhash64_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints over native xxhash64 token hashes.  Not in the
    driver REGISTRY (xxhash64 is not DuckDB-replicable, and a rows-only
    row is weaker than the coverage it has): correctness is locked by
    (a) the oracle-checked ``simhash_md5`` twin (identical plan shape)
    and (b) a pure-Python golden test that recomputes the full simhash
    driver-side with ``functions.xxh.spark_xxhash64_str``
    (tests/test_dedupe_similarity.py::test_simhash64_golden)."""
    from hashio_spark.operators.dedupe import simhash64

    return simhash64(_t(spark, sf_dir, "documents"), "doc_id", "text").withColumnRenamed("key", "doc_id")


_SIMHASH_MD5_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit int


def simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked SimHash: token hash = first 15 hex chars of md5
    parsed as int (engine-portable, JVM-side), 60-bit majority vote via
    the shared Arrow kernel (operators/dedupe.simhash_from_hashes) —
    all-integer, bit-identical to the SQL formulation."""
    from hashio_spark.operators.dedupe import simhash_from_hashes

    d = _t(spark, sf_dir, "documents")
    # token hash bound ONCE per token (r02 VERDICT #3), then voted over
    hashes = F.transform(
        F.split(F.col("text"), " "),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
    )
    return d.select("doc_id", simhash_from_hashes(hashes, _SIMHASH_MD5_BITS).alias("simhash"))


SIMHASH_MD5_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
h AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS th FROM tok),
bits AS (
  SELECT doc_id, b, sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM h, (SELECT unnest(generate_series(0, {_SIMHASH_MD5_BITS - 1})) AS b)
  GROUP BY 1, 2
)
SELECT doc_id, cast(sum(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS bigint) AS simhash
FROM bits GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "top_revenue_customers": (top_revenue_customers, TOP_REVENUE_SQL),
    "filter_query": (filter_query, FILTER_QUERY_SQL),
    "stats_summary": (stats_summary, STATS_SUMMARY_SQL),
    "digest_md5": (digest_md5, DIGEST_MD5_SQL),
    "digest_sha256": (digest_sha256, DIGEST_SHA256_SQL),
    "composite_digest": (composite_digest, COMPOSITE_DIGEST_SQL),
    "dedupe_exact": (dedupe_exact, DEDUPE_EXACT_SQL),
    "minhash_signature": (minhash_signature, MINHASH_SIGNATURE_SQL),
    "dedupe_minhash_lsh": (dedupe_minhash_lsh, DEDUPE_MINHASH_LSH_SQL),
    "ngram_jaccard": (ngram_jaccard, NGRAM_JACCARD_SQL),
    "verify_manifest": (verify_manifest_q, VERIFY_MANIFEST_SQL),
    "dedupe_manifests": (dedupe_manifests_q, DEDUPE_MANIFESTS_SQL),
    "snapshot_diff": (snapshot_diff_q, SNAPSHOT_DIFF_SQL),
    "drift_psi": (drift_psi, DRIFT_PSI_SQL),
    "drift_psi_by_group": (drift_psi_by_group, DRIFT_PSI_BY_GROUP_SQL),
    "drift_ks": (drift_ks, DRIFT_KS_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "lang_score": (lang_score, LANG_SCORE_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "ann_cosine_topk": (ann_cosine_topk, ANN_COSINE_TOPK_SQL),
    "embedding_neardup": (embedding_neardup, EMBEDDING_NEARDUP_SQL),
    "embedding_neardup_scaled": (embedding_neardup_scaled, EMBEDDING_NEARDUP_SCALED_SQL),
    "topk_orders_per_customer": (topk_orders_per_customer, TOPK_ORDERS_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "pivot_event_counts": (pivot_event_counts, PIVOT_EVENTS_SQL),
    "rollup_counts": (rollup_counts, ROLLUP_COUNTS_SQL),
    "dataset_digest": (dataset_digest_q, DATASET_DIGEST_SQL),
    "quality_score": (quality_score, QUALITY_SCORE_SQL),
    "simhash_md5": (simhash_md5, SIMHASH_MD5_SQL),
}


def validate_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full validation pass (stats + all four constraint classes
    + per-doc md5 span digests + per-partition composite digest) over the
    interleaved table derived from the flat documents, with planted
    violations of every class.  The whole report — row counts, composite
    digests, violation counts, pass flags — is oracle-checked against the
    DuckDB replication below."""
    from hashio_spark.datagen import asset_catalog, interleave_from_flat
    from hashio_spark.plans.validate import validate

    docs = interleave_from_flat(_t(spark, sf_dir, "documents"), plant_violations=True)
    cat = asset_catalog(spark, 50)
    # Report-only: the five-column projection lets Catalyst prune the
    # unreferenced report aggregates (string min/max, quality histogram),
    # and persist_violations=False — the violations feed only the count.
    # perfbench's validate_cli workload runs the full pass.
    res = validate(docs, cat, algo="md5", group_digest="composite", persist_violations=False)
    out = res.report.select(
        "partition_id",
        F.col("row_count").cast("long").alias("row_count"),
        "digest",
        F.col("violation_count").cast("long").alias("violation_count"),
        F.col("passed").cast("int").alias("passed"),
    )
    return track(out, res.report)  # release(out) frees validate's per-doc frame


VALIDATE_INTERLEAVED_SQL = """
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 41 = 1 AND doc_id > 0 THEN doc_id - 1 ELSE doc_id END AS key,
    string_split(text, ' ') AS toks
  FROM documents
), d AS (
  SELECT doc_id, key, cast(key AS varchar) AS doc_key,
    cast(key % 16 AS int) AS partition_id, toks,
    greatest(1, cast(ceil(len(toks) / 8.0) AS int)) AS n_chunks
  FROM base
), sp AS (
  SELECT doc_id, doc_key, partition_id, n_chunks,
    list_transform(generate_series(0, n_chunks - 1), i ->
      concat('text|',
        CASE WHEN doc_id % 43 = 0 AND i = 0 THEN '' ELSE array_to_string(toks[i*8+1:i*8+8], ' ') END,
        '||',
        cast(CASE WHEN doc_id % 47 = 0 THEN (n_chunks-1-i)*8 ELSE i*8 END AS varchar))) AS text_lines,
    list_transform(generate_series(0, n_chunks - 1), i ->
      CASE WHEN doc_id % 47 = 0 THEN (n_chunks-1-i)*8 ELSE i*8 END) AS offs0,
    (doc_id % 3 = 0) AS has_media,
    CASE WHEN doc_id % 30 = 0 THEN concat('asset-missing-', cast(doc_id AS varchar))
         ELSE concat('asset-', cast(doc_id % 50 AS varchar)) END AS media_ref
  FROM d
), doc AS (
  SELECT doc_key, partition_id,
    md5(array_to_string(
      CASE WHEN has_media
           THEN list_append(text_lines, concat('image||', media_ref, '|', cast(n_chunks*8 AS varchar)))
           ELSE text_lines END, chr(10))) AS digest,
    CASE WHEN doc_id % 43 = 0 THEN 1 ELSE 0 END AS f_nulltext,
    CASE WHEN len(offs) > 1 AND len(list_filter(generate_series(1, len(offs)-1), j -> offs[j] >= offs[j+1])) > 0
         THEN 1 ELSE 0 END AS f_ooo,
    CASE WHEN has_media AND doc_id % 30 = 0 THEN 1 ELSE 0 END AS f_dangle
  FROM (SELECT *, CASE WHEN has_media THEN list_append(offs0, n_chunks*8) ELSE offs0 END AS offs FROM sp)
), dups AS (
  SELECT cast(key % 16 AS int) AS partition_id, cast(key AS varchar) AS doc_key
  FROM d GROUP BY 1, 2 HAVING count(*) > 1
), dupcnt AS (
  SELECT partition_id, count(*) AS n_dup FROM dups GROUP BY 1
), rep AS (
  SELECT partition_id,
    count(*) AS row_count,
    md5(string_agg(concat(doc_key, ':', digest), chr(10) ORDER BY doc_key, digest)) AS digest,
    cast(sum(f_nulltext) + sum(f_ooo) + sum(f_dangle) AS bigint) AS vc_part
  FROM doc GROUP BY partition_id
)
SELECT r.partition_id, r.row_count, r.digest,
  cast(r.vc_part + coalesce(dc.n_dup, 0) AS bigint) AS violation_count,
  cast((r.vc_part + coalesce(dc.n_dup, 0)) = 0 AS int) AS passed
FROM rep r LEFT JOIN dupcnt dc USING (partition_id)
"""


REGISTRY["validate_interleaved"] = (validate_interleaved, VALIDATE_INTERLEAVED_SQL)


# ---------------------------------------------------------------------------
# Training-pipeline ops, round 4: decontamination / repetition / sampling
# ---------------------------------------------------------------------------


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 3-gram with
    the deterministic 'benchmark' subset (doc_id % 97 == 0) and how many
    DISTINCT grams leak.  The registered twin joins on raw shingle
    strings so DuckDB replicates it; production uses
    ``operators.decontaminate.contamination(hashed=True)`` (xxhash64
    8-byte join keys, benchmark side broadcast — the corpus is never
    shuffled for the join)."""
    from hashio_spark.operators.decontaminate import contamination

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return contamination(train, bench, "doc_id", "text", k=3, hashed=False)


CONTAMINATION_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
                                     i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) AS gs FROM tok),
doc_g AS (SELECT DISTINCT doc_id, unnest(gs) AS gram FROM sh WHERE doc_id % 97 <> 0),
bench_g AS (SELECT DISTINCT unnest(gs) AS gram FROM sh WHERE doc_id % 97 = 0)
SELECT doc_id, cast(count(*) AS bigint) AS n_shared
FROM doc_g JOIN bench_g USING (gram)
GROUP BY doc_id HAVING count(*) >= 1
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher/RefinedWeb-style boilerplate
    signal): per doc, total vs distinct 3-gram shingles and the duplicate
    fraction.  Pure array expressions over a staged tokenization — no
    shuffle at all, evaluated inside the scan's codegen stage."""
    from hashio_spark.functions.text import gram_repetition_struct

    d = _t(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.split(F.col("text"), r"\s+").alias("_toks"))
    rep = toked.select("doc_id", gram_repetition_struct("_toks", 3).alias("_r"))
    n, nd = F.col("_r.n_grams"), F.col("_r.n_distinct")
    return rep.select(
        "doc_id",
        n.cast("long").alias("n_grams"),
        nd.cast("long").alias("n_distinct"),
        F.round((n - nd) / F.greatest(n, F.lit(1)), 6).alias("dup_frac"),
    )


REPETITION_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
                                    i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) AS gs FROM tok)
SELECT doc_id,
  cast(len(gs) AS bigint) AS n_grams,
  cast(len(list_distinct(gs)) AS bigint) AS n_distinct,
  round((len(gs) - len(list_distinct(gs))) / greatest(cast(len(gs) AS double), 1.0), 6) AS dup_frac
FROM g
"""


_SAMPLE_RATES = {"en": 0.5, "de": 0.25}
_SAMPLE_DEFAULT = 0.1


def sample_stratified_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing primitive:
    keep a doc iff uniform(md5(doc_id||seed)) < rate(lang).  Layout- and
    engine-independent (the md5 tier is bit-replicated in the oracle);
    production uses the xxhash64 tier.  Pure per-row filter: no shuffle,
    expected output Σ n_lang·rate at any corpus size, and raising a rate
    later keeps a superset of the earlier sample (monotone gate)."""
    from hashio_spark.operators.sampling import sample_stratified

    d = _t(spark, sf_dir, "documents")
    out = sample_stratified(
        d, "doc_id", "lang", _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT, method="md5"
    )
    return out.select("doc_id", "lang")


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 's42')), 1, 15)) AS BIGINT)
       % 1000000) / 1000000.0
  < CASE lang WHEN 'en' THEN {_SAMPLE_RATES['en']} WHEN 'de' THEN {_SAMPLE_RATES['de']}
    ELSE {_SAMPLE_DEFAULT} END
"""


REGISTRY["contamination_check"] = (contamination_check, CONTAMINATION_SQL)
REGISTRY["repetition_stats"] = (repetition_stats, REPETITION_SQL)
REGISTRY["sample_stratified"] = (sample_stratified_md5, SAMPLE_STRATIFIED_SQL)


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped multiway join: revenue by nation for ASIA customers
    whose supplier sits in the same nation, one order-date year.

    The plan this is written FOR: region/nation/supplier/customer are
    dimension tables → all four join as broadcasts (no shuffle touches
    the lineitem fact side until the final nation aggregation, itself a
    HashAggregate partial/final pair); the o_orderdate range filter
    pushes into the orders scan (PushedFilters), and only the join keys
    plus the two price columns are read from lineitem (ReadSchema).
    Decimal-exact sums cast to double and rounded for cross-engine
    comparison, as in q1."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
  round(cast(sum(cast(l_extendedprice AS decimal(18,2))
              * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))) AS double), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def sample_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum CAP sampling (the other half of data mixing next to
    rate sampling): keep at most N docs per source, chosen by hash rank —
    deterministic, layout-independent, and the window is PARTITIONED by
    the stratum so no single task sees more than one stratum's rows.  A
    boilerplate-heavy source can't dominate the mix."""
    CAP = 10
    d = _t(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("cap42")).cast("binary")), 1, 15), 16, 10)
        .cast("long")
    )
    w = Window.partitionBy("source").orderBy(u.asc(), F.col("doc_id").asc())
    return (
        d.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= CAP)
        .select("doc_id", "source")
    )


SAMPLE_CAP_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'cap42')), 1, 15)) AS BIGINT) ASC,
               doc_id ASC
    ) AS rk
  FROM documents
) WHERE rk <= 10
"""


REGISTRY["q5_region_revenue"] = (q5_region_revenue, Q5_SQL)
REGISTRY["sample_cap_per_group"] = (sample_cap_per_group, SAMPLE_CAP_SQL)


def dedupe_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: the transitive components of the
    MinHash-LSH candidate-pair graph, each doc labeled with its
    component's min doc_id and whether it is the kept representative.
    Pairs alone can't drive a drop-list (near-dup is not transitive);
    this closes the dedup story pairs → clusters → keep-one.  Iterative
    min-label propagation (operators/graph.py) — rounds = graph
    diameter, which for LSH near-clique graphs is 2-4."""
    from hashio_spark.operators.graph import duplicate_clusters

    pairs = dedupe_minhash_lsh(spark, sf_dir)
    out = duplicate_clusters(pairs, "doc_a", "doc_b")
    return out.select(
        F.col("key").alias("doc_id"),
        F.col("cluster_id"),
        F.col("keep").cast("int").alias("keep"),
    )


DEDUPE_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({DEDUPE_MINHASH_LSH_SQL}),
edges2 AS (
  SELECT doc_a AS n, doc_b AS m FROM pairs
  UNION
  SELECT doc_b AS n, doc_a AS m FROM pairs
),
reach(n, m) AS (
  SELECT n, n FROM (SELECT n FROM edges2) t
  UNION
  SELECT e.n, r.m FROM edges2 e JOIN reach r ON e.m = r.n
)
SELECT n AS doc_id, min(m) AS cluster_id,
  cast(n = min(m) AS int) AS keep
FROM reach GROUP BY n
"""


REGISTRY["dedupe_clusters"] = (dedupe_clusters, DEDUPE_CLUSTERS_SQL)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the oracle: a deterministic media table
    derived from documents (binary payload = utf-8 of
    'media-bytes-'+md5(doc_id)) runs through the REAL Arrow
    ``mapInPandas`` feature extractor (operators/multimodal.py — byte
    length, content digest, md5-derived decode-stub dimensions), and
    DuckDB replicates every output bit.  This moves the multimodal axis
    from pytest-only onto the driver's oracle gate; the stubbed decoder
    is the documented swap-in point for real codec libs."""
    from hashio_spark.operators.multimodal import extract_media_features

    d = _t(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    media = d.select(
        ds.alias("doc_id"),
        F.concat(F.lit("asset-"), ds).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_kind"),
        F.encode(F.concat(F.lit("media-bytes-"), F.md5(ds.cast("binary"))), "utf-8").alias("content"),
    )
    out = extract_media_features(media)
    return out.select(
        "doc_id", "media_ref", "media_kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "content_digest",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("duration_ms").cast("int").alias("duration_ms"),
    )


MEDIA_FEATURES_SQL = """
WITH m AS (
  SELECT cast(doc_id AS varchar) AS doc_id_s,
    concat('asset-', cast(doc_id AS varchar)) AS media_ref,
    CASE cast(doc_id % 3 AS int) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind,
    concat('media-bytes-', md5(cast(doc_id AS varchar))) AS content_str
  FROM documents
),
f AS (SELECT *, md5(content_str) AS h FROM m)
SELECT doc_id_s AS doc_id, media_ref, media_kind,
  cast(length(content_str) AS bigint) AS n_bytes,
  h AS content_digest,
  CASE WHEN media_kind IN ('image', 'video')
       THEN 64 + CAST(concat('0x', substr(h, 1, 2)) AS INT) * 8 END AS width,
  CASE WHEN media_kind IN ('image', 'video')
       THEN 64 + CAST(concat('0x', substr(h, 3, 2)) AS INT) * 8 END AS height,
  CASE WHEN media_kind IN ('audio', 'video')
       THEN 1000 + CAST(concat('0x', substr(h, 5, 4)) AS INT) END AS duration_ms
FROM f
"""


REGISTRY["media_features"] = (media_features, MEDIA_FEATURES_SQL)


def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing under the oracle: the same deterministic
    media table as :func:`media_features` runs through the REAL
    ``mapInPandas`` frame sampler (video rows fan out to 4 evenly-spaced
    frame rows).  frame_digest is dropped from the registered projection
    (DuckDB's md5 is VARCHAR-only and the digest mixes raw null bytes) —
    it stays covered by pytest; indices, timestamps, and stub dimensions
    are bit-replicated here."""
    from hashio_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    media = d.select(
        ds.alias("doc_id"),
        F.concat(F.lit("asset-"), ds).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_kind"),
        F.encode(F.concat(F.lit("media-bytes-"), F.md5(ds.cast("binary"))), "utf-8").alias("content"),
    )
    out = sample_frames(media, n_frames=4)
    return out.select(
        "doc_id", "media_ref",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame_ts_ms").cast("int").alias("frame_ts_ms"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
    )


MEDIA_FRAMES_SQL = """
WITH m AS (
  SELECT cast(doc_id AS varchar) AS doc_id_s,
    concat('asset-', cast(doc_id AS varchar)) AS media_ref,
    concat('media-bytes-', md5(cast(doc_id AS varchar))) AS content_str
  FROM documents WHERE cast(doc_id % 3 AS int) = 2
),
f AS (SELECT *, md5(content_str) AS h FROM m),
v AS (
  SELECT doc_id_s, media_ref,
    64 + CAST(concat('0x', substr(h, 1, 2)) AS INT) * 8 AS width,
    64 + CAST(concat('0x', substr(h, 3, 2)) AS INT) * 8 AS height,
    1000 + CAST(concat('0x', substr(h, 5, 4)) AS INT) AS dur
  FROM f
)
SELECT doc_id_s AS doc_id, media_ref, i AS frame_idx,
  cast((dur * i) // 4 AS int) AS frame_ts_ms, width, height
FROM v, (SELECT unnest(generate_series(0, 3)) AS i)
"""


REGISTRY["media_frames"] = (media_frames, MEDIA_FRAMES_SQL)


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize planning under the oracle: aspect-preserving fit into
    256px through the REAL ``mapInPandas`` kernel, including the resized
    digest (the payload is pure ASCII, so DuckDB's VARCHAR md5 replicates
    it exactly — unlike the frame digest's raw null bytes)."""
    from hashio_spark.operators.multimodal import resize_images

    d = _t(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    media = d.select(
        ds.alias("doc_id"),
        F.concat(F.lit("asset-"), ds).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_kind"),
        F.encode(F.concat(F.lit("media-bytes-"), F.md5(ds.cast("binary"))), "utf-8").alias("content"),
    )
    out = resize_images(media, max_side=256)
    return out.select(
        "doc_id", "media_ref",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("resized_width").cast("int").alias("resized_width"),
        F.col("resized_height").cast("int").alias("resized_height"),
        "resized_digest",
    )


MEDIA_RESIZE_SQL = """
WITH m AS (
  SELECT cast(doc_id AS varchar) AS doc_id_s,
    concat('asset-', cast(doc_id AS varchar)) AS media_ref,
    concat('media-bytes-', md5(cast(doc_id AS varchar))) AS content_str
  FROM documents WHERE cast(doc_id % 3 AS int) = 0
),
f AS (SELECT *, md5(content_str) AS h FROM m),
dims AS (
  SELECT doc_id_s, media_ref, content_str,
    64 + CAST(concat('0x', substr(h, 1, 2)) AS INT) * 8 AS width,
    64 + CAST(concat('0x', substr(h, 3, 2)) AS INT) * 8 AS height
  FROM f
),
plan AS (
  SELECT *,
    greatest(1, CAST(trunc(width  * least(1.0, 256.0 / greatest(width, height))) AS INT)) AS rw,
    greatest(1, CAST(trunc(height * least(1.0, 256.0 / greatest(width, height))) AS INT)) AS rh
  FROM dims
)
SELECT doc_id_s AS doc_id, media_ref, width, height,
  rw AS resized_width, rh AS resized_height,
  md5(concat(content_str, '|', cast(rw AS varchar), 'x', cast(rh AS varchar))) AS resized_digest
FROM plan
"""


REGISTRY["media_resize"] = (media_resize, MEDIA_RESIZE_SQL)


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join under the oracle: each sampled click is stamped with
    the user's latest purchase at-or-before the click (point-in-time
    attribute lookup).  The Spark side is the union-timeline plan
    (operators/asof.py — one key shuffle, no row explosion); the oracle
    is the O(n*m)-per-key inequality-join + row_number formulation,
    which is exactly the blowup the operator avoids."""
    from hashio_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 11 == 0)
    ).select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        F.col("value").alias("pval"),
    )
    out = asof_join(
        clicks, purchases, "user_id", "user_id", "ts", "pts",
        ["pid", "pts", "pval"], how="inner", prefix="m_",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.col("m_pid").alias("last_purchase_id"),
        F.unix_timestamp("m_pts").alias("last_purchase_epoch"),
        F.round("m_pval", 6).alias("last_purchase_value"),
    )


EVENTS_ASOF_SQL = """
WITH cand AS (
  SELECT c.event_id AS click_id, c.user_id, c.ts AS cts,
         p.event_id AS pid, p.ts AS pts, p.value AS pval,
         row_number() OVER (PARTITION BY c.event_id ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM events c JOIN events p
    ON p.user_id = c.user_id AND p.event_type = 'purchase' AND p.ts <= c.ts
  WHERE c.event_type = 'click' AND c.event_id % 11 = 0
)
SELECT click_id, user_id,
  cast(floor(epoch(cts)) AS bigint) AS click_epoch,
  pid AS last_purchase_id,
  cast(floor(epoch(pts)) AS bigint) AS last_purchase_epoch,
  round(pval, 6) AS last_purchase_value
FROM cand WHERE rn = 1
"""


REGISTRY["events_asof_purchase"] = (events_asof_purchase, EVENTS_ASOF_SQL)


def pack_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing under the oracle: documents are packed
    into 2048-token bins across 8 shards (operators/packing.py streaming
    prefix-sum rule; the registered twin shards by a portable
    ``doc_id % 8`` instead of the production xxhash64 shard) and the
    per-sequence manifest — which docs build which sequence — is
    bit-replicated by DuckDB's identical window."""
    from hashio_spark.operators.packing import pack_sequences, sequence_manifest

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = pack_sequences(
        d, "doc_id", "n_tokens", budget=2048, n_shards=8,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return sequence_manifest(packed, "n_tokens")


PACK_SEQUENCES_SQL = """
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
    cast(coalesce(sum(n_tokens) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cum_before
  FROM t
)
SELECT cast(shard AS bigint) AS shard,
  cast(floor(cum_before / 2048.0) AS bigint) AS seq_id,
  count(*) AS n_docs,
  cast(sum(n_tokens) AS bigint) AS total_tokens,
  min(cum_before) AS first_doc_cum,
  max(cum_before) AS last_doc_cum,
  cast(max(cum_before + n_tokens) AS bigint) AS end_cum
FROM c GROUP BY 1, 2
"""


REGISTRY["pack_sequences"] = (pack_sequences_manifest, PACK_SEQUENCES_SQL)


def numeric_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact interpolated percentiles of event value — the
    quantile tier of the stats axis (reference F14 exposes only
    null/min/max; quartiles are what a drift baseline actually wants).
    Exact ``percentile`` sorts each group — right for low-cardinality
    groupings like this one (5 event types; per-group sort is
    distributed); at 10^12 rows over high-cardinality groups the
    production path is ``approx_percentile`` (t-digest, mergeable
    map-side partials), which has no DuckDB-replicable result and so
    stays the documented scale twin."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            *[
                F.round(F.percentile("value", p), 6).alias(f"p{int(p * 100)}")
                for p in (0.25, 0.5, 0.75, 0.95)
            ],
            F.count("value").alias("n"),
        )
    )


NUMERIC_QUANTILES_SQL = """
SELECT event_type,
  round(quantile_cont(value, 0.25), 6) AS p25,
  round(quantile_cont(value, 0.50), 6) AS p50,
  round(quantile_cont(value, 0.75), 6) AS p75,
  round(quantile_cont(value, 0.95), 6) AS p95,
  count(value) AS n
FROM events GROUP BY event_type
"""


REGISTRY["numeric_quantiles"] = (numeric_quantiles, NUMERIC_QUANTILES_SQL)


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the full training-corpus cleaning pipeline
    as ONE lazy plan, oracle-checked end to end:

      quality gate (token count + alpha ratio)
        → prefix-fingerprint exact dedupe (md5 of the first 64 chars,
          keep the smallest doc_id — truncation/boilerplate dups)
        → benchmark decontamination (drop docs sharing any 3-gram with
          the held-out benchmark subset, operators/decontaminate)
        → fixed-budget sequence packing (operators/packing)

    Output is the packed-sequence manifest of the surviving corpus, so a
    single value-hash certifies every stage's survivor set AND the
    packing coordinates.  Each stage is the registered operator the
    standalone queries exercise; at scale the plan is: one codegen'd
    scan for gate+fingerprint, one dedupe shuffle, the broadcast
    gram anti-join, one shard shuffle for packing."""
    from hashio_spark.operators.decontaminate import contamination
    from hashio_spark.operators.packing import pack_sequences, sequence_manifest

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)

    text = F.col("text")
    n_tokens = F.size(F.split(text, " "))
    alpha_ratio = (
        F.length(F.regexp_replace(text, "[^a-z]", "")).cast("double")
        / F.length(text).cast("double")
    )
    gated = train.select("doc_id", "text", n_tokens.alias("n_tokens")).filter(
        (n_tokens >= 20) & (alpha_ratio >= 0.5)
    )

    w = Window.partitionBy(F.md5(F.substring(text, 1, 64))).orderBy("doc_id")
    deduped = (
        gated.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )

    bad = contamination(deduped, bench, "doc_id", "text", k=3, hashed=False)
    clean = deduped.join(bad, "doc_id", "left_anti").select("doc_id", "n_tokens")

    packed = pack_sequences(
        clean, "doc_id", "n_tokens", budget=2048, n_shards=8,
        shard_expr=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return sequence_manifest(packed, "n_tokens")


CORPUS_CLEAN_SQL = """
WITH t0 AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 97 <> 0
),
gated AS (
  SELECT doc_id, text, len(toks) AS n_tokens FROM t0
  WHERE len(toks) >= 20
    AND cast(length(regexp_replace(text, '[^a-z]', '', 'g')) AS double)
        / cast(length(text) AS double) >= 0.5
),
dedup AS (
  SELECT doc_id, text, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(substr(text, 1, 64)) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
tok2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM dedup),
sh AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
                                     i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) AS gs FROM tok2),
doc_g AS (SELECT DISTINCT doc_id, unnest(gs) AS gram FROM sh),
bench_tok AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0),
bench_sh AS (SELECT list_transform(generate_series(1, len(t) - 2),
                                   i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])) AS gs FROM bench_tok),
bench_g AS (SELECT DISTINCT unnest(gs) AS gram FROM bench_sh),
contaminated AS (SELECT DISTINCT doc_id FROM doc_g JOIN bench_g USING (gram)),
clean AS (
  SELECT doc_id, n_tokens FROM dedup
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
c AS (
  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
    cast(coalesce(sum(n_tokens) OVER (
      PARTITION BY doc_id % 8 ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS cum_before
  FROM clean
)
SELECT cast(shard AS bigint) AS shard,
  cast(floor(cum_before / 2048.0) AS bigint) AS seq_id,
  count(*) AS n_docs,
  cast(sum(n_tokens) AS bigint) AS total_tokens,
  min(cum_before) AS first_doc_cum,
  max(cum_before) AS last_doc_cum,
  cast(max(cum_before + n_tokens) AS bigint) AS end_cum
FROM c GROUP BY 1, 2
"""


REGISTRY["corpus_clean_pipeline"] = (corpus_clean_pipeline, CORPUS_CLEAN_SQL)


def events_in_signup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join under the oracle: every click inside the 24-hour
    attribution window [signup_ts, signup_ts + 24h) of a same-user
    signup.  The Spark side is the bucketed interval join
    (operators/ranges.py — interval rows replicated across 6-hour
    buckets, ONE equi-shuffle on (user, bucket), containment as a
    residual filter); the oracle is the plain inequality join, which
    Spark itself would only plan as a BroadcastNestedLoopJoin."""
    from hashio_spark.operators.ranges import interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("w_end"),
    )
    out = interval_join(
        clicks, signups, "ts", "w_start", "w_end", ["signup_id"],
        left_on="user_id", right_on="user_id",
        bucket_width=6 * 3600.0, prefix="m_",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.col("m_signup_id").alias("signup_id"),
    )


EVENTS_IN_WINDOW_SQL = """
SELECT c.event_id AS click_id, c.user_id,
  cast(floor(epoch(c.ts)) AS bigint) AS click_epoch,
  s.event_id AS signup_id
FROM events c JOIN events s
  ON s.user_id = c.user_id AND s.event_type = 'signup'
 AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 24 HOURS
WHERE c.event_type = 'click'
"""


REGISTRY["events_in_signup_window"] = (events_in_signup_window, EVENTS_IN_WINDOW_SQL)


def key_profile_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile under the oracle: the 10 hottest user_ids in events
    with row count, corpus share, and times-average multiplier
    (operators/skew.py — the profile every salting decision starts
    from).  Map-side partial aggregation makes the profile itself
    immune to the skew it measures; top-N is TakeOrderedAndProject."""
    from hashio_spark.operators.skew import key_profile

    return key_profile(_t(spark, sf_dir, "events"), "user_id", top_n=10)


KEY_PROFILE_SQL = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
SELECT user_id, n,
  round(n / (total * 1.0), 6) AS share,
  round(n * n_keys / (total * 1.0), 6) AS hot_x
FROM c, t
ORDER BY n DESC, user_id
LIMIT 10
"""


REGISTRY["key_profile_users"] = (key_profile_users, KEY_PROFILE_SQL)


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential PII scrubbing under the oracle: documents are salted
    with deterministic synthetic PII (email, IPv4, SSN-shaped, phone)
    derived from doc_id, then pushed through the ordered redaction
    chain (operators/redact.py).  Counts are per-pattern hits on the
    text state entering that stage — both engines replay the exact
    same regexes in the exact same order (java.regex/RE2-portable
    subset), so replacements AND counts hash-match."""
    from hashio_spark.operators.redact import redact

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 80),
            F.lit(" contact user"), did, F.lit("@mail.example.com"),
            F.lit(" host 10."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".0."), (F.col("doc_id") % 250).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" ssn 123-45-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call +1 555-0199 ")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact(aug, "text")
    return out.select(
        "doc_id", F.col("text_redacted").alias("redacted"),
        "n_email", "n_ipv4", "n_ssn", "n_phone",
    )


PII_REDACT_SQL = r"""
WITH aug AS (
  SELECT doc_id,
    substr(text, 1, 80)
      || ' contact user' || doc_id || '@mail.example.com'
      || ' host 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
      || CASE WHEN doc_id % 3 = 0
              THEN ' ssn 123-45-' || lpad(cast(doc_id % 10000 AS varchar), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-0199 ' ELSE '' END AS t
  FROM documents
), s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM aug
), s2 AS (
  SELECT doc_id, n_email,
    len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
    regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t
  FROM s1
), s3 AS (
  SELECT doc_id, n_email, n_ipv4,
    len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
    regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t
  FROM s2
), s4 AS (
  SELECT doc_id, n_email, n_ipv4, n_ssn,
    len(regexp_extract_all(t, '\+?\d[\d\- ]{7,}\d')) AS n_phone,
    regexp_replace(t, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS t
  FROM s3
)
SELECT doc_id, t AS redacted, n_email, n_ipv4, n_ssn, n_phone FROM s4
"""


REGISTRY["pii_redact"] = (pii_redact, PII_REDACT_SQL)


def domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain profile under the oracle: documents are salted with
    deterministic synthetic URLs (including an upper-case host to prove
    the lowercase fold), then profiled per host
    (operators/web.py — one regexp_extract_all, explode, hash-agg,
    TakeOrderedAndProject top-15)."""
    from hashio_spark.operators.web import domain_profile

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.lit("see https://cdn"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/a "),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("and http://site"), (F.col("doc_id") % 13).cast("string"),
                         F.lit(".example.net/x")),
            ).otherwise(F.lit("")),
            F.lit(" plus https://CDN"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/b"),
        ).alias("text"),
    )
    return domain_profile(aug, "text", "doc_id", top_n=15)


DOMAIN_COUNTS_SQL = """
WITH aug AS (
  SELECT doc_id,
    'see https://cdn' || (doc_id % 7) || '.example.org/a '
      || CASE WHEN doc_id % 2 = 0
              THEN 'and http://site' || (doc_id % 13) || '.example.net/x'
              ELSE '' END
      || ' plus https://CDN' || (doc_id % 7) || '.example.org/b' AS t
  FROM documents
), pairs AS (
  SELECT doc_id,
    lower(unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1))) AS domain
  FROM aug
)
SELECT domain, count(*) AS n_hits, count(DISTINCT doc_id) AS n_docs
FROM pairs GROUP BY 1
ORDER BY n_hits DESC, domain
LIMIT 15
"""


REGISTRY["domain_counts"] = (domain_counts, DOMAIN_COUNTS_SQL)


def count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-size anomaly scores under the oracle: every (source, lang)
    group of documents with its row count and z-score vs the population
    (operators/anomaly.py).  Variance comes from exact integer sums
    (sum(n), sum(n^2) are longs), so both engines compute bit-identical
    doubles regardless of partial-merge order — the reason this is
    hash-checkable at all."""
    from hashio_spark.operators.anomaly import count_zscores

    d = _t(spark, sf_dir, "documents")
    return count_zscores(d, ["source", "lang"]).orderBy("source", "lang")


COUNT_ANOMALIES_SQL = """
WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
s AS (SELECT sum(n) AS s1, sum(n*n) AS s2, count(*) AS g FROM c),
j AS (
  SELECT c.source, c.lang, c.n,
    s.s1 / s.g AS mu,
    sqrt(greatest(s.s2 / s.g - (s.s1 / s.g) * (s.s1 / s.g), 0.0)) AS sigma
  FROM c, s
)
SELECT source, lang, n,
  round(CASE WHEN sigma > 0 THEN (n - mu) / sigma ELSE 0.0 END, 4) AS z
FROM j ORDER BY source, lang
"""


REGISTRY["count_anomalies"] = (count_anomalies, COUNT_ANOMALIES_SQL)


def jaccard_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join under the oracle: every document
    pair whose 3-word-shingle Jaccard is >= 0.8, found via prefix
    filtering (operators/setsim.py) — no LSH recall loss, no all-pairs.
    Each engine orders tokens by (document frequency, tiebreak) and takes
    n - ceil(tau*n) + 1 prefixes; the candidate join runs on prefix
    tokens only.  Spark's tiebreak is xxhash64(token) (8-byte shuffle
    keys), DuckDB's is the token string — different candidate sets, but
    both verify candidates EXACTLY against the real shingle sets, so the
    outputs are identical."""
    from hashio_spark.functions.text import word_shingles_from_tokens
    from hashio_spark.operators.setsim import jaccard_join

    d = _t(spark, sf_dir, "documents")
    # tokenization staged to its own projection: an inline split inside
    # the shingle lambda re-executes per array element (BENCH finding #7)
    toked = d.select("doc_id", F.split("text", r"\s+").alias("_toks"))
    sets_df = toked.select("doc_id", word_shingles_from_tokens("_toks", 3).alias("sh"))
    return jaccard_join(sets_df, "doc_id", "sh", threshold=0.8).withColumnsRenamed(
        {"id_a": "doc_a", "id_b": "doc_b"}
    )


JACCARD_PAIRS_EXACT_SQL = """
WITH s AS (
  SELECT doc_id,
    list_distinct(
      list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                     i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS sh
  FROM documents
), nz AS (
  SELECT doc_id, sh, len(sh) AS n FROM s WHERE len(sh) > 0
), toks AS (
  SELECT doc_id, unnest(sh) AS tok FROM nz
), dfreq AS (
  SELECT tok, count(*) AS dfq FROM toks GROUP BY 1
), ordered AS (
  SELECT t.doc_id, t.tok,
    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfq, t.tok) AS pos,
    z.n
  FROM toks t JOIN dfreq d USING (tok) JOIN nz z USING (doc_id)
), prefix AS (
  SELECT doc_id, tok FROM ordered WHERE pos <= n - ceil(0.8 * n) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
), j AS (
  SELECT doc_a, doc_b,
    cast(len(list_intersect(sa.sh, sb.sh)) AS double)
      / cast(sa.n + sb.n - len(list_intersect(sa.sh, sb.sh)) AS double) AS jac
  FROM cand JOIN nz sa ON cand.doc_a = sa.doc_id JOIN nz sb ON cand.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8
"""


REGISTRY["jaccard_pairs_exact"] = (jaccard_pairs_exact, JACCARD_PAIRS_EXACT_SQL)


def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/terms.py) — the
    corpus-quality signal next to token counts / lang-id.  Ranking uses
    the 6-decimal-ROUNDED weight plus term-asc tiebreak so the order
    reproduces across engines despite last-ulp ln() differences."""
    from hashio_spark.operators.terms import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", top_k=3)


TFIDF_TOP_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), w AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * ln(cast(n.n_docs AS double) / cast(dfq.df AS double)), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n
), r AS (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM w
)
SELECT doc_id, term, cast(rnk AS bigint) AS rank, tfidf FROM r WHERE rnk <= 3
"""


REGISTRY["tfidf_top_terms"] = (tfidf_top_terms_q, TFIDF_TOP_TERMS_SQL)


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts over the events stream: cohort = ISO week
    of a user's first event, cell = distinct users from that cohort active
    in week offset k.  Two hash-aggregations plus one user_id-co-
    partitioned join (AQE reuses the exchange); week offsets are exact
    integer day-diffs / 7 — no float time math."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = e.join(firsts, "user_id")
    cohort = F.date_format(F.date_trunc("week", F.col("first_ts")), "yyyy-MM-dd")
    offset = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.date_trunc("week", F.col("first_ts"))) / 7
    ).cast("long")
    cells = joined.select(
        cohort.alias("cohort_week"), offset.alias("week_offset"), "user_id"
    ).distinct()
    return cells.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


RETENTION_COHORTS_SQL = """
WITH firsts AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
), cells AS (
  SELECT DISTINCT
    strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
    date_diff('day', date_trunc('week', f.first_ts), date_trunc('week', e.ts)) // 7 AS week_offset,
    e.user_id
  FROM events e JOIN firsts f USING (user_id)
)
SELECT cohort_week, cast(week_offset AS bigint) AS week_offset, count(*) AS n_users
FROM cells GROUP BY 1, 2
"""


REGISTRY["retention_cohorts"] = (retention_cohorts, RETENTION_COHORTS_SQL)


def corr_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-segment Pearson correlation of order price vs customer
    balance (operators/stats.py exact_group_corr): power sums accumulate
    as scaled integers in decimal(38,0), so the double result is
    bit-identical under ANY partitioning — F.corr's float-sum answer
    drifts with partition boundaries and can never hash-match an oracle."""
    from hashio_spark.operators.stats import exact_group_corr

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_totalprice", "c_acctbal"
    )
    return exact_group_corr(j, "o_totalprice", "c_acctbal", "c_mktsegment")


CORR_BY_SEGMENT_SQL = """
WITH j AS (
  SELECT c.c_mktsegment,
    cast(round(o.o_totalprice * 100) AS bigint) AS x,
    cast(round(c.c_acctbal * 100) AS bigint) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), s AS (
  SELECT c_mktsegment, count(*) AS n,
    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
    sum(x * x) AS sx2, sum(y * y) AS sy2
  FROM j GROUP BY 1
)
SELECT c_mktsegment, n,
  round(
    (cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
    / sqrt(
        (cast(n AS double) * cast(sx2 AS double) - cast(sx AS double) * cast(sx AS double))
      * (cast(n AS double) * cast(sy2 AS double) - cast(sy AS double) * cast(sy AS double))
      ),
    6) AS corr
FROM s
"""


REGISTRY["corr_by_segment"] = (corr_by_segment, CORR_BY_SEGMENT_SQL)


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one selection over duplicate clusters: for each LSH connected
    component, the representative is the LONGEST member (n_chars desc,
    doc_id asc tiebreak) — the usual 'keep the richest copy' policy, vs
    dedupe_clusters' min-id labeling.  The cluster table is tiny relative
    to the corpus, so it broadcasts into the documents join; rank + agg
    share one cluster_id shuffle."""
    from hashio_spark.operators.graph import duplicate_clusters

    pairs = dedupe_minhash_lsh(spark, sf_dir)
    cl = duplicate_clusters(pairs, "doc_a", "doc_b").select(
        F.col("key").alias("doc_id"), "cluster_id"
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = d.join(F.broadcast(cl), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        m.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


CLUSTER_REPRESENTATIVES_SQL = f"""
WITH clusters AS (
{DEDUPE_CLUSTERS_SQL}
), m AS (
  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
    row_number() OVER (PARTITION BY cl.cluster_id ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
  FROM clusters cl JOIN documents d USING (doc_id)
)
SELECT cluster_id,
  max(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
  count(*) AS n_members,
  cast(sum(n_chars) AS bigint) AS total_chars
FROM m GROUP BY 1
"""


REGISTRY["cluster_representatives"] = (cluster_representatives, CLUSTER_REPRESENTATIVES_SQL)


def sample_weighted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-biased corpus mixing: PPS Poisson sample, expected ~50 docs
    per language, inclusion probability ∝ n_chars (operators/sampling.
    sample_weighted).  The md5 uniform tier is the oracle-parity twin;
    production uses xxhash64.  Deliberately NOT Efraimidis-Spirakis: the
    gate ``u·W < k·w`` uses only exactly-rounded IEEE ops (no pow/ln), so
    the keep set is bit-identical in any engine — see the operator
    docstring."""
    from hashio_spark.operators.sampling import sample_weighted

    d = _t(spark, sf_dir, "documents")
    out = sample_weighted(
        d, "doc_id", "n_chars", expected_k=50, group_col="lang", method="md5"
    )
    return out.select("doc_id", "lang", "n_chars")


SAMPLE_WEIGHTED_SQL = """
WITH tot AS (
  SELECT lang, sum(cast(n_chars AS decimal(38,0))) AS wtot FROM documents GROUP BY 1
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN tot USING (lang)
WHERE ((CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), 's42')), 1, 15)) AS BIGINT)
        % 1000000) / 1000000.0) * cast(tot.wtot AS double)
    < cast(50 * d.n_chars AS double)
"""


REGISTRY["sample_weighted"] = (sample_weighted_q, SAMPLE_WEIGHTED_SQL)


def term_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/terms.term_postings): term → df +
    capped comma-joined posting list.  The cap happens BEFORE collection
    (WindowGroupLimit top-k per term), so no stopword can blow up
    collect_list state — the plan-audit asserts the window is partitioned
    by term and the df/postings aggregates share one term shuffle."""
    from hashio_spark.operators.terms import term_postings

    d = _t(spark, sf_dir, "documents")
    return term_postings(d, "doc_id", "text", max_postings=10, min_df=2)


TERM_POSTINGS_SQL = r"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok AS term FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
), c AS (
  SELECT term, count(*) AS df FROM toks GROUP BY 1 HAVING count(*) >= 2
), r AS (
  SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM toks
), p AS (
  SELECT term, array_to_string(list(cast(doc_id AS varchar) ORDER BY doc_id), ',') AS postings
  FROM r WHERE rn <= 10 GROUP BY 1
)
SELECT term, c.df, p.postings FROM c JOIN p USING (term)
"""


REGISTRY["term_postings"] = (term_postings_q, TERM_POSTINGS_SQL)


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment + audit: split =
    threshold bands over the md5 key-hash uniform (80/10/10), reported
    as per-(lang, split) counts and mean length.  The same hash gate as
    sample_stratified, so the split is layout-independent, stable across
    re-runs, and disjoint-exhaustive BY CONSTRUCTION (bands partition
    [0,1)); the audit aggregate is what a pipeline asserts before
    training.  Pure per-row expr + one hash-aggregate."""
    d = _t(spark, sf_dir, "documents")
    from hashio_spark.operators.sampling import split_expr

    split = split_expr(F.col("doc_id"), method="md5")
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("long").alias("total_chars"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_chars"),
        )
    )


SPLIT_ASSIGN_SQL = """
WITH s AS (
  SELECT lang, n_chars,
    CASE
      WHEN ((CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 's42')), 1, 15)) AS BIGINT)
             % 1000000) / 1000000.0) < 0.8 THEN 'train'
      WHEN ((CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 's42')), 1, 15)) AS BIGINT)
             % 1000000) / 1000000.0) < 0.9 THEN 'valid'
      ELSE 'test'
    END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs,
  cast(sum(cast(n_chars AS decimal(38,0))) AS bigint) AS total_chars,
  round(cast(sum(cast(n_chars AS decimal(38,0))) AS double) / cast(count(*) AS double), 6) AS avg_chars
FROM s GROUP BY 1, 2
"""


REGISTRY["split_assign"] = (split_assign, SPLIT_ASSIGN_SQL)


def zscore_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length outliers (operators/stats.zscore_outliers):
    |z| > 1.5 on n_chars, z from decimal-exact integer power sums so the
    keep set and the 6-decimal z are bit-identical across engines.  One
    hash-aggregate to O(langs) rows, broadcast back, per-row filter —
    no window, no sort."""
    from hashio_spark.operators.stats import zscore_outliers

    d = _t(spark, sf_dir, "documents")
    return zscore_outliers(d, "n_chars", "lang", "doc_id", threshold=1.5)


ZSCORE_OUTLIERS_SQL = """
WITH g AS (
  SELECT lang, count(*) AS n,
    sum(cast(n_chars AS decimal(38,0))) AS sx,
    sum(cast(n_chars * n_chars AS decimal(38,0))) AS sx2
  FROM documents GROUP BY 1
), s AS (
  SELECT lang,
    cast(sx AS double) / cast(n AS double) AS mean,
    sqrt((cast(n AS double) * cast(sx2 AS double) - cast(sx AS double) * cast(sx AS double))
         / (cast(n AS double) * cast(n AS double))) AS std
  FROM g
)
SELECT d.doc_id, d.lang, d.n_chars,
  round((cast(d.n_chars AS double) - s.mean) / s.std, 6) AS zscore
FROM documents d JOIN s USING (lang)
WHERE s.std > 0 AND abs((cast(d.n_chars AS double) - s.mean) / s.std) > 1.5
"""


REGISTRY["zscore_outliers"] = (zscore_outliers_q, ZSCORE_OUTLIERS_SQL)


def crosscorpus_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paraphrase-level decontamination (md5 oracle twin of
    ``operators/decontaminate.crosscorpus_neardup``): train docs (source
    != 'src0') whose 3-shingle set near-duplicates a benchmark doc
    (source == 'src0'), via the same 4-perm/2-band MinHash LSH as
    :func:`dedupe_minhash_lsh` — but BIPARTITE
    (``dedupe.band_bipartite_join``): the tiny benchmark band table
    broadcasts, so the train corpus is never shuffled for the candidate
    join.  Candidates then pass exact Jaccard >= 0.2 with the benchmark
    shingle sets also broadcast.  Production tier: xxhash64 signatures,
    n_perm=16 (`crosscorpus_neardup`)."""
    # ONE persisted frame carries the distinct shingle set AND all four
    # signatures, so the two corpus slices and both verify sides read one
    # materialization of the shingle+md5 pipeline (measured 5.5 s → ~2.2
    # s at sf1.0 against the former per-consumer recompute).
    enr = _minhash_md5(_t(spark, sf_dir, "documents"), "source", drop_short=True, with_sets=True).persist()
    train = enr.filter(F.col("source") != "src0")
    bench = enr.filter(F.col("source") == "src0")
    cand, hits = band_bipartite_join(_md5_bands(train), _md5_bands(bench), _MD5_MAX_BAND)
    out = jaccard_verify(
        cand.withColumnsRenamed({"key_a": "doc_id", "key_b": "bench_id"}),
        _md5_sets(train), F.broadcast(_md5_sets(bench)), 0.2,
    )
    return track(out, enr, hits)


CROSSCORPUS_NEARDUP_SQL = """
WITH s AS (
  SELECT doc_id, source,
    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                   i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sig AS (
  SELECT doc_id, source,
    list_min(list_transform(shingles, x -> md5(concat('0|', x)))) AS sig0,
    list_min(list_transform(shingles, x -> md5(concat('1|', x)))) AS sig1,
    list_min(list_transform(shingles, x -> md5(concat('2|', x)))) AS sig2,
    list_min(list_transform(shingles, x -> md5(concat('3|', x)))) AS sig3
  FROM s
), tb AS (
  SELECT doc_id, concat('b0', '_', sig0, '_', sig1) AS band FROM sig
  WHERE source <> 'src0' AND sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id, concat('b1', '_', sig2, '_', sig3) AS band FROM sig
  WHERE source <> 'src0' AND sig0 IS NOT NULL
), bb AS (
  SELECT doc_id AS bench_id, concat('b0', '_', sig0, '_', sig1) AS band FROM sig
  WHERE source = 'src0' AND sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id AS bench_id, concat('b1', '_', sig2, '_', sig3) AS band FROM sig
  WHERE source = 'src0' AND sig0 IS NOT NULL
), sizes AS (
  SELECT band, count(*) AS n FROM tb GROUP BY band
), cand AS (
  SELECT DISTINCT tb.doc_id, bb.bench_id
  FROM tb JOIN sizes USING (band) JOIN bb USING (band)
  WHERE sizes.n <= 64
), sets AS (
  SELECT doc_id, source, list_distinct(shingles) AS sh FROM s
)
SELECT cand.doc_id, cand.bench_id,
  round(cast(len(list_intersect(st.sh, sb.sh)) AS double)
        / cast(len(list_distinct(list_concat(st.sh, sb.sh))) AS double), 6) AS jaccard
FROM cand
JOIN sets st ON cand.doc_id = st.doc_id
JOIN sets sb ON cand.bench_id = sb.doc_id
WHERE round(cast(len(list_intersect(st.sh, sb.sh)) AS double)
        / cast(len(list_distinct(list_concat(st.sh, sb.sh))) AS double), 6) >= 0.2
"""


REGISTRY["crosscorpus_neardup"] = (crosscorpus_neardup_q, CROSSCORPUS_NEARDUP_SQL)


def split_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage across the train/valid/test boundary
    (operators/sampling.split_leakage over the LSH candidate pairs):
    pairs whose endpoints land in different splits are eval contamination
    that per-split dedupe cannot catch.  The split label is a pure
    function of doc_id (same md5 hash gate as :func:`split_assign`), so
    the audit NEVER joins the corpus — a per-row projection on the pair
    table plus one hash-aggregate, regardless of corpus size."""
    from hashio_spark.caching import track
    from hashio_spark.operators.sampling import split_leakage

    pairs = dedupe_minhash_lsh(spark, sf_dir)
    out = split_leakage(pairs, method="md5").orderBy("split_a", "split_b")
    return track(out, *getattr(pairs, "_hashio_persisted", ()))


def _split_case_sql(col: str) -> str:
    u = (
        f"((CAST(concat('0x', substr(md5(concat(CAST({col} AS VARCHAR), 's42')), 1, 15)) AS BIGINT)"
        " % 1000000) / 1000000.0)"
    )
    return f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'valid' ELSE 'test' END"


SPLIT_LEAKAGE_SQL = f"""
WITH pairs AS ({DEDUPE_MINHASH_LSH_SQL}),
lab AS (
  SELECT doc_a, doc_b,
    {_split_case_sql('doc_a')} AS sa,
    {_split_case_sql('doc_b')} AS sb
  FROM pairs
), cross_pairs AS (
  SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b, doc_a, doc_b
  FROM lab WHERE sa <> sb
), docs AS (
  SELECT split_a, split_b, unnest([doc_a, doc_b]) AS doc FROM cross_pairs
)
SELECT split_a, split_b,
  CAST(count(*) / 2 AS BIGINT) AS n_pairs,
  count(DISTINCT doc) AS n_docs
FROM docs GROUP BY 1, 2 ORDER BY 1, 2
"""


REGISTRY["split_leakage"] = (split_leakage_q, SPLIT_LEAKAGE_SQL)


def ingest_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest gate (operators/dedupe.ingest_gate): docs from
    source 'src0' stand in for the already-ingested manifest digests;
    the rest are the incoming batch.  Output = incoming docs that are
    (a) content-new vs the seen set (digest anti-join) and (b) first of
    their digest within the batch (min doc_id) — what a crawler re-run
    actually appends.  The batch-internal winner window shares the
    anti-join's digest partitioning, so the incoming side shuffles
    ONCE regardless of corpus size."""
    from hashio_spark.operators.dedupe import ingest_gate

    d = _t(spark, sf_dir, "documents")
    dig = F.md5(F.col("text").cast("binary"))
    seen = d.filter(F.col("source") == "src0").select(dig.alias("digest"))
    incoming = d.filter(F.col("source") != "src0").select("doc_id", dig.alias("digest"))
    return ingest_gate(incoming, seen, digest_col="digest", key_col="doc_id").select(
        "doc_id", "digest"
    )


INGEST_GATE_SQL = """
WITH seen AS (
  SELECT md5(text) AS digest FROM documents WHERE source = 'src0'
), incoming AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE source <> 'src0'
), new_rows AS (
  SELECT i.doc_id, i.digest FROM incoming i ANTI JOIN seen s USING (digest)
), ranked AS (
  SELECT doc_id, digest, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
  FROM new_rows
)
SELECT doc_id, digest FROM ranked WHERE rn = 1
"""


REGISTRY["ingest_gate"] = (ingest_gate_q, INGEST_GATE_SQL)


def vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary token coverage (operators/terms.vocab_coverage):
    one token hash-agg (map-side partials absorb Zipf skew), a
    TakeOrderedAndProject top-k cut — the vocabulary is never globally
    sorted — and a rank window over only max(k) rows."""
    from hashio_spark.operators.terms import vocab_coverage

    d = _t(spark, sf_dir, "documents")
    return vocab_coverage(d, "text", ks=(5, 20, 50))


VOCAB_COVERAGE_SQL = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
), t2 AS (
  SELECT token FROM toks WHERE token <> ''
), counts AS (
  SELECT token, count(*) AS n FROM t2 GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_tokens, count(*) AS vocab_size FROM counts
), ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM counts
), ks AS (
  SELECT unnest([5, 20, 50]) AS k
), cov AS (
  SELECT ks.k, CAST(sum(ranked.n) AS BIGINT) AS covered_tokens
  FROM ks JOIN ranked ON ranked.rk <= ks.k GROUP BY 1
)
SELECT k, covered_tokens, total_tokens,
  round(CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS coverage,
  vocab_size
FROM cov CROSS JOIN tot
"""


REGISTRY["vocab_coverage"] = (vocab_coverage_q, VOCAB_COVERAGE_SQL)


def duplicate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication report: every 4-token span appearing in ≥2
    distinct documents, with how many docs and total occurrences.  The
    exact-substring dedup signal (boilerplate/license/template spans
    that survive whole-document dedup); see
    operators.dedupe.duplicate_ngrams for the 10^12-row shuffle shape.
    The registered tier keys on raw span strings (oracle-replicable);
    production uses hashed=True (8-byte xxhash64 shuffle keys)."""
    from hashio_spark.operators.dedupe import duplicate_ngrams

    d = _t(spark, sf_dir, "documents")
    return duplicate_ngrams(d, "doc_id", "text", k=4, min_docs=2, hashed=False)


DUPLICATE_NGRAMS_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(t) - 3, 0)),
                          i -> array_to_string(t[i:i+3], ' '))) AS gram
  FROM tok
), per_doc AS (
  SELECT gram, doc_id, count(*) AS cnt FROM g GROUP BY gram, doc_id
)
SELECT gram,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(cnt) AS BIGINT) AS n_occurrences
FROM per_doc GROUP BY gram HAVING count(*) >= 2
"""


REGISTRY["duplicate_ngrams"] = (duplicate_ngrams_q, DUPLICATE_NGRAMS_SQL)


def drift_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift TREND over a run history (operators.drift.drift_timeseries):
    three synthetic 'runs' (full corpus; an ingest batch dropping every
    7th doc; a batch dropping every 3rd doc whose length metric shifted
    +80 chars) produce per-partition histogram STRINGS via the exact
    manifest serialization (hist_string_agg), which the consecutive-pair
    PSI then parses back through the stored-manifest path
    (split → cast → psi_from_hist_pair) — the full round-trip the
    manifest store's drift monitoring performs, minus the store I/O.
    One trend row per consecutive pair.

    ONE corpus scan for all three runs: each row emits its (run, metric)
    memberships through an ``F.array`` generator (immune to the
    inferred-filter duplication, BENCH.md finding #8 — absent runs are
    NULL structs filtered on the generated attribute), and the 15-row
    histogram table persists so the two consecutive-pair consumers never
    rescan — the former per-run union re-read the corpus once per
    consumer branch (4 scans)."""
    from hashio_spark.caching import track
    from hashio_spark.operators.drift import hist_string_agg, psi_from_hist_pair

    d = _t(spark, sf_dir, "documents")
    null_l = F.lit(None).cast("long")
    memberships = F.array(
        F.struct(F.lit("r0").alias("run"), F.col("n_chars").cast("long").alias("m")),
        F.struct(
            F.lit("r1").alias("run"),
            F.when(F.col("doc_id") % 7 != 0, F.col("n_chars").cast("long")).otherwise(null_l).alias("m"),
        ),
        F.struct(
            F.lit("r2").alias("run"),
            F.when(F.col("doc_id") % 3 != 0, (F.col("n_chars") + 80).cast("long")).otherwise(null_l).alias("m"),
        ),
    )
    rows = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(5)).cast("int").alias("partition_id"),
            F.explode(memberships).alias("e"),
        )
        .select("partition_id", F.col("e.run").alias("run"), F.col("e.m").alias("_m"))
        .filter(F.col("_m").isNotNull())
    )
    hists = (
        rows.groupBy("run", "partition_id")
        .agg(hist_string_agg("_m", 0.0, 600.0, 20).alias("hist"))
        .persist()
    )
    pairs = None
    for run_a, run_b in (("r0", "r1"), ("r1", "r2")):
        a = hists.filter(F.col("run") == run_a).select("partition_id", F.col("hist").alias("_sa"))
        b = hists.filter(F.col("run") == run_b).select("partition_id", F.col("hist").alias("_sb"))
        j = (
            a.join(b, "partition_id")
            .select(
                "partition_id",
                F.transform(F.split("_sa", ","), lambda x: x.cast("double")).alias("_ha"),
                F.transform(F.split("_sb", ","), lambda x: x.cast("double")).alias("_hb"),
            )
            .select(
                "partition_id", "_ha", "_hb",
                F.aggregate(F.col("_ha"), F.lit(0.0), lambda acc, x: acc + x).alias("_ta"),
                F.aggregate(F.col("_hb"), F.lit(0.0), lambda acc, x: acc + x).alias("_tb"),
            )
            .filter((F.col("_ta") > 0) & (F.col("_tb") > 0))
            .select("partition_id", F.round(psi_from_hist_pair(), 6).alias("psi"))
        )
        t = j.agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum((F.col("psi") > 0.25).cast("long")).alias("n_drifted"),
            F.round(F.max("psi"), 6).alias("max_psi"),
            F.round(F.avg("psi"), 6).alias("mean_psi"),
        ).select(
            F.lit(run_a).alias("run_a"), F.lit(run_b).alias("run_b"),
            "n_partitions", "n_drifted", "max_psi", "mean_psi",
        )
        pairs = t if pairs is None else pairs.unionByName(t)
    return track(pairs, hists)


DRIFT_TREND_SQL = """
WITH base AS (
  SELECT 'r0' AS run, doc_id % 5 AS partition_id,
         least(19, greatest(0, cast(floor(n_chars / 600.0 * 20) AS int))) AS bucket
  FROM documents
  UNION ALL
  SELECT 'r1', doc_id % 5, least(19, greatest(0, cast(floor(n_chars / 600.0 * 20) AS int)))
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT 'r2', doc_id % 5, least(19, greatest(0, cast(floor((n_chars + 80) / 600.0 * 20) AS int)))
  FROM documents WHERE doc_id % 3 <> 0
), counts AS (
  SELECT run, partition_id, bucket, count(*) AS cnt FROM base GROUP BY 1, 2, 3
), spine AS (
  SELECT r.run, p.partition_id, b.bucket
  FROM (SELECT unnest(['r0','r1','r2']) AS run) r
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS partition_id) p
  CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS bucket) b
), h AS (
  SELECT spine.run, spine.partition_id, spine.bucket, coalesce(counts.cnt, 0) AS cnt
  FROM spine LEFT JOIN counts USING (run, partition_id, bucket)
), tot AS (SELECT run, partition_id, sum(cnt) AS t FROM h GROUP BY 1, 2),
pairs(run_a, run_b) AS (VALUES ('r0', 'r1'), ('r1', 'r2')),
ppsi AS (
  SELECT pr.run_a, pr.run_b, ha.partition_id,
    round(sum((ha.cnt / ta.t + 1e-6 - (hb.cnt / tb.t + 1e-6))
              * ln((ha.cnt / ta.t + 1e-6) / (hb.cnt / tb.t + 1e-6))), 6) AS psi
  FROM pairs pr
  JOIN h ha ON ha.run = pr.run_a
  JOIN h hb ON hb.run = pr.run_b AND hb.partition_id = ha.partition_id AND hb.bucket = ha.bucket
  JOIN tot ta ON ta.run = pr.run_a AND ta.partition_id = ha.partition_id
  JOIN tot tb ON tb.run = pr.run_b AND tb.partition_id = ha.partition_id
  WHERE ta.t > 0 AND tb.t > 0
  GROUP BY 1, 2, 3
)
SELECT run_a, run_b,
  CAST(count(*) AS BIGINT) AS n_partitions,
  CAST(sum(CASE WHEN psi > 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted,
  round(max(psi), 6) AS max_psi,
  round(avg(psi), 6) AS mean_psi
FROM ppsi GROUP BY 1, 2
"""


REGISTRY["drift_trend"] = (drift_trend_q, DRIFT_TREND_SQL)


def mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixing weight solver (operators/mixing.mixture_weights):
    pin English at a 25% target share, split the remaining mass uniformly
    over the other languages, cap any upweight at 1.3× (the repetition
    cap a real mix obeys).  ONE corpus hash-aggregate reading two
    columns; everything downstream is strata-sized.  The de stratum's
    target is unreachable under the cap → ``capped`` flags it and
    ``effective_share`` reports the realized mix."""
    from hashio_spark.operators.mixing import mixture_weights

    d = _t(spark, sf_dir, "documents")
    return mixture_weights(
        d, "lang", "n_chars", targets={"en": 0.25}, cap=1.3
    ).orderBy("stratum")


MIXTURE_WEIGHTS_SQL = """
WITH s AS (
  SELECT lang AS stratum, count(*) AS n_rows,
         CAST(sum(CAST(n_chars AS decimal(38,0))) AS BIGINT) AS total_size
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(CAST(total_size AS decimal(38,0))) AS BIGINT) AS grand,
         count(*) AS n_strata,
         sum(CASE WHEN stratum IN ('en') THEN 1 ELSE 0 END) AS n_targeted
  FROM s
), w AS (
  SELECT stratum, n_rows, total_size,
    CAST(total_size AS double) / CAST(grand AS double) AS actual,
    CASE WHEN stratum = 'en' THEN CAST(0.25 AS double)
         ELSE (CAST(1.0 AS double) - CAST(0.25 AS double))
              / CAST(n_strata - n_targeted AS double) END AS target
  FROM s CROSS JOIN tot
), ww AS (
  SELECT *, least(CAST(1.3 AS double), target / actual) AS wgt,
    CAST(round(least(CAST(1.3 AS double), target / actual) * actual * 1000000) AS BIGINT)
      AS wshare_u
  FROM w
), wt AS (SELECT CAST(sum(wshare_u) AS BIGINT) AS wtot FROM ww)
SELECT stratum, n_rows, total_size,
  round(actual, 6) AS actual_share, round(target, 6) AS target_share,
  round(wgt, 6) AS weight, (wgt < target / actual) AS capped,
  round(CAST(wshare_u AS double) / CAST(wtot AS double), 6) AS effective_share
FROM ww CROSS JOIN wt ORDER BY stratum
"""


REGISTRY["mixture_weights"] = (mixture_weights_q, MIXTURE_WEIGHTS_SQL)


def compaction_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout maintenance plan (operators/layout.compaction_plan): bin-pack
    a manifest-shaped partition listing (one row per source/lang cell,
    bytes = sum n_chars) into ~50 KB rewrite groups.  The corpus scan is
    one hash-aggregate reading three columns; the planning window runs on
    strata-sized rows only."""
    from hashio_spark.operators.layout import compaction_plan

    d = _t(spark, sf_dir, "documents")
    parts = d.groupBy(
        F.concat_ws("/", "source", "lang").alias("pkey")
    ).agg(F.sum("n_chars").alias("bytes"))
    return compaction_plan(parts, "pkey", "bytes", target_size=50_000).orderBy("pkey")


COMPACTION_PLAN_SQL = """
WITH parts AS (
  SELECT source || '/' || lang AS pkey,
    CAST(sum(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1
), cum AS (
  SELECT pkey, bytes,
    CAST(floor(coalesce(sum(bytes) OVER (ORDER BY pkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 50000.0) AS BIGINT)
      AS file_group
  FROM parts
)
SELECT pkey, bytes, file_group,
  CAST(sum(bytes) OVER (PARTITION BY file_group) AS BIGINT) AS group_bytes,
  count(*) OVER (PARTITION BY file_group) AS group_files
FROM cum ORDER BY pkey
"""


REGISTRY["compaction_plan"] = (compaction_plan_q, COMPACTION_PLAN_SQL)


def zorder_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/layout.zvalue_expr): Morton-
    interleave two 8-bit bucketed dimensions (doc_id mod 256, n_chars mod
    256) into the single layout key the write is range-partitioned on.
    Pure shift/mask arithmetic — whole-stage codegen, engine-portable."""
    from hashio_spark.operators.layout import zvalue_expr

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        zvalue_expr(
            F.pmod(F.col("doc_id"), F.lit(256)),
            F.pmod(F.col("n_chars"), F.lit(256)),
        ).alias("zval"),
    ).orderBy("doc_id")


def _zvalue_sql(a: str, b: str, bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


ZORDER_KEY_SQL = f"""
SELECT doc_id,
  {_zvalue_sql('(doc_id % 256)', '(n_chars % 256)')} AS zval
FROM documents ORDER BY doc_id
"""


REGISTRY["zorder_key"] = (zorder_key_q, ZORDER_KEY_SQL)


def partition_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition bloom fingerprints (operators/sketches.partition_fingerprint):
    one 1008-bit digest-membership mask per source, serialized to the hex
    string that rides the manifest stats map.  ONE hash-aggregate whose
    shuffle carries 16 longs per source — point lookups later prune
    partitions from these rows instead of rescanning the corpus."""
    from hashio_spark.operators.sketches import (
        bloom_serialize_expr,
        partition_fingerprint,
    )

    from hashio_spark.functions.digests import parity_udf

    # Arrow md5 (lock-free Python md5) for the row-level digest — the JVM
    # builtin serializes on the JCA lock (BENCH.md finding #1).  NULL
    # text must stay NULL (the oracle's md5(NULL) is NULL, while the
    # parity kernel hashes b"" for reference parity — ADVICE r5): the
    # when-guard restores oracle null semantics at the projection.
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.when(F.col("text").isNotNull(), parity_udf("md5")(F.col("text"))).alias("digest"),
    )
    fp = partition_fingerprint(d, "source", "digest")
    return fp.select("source", bloom_serialize_expr().alias("bloom")).orderBy("source")


def _bloom_sql_parts(key: str, n_lanes: int = 16, n_hashes: int = 4, lane_bits: int = 63):
    """Shared SQL fragments replicating sketches._positions / bloom_lanes_arrow."""
    n_bits = n_lanes * lane_bits
    pos = [
        f"CAST(concat('0x', substr(md5(concat('bf{j}|', {key})), 1, 15)) AS BIGINT) % {n_bits}"
        for j in range(n_hashes)
    ]
    return pos


PARTITION_BLOOM_SQL_LANES = ",\n    ".join(
    "("
    + " | ".join(
        f"CASE WHEN p{j} // 63 = {i} THEN CAST(1 AS BIGINT) << (p{j} % 63) ELSE 0 END"
        for j in range(4)
    )
    + f") AS lane_{i:02d}"
    for i in range(16)
)

PARTITION_BLOOM_SQL = f"""
WITH keyed AS (
  SELECT source, md5(text) AS k FROM documents
), pos AS (
  SELECT source,
    {", ".join(f'{p} AS p{j}' for j, p in enumerate(_bloom_sql_parts('k')))}
  FROM keyed
), lanes AS (
  SELECT source,
    {PARTITION_BLOOM_SQL_LANES}
  FROM pos
)
SELECT source, concat_ws(',',
  {", ".join(f"lpad(upper(to_hex(bit_or(lane_{i:02d}))), 16, '0')" for i in range(16))}
) AS bloom
FROM lanes GROUP BY source ORDER BY source
"""


REGISTRY["partition_bloom"] = (partition_bloom_q, PARTITION_BLOOM_SQL)


def bloom_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup gate (operators/sketches.fingerprint_probe): which
    partitions MIGHT hold each probe digest?  10 probes (5 present, 5
    absent) against the per-source fingerprints — the probe join touches
    fingerprint rows only (one per source), never the corpus."""
    from hashio_spark.operators.sketches import (
        fingerprint_probe,
        partition_fingerprint,
    )

    from hashio_spark.functions.digests import parity_udf

    # Arrow md5 (lock-free Python md5) for the row-level digest — the JVM
    # builtin serializes on the JCA lock (BENCH.md finding #1).  NULL
    # text stays NULL to match the oracle's md5(NULL) (ADVICE r5, same
    # guard as partition_bloom_q).
    # persisted: the Arrow-md5 digest frame feeds both the fingerprint
    # build and the present-probe slice — one kernel pass instead of two
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("text").isNotNull(), parity_udf("md5")(F.col("text"))).alias("digest"),
    ).persist()
    fp = partition_fingerprint(d, "source", "digest")
    present = d.filter(F.col("doc_id") < 5).select("digest")
    absent = spark.range(5).select(
        F.md5(F.concat(F.lit("nope|"), F.col("id").cast("string")).cast("binary")).alias(
            "digest"
        )
    )
    probes = present.unionAll(absent)
    from hashio_spark.caching import track

    return track(
        fingerprint_probe(fp, probes, "source", "digest").orderBy("digest", "source"), d
    )


_PROBE_COND = " AND ".join(
    "((CASE "
    + " ".join(f"WHEN q{j} // 63 = {i} THEN lane_{i:02d}" for i in range(16))
    + f" END) & (CAST(1 AS BIGINT) << (q{j} % 63))) = (CAST(1 AS BIGINT) << (q{j} % 63))"
    for j in range(4)
)

BLOOM_PROBE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, md5(text) AS k FROM documents
), pos AS (
  SELECT source,
    {", ".join(f'{p} AS p{j}' for j, p in enumerate(_bloom_sql_parts('k')))}
  FROM keyed
), lanes AS (
  SELECT source,
    {PARTITION_BLOOM_SQL_LANES}
  FROM pos
), fp AS (
  SELECT source, {", ".join(f"bit_or(lane_{i:02d}) AS lane_{i:02d}" for i in range(16))}
  FROM lanes GROUP BY source
), probes AS (
  SELECT DISTINCT k AS digest FROM keyed JOIN documents USING (doc_id, source)
    WHERE doc_id < 5
  UNION ALL
  SELECT md5(concat('nope|', CAST(r AS VARCHAR))) FROM range(5) t(r)
), qpos AS (
  SELECT digest,
    {", ".join(f"{p} AS q{j}" for j, p in enumerate(_bloom_sql_parts('digest')))}
  FROM (SELECT DISTINCT digest FROM probes)
)
SELECT digest, source FROM fp CROSS JOIN qpos
WHERE {_PROBE_COND}
ORDER BY digest, source
"""


REGISTRY["bloom_probe"] = (bloom_probe_q, BLOOM_PROBE_SQL)


# ---------------------------------------------------------------------------
# Training-order shuffle, quantile curation, entropy, rolling stats, line dedup
# ---------------------------------------------------------------------------


def shuffle_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (operators/ordering.py):
    (shard, pos) slots from the md5 key hash — layout-independent,
    reproducible, and the only corpus-wide movement is ONE exchange on
    shard (the same partitioning the shard writer needs next).  md5 tier
    here for oracle parity; production uses method='xxhash64'."""
    from hashio_spark.operators.ordering import shuffle_shards

    d = _t(spark, sf_dir, "documents")
    out = shuffle_shards(d.select("doc_id"), "doc_id", n_shards=8, method="md5")
    return out.select("doc_id", "shard", F.col("pos").cast("long").alias("pos"))


SHUFFLE_ORDER_SQL = """
WITH h AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 's42')), 1, 15)) AS BIGINT) AS fh
  FROM documents
)
SELECT doc_id,
  CAST((fh % 1000000) % 8 AS INT) AS shard,
  CAST(row_number() OVER (PARTITION BY (fh % 1000000) % 8 ORDER BY fh, doc_id) AS BIGINT) AS pos
FROM h
"""


REGISTRY["shuffle_order"] = (shuffle_order_q, SHUFFLE_ORDER_SQL)


def quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality curation (operators/ordering.quantile_gate):
    keep the top half of each source by alpha-ratio score, EXACT tier —
    percent_rank over (rounded score, doc_id) so the kept set is
    bit-identical across engines.  Production at corpus-sized groups
    uses quantile_gate_approx (sketch threshold broadcast back, no
    per-group sort)."""
    from hashio_spark.operators.ordering import quantile_gate

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.round(
            F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
            / F.length("text").cast("double"),
            6,
        ).alias("score"),
    )
    out = quantile_gate(scored, "score", "source", keep_frac=0.5, tiebreak_col="doc_id")
    return out.select("doc_id", "source", "score", "kept")


QUALITY_GATE_SQL = """
WITH scored AS (
  SELECT doc_id, source,
    round(cast(length(regexp_replace(text, '[^a-z]', '', 'g')) AS double)
          / cast(length(text) AS double), 6) AS score
  FROM documents
)
SELECT doc_id, source, score,
  (percent_rank() OVER (PARTITION BY source ORDER BY score ASC, doc_id ASC) >= 0.5
   OR count(*) OVER (PARTITION BY source) = 1) AS kept
FROM scored
"""


REGISTRY["quality_gate"] = (quality_gate_q, QUALITY_GATE_SQL)


def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram token entropy (operators/terms.token_entropy)
    — corpus-slice diversity signal; exact-count decomposition
    H = ln(N) - Σ c·ln(c)/N keeps the float work to one op per DISTINCT
    token so the value reproduces across engines."""
    from hashio_spark.operators.terms import token_entropy

    d = _t(spark, sf_dir, "documents")
    return token_entropy(d, group_col="source", text_col="text")


TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT source, tok AS token FROM (
    SELECT source, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
  ) WHERE tok <> ''
), counts AS (
  SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2
), agg AS (
  SELECT source,
    CAST(sum(c) AS BIGINT) AS n_tokens,
    count(*) AS vocab_size,
    sum(cast(c AS double) * ln(cast(c AS double))) AS clnc
  FROM counts GROUP BY 1
)
SELECT source, n_tokens, vocab_size,
  round(ln(cast(n_tokens AS double)) - clnc / cast(n_tokens AS double), 6) AS entropy,
  round(CASE WHEN vocab_size > 1
    THEN (ln(cast(n_tokens AS double)) - clnc / cast(n_tokens AS double))
         / ln(cast(vocab_size AS double))
    ELSE 0.0 END, 6) AS entropy_norm
FROM agg
"""


REGISTRY["token_entropy"] = (token_entropy_q, TOKEN_ENTROPY_SQL)


def rolling_user_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling event features (operators/stats.rolling_stats):
    3-event trailing moving average + running sum of value, ordered by
    (ts, event_id).  One exchange on user_id, one per-key sort shared by
    both frames."""
    from hashio_spark.operators.stats import rolling_stats

    e = _t(spark, sf_dir, "events")
    out = rolling_stats(
        e.select("event_id", "user_id", "ts", "value"),
        part_col="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        window_rows=3,
    )
    return out.select(
        "event_id", "user_id", F.col("seq").cast("long").alias("seq"), "moving_avg", "running_sum"
    )


ROLLING_USER_STATS_SQL = """
SELECT event_id, user_id,
  CAST(row_number() OVER w AS BIGINT) AS seq,
  round(avg(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg,
  round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


REGISTRY["rolling_user_stats"] = (rolling_user_stats_q, ROLLING_USER_STATS_SQL)


def duplicate_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document duplicated sentences
    (operators/dedupe.duplicate_lines): normalized sentence units in ≥2
    distinct docs.  Registered tier keys on raw line strings (oracle
    exemplar visible); production uses hashed=True 8-byte shuffle keys.
    At sf0.01 the synthetic corpus has no duplicated sentence units, so
    the correctness row verifies at 0 rows (both engines agree the dup
    set is empty); at sf0.1 it finds 8.  The positive-case unit evidence
    is tests/test_ordering_entropy.py with planted punctuated docs."""
    from hashio_spark.operators.dedupe import duplicate_lines

    d = _t(spark, sf_dir, "documents")
    return duplicate_lines(d, "doc_id", "text", min_chars=20, min_docs=2, hashed=False)


DUPLICATE_LINES_SQL = r"""
WITH lines AS (
  SELECT doc_id, lower(trim(l)) AS line FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\.\s+')) AS l FROM documents
  )
), kept AS (
  SELECT doc_id, line FROM lines WHERE length(line) >= 20
), per_doc AS (
  SELECT line, doc_id, count(*) AS cnt FROM kept GROUP BY 1, 2
)
SELECT line,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(cnt) AS BIGINT) AS n_occurrences
FROM per_doc GROUP BY line HAVING count(*) >= 2
"""


REGISTRY["duplicate_lines"] = (duplicate_lines_q, DUPLICATE_LINES_SQL)


def expectation_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative Deequ-style data-quality gate
    (operators/expectations.py): six (column, metric, bound) rules over
    documents, evaluated per source in ONE aggregation pass (all metrics
    algebraic → map-side partials; the per-rule verdict explode is an
    inline over the aggregated row, no second scan).  The exact
    `distinct` metric is the oracle tier; `approx_distinct` (HLL) is the
    100-TB tier with the identical plan shape."""
    from hashio_spark.operators.expectations import Expectation, evaluate_expectations

    d = _t(spark, sf_dir, "documents")
    rules = [
        Expectation("text", "completeness", ">=", 1.0),
        Expectation("n_chars", "min", ">=", 1.0),
        Expectation("n_chars", "max", "<=", 100000.0),
        Expectation("n_chars", "mean", "between", (10.0, 5000.0)),
        Expectation("lang", "distinct", "<=", 10.0),
        Expectation("doc_id", "row_count", ">=", 1.0),
    ]
    return evaluate_expectations(d, rules, by="source")


EXPECTATION_GATE_SQL = """
WITH agg AS (
  SELECT source,
    round(cast(count(text) AS double) / cast(count(*) AS double), 6) AS m0,
    round(cast(min(n_chars) AS double), 6) AS m1,
    round(cast(max(n_chars) AS double), 6) AS m2,
    round(cast(sum(cast(n_chars AS decimal(38,6))) AS double) / cast(count(n_chars) AS double), 6) AS m3,
    round(cast(count(DISTINCT lang) AS double), 6) AS m4,
    round(cast(count(*) AS double), 6) AS m5
  FROM documents GROUP BY source
)
SELECT source, CAST(0 AS BIGINT) AS rule_id, 'text' AS "column", 'completeness' AS metric, '>=' AS op,
  m0 AS value, CAST(1.0 AS double) AS bound_lo, CAST(NULL AS double) AS bound_hi, m0 >= 1.0 AS passed FROM agg
UNION ALL
SELECT source, 1, 'n_chars', 'min', '>=', m1, CAST(1.0 AS double), NULL, m1 >= 1.0 FROM agg
UNION ALL
SELECT source, 2, 'n_chars', 'max', '<=', m2, NULL, CAST(100000.0 AS double), m2 <= 100000.0 FROM agg
UNION ALL
SELECT source, 3, 'n_chars', 'mean', 'between', m3, CAST(10.0 AS double), CAST(5000.0 AS double), m3 >= 10.0 AND m3 <= 5000.0 FROM agg
UNION ALL
SELECT source, 4, 'lang', 'distinct', '<=', m4, NULL, CAST(10.0 AS double), m4 <= 10.0 FROM agg
UNION ALL
SELECT source, 5, 'doc_id', 'row_count', '>=', m5, CAST(1.0 AS double), NULL, m5 >= 1.0 FROM agg
"""


REGISTRY["expectation_gate"] = (expectation_gate_q, EXPECTATION_GATE_SQL)


def funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (view → click → purchase) over events:
    a user reaches step k+1 only with an event strictly AFTER their
    step-k time (min-timestamp chain semantics).

    Spark-first shape: each step is a hash-agg on ``user_id`` over a
    type-filtered slice, then an equi-join on the SAME key — the step-k
    candidate set shrinks monotonically and every exchange shares the
    ``user_id`` partitioning, so AQE reuses it across steps.  No windows,
    no per-user event collection (the classic ``collect_list`` funnel is
    unbounded per-user state), no global sort; the final conversion rate
    joins against a broadcast single-row base count.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (e.filter(F.col("event_type") == "view")
            .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (e.filter(F.col("event_type") == "click")
            .join(t1, "user_id")
            .filter(F.col("ts") > F.col("t1"))
            .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (e.filter(F.col("event_type") == "purchase")
            .join(t2, "user_id")
            .filter(F.col("ts") > F.col("t2"))
            .groupBy("user_id").agg(F.min("ts").alias("t3")))

    def _count(df: DataFrame, step_id: int, step: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(step_id).cast("long").alias("step_id"),
            F.lit(step).alias("step"),
            F.col("users"),
        )

    counts = (_count(t1, 1, "view")
              .unionByName(_count(t2, 2, "click"))
              .unionByName(_count(t3, 3, "purchase")))
    base = _count(t1, 1, "view").select(F.col("users").alias("_base"))
    return (counts.join(F.broadcast(base))
            .select("step_id", "step", "users",
                    F.round(F.col("users").cast("double") / F.col("_base").cast("double"), 6).alias("conv_pct"))
            .orderBy("step_id"))


FUNNEL_CONVERSION_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id
), c AS (
  SELECT CAST(1 AS BIGINT) AS step_id, 'view' AS step, (SELECT count(*) FROM t1) AS users
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
)
SELECT step_id, step, users,
       round(CAST(users AS DOUBLE) / CAST((SELECT users FROM c WHERE step_id = 1) AS DOUBLE), 6) AS conv_pct
FROM c ORDER BY step_id
"""


REGISTRY["funnel_conversion"] = (funnel_conversion_q, FUNNEL_CONVERSION_SQL)


def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment verify of the LSH candidates — the
    excerpt/quote detector exact Jaccard misses: a 50-token doc fully
    embedded in a 5000-token doc has Jaccard ≈ 0.01 but containment
    C(A,B) = |A∩B|/|A| = 1.0.  Emits both directions per pair and keeps
    pairs where either side is ≥ half-contained.

    Same scale shape as :func:`ngram_jaccard`: candidates only (never
    all-pairs), shingle sets from the shared LSH frame, one intersect per
    pair reused for both directions."""
    cand, enr = _lsh_candidate_pairs(spark, sf_dir, with_sets=True)
    j = pair_sets(cand, _md5_sets(enr), _md5_sets(enr))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    out = j.select(
        "doc_a", "doc_b",
        F.round(inter / F.size("sh_a").cast("double"), 6).alias("containment_a"),
        F.round(inter / F.size("sh_b").cast("double"), 6).alias("containment_b"),
    )
    return track(
        out.filter((F.col("containment_a") >= 0.5) | (F.col("containment_b") >= 0.5)), enr
    )


NGRAM_CONTAINMENT_SQL = """
WITH s AS (
  SELECT doc_id,
    list_transform(generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
                   i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS shingles
  FROM documents
), sig AS (
  SELECT doc_id,
    list_min(list_transform(shingles, x -> md5(concat('0|', x)))) AS sig0,
    list_min(list_transform(shingles, x -> md5(concat('1|', x)))) AS sig1,
    list_min(list_transform(shingles, x -> md5(concat('2|', x)))) AS sig2,
    list_min(list_transform(shingles, x -> md5(concat('3|', x)))) AS sig3
  FROM s
), bands AS (
  SELECT doc_id, concat('b0', '_', sig0, '_', sig1) AS band FROM sig WHERE sig0 IS NOT NULL
  UNION ALL
  SELECT doc_id, concat('b1', '_', sig2, '_', sig3) AS band FROM sig WHERE sig0 IS NOT NULL
), sizes AS (
  SELECT band, count(*) AS n FROM bands GROUP BY band
), ok AS (
  SELECT bands.doc_id, bands.band FROM bands JOIN sizes USING (band)
  WHERE sizes.n > 1 AND sizes.n <= 64
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok a JOIN ok b ON a.band = b.band AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, list_distinct(shingles) AS sh FROM s
), scored AS (
  SELECT doc_a, doc_b,
    round(cast(len(list_intersect(sa.sh, sb.sh)) AS double) / cast(len(sa.sh) AS double), 6) AS containment_a,
    round(cast(len(list_intersect(sa.sh, sb.sh)) AS double) / cast(len(sb.sh) AS double), 6) AS containment_b
  FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id JOIN sets sb ON cand.doc_b = sb.doc_id
)
SELECT * FROM scored WHERE containment_a >= 0.5 OR containment_b >= 0.5
"""


REGISTRY["ngram_containment"] = (ngram_containment, NGRAM_CONTAINMENT_SQL)


def dedupe_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized-text exact dedup — the tier between raw-digest exact
    dedup (misses case/whitespace/punct variants) and MinHash (overkill
    for them): lower-case, strip non-alphanumerics, collapse whitespace,
    then hash-agg on the normalized digest.

    Scale shape: the normalization is a pure codegen projection (three
    JVM regex/string ops, no UDF), the digest keeps the shuffle key at
    32 bytes (8 with the xxhash64 production tier) regardless of doc
    size, and the agg is a map-side-partial HashAggregate — the same
    plan as ``dedupe_exact`` at any corpus size.

    The corpus is augmented with a deterministic case/punctuation-mangled
    copy of every 50th doc (the variants a crawler actually produces):
    exact digest dedup finds NONE of them, this tier finds all — the
    self-demonstrating fixture, replicated verbatim in the oracle SQL."""
    d = _t(spark, sf_dir, "documents")
    # corpus + mangled copies from ONE scan: explode(array(orig[, mangled]))
    # emits the same rows as the former two-branch union, which scanned
    # and fanned out the documents table twice
    aug = d.select(
        F.explode(
            F.when(
                F.col("doc_id") % 50 == 0,
                F.array(
                    F.struct(F.col("doc_id"), F.col("text")),
                    F.struct(
                        (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                        F.concat(F.upper(F.col("text")), F.lit("!!  ")).alias("text"),
                    ),
                ),
            ).otherwise(F.array(F.struct(F.col("doc_id"), F.col("text")))).alias("_r")
        ).alias("_r")
    ).select("_r.doc_id", "_r.text")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    hashed = aug.select("doc_id", F.md5(norm).alias("norm_digest"))
    return (
        hashed.groupBy("norm_digest")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
        .filter(F.col("n_docs") >= 2)
    )


DEDUPE_NORMALIZED_SQL = """
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000000 AS doc_id, concat(upper(text), '!!  ') AS text
  FROM documents WHERE doc_id % 50 = 0
), hashed AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_digest
  FROM aug
)
SELECT norm_digest, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM hashed GROUP BY norm_digest HAVING count(*) >= 2
"""


REGISTRY["dedupe_normalized"] = (dedupe_normalized, DEDUPE_NORMALIZED_SQL)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 variant (the testdata's orders table carries
    o_orderpriority, not o_shippriority): revenue of unshipped orders for
    one market segment.  Plan shape: customer is the broadcast dim into
    the orders filter, the lineitem fact joins on o_orderkey with both
    date filters pushed to the scans, and the top-10 is
    TakeOrderedAndProject (per-partition heaps, never a global sort)."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    # dims first: orders ⋈ broadcast(customer) shrinks to the BUILDING
    # slice (~1/5 of orders, 3 narrow columns) BEFORE the fact join, so
    # AQE sees a small build side and broadcasts it — the lineitem fact
    # is then never shuffled (was: l ⋈ o planned as a sort-merge join
    # shuffling both).  No forced broadcast on the joined side: at real
    # scale AQE falls back to the shuffle join on actual size.
    oc = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = (
        l.join(oc, l["l_orderkey"] == oc["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        # decimal-space round before the double cast (see q10)
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )
    return j.orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey").limit(10)


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
"""


REGISTRY["q3_shipping_priority"] = (q3_shipping_priority, Q3_SQL)


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returned items per customer in one
    quarter.  customer and nation are broadcast dims; the date filter
    prunes the orders side before the fact join; top-20 via
    TakeOrderedAndProject."""
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    j = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        # round in exact DECIMAL space, THEN cast: rounding after the
        # double cast is engine-dependent at .005 boundaries
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )
    return j.orderBy(F.col("revenue").desc(), "c_custkey").limit(20)


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
  cast(round(sum(cast(l_extendedprice AS decimal(18,2)) * (cast(1 AS decimal(18,2)) - cast(l_discount AS decimal(18,2)))), 2) AS double) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


REGISTRY["q10_returned_items"] = (q10_returned_items, Q10_SQL)


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers with orders whose total quantity exceeds a
    threshold.  The HAVING-side aggregation runs over lineitem first;
    the surviving order set is ~1% of orders and is BROADCAST into the
    orders/customer joins — the group-then-filter shape keeps the only
    corpus-sized work in one hash-agg, and nothing re-shuffles the fact
    table for the joins."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                F.round(_dec("o_totalprice").cast("double"), 2).alias("o_total"),
                "sum_qty")
    )
    return j.orderBy(F.col("o_total").desc(), "o_orderkey").limit(10)


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
         cast(round(sum(cast(l_quantity AS decimal(18,2))), 2) AS double) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING cast(round(sum(cast(l_quantity AS decimal(18,2))), 2) AS double) > 250.0
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       round(cast(o_totalprice AS double), 2) AS o_total, sum_qty
FROM orders JOIN big ON o_orderkey = big.l_orderkey
  JOIN customer ON o_custkey = c_custkey
ORDER BY o_total DESC, o_orderkey LIMIT 10
"""


REGISTRY["q18_large_volume"] = (q18_large_volume, Q18_SQL)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key — the CDC-compaction / upsert-view shape.

    Spark-first: ``max_by`` over a deterministic (ts, event_id) order
    key.  Honest plan note (the round-4 docstring claimed a
    HashAggregate here; the plan audit disagreed): ``max_by`` carries
    its (value, ordering) pair as STRUCT-typed aggregation buffer
    attributes, and HashAggregateExec requires every buffer attribute
    to be an UnsafeRow-mutable scalar — so arg-max-with-payload always
    plans **SortAggregate**, a map-side sort on user_id feeding the
    partial agg.  Measured alternatives at 20M events / 200k users
    (8 cores, min-of-3): this shape 0.74 s; dictionary-encoding the
    string payload to chase a hash agg 2.82 s (the buffer stays a
    struct, so it's still a SortAggregate plus an extra distinct +
    broadcast map-back); the naive ``row_number() OVER (PARTITION BY
    user ORDER BY ts DESC) = 1`` window 3.87 s even WITH Spark's
    WindowGroupLimit map-side top-1 pruning.  The arg-max wins on
    shuffle volume — one candidate row per (mapper, user) vs one per
    surviving row — and the map-side sort is the unavoidable price of a
    variable-width payload.  Ties on ts break by event_id
    (content-deterministic, so the result is layout-independent)."""
    e = _t(spark, sf_dir, "events")
    pick = F.struct(F.col("ts"), F.col("event_id"))
    row = F.struct(F.col("event_id"), F.col("ts"), F.col("event_type"), F.col("value"))
    return (
        e.groupBy("user_id")
        .agg(F.max_by(row, pick).alias("_r"))
        .select(
            "user_id",
            F.col("_r.event_id").alias("event_id"),
            F.col("_r.ts").alias("ts"),
            F.col("_r.event_type").alias("event_type"),
            F.round(F.col("_r.value"), 6).alias("value"),
        )
    )


# the ORACLE uses the naive window form (values-only contract; DuckDB's
# arg_max lacks composite order keys) — the Spark side deliberately does
# NOT, that is the point of the operator
LATEST_EVENT_SQL = """
SELECT user_id, event_id, ts, event_type, round(value, 6) AS value
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


REGISTRY["latest_event_per_user"] = (latest_event_per_user, LATEST_EVENT_SQL)


def event_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed traffic spike/dip detector: events per day, flagged
    at |z| > 1.8 against the whole series — the ingest-rate monitor a
    pipeline alerts on (a crawler stall or a duplicate-feed burst shows
    up as a bucket count outlier).

    Pure reuse of :func:`operators.stats.zscore_outliers` (decimal-exact
    power sums → engine-bit-identical z) over a ``date_trunc`` bucket
    projection: two stacked hash-aggs + a broadcast-back filter; no
    window, no sort, immune to how the events are partitioned."""
    from hashio_spark.operators.stats import zscore_outliers

    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("_all", F.lit("all"))
    )
    out = zscore_outliers(daily, "n_events", "_all", "bucket", threshold=1.8)
    return out.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("bucket"),
        F.col("n_events"), F.col("zscore"),
    )


EVENT_SPIKES_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS bucket, count(*) AS n_events
  FROM events GROUP BY 1
), g AS (
  SELECT count(*) AS n,
    sum(cast(n_events AS decimal(38,0))) AS sx,
    sum(cast(n_events * n_events AS decimal(38,0))) AS sx2
  FROM daily
), s AS (
  SELECT cast(sx AS double) / cast(n AS double) AS mean,
    sqrt((cast(n AS double) * cast(sx2 AS double) - cast(sx AS double) * cast(sx AS double))
         / (cast(n AS double) * cast(n AS double))) AS std
  FROM g
)
SELECT strftime(d.bucket, '%Y-%m-%d') AS bucket, d.n_events,
  round((cast(d.n_events AS double) - s.mean) / s.std, 6) AS zscore
FROM daily d, s
WHERE s.std > 0 AND abs((cast(d.n_events AS double) - s.mean) / s.std) > 1.8
"""


REGISTRY["event_spikes"] = (event_spikes, EVENT_SPIKES_SQL)


# ---------------------------------------------------------------------------
# ANN scale path: IVF top-k (r4 VERDICT next-round #7)
# ---------------------------------------------------------------------------

_IVF_N_LIST = 8
_IVF_N_PROBE = 3


def _ivf_codebook(n_list: int = _IVF_N_LIST, dim: int = 64) -> list[list[float]]:
    """Deterministic md5-derived codebook, inlined as literals in BOTH
    engines (same trick as ``_neardup_planes``) — a fixed stand-in for a
    trained codebook so the IVF plan shape is oracle-checkable.
    Production derives the codebook from the corpus
    (``similarity.ivf_centroids`` + ``kmeans_refine``); the query path
    below is identical either way (broadcast-constant assignment +
    probe-limited list join)."""
    import hashlib

    return [
        [
            float(int(hashlib.md5(f"ivfc|{l}|{d}".encode()).hexdigest()[:8], 16) % 2_000_001 - 1_000_000)
            for d in range(dim)
        ]
        for l in range(n_list)
    ]


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (operators/similarity.ivf_topk) — the ANN
    scale path: corpus rows assign to their nearest codebook centroid via
    a per-row broadcast-constant expression (NO shuffle, no model job);
    each query exact-reranks only its ``n_probe`` nearest lists, so the
    only shuffle is a list_id equi-join carrying ~n_probe/n_list of the
    corpus per query batch.  Same output contract as the brute-force
    ``ann_cosine_topk`` twin; recall tracks n_probe (probe all → exact)."""
    from hashio_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_ANN_QUERY_IDS))
    out = ivf_topk(
        emb, q, "vec_id", "embedding",
        k=_ANN_K, n_list=_IVF_N_LIST, n_probe=_IVF_N_PROBE,
        centroids=_ivf_codebook(),
    )
    return out.select("query_id", "rank", "neighbor_id")


def _ivf_oracle_sql() -> str:
    import math

    cb = _ivf_codebook()
    rows = []
    for lid, c in enumerate(cb):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        vec = "[" + ", ".join(repr(x) for x in c) + "]"
        rows.append(f"({lid}, {vec}::DOUBLE[], {cn!r})")
    values = ",\n    ".join(rows)
    return f"""
WITH cent(lid, c, cn) AS (VALUES
    {values}
),
e AS (SELECT vec_id, cast(embedding AS double[]) AS ve FROM embeddings),
en AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm FROM e),
asg AS (
  SELECT vec_id, ve, nrm, lid,
    row_number() OVER (PARTITION BY vec_id
      ORDER BY list_dot_product(ve, c) / (nrm * cn) DESC, lid DESC) AS rn
  FROM en CROSS JOIN cent
),
corpus AS (SELECT vec_id AS neighbor_id, ve, nrm, lid AS list_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS query_id, ve AS qe, nrm AS qn FROM en WHERE vec_id IN {_ANN_QUERY_IDS}),
probes AS (
  SELECT query_id, qe, qn, lid,
    row_number() OVER (PARTITION BY query_id
      ORDER BY list_dot_product(qe, c) / (qn * cn) DESC, lid DESC) AS rn
  FROM q CROSS JOIN cent
),
pq AS (SELECT query_id, qe, qn, lid AS list_id FROM probes WHERE rn <= {_IVF_N_PROBE}),
s AS (
  SELECT query_id, neighbor_id, list_dot_product(qe, ve) / (qn * nrm) AS cos
  FROM corpus JOIN pq USING (list_id)
  WHERE neighbor_id <> query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {_ANN_K}
"""


ANN_IVF_TOPK_SQL = _ivf_oracle_sql()

REGISTRY["ann_ivf_topk"] = (ann_ivf_topk, ANN_IVF_TOPK_SQL)

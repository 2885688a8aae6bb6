"""The flagship plan: one vectorized validation pass over an
interleaved-document table → (partition_report, violations).

Spark analog of ``hashio <PATH> -o hash.json`` + ``--verify``
(``/root/reference/lib/hashio/worker.py:204-294`` per-file pipeline +
``encoder.py:651-705`` verify).  Like the reference, which derives a
file's digest and metadata in the one read of that file, the pass reads
the table's ``spans`` exactly once, into a narrow persisted per-doc
frame, and every output is derived from that frame:

  scan → per-doc frame (persisted): doc_id, partition_id[, quality],
         doc_digest[_<algo>], n_spans, text/media span counts, the two
         span-shape flag counts, the doc's distinct media_refs
       ├→ report: ONE groupBy(partition_id) aggregation — column stats,
       │  group digests, span sums, quality histogram, sketches
       ├→ violations: shape rows from the flag counts, a uniqueness
       │  shuffle on doc_id, a broadcast anti-join of media_refs
       └→ report.violation_count = per-partition count of the violations

Scale properties:
* per-doc work is pure column expressions (no Python in the hot path;
  parity digests via Arrow pandas UDFs only when requested);
* the persisted frame holds a few scalars and a short ref array per doc,
  so the report, the violation branches and every downstream sink
  (manifest merge, violations write, export) re-read it instead of the
  spans payload;
* the default group digest is the commutative sum-mod-2^64 fold
  (:func:`hashio_spark.functions.canonical.agg_digest_xor`) — no
  collect_list, no skew from oversized span arrays; ``parity=True``
  switches to the reference-parity sorted composite digest;
* skewed docs (giant span arrays) cost O(spans) inside their own row —
  they never concentrate on one reducer because the per-row work happens
  before the shuffle and AQE splits skewed reduce partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hashio_spark.caching import track
from hashio_spark.functions.canonical import (
    agg_digest_xor,
    composite_digest_expr,
    doc_digest_expr,
)
from hashio_spark.operators.stats import stat_aggs

_NO_VIOLATIONS = "array<struct<rule:string,detail:string>>"


@dataclass
class ValidationResult:
    report: DataFrame      # one row per partition_id: stats + digest + pass/fail
    violations: DataFrame  # (doc_id, partition_id, rule, detail)


def validate(
    docs: DataFrame,
    catalog: DataFrame | None = None,
    algo: str = "md5",
    parity: bool = False,
    broadcast_catalog: bool = True,
    persist_violations: bool = True,
    group_digest: str | None = None,
    checks: frozenset[str] = frozenset({"shape", "uniqueness", "referential"}),
    extra_algos: tuple[str, ...] = (),
    with_sketches: bool = False,
) -> ValidationResult:
    """Run the full stats + constraint + digest pass.

    ``docs`` needs columns (doc_id, partition_id, spans[, quality]).
    ``parity=True`` uses reference-byte-identical digests (pandas UDF) and
    the sorted composite group digest; default keeps everything JVM-side.

    The one read of ``docs`` lands in the persisted **per-doc frame**
    (see the module docstring).  Its handle is attached to both returned
    DataFrames with :func:`hashio_spark.caching.track`; call
    :func:`hashio_spark.caching.release` on either after the last
    consuming action.

    ``extra_algos`` computes additional digest tiers IN THE SAME SCAN —
    the reference's manifest entries carry one digest per known algo
    (``/root/reference/lib/hashio/exporter.py:354-362`` probes them all);
    here each extra algo adds a ``doc_digest_<algo>`` column to the
    per-doc frame (the canonical span serialization is shared via
    codegen subexpression elimination, the table is still decoded once)
    and a ``digest_<algo>`` group digest to the same report aggregation.
    :func:`manifest_rows` fans the report out into one manifest row per
    algo.

    ``with_sketches`` adds a base64 HLL sketch of doc_id per partition
    (``operators/sketches.py``) to the report; via :func:`manifest_rows`
    it lands in the stored stats map, so cross-run distinct counts are
    later answered by unioning manifest sketches instead of rescanning
    the corpus.

    The report aggregation carries every stat (string min/max and the
    quality histogram included).  A caller that projects only some report
    columns pays only for those: Catalyst prunes unreferenced aggregates.

    ``persist_violations`` caches the violation rows: they feed both the
    report's per-partition violation_count and the caller's violation
    sink, so a caller that writes them after (or before) reading the
    report computes them once.  A caller that never reads the violations
    passes False.  Callers ``unpersist()`` the violations when done.
    """
    # ---- the single read: a narrow per-doc frame ----------------------
    # shape flags fold over PRIMITIVE projections of the spans array —
    # slicing/zipping the struct array itself copies every span's full
    # text payload per row (measured ~1.8× the whole pass cost at 16M
    # docs); the offsets int-array and a bool-array are ~free to copy.
    # field arrays via getField (GetArrayStructFields), not
    # transform(spans, s -> s.field): the codegen'd field extraction over
    # a primitive array beats an interpreted per-struct lambda — measured
    # 21.0 → 15.8 cpu-s for the four flag/count pipelines at 2M docs —
    # and each downstream pipeline then traverses a narrow array instead
    # of re-walking the struct array.
    spans = F.col("spans")
    kinds = spans.getField("kind")
    n_bad_null = F.size(
        F.filter(
            F.zip_with(kinds, spans.getField("text"), lambda k, t: (k == "text") & t.isNull()),
            lambda bad: bad,
        )
    )
    offs = spans.getField("offset")
    n_off = F.size(offs)
    n_bad_ooo = F.when(
        n_off > 1,
        F.size(
            F.filter(
                F.zip_with(
                    F.slice(offs, 1, F.greatest(n_off - 1, F.lit(0))),
                    F.slice(offs, 2, F.greatest(n_off - 1, F.lit(0))),
                    lambda a, b: a >= b,
                ),
                lambda x: x,
            )
        ),
    ).otherwise(F.lit(0))

    from hashio_spark.operators.constraints import (
        dangling_from_refs,
        distinct_media_refs,
        duplicate_keys,
    )

    do_shape = "shape" in checks
    do_refs = "referential" in checks and catalog is not None
    has_quality = "quality" in docs.columns
    per_doc = docs.select(
        "doc_id",
        "partition_id",
        *(["quality"] if has_quality else []),
        doc_digest_expr("spans", algo, parity=parity).alias("doc_digest"),
        *[doc_digest_expr("spans", a, parity=parity).alias(f"doc_digest_{a}") for a in extra_algos],
        F.size("spans").alias("n_spans"),
        F.size(F.filter(kinds, lambda k: k == "text")).alias("_text_spans"),
        F.size(F.filter(kinds, lambda k: k != "text")).alias("_media_spans"),
        (n_bad_null if do_shape else F.lit(0)).alias("_n_null_text"),
        (n_bad_ooo if do_shape else F.lit(0)).alias("_n_ooo"),
        *([distinct_media_refs().alias("media_refs")] if do_refs else []),
    ).persist()

    # group digest tier: "composite" = reference-parity sorted fold
    # (collect_list per group — exact but memory O(group)); "fold" = the
    # scalable commutative sum-fold (map-side partials, constant memory).
    # Default follows `parity`; pass group_digest="composite" to get the
    # SQL-replicable composite over JVM-side per-doc digests.
    if group_digest is None:
        group_digest = "composite" if parity else "fold"

    def _group_digest(doc_col: str, a: str):
        return (
            composite_digest_expr("doc_id", doc_col, a)
            if group_digest == "composite"
            else agg_digest_xor("doc_id", doc_col)
        )

    # ---- report: ONE aggregation over the per-doc frame ---------------
    # The string min/max make it a SortAggregate; it sorts the narrow
    # per-doc rows, never the spans payload.  The quality histogram is
    # stored per partition as the baseline for cross-run PSI
    # (operators.drift.manifest_drift).
    stat_cols = ["doc_id", "n_spans"] + (["quality"] if has_quality else [])
    pre = per_doc
    aggs = [
        *stat_aggs(stat_cols),
        _group_digest("doc_digest", algo).alias("digest"),
        *[_group_digest(f"doc_digest_{a}", a).alias(f"digest_{a}") for a in extra_algos],
        F.sum("_text_spans").alias("text_spans"),
        F.sum("_media_spans").alias("media_spans"),
        F.sum((F.col("_n_null_text") > 0).cast("long")).alias("null_text_violations"),
        F.sum((F.col("_n_ooo") > 0).cast("long")).alias("offset_violations"),
    ]
    if has_quality:
        from hashio_spark.operators.drift import bucket_expr

        pre = pre.withColumn("_qb", bucket_expr("quality", 0.0, 1.0, 20))
        aggs.append(
            F.concat_ws(
                ",", *[F.sum((F.col("_qb") == i).cast("long")).cast("string") for i in range(20)]
            ).alias("quality_hist")
        )
    if with_sketches:
        from hashio_spark.operators.sketches import (
            BLOOM_KEY,
            SKETCH_KEY,
            bloom_agg_expr,
            bloom_lanes_arrow,
            hll_sketch_expr,
        )

        aggs.append(hll_sketch_expr("doc_id").alias(SKETCH_KEY))
        # doc_id bloom fingerprint: 16 bit_or longs per partition, so
        # later point lookups ("was doc X validated?") prune from manifest
        # rows alone (sketches.manifest_probe).  Lanes come from the Arrow
        # kernel (lock-free Python md5 — BENCH.md finding #1).
        pre = pre.withColumn("_bl", bloom_lanes_arrow(F.col("doc_id").cast("string")))
        aggs.append(bloom_agg_expr("_bl").alias(BLOOM_KEY))
    report = pre.groupBy("partition_id").agg(*aggs)

    # ---- violation rows ------------------------------------------------
    def _rule(n: str, rule: str, label: str):
        return F.when(
            F.col(n) > 0,
            F.array(F.struct(F.lit(rule).alias("rule"),
                             F.concat(F.lit(label), F.col(n).cast("string")).alias("detail"))),
        ).otherwise(F.array().cast(_NO_VIOLATIONS))

    parts = []
    if do_shape:
        parts.append(
            per_doc.filter((F.col("_n_null_text") > 0) | (F.col("_n_ooo") > 0))
            .select("doc_id", "partition_id",
                    F.explode(F.concat(_rule("_n_null_text", "null_text_span", "n_bad_spans="),
                                       _rule("_n_ooo", "offset_out_of_order", "n_bad_pairs=")))
                    .alias("v"))
            .select("doc_id", "partition_id", "v.rule", "v.detail")
        )
    if "uniqueness" in checks:
        parts.append(duplicate_keys(per_doc))
    if do_refs:
        parts.append(dangling_from_refs(per_doc, catalog, broadcast_catalog))
    if not parts:
        parts = [per_doc.select("doc_id", "partition_id", F.lit("").alias("rule"),
                                F.lit("").alias("detail")).filter(F.lit(False))]
    violations = parts[0]
    for p in parts[1:]:
        violations = violations.unionByName(p)
    if persist_violations:
        violations = violations.persist()

    # violation_count: n_partitions rows counted from the violations
    # themselves (persisted → no recompute of any branch)
    counts = violations.groupBy("partition_id").agg(F.count(F.lit(1)).alias("_n_viol"))
    report = (
        report.join(counts, "partition_id", "left_outer")
        .withColumn("violation_count", F.coalesce(F.col("_n_viol"), F.lit(0).cast("long")))
        .drop("_n_viol")
        .withColumn("passed", F.col("violation_count") == 0)
    )
    return ValidationResult(report=track(report, per_doc), violations=track(violations, per_doc))


def manifest_rows(
    result: ValidationResult,
    run_id: str,
    algo: str,
    lineage: str = "",
    extra_algos: tuple[str, ...] = (),
) -> DataFrame:
    """Project a ValidationResult into manifest-table rows
    (FIXTURES.md §3 schema) for ManifestStore.merge.

    ``extra_algos`` (matching the ``validate(extra_algos=...)`` call)
    fans the report out into one manifest row per algo — the reference's
    multi-algo manifest entries (``exporter.py:354-362``) — from the
    single report the one-scan pass produced; the stats map is shared."""
    rep = result.report
    stat_cols = [
        c for c in rep.columns
        if c not in ("partition_id", "digest", "row_count") and not c.startswith("digest_")
    ]
    stats_map = F.map_from_arrays(
        F.array(*[F.lit(c) for c in stat_cols]),
        F.array(*[F.col(c).cast("string") for c in stat_cols]),
    )

    def rows_for(a: str, digest_col: str) -> DataFrame:
        return rep.select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.lit(a).alias("algo"),
            F.col(digest_col).alias("digest"),
            F.col("row_count").cast("long"),
            stats_map.alias("stats"),
            F.lit(lineage).alias("lineage"),
            F.current_timestamp().alias("updated_at"),
        )

    out = rows_for(algo, "digest")
    for a in extra_algos:
        out = out.unionByName(rows_for(a, f"digest_{a}"))
    return out

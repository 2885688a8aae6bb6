"""Incremental / streaming validation.

The reference's periodic-merge checkpoint loop
(``/root/reference/lib/hashio/worker.py:283-285,360-390``: per-process
temp DBs merged into the main cache every MERGE_INTERVAL) maps to
Structured Streaming's micro-batch + ``foreachBatch`` exactly-once sink:
each micro-batch of new documents is validated with the SAME batch
``validate()`` plan and its partition report is idempotently merged into
the manifest store keyed on (run_id, partition_id, algo).

No watermark/event-time logic is needed for validation itself (every doc
is validated on arrival); a watermarked sliding-window violation-rate
stream is provided for monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hashio_spark.caching import release
from hashio_spark.plans.validate import manifest_rows, validate
from hashio_spark.sources.manifest_store import ManifestStore


def validation_sink(
    store: ManifestStore,
    run_id: str,
    algo: str = "xxh64",
    catalog: DataFrame | None = None,
    with_sketches: bool = False,
):
    """foreachBatch function: validate the micro-batch, merge its report
    into the manifest (idempotent on re-delivery — exactly-once effect).

    ``with_sketches`` stores the per-partition HLL doc_id sketch like the
    batch path does.  Merge semantics are the manifest's usual
    last-writer-wins per (run_id, partition_id, algo) — the stored sketch
    covers the latest merged batch for that partition, exactly like
    row_count and every other stats-map entry; a stream whose partitions
    arrive whole (the intended layout) therefore ends with full-partition
    sketches."""
    run_id = str(run_id)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        # one read of the batch into validate's per-doc frame, released
        # after the merge; the violations only feed the report's counts,
        # so they are not persisted
        res = validate(batch_df, catalog=catalog, algo=algo, persist_violations=False,
                       with_sketches=with_sketches)
        try:
            rows = manifest_rows(res, run_id=run_id, algo=algo, lineage=f"epoch={epoch_id}")
            store.merge(rows, prefer_new=True, run_ids=[run_id])
        finally:
            release(res.report)

    return _sink


def stream_validation(
    stream_docs: DataFrame,
    store: ManifestStore,
    run_id: str,
    algo: str = "xxh64",
    catalog: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    with_sketches: bool = False,
):
    """Wire a streaming documents DataFrame into the validation sink.
    Returns the StreamingQuery (caller controls trigger/await)."""
    writer = stream_docs.writeStream.foreachBatch(
        validation_sink(store, run_id, algo, catalog, with_sketches)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def violation_rate_stream(stream_docs: DataFrame, ts_col: str = "ts", window: str = "5 minutes"):
    """Watermarked windowed violation-rate monitor (append mode): docs with
    structural span violations per event-time window."""
    bad = (
        F.size(F.filter(F.col("spans"), lambda s: (s["kind"] == "text") & s["text"].isNull())) > 0
    )
    return (
        stream_docs.withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(F.col(ts_col), window))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(bad.cast("long")).alias("violating_docs"),
        )
    )


def dedupe_gate_sink(
    out_dir: str,
    seen_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    algo: str = "xxh64",
    digest_col: str = "digest",
):
    """foreachBatch function: the streaming form of
    ``operators/dedupe.ingest_gate`` — drop micro-batch rows whose
    content digest was ingested by ANY PRIOR epoch, dedupe the batch
    internally, land the survivors, and append their digests to the
    seen-set table.

    Exactly-once on re-delivery without a transactional store: both the
    survivor rows and their digests are written by **overwriting the
    epoch's own partition** (``.../epoch=N``), and the seen-set read
    excludes the current epoch — so a retried epoch re-gates against
    exactly the pre-epoch state and overwrites its previous partial
    output instead of double-appending (the same idempotency argument
    as the manifest store's keyed merge).

    Scale: the seen set grows monotonically; the anti-join keys both
    sides on the digest (AQE broadcast / runtime bloom filter / shuffle
    join as sizes dictate — see the batch operator's docstring).
    """
    from pyspark.errors import AnalysisException

    from hashio_spark.functions.digests import digest_expr
    from hashio_spark.operators.dedupe import ingest_gate

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(digest_col, digest_expr(text_col, algo))
        try:
            seen = (
                spark.read.option("basePath", seen_dir)
                .parquet(seen_dir)
                .filter(F.col("epoch") < F.lit(int(epoch_id)))
                .select(digest_col)
            )
        except AnalysisException:  # first epoch: no seen-set yet
            seen = spark.createDataFrame([], f"{digest_col} string")
        fresh = ingest_gate(batch, seen, digest_col=digest_col, key_col=key_col)
        fresh.persist()
        fresh.write.mode("overwrite").parquet(f"{out_dir}/epoch={int(epoch_id)}")
        fresh.select(digest_col).write.mode("overwrite").parquet(
            f"{seen_dir}/epoch={int(epoch_id)}"
        )
        fresh.unpersist()

    return _sink


def stream_dedupe_gate(
    stream_docs: DataFrame,
    out_dir: str,
    seen_dir: str,
    checkpoint_dir: str | None = None,
    **gate_kwargs,
):
    """Wire a streaming documents DataFrame through the incremental
    dedupe gate.  Returns the StreamingQuery."""
    writer = stream_docs.writeStream.foreachBatch(
        dedupe_gate_sink(out_dir, seen_dir, **gate_kwargs)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def expectation_monitor_stream(
    stream_df: DataFrame,
    rules,
    ts_col: str = "ts",
    window: str = "5 minutes",
    by: str | list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed expectation monitor: the declarative rules of
    ``operators/expectations`` evaluated per event-time window (append
    mode) — the streaming twin of ``evaluate_expectations``.

    Every metric is algebraic, so the windowed aggregation keeps
    O(windows × slices × rules) state and emits finalized verdict rows
    once the watermark passes each window.  Exact ``distinct`` is not
    supported by streaming aggregations (unbounded per-window state);
    it is transparently evaluated as ``approx_distinct`` (HLL, mergeable,
    bounded) — the same scale tier the batch evaluator offers.
    """
    from hashio_spark.operators.expectations import (
        Expectation, _metric_expr, _verdict_structs,
    )

    rules = [
        Expectation(r.column, "approx_distinct", r.op, r.bound)
        if r.metric == "distinct" else r
        for r in rules
    ]
    if not rules:
        raise ValueError("no expectations given")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    aggs = [F.round(_metric_expr(r), 6).alias(f"_m{i}") for i, r in enumerate(rules)]
    agg = (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *by_cols)
        .agg(*aggs)
    )
    return agg.select("window", *by_cols, F.inline(F.array(*_verdict_structs(rules))))

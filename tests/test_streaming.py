"""Streaming incremental validation: micro-batches merge idempotently into
the manifest store (the reference's periodic-merge checkpoint analog)."""

import os

import pytest
from pyspark.sql import functions as F

from hashio_spark.sources.manifest_store import MANIFEST_SCHEMA, ManifestStore
from hashio_spark.streaming.incremental import stream_validation, violation_rate_stream


def test_stream_validation_available_now(spark, tmp_path):
    from hashio_spark.datagen import documents_interleaved

    src_dir = str(tmp_path / "src")
    documents_interleaved(spark, n_docs=400, n_partitions=4).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    store = ManifestStore(spark, str(tmp_path / "manifest"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src_dir)
    q = stream_validation(
        stream, store, run_id="stream-run", algo="xxh64",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    m = store.read()
    rows = m.collect()
    assert {r["run_id"] for r in rows} == {"stream-run"}
    assert {r["partition_id"] for r in rows} == {0, 1, 2, 3}
    # micro-batches merged idempotently: exactly one row per (partition, algo)
    assert len(rows) == 4
    # restart with same checkpoint: no new work, manifest unchanged
    digests_before = {(r["partition_id"], r["digest"]) for r in rows}
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src_dir)
    q2 = stream_validation(stream2, store, run_id="stream-run", algo="xxh64", checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(60)
    after = {(r["partition_id"], r["digest"]) for r in store.read().collect()}
    assert after == digests_before


def test_violation_rate_stream(spark, tmp_path):
    from hashio_spark.datagen import documents_interleaved

    src_dir = str(tmp_path / "src2")
    docs = documents_interleaved(spark, n_docs=300, n_partitions=4).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    docs.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg = violation_rate_stream(stream)
    q = (
        agg.writeStream.outputMode("complete").format("memory").queryName("vr")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from vr").collect()
    assert len(out) == 1
    assert out[0]["docs"] == 300 and out[0]["violating_docs"] > 0


def test_merge_is_partition_scoped(spark, tmp_path):
    """Merging run B must not rewrite run A's partition: byte-identical
    files afterwards (merge cost proportional to the touched slice)."""
    import os

    from pyspark.sql import functions as F

    from hashio_spark.sources.manifest_store import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "m"))

    def rows(run_id, digest):
        return spark.createDataFrame(
            [(run_id, p, "md5", digest, 10, {"k": "v"}, "", None) for p in range(4)],
            "run_id string, partition_id int, algo string, digest string, row_count long, "
            "stats map<string,string>, lineage string, updated_at timestamp",
        ).withColumn("updated_at", F.current_timestamp())

    store.merge(rows("runA", "aaaa"))
    a_dir = os.path.join(store.path, "run_id=runA")
    before = {}
    for f in sorted(os.listdir(a_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(a_dir, f), "rb") as fh:
                before[f] = fh.read()
    assert before

    store.merge(rows("runB", "bbbb"))
    after = {}
    for f in sorted(os.listdir(a_dir)):
        if f.endswith(".parquet"):
            with open(os.path.join(a_dir, f), "rb") as fh:
                after[f] = fh.read()
    assert before == after  # runA untouched, byte-identical
    assert store.read().count() == 8


def test_merge_prefer_new_is_deterministic(spark, tmp_path):
    """prefer_new keeps the NEW digest on re-merge (the old
    union+dropDuplicates kept an arbitrary row per key)."""
    from pyspark.sql import functions as F

    from hashio_spark.sources.manifest_store import ManifestStore

    store = ManifestStore(spark, str(tmp_path / "m2"))

    def one(digest, ts):
        return spark.createDataFrame(
            [("r", 0, "md5", digest, 1, {}, "", None)],
            "run_id string, partition_id int, algo string, digest string, row_count long, "
            "stats map<string,string>, lineage string, updated_at timestamp",
        ).withColumn("updated_at", F.lit(ts).cast("timestamp"))

    store.merge(one("old", "2024-01-01 00:00:00"))
    store.merge(one("new", "2024-01-02 00:00:00"), prefer_new=True)
    assert store.read().collect()[0]["digest"] == "new"
    store.merge(one("ignored", "2024-01-03 00:00:00"), prefer_new=False)
    assert store.read().collect()[0]["digest"] == "new"


def test_stream_validation_with_sketches(spark, tmp_path):
    """Streaming sink stores the HLL sketch; merged_distinct answers from
    the streamed manifest (sketch covers the latest merged batch per
    partition — here one file per partition, so full partitions)."""
    from hashio_spark.datagen import documents_interleaved
    from hashio_spark.operators.sketches import SKETCH_KEY, merged_distinct

    src_dir = str(tmp_path / "src")
    (documents_interleaved(spark, n_docs=400, n_partitions=4)
     .repartition("partition_id")
     .write.mode("overwrite").partitionBy("partition_id").parquet(src_dir))
    schema = spark.read.parquet(src_dir).schema

    store = ManifestStore(spark, str(tmp_path / "manifest"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = stream_validation(
        stream, store, run_id="sk-run", algo="xxh64",
        checkpoint_dir=str(tmp_path / "ckpt"), with_sketches=True,
    )
    q.awaitTermination(120)

    m = store.read()
    keys = m.select(F.map_keys("stats").alias("k")).first()["k"]
    assert SKETCH_KEY in keys
    est = merged_distinct(m).first()["distinct_estimate"]
    assert abs(est - 400) / 400 < 0.05


def test_dedupe_gate_sink_across_epochs_and_retry(spark, tmp_path):
    from hashio_spark.streaming.incremental import dedupe_gate_sink

    out = str(tmp_path / "out")
    seen = str(tmp_path / "seen")
    sink = dedupe_gate_sink(out, seen, algo="md5")

    e0 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    )
    sink(e0, 0)
    got0 = {r.doc_id for r in spark.read.parquet(f"{out}/epoch=0").collect()}
    assert got0 == {1, 3}  # batch-internal dupe (2) dropped

    # epoch 1: one digest already seen, one new
    e1 = spark.createDataFrame([(4, "beta"), (5, "gamma")], "doc_id long, text string")
    sink(e1, 1)
    got1 = {r.doc_id for r in spark.read.parquet(f"{out}/epoch=1").collect()}
    assert got1 == {5}

    # retried epoch 1 (re-delivery) must NOT be suppressed by its own
    # digests and must overwrite, not double-append
    sink(e1, 1)
    got1r = [r.doc_id for r in spark.read.parquet(f"{out}/epoch=1").collect()]
    assert got1r == [5]

    # epoch 2 sees the union of prior epochs' digests
    e2 = spark.createDataFrame([(6, "gamma"), (7, "delta")], "doc_id long, text string")
    sink(e2, 2)
    got2 = {r.doc_id for r in spark.read.parquet(f"{out}/epoch=2").collect()}
    assert got2 == {7}


def test_stream_dedupe_gate_availablenow(spark, tmp_path):
    from hashio_spark.streaming.incremental import stream_dedupe_gate

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, text string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_dedupe_gate(
        stream,
        str(tmp_path / "sout"),
        str(tmp_path / "sseen"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        algo="md5",
    )
    q.awaitTermination(120)
    got = sorted(r.doc_id for r in spark.read.parquet(str(tmp_path / "sout")).collect())
    assert got == [1, 3]


def test_expectation_monitor_stream(spark, tmp_path):
    """Windowed streaming expectations: two event-time windows, per-window
    verdicts; exact `distinct` transparently runs as approx_distinct."""
    from hashio_spark.operators.expectations import Expectation
    from hashio_spark.streaming.incremental import expectation_monitor_stream

    src_dir = str(tmp_path / "exsrc")
    rows = [
        # window 1: v complete, two langs
        ("2024-01-01 00:00:30", 10, "en"),
        ("2024-01-01 00:01:00", 20, "de"),
        # window 2 (>=5min later): one null v -> completeness fails
        ("2024-01-01 00:06:00", 30, "en"),
        ("2024-01-01 00:06:30", None, "en"),
    ]
    df = spark.createDataFrame(rows, "ts_s string, v int, lang string").select(
        F.to_timestamp("ts_s").alias("ts"), "v", "lang"
    )
    df.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir)
    rules = [
        Expectation("v", "completeness", ">=", 1.0),
        Expectation("lang", "distinct", "<=", 1.0),  # runs as approx_distinct
    ]
    out = expectation_monitor_stream(stream, rules, ts_col="ts", window="5 minutes")
    q = (
        out.writeStream.outputMode("complete").format("memory").queryName("exmon")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from exmon").collect()
    assert len(got) == 4  # 2 windows x 2 rules
    by_key = {(r.window.start.minute, r.rule_id): r for r in got}
    assert by_key[(0, 0)].passed and by_key[(0, 0)].value == 1.0
    assert not by_key[(5, 0)].passed and by_key[(5, 0)].value == 0.5
    assert not by_key[(0, 1)].passed  # 2 langs > 1
    assert by_key[(5, 1)].passed
    assert all(r.metric == "approx_distinct" for r in got if r.rule_id == 1)


def _manifest(spark, rows):
    """Manifest rows from (run_id, partition_id, digest, day of 2024-01) tuples."""
    import datetime

    return spark.createDataFrame(
        [(r, p, "md5", d, 1, {"k": d}, "", datetime.datetime(2024, 1, day)) for r, p, d, day in rows],
        MANIFEST_SCHEMA,
    )


@pytest.mark.parametrize("prefer_new", [True, False])
def test_merge_with_run_ids_equals_merge_without(spark, tmp_path, prefer_new):
    """Passing the run_ids skips the job that collects them and leaves the
    same store: the within-rows dedupe (latest updated_at wins among
    duplicate keys) and prefer_new against stored rows are unchanged."""
    stored = _manifest(spark, [("r", 0, "old0", 1), ("r", 2, "old2", 1), ("s", 0, "s0", 1)])
    # duplicate keys inside the update: (r, 0) twice, (t, 1) twice
    update = _manifest(spark, [("r", 0, "new0a", 2), ("r", 0, "new0b", 3), ("r", 1, "new1", 2),
                               ("t", 1, "t1a", 4), ("t", 1, "t1b", 2)])
    got = []
    for name, kw in (("auto", {}), ("given", {"run_ids": ["r", "t"]})):
        store = ManifestStore(spark, str(tmp_path / name))
        store.merge(stored)
        store.merge(update, prefer_new=prefer_new, **kw)
        got.append(sorted((r.run_id, r.partition_id, r.digest, r.updated_at, tuple(r.stats.items()))
                          for r in store.read().collect()))
    assert got[0] == got[1]
    digests = {(r, p): d for r, p, d, *_ in got[0]}
    assert digests[("r", 0)] == ("new0b" if prefer_new else "old0")
    assert digests[("t", 1)] == "t1a"  # latest updated_at among the duplicates
    assert digests[("r", 2)] == "old2" and digests[("s", 0)] == "s0"


def test_merge_rejects_rows_outside_run_ids(spark, tmp_path):
    """A run_id in rows that run_ids omits fails before the store changes
    (its stored rows were never read, so swapping it in would drop them)."""
    store = ManifestStore(spark, str(tmp_path / "m"))
    store.merge(_manifest(spark, [("a", 0, "a0", 1), ("b", 0, "b0", 1)]))
    with pytest.raises(ValueError, match="missing from run_ids"):
        store.merge(_manifest(spark, [("a", 1, "a1", 2), ("b", 1, "b1", 2)]), run_ids=["a"])
    assert sorted((r.run_id, r.partition_id) for r in store.read().collect()) == [("a", 0), ("b", 0)]
    assert not [n for n in os.listdir(tmp_path) if ".tmp-merge" in n]


def test_concurrent_merges_into_one_store(spark, tmp_path):
    """Two threads merging different runs into one store each write their
    own tmp dir: both runs land whole and no tmp dir is left behind."""
    from concurrent.futures import ThreadPoolExecutor

    store = ManifestStore(spark, str(tmp_path / "m"))
    runs = {rid: _manifest(spark, [(rid, p, f"{rid}{p}", 1) for p in range(8)]) for rid in ("a", "b")}
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(store.merge, rows, run_ids=[rid]) for rid, rows in runs.items()]:
            f.result()
    assert store.list_runs() == ["a", "b"]
    got = sorted((r.run_id, r.partition_id, r.digest) for r in store.read().collect())
    assert got == sorted((rid, p, f"{rid}{p}") for rid in runs for p in range(8))
    assert not [n for n in os.listdir(tmp_path) if ".tmp-merge" in n]

"""The benchmark's workloads: what one op is, how its outputs are checked,
and the layer probes of the traced run.

Every op calls the program only through public functions; outputs are
checked outside the timed window by reading what the op wrote or
returned.  Spans (``Tracer``) mark layer boundaries in wall-clock epoch
milliseconds so the event-log folder can attribute Spark jobs to them.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen

RECALL_FLOOR = 0.90
STREAM_FILES_PER_TRIGGER = 4


class Tracer:
    """Named wall-clock spans in epoch ms (kept in memory, folded at the end)."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time() * 1000
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time() * 1000))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapped)

    def within(self, name: str, start_ms: float, end_ms: float) -> list[tuple[float, float]]:
        return [(s, e) for n, s, e in self.spans if n == name and start_ms <= s and e <= end_ms]


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _cli(argv: list[str]) -> tuple[int, list[str]]:
    """Run ``hashio_spark.cli.main`` and capture what it prints."""
    from hashio_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    return rc, buf.getvalue().splitlines()


class ValidateCli:
    """One op = ``hashio-spark validate`` with manifest, violations and
    export outputs over the interleaved table, as a user runs it."""

    name = "validate_cli"
    kind = "interleaved"
    n_docs = 75_000

    def __init__(self, inputs: str, meta: dict, work: str, master: str, tracer: Tracer):
        self.inputs, self.meta, self.work, self.master, self.tracer = inputs, meta, work, master, tracer

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"op{i}")

    def op(self, spark, i: int) -> dict:
        out = self._out(i)
        rc, lines = _cli([
            "--master", self.master, "validate",
            "--input", f"{self.inputs}/docs", "--catalog", f"{self.inputs}/catalog.parquet",
            "--manifest", f"{out}/store", "--run-id", f"r{i}",
            "--violations-out", f"{out}/violations", "--export", f"{out}/hash.json",
        ])
        return {"rc": rc, "lines": lines}

    def check(self, i: int, res: dict) -> str | None:
        out, exp = self._out(i), self.meta
        if res["rc"] != 0:
            return f"exit code {res['rc']}"
        summary = json.loads(res["lines"][-1])
        if (summary["docs"], summary["violations"]) != (exp["docs"], exp["violations"]):
            return f"summary {summary} != docs {exp['docs']}, violations {exp['violations']}"
        stored = pq.read_table(f"{out}/store/run_id=r{i}", columns=["partition_id", "row_count"])
        got = dict(zip(stored["partition_id"].to_pylist(), stored["row_count"].to_pylist()))
        want = {p: n for p, n in enumerate(exp["partition_rows"]) if n}
        if got != want:
            return f"stored row counts differ from the generator's (sum {sum(got.values())} vs {exp['docs']})"
        n_viol = pq.read_table(f"{out}/violations", columns=["rule"]).num_rows
        if n_viol != exp["violations"]:
            return f"violations parquet has {n_viol} rows, expected {exp['violations']}"
        with open(f"{out}/hash.json") as f:
            n_export = len(json.load(f))
        if n_export != len(want):
            return f"export has {n_export} entries, expected {len(want)}"
        return None

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self._out(i), ignore_errors=True)

    def probes(self, spark, last_op: int) -> tuple[dict, list[str]]:
        """Layer probes of the traced run; returns (metrics, failures)."""
        from pyspark.sql import functions as F

        from hashio_spark.operators.constraints import dangling_refs, duplicate_keys
        from hashio_spark.operators.expectations import SchemaField, check_schema
        from hashio_spark.plans.validate import validate
        from hashio_spark.sources.manifest_store import MANIFEST_SCHEMA, ManifestStore
        from hashio_spark.streaming.incremental import stream_validation

        exp, m, bad = self.meta, {}, []
        span = self.tracer.span
        docs = spark.read.parquet(f"{self.inputs}/docs")
        cat = spark.read.parquet(f"{self.inputs}/catalog.parquet")

        def probe(name, fn):
            with span(name):
                dt, out = _timed(fn)
            m[name] = dt
            return out

        rep = probe("validate.report_s", lambda: validate(docs, cat, algo="xxh64").report.collect())
        if sum(r["row_count"] for r in rep) != exp["docs"]:
            bad.append("validate report row_count sum")
        res = validate(docs, cat, algo="xxh64")
        if probe("validate.violations_s", res.violations.count) != exp["violations"]:
            bad.append("validate violations count")
        res.violations.unpersist()
        by_rule = exp["violations_by_rule"]
        if probe("constraints.duplicate_keys_s", lambda: duplicate_keys(docs).count()) != by_rule["duplicate_doc_id"]:
            bad.append("duplicate_keys count")
        if probe("constraints.dangling_refs_s", lambda: dangling_refs(docs, cat).count()) != by_rule["dangling_media_ref"]:
            bad.append("dangling_refs count")
        contract = [SchemaField("doc_id", "string"), SchemaField(
            "spans", "array<struct<kind:string,text:string,media_ref:string,offset:int>>")]
        if any(r.status != "ok" for r in probe("expectations.check_schema_s",
                                                lambda: check_schema(docs, contract).collect())):
            bad.append("check_schema verdict")

        rows = spark.createDataFrame(
            [("probe", p, "xxh64", f"{p:016x}", 1, {}, "probe", None) for p in range(gen.N_PARTITIONS)],
            MANIFEST_SCHEMA,
        ).withColumn("updated_at", F.current_timestamp())
        rows.cache().count()
        probe("manifest_store.merge_s", lambda: ManifestStore(spark, f"{self.work}/probe-store").merge(rows))
        rows.unpersist()

        # streaming: drain the same table as micro-batches into the last
        # op's store, then verify the stream run against that batch run
        store_dir = f"{self._out(last_op)}/store"
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER).parquet(f"{self.inputs}/docs"))
        with span("stream"):
            q = stream_validation(stream, ManifestStore(spark, store_dir), "stream", catalog=cat,
                                  checkpoint_dir=f"{self.work}/checkpoint")
            q.awaitTermination()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        epoch_ms = sorted(p["durationMs"]["triggerExecution"] for p in progress)
        m["stream.epochs"] = len(progress)
        m["stream.epoch_p50_ms"] = epoch_ms[len(epoch_ms) // 2] if epoch_ms else 0
        m["stream.epoch_max_ms"] = max(epoch_ms, default=0)
        for phase, key in (("addBatch", "stream.add_batch_ms"), ("queryPlanning", "stream.query_planning_ms"),
                           ("walCommit", "stream.wal_commit_ms"), ("latestOffset", "stream.latest_offset_ms")):
            m[key] = sum(p["durationMs"].get(phase, 0) for p in progress)
        stored = pq.read_table(f"{store_dir}/run_id=stream", columns=["row_count"])
        if sum(stored["row_count"].to_pylist()) != exp["docs"]:
            bad.append("stream stored row_count sum")
        with span("verify"):
            rc, lines = _cli(["--master", self.master, "verify", "--manifest", store_dir,
                              "--run-id", "stream", "--other-run", f"r{last_op}"])
        if rc != 0 or lines:
            bad.append(f"verify stream vs batch: {lines[:3]}")
        return m, bad


class NearDup:
    """One op = two MinHash-LSH tiers over the flat near-dup corpus: the
    operator tier (``operators.dedupe``) and the catalog query
    ``dedupe_minhash_lsh`` (Arrow md5 kernel)."""

    name = "neardup"
    kind = "neardup"
    n_docs = 20_000

    def __init__(self, inputs: str, meta: dict, work: str, master: str, tracer: Tracer):
        self.inputs, self.meta, self.work, self.master, self.tracer = inputs, meta, work, master, tracer
        self.planted = {tuple(sorted(p)) for p in meta["planted_pairs"]}
        self.counts: dict[str, int] = {}

    def op(self, spark, i: int) -> dict:
        from hashio_spark.caching import release
        from hashio_spark.operators.dedupe import lsh_candidate_pairs, minhash_signatures
        from hashio_spark.queries import REGISTRY

        span = self.tracer.span
        with span("dedupe"):
            docs = spark.read.parquet(f"{self.inputs}/documents.parquet")
            cand = lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"))
            fast = cand.collect()
            release(cand)
        with span("queries"):
            q = REGISTRY["dedupe_minhash_lsh"][0](spark, self.inputs)
            parity = q.collect()
            release(q)
        return {"fast": [tuple(r) for r in fast], "parity": [tuple(r) for r in parity]}

    def check(self, i: int, res: dict) -> str | None:
        for tier, pairs in res.items():
            found = {tuple(sorted(p)) for p in pairs}
            recall = len(found & self.planted) / len(self.planted)
            if recall < RECALL_FLOOR:
                return f"{tier} tier recall {recall:.4f} < {RECALL_FLOOR}"
            if self.counts.setdefault(tier, len(pairs)) != len(pairs):
                return f"{tier} tier pair count {len(pairs)} != {self.counts[tier]} of the first op"
        return None

    def cleanup(self, i: int) -> None:
        pass

    def probes(self, spark, last_op: int) -> tuple[dict, list[str]]:
        """No extra probes: the tiers are spans of every op; report their pair counts."""
        return {"dedupe.candidate_pairs_fast": self.counts.get("fast", 0),
                "queries.candidate_pairs_parity": self.counts.get("parity", 0)}, []


WORKLOADS = {w.name: w for w in (ValidateCli, NearDup)}

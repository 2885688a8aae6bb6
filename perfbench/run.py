"""Benchmark entry point.

    python3 perfbench/run.py --workload validate_cli --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  One run is one fresh process: it
generates (or reuses) the seeded inputs, starts Spark as
``local[nproc]`` through ``hashio_spark.session.get_spark`` and does a
fixed warm-up (set-up), then issues ops one at a time (closed loop, one
client) until ``--seconds`` of op time have passed.  Every op's outputs
are checked outside the timed window.  The last line of stdout is the
result JSON: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run (Spark event log on, layer spans, probes) with
``--trace 1``.  A fuller record (host, noise, per-op and per-stage
numbers) is written to ``.bench_build/perfbench/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402
from workloads import WORKLOADS, Tracer  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEMORY = "2g"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _DECLARED = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.host = proctree.host_facts()
        self.master = f"local[{self.host['nproc']}]"
        self.spark = None
        self.retired = []  # stopped sessions stay referenced so their id() is never reused
        self.tracer = Tracer()
        cls = WORKLOADS[args.workload]
        in_dir, meta = gen.ensure(os.path.join(WORK, "inputs"), cls.kind, cls.n_docs, args.seed)
        self.wl = cls(in_dir, meta, os.path.join(run_dir, "ops"), self.master, self.tracer)

    # -- session -----------------------------------------------------------

    def start(self, event_log: str | None = None) -> float:
        from hashio_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.retired.append(self.spark)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp",
        }
        if event_log:
            os.makedirs(event_log)
            conf.update({
                "spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(cores=self.host["nproc"], extra_conf=conf)
        return time.perf_counter() - t0

    def conf_record(self) -> dict:
        c = self.spark.sparkContext.getConf()
        return {
            "master": c.get("spark.master"), "driver_memory": c.get("spark.driver.memory"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
        }

    # -- ops -----------------------------------------------------------------

    def run_op(self, wl, i: int, sampler=None) -> dict:
        """One op, timed; then its check and cleanup, untimed."""
        self.spark.catalog.clearCache()
        wl.cleanup(i - 1)
        if sampler:
            sampler.active.set()
        res, err = None, None
        with proctree.OpMeter() as meter:
            try:
                res = wl.op(self.spark, i)
            except Exception as e:  # a failed op is counted, never retried
                err = f"{type(e).__name__}: {e}"
        if sampler:
            sampler.active.clear()
        if err is None:
            try:
                err = wl.check(i, res)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        return {"i": i, "wall_s": meter.wall_s, "cpu": meter.cpu, "steal_share": meter.steal_share,
                "start_ms": meter.start_ms, "end_ms": meter.end_ms, "error": err}

    def op_loop(self, start_index: int) -> tuple[list[dict], dict]:
        ops = []
        with proctree.RssSampler() as sampler:
            while sum(o["wall_s"] for o in ops) < self.args.seconds:
                ops.append(self.run_op(self.wl, start_index + len(ops), sampler))
        return ops, dict(sampler.peak)

    # -- the run -----------------------------------------------------------

    def setup(self) -> dict:
        """Session start plus a fixed warm-up: one full op on the run's own
        input, so that the JIT and Spark's code-generation cache are warm
        for every timed op (a small warm-up input leaves the first timed
        op 15-30% slower than the next)."""
        t0 = time.perf_counter()
        start_s = self.start()
        warm = self.run_op(self.wl, 0)
        return {"setup_s": time.perf_counter() - t0, "session_start_s": start_s,
                "warmup_s": warm["wall_s"], "warmup_error": warm["error"]}

    def end_to_end(self, setup: dict, ops: list[dict], peak: dict) -> dict:
        n = self.wl.n_docs
        wall = sum(o["wall_s"] for o in ops)
        cpu = sum(sum(o["cpu"].values()) for o in ops)
        ok = sum(o["error"] is None for o in ops)
        return {
            "setup_s": setup["setup_s"],
            "docs_per_s": n * len(ops) / wall,
            "op_p50_ms": statistics.median([o["wall_s"] * 1000 for o in ops]),
            "cpu_s_per_mdoc": cpu / (n * len(ops) / 1e6),
            "peak_rss_mb": peak["total"],
            "ok_ratio": ok / len(ops),
        }

    def per_layer(self, setup: dict, ops: list[dict], peak: dict, ref_op: dict,
                  log: eventlog.EventLog, probe_metrics: dict) -> tuple[dict, list]:
        n, tr = self.wl.n_docs, self.tracer
        mdocs = n * len(ops) / 1e6
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        m.update({
            "session.start_s": setup["session_start_s"],
            "setup.warmup_s": setup["warmup_s"],
            "cpu.jvm_s_per_mdoc": sum(o["cpu"]["jvm"] for o in ops) / mdocs,
            "cpu.driver_s_per_mdoc": sum(o["cpu"]["driver"] for o in ops) / mdocs,
            "cpu.python_workers_s_per_mdoc": sum(o["cpu"]["python_workers"] for o in ops) / mdocs,
            "mem.jvm_peak_rss_mb": peak["jvm"],
            "mem.python_peak_rss_mb": peak["driver"] + peak["python_workers"],
            "host.steal_share": statistics.median([o["steal_share"] for o in ops]),
            "host.load1_start": self.host["load1_start"],
            "trace.op_p50_ms": statistics.median([o["wall_s"] * 1000 for o in ops]),
            "trace.untraced_op_ms": ref_op["wall_s"] * 1000,
        })
        m["trace.overhead_ms"] = m["trace.op_p50_ms"] - m["trace.untraced_op_ms"]

        per_op, folded = [], []
        for o in ops:
            jobs = eventlog.jobs_in(log, o["start_ms"], o["end_ms"])

            def layer_jobs(name, jobs=jobs, o=o):
                spans = tr.within(name, o["start_ms"], o["end_ms"])
                return [j for j in jobs if any(s <= j.submit_ms <= e for s, e in spans)]

            eng = eventlog.engine(log, jobs)
            row = {k: v for k, v in eng.items() if k in m}
            if self.wl.name == "validate_cli":
                store, export = layer_jobs("manifest_store"), layer_jobs("exporters")
                own = [j for j in jobs if j not in store and j not in export]
                row.update({
                    "cli.spark_jobs": len(jobs),
                    "cli.corpus_scans": eng["spark.input_records"] / n,
                    "cli.jobs_s": eventlog.busy_s(own),
                    "manifest_store.jobs_s": eventlog.busy_s(store),
                    "exporters.jobs_s": eventlog.busy_s(export),
                })
            per_op.append(row)
            folded.append({"op": o["i"], "by_callsite": eventlog.by_callsite(log, jobs),
                           "stages": eventlog.stage_table(log, jobs)[:12]})
        for k in per_op[0]:
            m[k] = statistics.median([r[k] for r in per_op])
        for name, key in (("dedupe", "dedupe.lsh_fast_s"), ("queries", "queries.lsh_parity_s")):
            spans = [e - s for o in ops for s, e in tr.within(name, o["start_ms"], o["end_ms"])]
            if spans:
                m[key] = statistics.median(spans) / 1000
        for name, key in (("stream", "stream.spark_jobs"), ("verify", "verify.jobs_s")):
            for s, e in tr.within(name, 0, float("inf")):
                js = eventlog.jobs_in(log, s, e)
                m[key] = len(js) if key.endswith("spark_jobs") else eventlog.busy_s(js)
        m.update(probe_metrics)
        return m, folded

    def run(self) -> dict:
        setup = self.setup()
        record = {"host": {**self.host, **self.conf_record(), "pyspark": _pyspark_version(),
                           "commit": _commit()},
                  "workload": self.wl.name, "seed": self.args.seed, "seconds": self.args.seconds,
                  "trace": self.args.trace, "n_docs": self.wl.n_docs, "setup": setup}
        print(json.dumps({"host": record["host"]}), flush=True)
        errors = [] if setup["warmup_error"] is None else [f"warm-up: {setup['warmup_error']}"]
        if not self.args.trace:
            ops, peak = self.op_loop(1)
            metrics = self.end_to_end(setup, ops, peak)
            units = E2E_UNITS
        else:
            # one untraced op as the reference for the tracing overhead,
            # then a fresh session with the event log on for the traced ops
            ref = self.run_op(self.wl, 1)
            log_dir = os.path.join(self.run_dir, "eventlog")
            self.start(event_log=log_dir)
            from hashio_spark.sources.exporters import EXPORTERS
            from hashio_spark.sources.manifest_store import ManifestStore

            self.tracer.wrap(ManifestStore, "merge", "manifest_store")
            self.tracer.wrap(EXPORTERS, "write", "exporters")
            ops, peak = self.op_loop(2)
            try:
                probe_metrics, probe_errors = self.wl.probes(self.spark, ops[-1]["i"])
            except Exception as e:  # report the failure; the probe metrics read 0
                probe_metrics, probe_errors = {}, [f"{type(e).__name__}: {e}"]
            errors += [f"probe: {e}" for e in probe_errors]
            self.spark.stop()
            log = eventlog.read(log_dir)
            metrics, folded = self.per_layer(setup, ops, peak, ref, log, probe_metrics)
            record["trace_ops"] = folded
            units = LAYER_UNITS
        errors += [f"op {o['i']}: {o['error']}" for o in ops if o["error"]]
        record["ops"] = ops
        record["peak_rss_mb"] = peak
        record["errors"] = errors
        record["steal_share_run"] = statistics.median([o["steal_share"] for o in ops])
        record["metrics"] = metrics
        os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
        art = os.path.join(WORK, "artifacts",
                           f"{self.wl.name}-s{self.args.seed}-t{self.args.trace}-{int(time.time())}.json")
        with open(art, "w") as f:
            json.dump(record, f, indent=1, default=str)
        for e in errors:
            print(f"error: {e}", file=sys.stderr)
        print(json.dumps({"artifact": os.path.relpath(art, ROOT),
                          "steal_share_run": record["steal_share_run"]}), flush=True)
        return {
            "correct": not errors,
            "attempted": len(ops),
            "failed": sum(o["error"] is not None for o in ops),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


def _commit() -> str:
    """The commit of the checkout, when it is a git work tree (read, not run)."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hashio_spark")):
        print(f"error: no hashio_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)  # Spark's stray files (derby.log, metastore_db) land here
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        _stop_jvm(bench.spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

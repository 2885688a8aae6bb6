"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
from workloads import Tracer  # noqa: E402


# -- generator -----------------------------------------------------------------


def test_interleaved_is_deterministic_per_seed():
    a, ca, ea = gen.interleaved_tables(3000, seed=5)
    b, cb, eb = gen.interleaved_tables(3000, seed=5)
    assert a.equals(b) and ca.equals(cb) and ea == eb
    c, _, _ = gen.interleaved_tables(3000, seed=6)
    assert not a.equals(c)


def test_neardup_is_deterministic_per_seed():
    a, pa_ = gen.neardup_table(2000, seed=5)
    b, pb = gen.neardup_table(2000, seed=5)
    assert a.equals(b) and pa_ == pb
    c, _ = gen.neardup_table(2000, seed=6)
    assert not a.equals(c)


def test_interleaved_expected_counts_match_rows():
    docs, catalog, exp = gen.interleaved_tables(5000, seed=3)
    rows = docs.to_pylist()
    assets = set(catalog.column("media_ref").to_pylist())
    ids = Counter(r["doc_id"] for r in rows)
    dangling = null_text = ooo = 0
    for r in rows:
        spans = r["spans"]
        refs = {s["media_ref"] for s in spans if s["media_ref"] is not None}
        dangling += len(refs - assets)
        null_text += any(s["kind"] == "text" and s["text"] is None for s in spans)
        offs = [s["offset"] for s in spans]
        ooo += any(a >= b for a, b in zip(offs, offs[1:]))
    got = {
        "duplicate_doc_id": sum(1 for n in ids.values() if n > 1),
        "dangling_media_ref": dangling,
        "null_text_span": null_text,
        "offset_out_of_order": ooo,
    }
    assert got == exp["violations_by_rule"]
    assert all(v > 0 for v in got.values())
    assert exp["violations"] == sum(got.values())
    assert exp["docs"] == len(rows)
    assert exp["partition_rows"] == [
        sum(1 for r in rows if r["partition_id"] == p) for p in range(gen.N_PARTITIONS)]
    # a duplicate lands in its original's partition
    part_of = {}
    for r in rows:
        assert part_of.setdefault(r["doc_id"], r["partition_id"]) == r["partition_id"]


def test_neardup_planted_pairs_differ_in_one_word():
    docs, pairs = gen.neardup_table(3000, seed=4)
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    assert 0.03 < len(pairs) / 3000 < 0.07
    for a, b in pairs:
        wa, wb = text[a].split(), text[b].split()
        assert len(wa) == len(wb) and 40 <= len(wa) <= 100
        assert sum(x != y for x, y in zip(wa, wb)) == 1


def test_input_files_hold_whole_partitions(tmp_path):
    import pyarrow.parquet as pq

    out, meta = gen.ensure(str(tmp_path), "interleaved", 4000, seed=2)
    seen = {}
    for f in sorted(os.listdir(f"{out}/docs")):
        for p in set(pq.read_table(f"{out}/docs/{f}", columns=["partition_id"])["partition_id"].to_pylist()):
            assert seen.setdefault(p, f) == f
    assert sum(meta["partition_rows"]) == 4000
    again, meta2 = gen.ensure(str(tmp_path), "interleaved", 4000, seed=2)  # cached
    assert again == out and meta2 == meta


# -- event log folding ---------------------------------------------------------


def _task(stage, launch, finish, cpu_ns, shuffle_w=0, records=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 10,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                             "Shuffle Read Metrics": {"Local Bytes Read": 0, "Remote Bytes Read": 0},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                             "Input Metrics": {"Bytes Read": 0, "Records Read": records}}}


FIXTURE = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 0,
     "description": "collect at /x/hashio_spark/cli.py:74"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.sql.execution.id": "0"}},
    _task(0, 1000, 1100, 50_000_000, shuffle_w=2**20, records=100),
    _task(0, 1000, 1400, 150_000_000, records=100),
    _task(1, 1400, 1500, 10_000_000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1400, "Completion Time": 1500}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    # a later job that reuses stage 1 (skipped) and runs stage 2; no Python call site
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1450, "Stage IDs": [1, 2],
     "Properties": {"callSite.short": "parquet at NativeMethodAccessorImpl.java:0"}},
    _task(2, 1500, 1700, 20_000_000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Submission Time": 1500, "Completion Time": 1700}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1700},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3],
     "Properties": {"callSite.short": "count at /x/hashio_spark/operators/dedupe.py:9"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9100},
]


@pytest.fixture
def log(tmp_path):
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in FIXTURE) + "\n")
    return eventlog.read(str(tmp_path))


def test_eventlog_attributes_jobs_and_stages(log):
    assert [j.callsite for j in log.jobs] == [
        "hashio_spark/cli.py", "<jvm-writer>", "hashio_spark/operators/dedupe.py"]
    assert log.jobs[1].stages == [2]  # the reused stage 1 stays with job 0
    jobs = eventlog.jobs_in(log, 900, 2000)
    assert [j.job_id for j in jobs] == [0, 1]
    assert eventlog.busy_s(jobs) == pytest.approx(0.7)  # [1000, 1700] overlapping intervals


def test_eventlog_engine_totals(log):
    eng = eventlog.engine(log, eventlog.jobs_in(log, 900, 2000))
    assert eng["spark.stages"] == 3 and eng["spark.tasks"] == 4
    assert eng["spark.task_cpu_s"] == pytest.approx(0.23)
    assert eng["spark.gc_s"] == pytest.approx(0.04)
    assert eng["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert eng["spark.input_records"] == 200
    assert eng["spark.task_skew"] == pytest.approx(400 / 250)  # stage 0: max 400, median 250
    by = eventlog.by_callsite(log, eventlog.jobs_in(log, 900, 2000))
    assert by["hashio_spark/cli.py"]["jobs"] == 1 and by["<jvm-writer>"]["spark.tasks"] == 1
    assert [r["stage"] for r in eventlog.stage_table(log, log.jobs)] == [0, 2, 1]


# -- metric names --------------------------------------------------------------


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fake_bench(workload):
    b = run.Bench.__new__(run.Bench)
    b.wl = type("W", (), {"n_docs": 1000, "name": workload})()
    b.tracer = Tracer()
    b.host = {"load1_start": 0.5}
    return b


def _fake_op(i, start):
    return {"i": i, "wall_s": 2.0 + i, "cpu": {"driver": 0.1, "jvm": 3.0, "python_workers": 1.0},
            "steal_share": 0.01, "start_ms": start, "end_ms": start + 2000, "error": None}


def test_end_to_end_names_are_declared():
    b = _fake_bench("validate_cli")
    setup = {"setup_s": 10.0, "session_start_s": 5.0, "warmup_s": 5.0}
    peak = {"total": 900.0, "driver": 100.0, "jvm": 700.0, "python_workers": 100.0}
    m = b.end_to_end(setup, [_fake_op(0, 0), _fake_op(1, 5000)], peak)
    assert set(m) == {e["name"] for e in _declared()["end_to_end"]}
    assert all(v > 0 for v in m.values())


@pytest.mark.parametrize("workload", ["validate_cli", "neardup"])
def test_per_layer_names_are_declared(log, workload):
    b = _fake_bench(workload)
    setup = {"setup_s": 10.0, "session_start_s": 5.0, "warmup_s": 5.0}
    peak = {"total": 900.0, "driver": 100.0, "jvm": 700.0, "python_workers": 100.0}
    m, folded = b.per_layer(setup, [_fake_op(1, 900)], peak, _fake_op(0, 0), log, {})
    assert set(m) == {e["name"] for e in _declared()["per_layer"]}
    assert folded[0]["by_callsite"]


def test_declared_workloads_exist():
    from workloads import WORKLOADS

    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)


# -- process tree and the bare-directory contract ------------------------------


def test_cpu_by_role_counts_this_process():
    sum(i * i for i in range(200_000))
    cpu = proctree.cpu_by_role()
    assert set(cpu) == set(proctree.ROLES) and cpu["driver"] > 0
    assert proctree.rss_by_role()["driver"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "neardup", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout

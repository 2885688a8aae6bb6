"""``python bench.py`` prints one JSON line whose value is the sum of its legs."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line_of_leg_times():
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "q1_pricing_summary"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"metric", "value", "unit", "sf", "queries"}
    assert out["queries"]["q1_pricing_summary"] > 0
    assert out["value"] == pytest.approx(sum(out["queries"].values()), abs=1e-3)

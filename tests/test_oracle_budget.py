"""The full-registry oracle gate must fit a driver-sized wall budget.

Round 4's driver correctness file truncated at 50 of 85 registry entries —
the registry grew past the gate's wall budget and nobody noticed until the
verdict.  This test runs the ENTIRE local gate replica under a budget so
CI catches that drift first (r4 VERDICT next-round #6).

Budget calibration: the local replica, at the host's core count
(``get_spark`` default), measured ~85s for 86 queries on 4 vCPUs (Spark
local[4] + DuckDB) and ~111s at local[8] before; 240s gives >2x margin
for machine noise while still tripping if per-query cost or registry size
grows past what round 4's wall-bounded gate absorbed.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "oracle_check.py")
GATE_BUDGET_S = 240.0


def _run(*argv):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, TOOL, *argv], capture_output=True, text=True, env=env,
        timeout=GATE_BUDGET_S * 3,
    )


def test_full_registry_fits_gate_budget():
    from hashio_spark.queries import REGISTRY

    proc = _run("--budget", str(GATE_BUDGET_S))
    out = proc.stdout
    assert "BUDGET EXCEEDED" not in out, out[-2000:]
    assert proc.returncode == 0, (out[-2000:], proc.stderr[-1000:])
    assert f"checked {len(REGISTRY)} failures 0" in out, out[-500:]


def test_budget_exhaustion_reports_unchecked():
    proc = _run("--budget", "0")
    assert proc.returncode == 1
    assert "BUDGET EXCEEDED" in proc.stdout
    assert "UNCHECKED" in proc.stdout

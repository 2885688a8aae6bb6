"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement — this file holds the builder-side instrumentation).

Modes:
  python bench_extra.py catalog [q1 q2 ...]   time registry queries like
      bench.py section 3 does (same session factory, same ``.count()``
      methodology, min-of-2 for legs >1s), at $SPARK_GRAFT_SF_DIR.
  python bench_extra.py noop [q1 q2 ...]      same legs but through the
      noop sink (guide §1.4) — computes EVERY column, isolates the
      computation from count()'s column pruning.
  python bench_extra.py plans [q1 q2 ...]     write .explain("formatted")
      for each query to plans/r06/<q>_<tag>.txt (PLAN_TAG env, default
      "now").

Output: one JSON line {"queries": {...}, "sf": ..., "mode": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from hashio_spark.session import host_cores  # noqa: E402

CPUS = host_cores()
# tmpfs shuffle, same as bench.py (must precede any JVM)
_SHUFFLE_DIR = os.environ.get("BENCH_SHUFFLE_DIR", "/dev/shm/hashio-spark-shuffle")
os.makedirs(_SHUFFLE_DIR, exist_ok=True)
os.environ.setdefault("SPARK_LOCAL_DIRS", _SHUFFLE_DIR)


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "catalog"
    names = sys.argv[2:]

    from hashio_spark.queries import REGISTRY
    from hashio_spark.session import get_spark

    if not names:
        names = list(REGISTRY)
    spark = get_spark(app="bench-extra", cores=CPUS)
    qtimes: dict[str, float] = {}

    if mode == "plans":
        tag = os.environ.get("PLAN_TAG", "now")
        outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            fn, _sql = REGISTRY[name]
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
                f.write(plan)
            print(f"# wrote {name}_{tag}.txt", file=sys.stderr)
        print(json.dumps({"mode": mode, "sf": SF_DIR, "queries": list(names)}))
        return

    def run_once(name, fn):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        if mode == "noop":
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            n = -1
        else:
            n = fn(spark, SF_DIR).count()
        return time.monotonic() - t0, n

    for name in names:
        fn, _sql = REGISTRY[name]
        best, n = None, 0
        for _ in range(2):
            dt, n = run_once(name, fn)
            best = dt if best is None or dt < best else best
            if best <= 1.0:
                break
        qtimes[name] = round(best, 3)
        print(f"# {name}: {qtimes[name]}s rows={n}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"mode": mode, "sf": SF_DIR, "queries": qtimes,
                      "total": round(sum(qtimes.values()), 3)}))


if __name__ == "__main__":
    main()

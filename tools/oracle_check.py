"""Local replica of the driver's correctness gate: run every REGISTRY query
on Spark and its oracle SQL on DuckDB at sf0.01, compare row count + column
names + order-insensitive value hash.  Usage:

    PYTHONPATH=/root/repo python tools/oracle_check.py [--budget SECONDS] [name ...]

``--budget`` mirrors the driver's wall-time-bounded behavior (round 4's
driver file truncated at 50/85 registry entries): stop checking when the
budget is exceeded, report coverage, and exit 1 — so CI catches "the
registry grew past the gate" before the driver does.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # repr-stable doubles: round-trip via 17g then normalize -0.0
        if v == 0:
            v = 0.0
        return format(v, ".12g")
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main(names, budget: float | None = None):
    from hashio_spark.queries import REGISTRY
    from hashio_spark.session import get_spark

    t_start = time.monotonic()
    spark = get_spark(app="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    failures = 0
    checked = 0
    unchecked: list[str] = []
    for name, (fn, sql) in REGISTRY.items():
        if names and name not in names:
            continue
        if budget is not None and time.monotonic() - t_start > budget:
            unchecked.append(name)
            continue
        checked += 1
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if sql is None:
            print(f"ok?  {name}: rows-only (no oracle), rows={len(s_rows)}")
            continue
        try:
            # HUGEINT/DECIMAL oracle columns round-trip differently through
            # pandas/Arrow on the driver side (uncast integer SUMs are the
            # classic cause — round-1 sessionize/rollup mismatches): flag
            # them even when the string-compare below would pass.
            rel = con.sql(sql)
            bad_types = [
                f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
                if "HUGEINT" in str(t) or "DECIMAL" in str(t)
            ]
            if bad_types:
                print(f"WARN {name}: oracle col types not driver-safe: {bad_types} — cast to BIGINT/DOUBLE")
                failures += 1
            cur = con.execute(sql)
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs, hd = frame_hash(s_cols, s_rows), frame_hash(d_cols, d_rows)
            if hs != hd:
                problems.append(f"valuehash spark={hs} duck={hd}")
                # show first differing line for debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in s_rows)
                ld = sorted("|".join(norm_cell(r[i]) for i in order_d) for r in d_rows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  first diff:\n   spark: {a[:220]}\n   duck : {b[:220]}")
                        break
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name}: rows={len(s_rows)}")
    spark.stop()
    elapsed = time.monotonic() - t_start
    print(f"# elapsed {elapsed:.1f}s checked {checked} failures {failures}")
    if unchecked:
        print(
            f"# BUDGET EXCEEDED ({budget:.0f}s): {len(unchecked)} queries UNCHECKED: "
            + ", ".join(unchecked[:8])
            + (", ..." if len(unchecked) > 8 else "")
        )
    sys.exit(1 if failures or unchecked else 0)


if __name__ == "__main__":
    args = sys.argv[1:]
    budget = None
    if args and args[0] == "--budget":
        budget = float(args[1])
        args = args[2:]
    main(set(args), budget=budget)

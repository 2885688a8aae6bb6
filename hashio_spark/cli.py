"""spark-submit entry point.

    spark-submit --py-files hashio_spark.zip -m hashio_spark.cli  # or:
    spark-submit --py-files hashio_spark.zip cli.py validate \
        --input /path/docs.parquet --catalog /path/catalog.parquet \
        --manifest /path/manifest --run-id run1 --algo xxh64

Subcommands mirror the reference CLI surface
(``/root/reference/lib/hashio/cli.py``): validate (hash+verify analog),
verify (manifest vs live), diff (snapshot diff), query (manifest filter).
Resume is automatic: completed (run_id, partition_id, algo) rows are
anti-joined away before compute.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(args) -> SparkSession:
    b = SparkSession.builder.appName("hashio-spark")
    if args.master:
        b = b.master(args.master)
    return b.getOrCreate()


def cmd_validate(args) -> int:
    from hashio_spark.caching import release
    from hashio_spark.plans.validate import manifest_rows, validate
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    # ordered-unique input paths (reference M3: duplicate CLI paths are
    # dropped keeping first occurrence, /root/reference/lib/hashio/cli.py:434)
    inputs = list(dict.fromkeys(args.input))
    quarantined = 0
    if getattr(args, "format", "parquet") == "jsonl":
        # flat (doc_id, text) JSONL corpus: quarantine bad lines, adapt
        # the good split into single-span interleaved docs and run the
        # FULL flagship pass on it (no separate validation code path)
        from pyspark.sql import types as T

        from hashio_spark.sources.jsonl import docs_from_text, quarantine_summary, read_jsonl_docs

        scan_schema = (T.StructType()
                       .add("doc_id", T.StringType())
                       .add("text", T.StringType()))
        batch = read_jsonl_docs(spark, inputs, scan_schema, required=("doc_id",))
        for r in quarantine_summary(batch.bad).collect():
            print(json.dumps({"check": "quarantine", "reason": r.reason,
                              "n_lines": r.n_lines}))
            quarantined += r.n_lines
        docs = docs_from_text(batch.good)
    else:
        docs = spark.read.parquet(*inputs)
        # North-rule input contract, gated scan-free BEFORE committing
        # executors to the pass: a wrong-shaped table fails here in
        # milliseconds with verdict rows and exit 1, not with a raw
        # AnalysisException an hour into a 100-TB job.  Metadata-only
        # (schema_verdicts reads df.schema in Python: no Spark job).
        from hashio_spark.operators.expectations import SchemaField, schema_verdicts

        contract = [
            SchemaField("doc_id", "string"),
            SchemaField(
                "spans",
                "array<struct<kind:string,text:string,media_ref:string,offset:int>>",
            ),
        ]
        bad = [v for v in schema_verdicts(docs, contract) if v[3] != "ok"]
        if bad:
            for column, expected, actual, status in bad:
                print(json.dumps({"check": "schema", "column": column,
                                  "expected": expected, "actual": actual,
                                  "status": status}))
            print(json.dumps({"status": "schema-contract-failed", "n_bad": len(bad)}))
            return 1
        if "partition_id" not in docs.columns:
            # the north-rule input carries only (doc_id, spans): derive
            # the partition key exactly like the JSONL adapter so
            # manifests/resume are layout-independent (sources/jsonl.py)
            docs = docs.withColumn(
                "partition_id",
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64)).cast("int"),
            )
    catalog = spark.read.parquet(args.catalog) if args.catalog else None
    store = ManifestStore(spark, args.manifest) if args.manifest else None

    # --algo accepts a comma list: first is primary, the rest are computed
    # in the same scan (reference manifests carry one digest per algo)
    algos = [a for a in args.algo.split(",") if a]
    algo, extra_algos = algos[0], tuple(algos[1:])

    if store is not None and args.resume:
        docs = store.pending_partitions(docs, args.run_id, algo)
        if not docs.head(1):
            print(json.dumps({"status": "nothing-to-do", "run_id": args.run_id}))
            return 0

    valid_checks = {"shape", "uniqueness", "referential"}
    checks = frozenset(args.checks.split(",")) if args.checks else frozenset(valid_checks)
    unknown = checks - valid_checks
    if unknown:
        # a typo must not silently disable a whole check class on a
        # validation tool (round-2 ADVICE): fail fast instead
        print(f"error: unknown --checks name(s): {sorted(unknown)}; "
              f"valid: {sorted(valid_checks)}", file=sys.stderr)
        return 2
    # one read of the corpus: validate() persists its per-doc frame; the
    # violations (persisted only when written) and the report derive from
    # it, and the report is materialized ONCE — merge, export and the
    # summary line all read that copy
    res = validate(docs, catalog, algo=algo, parity=args.parity, checks=checks,
                   extra_algos=extra_algos, with_sketches=args.sketches,
                   persist_violations=bool(args.violations_out))
    report = res.report.persist()
    try:
        if args.violations_out:
            res.violations.write.mode("overwrite").parquet(args.violations_out)
        rows = report.collect()
        if store is not None:
            store.merge(manifest_rows(res, args.run_id, algo, lineage=",".join(inputs),
                                      extra_algos=extra_algos))
        if args.export:
            from hashio_spark.sources.exporters import EXPORTERS

            EXPORTERS.write(report, args.export, "partition_id", algo)
    finally:
        report.unpersist()
        res.violations.unpersist()
        release(report)
    # an empty report sums to null, as SQL's sum() does
    line = {"run_id": args.run_id,
            "docs": sum(r["row_count"] for r in rows) if rows else None,
            "violations": sum(r["violation_count"] for r in rows) if rows else None}
    if quarantined:
        line["quarantined"] = quarantined
    print(json.dumps(line))
    return 0


def cmd_verify(args) -> int:
    from hashio_spark.operators.verify import verify_manifest
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    m1 = store.snapshot(args.run_id).select("partition_id", "digest")
    m2 = store.snapshot(args.other_run).select("partition_id", "digest")
    out = verify_manifest(m1, m2, key="partition_id", digest="digest")
    for r in out.filter(F.col("status") != "pass").orderBy("partition_id").collect():
        print(f"{r['status']} partition={r['partition_id']}")
    return 0


def cmd_diff(args) -> int:
    from hashio_spark.operators.verify import snapshot_diff
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    s1 = store.snapshot(args.run_id).select("partition_id", "digest")
    s2 = store.snapshot(args.other_run).select("partition_id", "digest")
    marks = {"added": "+", "removed": "-", "changed": "~"}
    for r in snapshot_diff(s1, s2, key="partition_id", digest="digest").orderBy("partition_id").collect():
        print(f"{marks[r['change']]} partition={r['partition_id']}")
    return 0


def cmd_dedupe(args) -> int:
    from hashio_spark.operators.verify import dedupe_manifests
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    t = store.snapshot(args.run_id).select("partition_id", "digest")
    s = store.snapshot(args.other_run).select("partition_id", "digest")
    out = dedupe_manifests(t, s, key="partition_id", digest="digest")
    for r in out.groupBy("category").agg(F.count(F.lit(1)).alias("n")).orderBy("category").collect():
        print(f"{r['category']}: {r['n']}")
    return 0


def _glob_rlike(pattern: str) -> str:
    """fnmatch-style glob → fully-anchored Java regex for RLIKE (the
    reference's wildcard query filter, ``/root/reference/lib/hashio/
    cache.py:364-412``, uses SQL LIKE with ``*``→``%`` rewriting)."""
    import fnmatch

    return "\\A" + fnmatch.translate(pattern)


def cmd_query(args) -> int:
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    df = store.read()
    if args.run_id:
        df = df.filter(F.col("run_id") == args.run_id)
    if args.algo:
        df = df.filter(F.col("algo") == args.algo)
    if args.since:
        df = df.filter(F.col("updated_at") >= F.lit(args.since).cast("timestamp"))
    if args.path_like:
        df = df.filter(F.col("lineage").rlike(_glob_rlike(args.path_like)))
    if args.digest_like:
        df = df.filter(F.col("digest").rlike(_glob_rlike(args.digest_like)))
    for r in df.orderBy("run_id", "partition_id").collect():
        print(f"{r['run_id']} {r['partition_id']} {r['algo']} {r['digest']} {r['row_count']}")
    return 0


def cmd_drift(args) -> int:
    """Per-partition PSI between two stored runs' quality histograms —
    the stored-baseline drift check of the north rule; manifest-sized
    work, never rescans the document table."""
    from hashio_spark.operators.drift import manifest_drift
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    out = manifest_drift(store, args.run_id, args.other_run, threshold=args.threshold)
    n_drifted = 0
    for r in out.orderBy("partition_id").collect():
        mark = "!" if r["drifted"] else " "
        n_drifted += int(r["drifted"])
        print(f"{mark} partition={r['partition_id']} psi={r['psi']:.6f}")
    print(json.dumps({"run_a": args.run_id, "run_b": args.other_run, "drifted_partitions": n_drifted}))
    return 0


def cmd_trend(args) -> int:
    """Drift trend across the store's run history (consecutive-pair PSI
    series from stored histograms — manifest-sized work, the corpus is
    never rescanned)."""
    from hashio_spark.operators.drift import drift_timeseries
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    rows = drift_timeseries(store, runs=args.run_id or None,
                            threshold=args.threshold).collect()
    for r in rows:
        print(json.dumps({"run_a": r.run_a, "run_b": r.run_b,
                          "n_partitions": r.n_partitions, "n_drifted": r.n_drifted,
                          "max_psi": r.max_psi, "mean_psi": r.mean_psi}))
    print(json.dumps({"pairs": len(rows),
                      "drifted_pairs": sum(1 for r in rows if r.n_drifted)}))
    return 0


def cmd_distinct(args) -> int:
    """Distinct doc_id estimate from stored manifest HLL sketches
    (written by ``validate --sketches``) — manifest-sized work, the
    corpus is never rescanned; the union de-overlaps runs correctly."""
    from hashio_spark.operators.sketches import merged_distinct
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    m = store.read()
    if args.run_id:
        m = m.filter(F.col("run_id").isin(args.run_id))
    per = {r["run_id"]: r["distinct_estimate"]
           for r in merged_distinct(m, by=("run_id",)).collect()}
    if not per:
        print(json.dumps({"error": "no sketch-bearing manifest rows",
                          "hint": "write runs with: validate --sketches"}))
        return 1
    total = merged_distinct(m).first()["distinct_estimate"]
    print(json.dumps({"runs": per, "distinct_across_runs": total}))
    return 0


def cmd_probe(args) -> int:
    """Point-lookup gate from STORED bloom fingerprints: which (run,
    partition) cells MIGHT hold each probed doc_id?  Manifest-sized work
    — the corpus is never rescanned; a key with no hits was definitely
    never validated (blooms have no false negatives)."""
    from hashio_spark.operators.sketches import manifest_probe
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    m = store.read()
    if args.run_id:
        m = m.filter(F.col("run_id").isin(args.run_id))
    probes = spark.createDataFrame([(k,) for k in args.key], "doc_id string")
    hits = manifest_probe(m, probes).collect()
    if not hits and m.filter(
        F.map_contains_key(F.col("stats"), F.lit("doc_id_bloom"))
    ).isEmpty():
        print(json.dumps({"error": "no bloom-bearing manifest rows",
                          "hint": "write runs with: validate --sketches"}))
        return 1
    by_key: dict[str, list[str]] = {k: [] for k in args.key}
    for r in hits:
        by_key[r["doc_id"]].append(f"{r['run_id']}/{r['partition_id']}")
    for k, cells in sorted(by_key.items()):
        status = "maybe-present" if cells else "definitely-absent"
        print(f"{k}\t{status}\t{','.join(sorted(cells))}")
    print(json.dumps({"probed": len(args.key),
                      "maybe_present": sum(1 for c in by_key.values() if c)}))
    return 0


def cmd_outliers(args) -> int:
    """Partitions of a stored run whose row_count deviates ≥ threshold
    standard deviations from the run's other partitions — scored from
    manifest rows alone (operators/anomaly.py), no corpus rescan."""
    from hashio_spark.operators.anomaly import manifest_count_outliers
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    rows = manifest_count_outliers(
        store, args.run_id, z_threshold=args.z_threshold, algo=args.algo
    ).collect()
    for r in rows:
        print(f"! partition={r['partition_id']} rows={r['n']} z={r['z']:+.4f}")
    print(json.dumps({"run_id": args.run_id, "outlier_partitions": len(rows)}))
    return 0


def cmd_pack(args) -> int:
    """Pack documents into fixed token-budget training sequences and
    write the per-doc coordinates (+ optionally the per-sequence
    manifest) as parquet — the loader-side index of which docs build
    which sequence (operators/packing.py)."""
    from hashio_spark.operators.packing import pack_sequences, sequence_manifest

    spark = _spark(args)
    inputs = list(dict.fromkeys(args.input))
    docs = spark.read.parquet(*inputs)
    if args.tokens_col not in docs.columns:
        if args.text_col not in docs.columns:
            print(f"error: neither --tokens-col {args.tokens_col!r} nor "
                  f"--text-col {args.text_col!r} exists in the input", file=sys.stderr)
            return 2
        docs = docs.withColumn(args.tokens_col, F.size(F.split(F.col(args.text_col), " ")))
    packed = pack_sequences(
        docs.select(args.id_col, args.tokens_col),
        args.id_col, args.tokens_col, budget=args.budget, n_shards=args.shards,
    )
    packed.write.mode("overwrite").partitionBy("shard").parquet(args.out)
    if args.manifest_out:
        sequence_manifest(packed, args.tokens_col).write.mode("overwrite").parquet(args.manifest_out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"docs_packed": n, "budget": args.budget, "shards": args.shards, "out": args.out}))
    return 0


def cmd_gate(args) -> int:
    """Incremental ingest gate (operators/dedupe.ingest_gate): keep only
    input docs whose content digest is new vs ``--seen`` (a parquet with
    a digest column — e.g. a prior gate output or an exported manifest),
    deduped within the batch, and write them out with their digests."""
    from hashio_spark.functions.digests import digest_expr
    from hashio_spark.operators.dedupe import ingest_gate

    spark = _spark(args)
    inputs = list(dict.fromkeys(args.input))
    docs = spark.read.parquet(*inputs)
    incoming = docs.withColumn(args.digest_col, digest_expr(args.text_col, args.algo))
    if args.seen:
        seen = spark.read.parquet(args.seen).select(args.digest_col)
    else:
        seen = spark.createDataFrame([], f"{args.digest_col} string")
    kept = ingest_gate(incoming, seen, digest_col=args.digest_col, key_col=args.id_col)
    kept.write.mode("overwrite").parquet(args.out)
    n_in = docs.count()
    n_kept = spark.read.parquet(args.out).count()
    print(json.dumps({"input_docs": n_in, "kept": n_kept,
                      "dropped": n_in - n_kept, "algo": args.algo, "out": args.out}))
    return 0


def cmd_leakage(args) -> int:
    """Cross-split near-dup leakage audit (operators/sampling.
    split_leakage over the xxhash64-tier LSH candidate pairs): one JSON
    line per leaking split pair; exit 1 if any leakage was found (the
    CI-gate convention: a clean corpus exits 0)."""
    from hashio_spark.caching import release
    from hashio_spark.operators.dedupe import lsh_candidate_pairs, minhash_signatures
    from hashio_spark.operators.sampling import split_leakage

    spark = _spark(args)
    inputs = list(dict.fromkeys(args.input))
    docs = spark.read.parquet(*inputs)
    sig = minhash_signatures(docs, args.id_col, args.text_col,
                             n_perm=args.n_perm, shingle_k=args.shingle_k)
    cand = lsh_candidate_pairs(sig, n_bands=args.n_bands, n_perm=args.n_perm)
    pairs = cand.selectExpr("key_a as doc_a", "key_b as doc_b")
    report = split_leakage(pairs, seed=args.seed)
    rows = report.orderBy("split_a", "split_b").collect()
    release(cand)  # the tracked banding handle lives on the operator's own DF
    for r in rows:
        print(json.dumps({"split_a": r.split_a, "split_b": r.split_b,
                          "n_pairs": r.n_pairs, "n_docs": r.n_docs}))
    print(json.dumps({"leaking_split_pairs": len(rows),
                      "leaked_pairs": sum(r.n_pairs for r in rows)}))
    return 1 if rows else 0


def cmd_history(args) -> int:
    """Audit trail for one partition across the run history (manifest-only:
    digest/row_count/lineage per run, changed = digest moved vs the same
    algo's previous run)."""
    from hashio_spark.operators.verify import partition_history
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    # manifest partition_id is integral; accept "3" from the shell
    pid = int(args.partition_id) if str(args.partition_id).lstrip("-").isdigit() else args.partition_id
    rows = partition_history(store, pid, algo=args.algo).collect()
    for r in rows:
        print(json.dumps({"run_id": r.run_id, "algo": r.algo, "digest": r.digest,
                          "row_count": r.row_count, "changed": bool(r.changed),
                          "lineage": r.lineage, "updated_at": str(r.updated_at)}))
    print(json.dumps({"partition_id": args.partition_id, "entries": len(rows),
                      "changes": sum(1 for r in rows if r.changed)}))
    return 0


def cmd_expect(args) -> int:
    """Declarative data-quality gate (operators/expectations): evaluate a
    JSON rules file against the input table, one verdict line per
    (slice, rule), exit 1 on any failure — the CI convention.  The rules
    file is a dict with optional keys:

    * ``schema``: [{"name", "dtype", "nullable"?}] — scan-free physical
      schema contract, checked FIRST (a wrong-typed column fails before
      any executor time is spent);
    * ``rules``: [{"column", "metric", "op", "bound"}] (bound is a
      scalar, or [lo, hi] for op "between");
    * ``by``: slice column(s) for per-group evaluation.

    ``--format jsonl`` flips the schema block from a post-hoc check to
    the SCAN contract (sources/jsonl): corrupt lines are quarantined,
    reported, and fail the gate; metric rules run on the good split.
    """
    from hashio_spark.operators.expectations import (
        Expectation, SchemaField, schema_verdicts, evaluate_expectations,
    )

    with open(args.rules) as f:
        spec = json.load(f)
    spark = _spark(args)
    inputs = list(dict.fromkeys(args.input))
    quarantined = 0
    if args.format == "jsonl":
        # JSONL tier: schema comes FROM the contract (enforced at the
        # scan); corrupt lines are quarantined, reported, and fail the
        # gate — but the metric rules still run on the good split
        from pyspark.sql import types as T

        from hashio_spark.sources.jsonl import quarantine_summary, read_jsonl_docs

        if not spec.get("schema"):
            print(json.dumps({"error": "jsonl format needs a schema block in the rules file"}),
                  file=sys.stderr)
            return 2
        scan_schema = T.StructType([
            T.StructField(s["name"], T._parse_datatype_string(s["dtype"]), s.get("nullable", True))
            for s in spec["schema"]
        ])
        required = tuple(s["name"] for s in spec["schema"] if not s.get("nullable", True))
        batch = read_jsonl_docs(spark, inputs, scan_schema,
                                required=required or (spec["schema"][0]["name"],))
        for r in quarantine_summary(batch.bad).collect():
            print(json.dumps({"check": "quarantine", "reason": r.reason,
                              "n_lines": r.n_lines}))
            quarantined += r.n_lines
        df = batch.good
    else:
        df = spark.read.parquet(*inputs)

    failed = 0
    if args.format != "jsonl":
        # parquet tier: the schema contract is checked against the
        # physical file schema (jsonl already ENFORCED it at the scan —
        # re-checking there would only flag Spark's forced-nullable read)
        for column, expected, actual, status in schema_verdicts(
                df, [SchemaField(s["name"], s["dtype"], s.get("nullable", True))
                     for s in spec.get("schema", [])],
                strict=spec.get("strict_schema", False)):
            print(json.dumps({"check": "schema", "column": column, "expected": expected,
                              "actual": actual, "status": status}))
            failed += status != "ok"
        if failed:
            # schema violations make metric bounds meaningless — stop before the scan
            print(json.dumps({"schema_failed": failed, "rules_run": False}))
            return 1

    rules = [Expectation(r["column"], r["metric"], r["op"],
                         tuple(r["bound"]) if isinstance(r["bound"], list) else float(r["bound"]))
             for r in spec.get("rules", [])]
    if rules:
        by = spec.get("by")
        for r in evaluate_expectations(df, rules, by=by).collect():
            d = r.asDict()
            print(json.dumps({k: v for k, v in d.items()}, default=str))
            failed += not r.passed
    failed += quarantined
    print(json.dumps({"n_failed": failed, "quarantined": quarantined,
                      "passed": failed == 0}))
    return 1 if failed else 0


def cmd_migrate(args) -> int:
    """Re-layout a pre-partitioning legacy manifest store (reference
    ``--update-cache``, ``/root/reference/lib/hashio/cli.py:338-343``)."""
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    n = store.migrate(keep_backup=not args.drop_backup)
    print(json.dumps({"manifest": args.manifest, "migrated_rows": n,
                      "runs": store.list_runs()}))
    return 0


def cmd_list(args) -> int:
    """List run snapshots (reference ``--list-snapshots``,
    ``/root/reference/lib/hashio/cli.py:368-377``)."""
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    for rid in store.list_runs():
        print(rid)
    return 0


def cmd_drop(args) -> int:
    """Delete one run's manifest rows (reference snapshot delete,
    ``/root/reference/lib/hashio/cache.py:463-472``)."""
    from hashio_spark.sources.manifest_store import ManifestStore

    spark = _spark(args)
    store = ManifestStore(spark, args.manifest)
    deleted = store.delete(args.run_id)
    print(json.dumps({"run_id": args.run_id, "deleted": deleted}))
    return 0 if deleted else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hashio-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate")
    v.add_argument("--input", required=True, action="append",
                   help="input parquet path; repeatable, duplicates dropped keeping order")
    v.add_argument("--catalog")
    v.add_argument("--manifest")
    v.add_argument("--run-id", default="run")
    v.add_argument("--algo", default="xxh64",
                   help="null|md5|sha256|sha512|crc32|xxh64|xxh3_64|xxh3_128|c4|fast; "
                        "comma list computes extra algos in the same scan")
    v.add_argument("--parity", action="store_true")
    v.add_argument("--resume", action="store_true")
    v.add_argument("--violations-out")
    v.add_argument("--checks", help="comma list of shape,uniqueness,referential (default all)")
    v.add_argument("--export", help="also export the report manifest (.json/.txt/.mhl by extension)")
    v.add_argument("--sketches", action="store_true",
                   help="store per-partition HLL doc_id sketches in the manifest (enables `distinct`)")
    v.add_argument("--format", default="parquet", choices=["parquet", "jsonl"],
                   help="jsonl: flat (doc_id, text) lines — bad lines quarantined, good adapted to single-span docs")
    v.set_defaults(fn=cmd_validate)

    for name, fn in (("verify", cmd_verify), ("diff", cmd_diff)):
        s = sub.add_parser(name)
        s.add_argument("--manifest", required=True)
        s.add_argument("--run-id", required=True)
        s.add_argument("--other-run", required=True)
        s.set_defaults(fn=fn)

    d = sub.add_parser("dedupe", help="cross-manifest 4-category dedupe (dedupe_cache_gen analog)")
    d.add_argument("--manifest", required=True)
    d.add_argument("--run-id", required=True)
    d.add_argument("--other-run", required=True)
    d.set_defaults(fn=cmd_dedupe)

    q = sub.add_parser("query")
    q.add_argument("--manifest", required=True)
    q.add_argument("--run-id")
    q.add_argument("--algo")
    q.add_argument("--since")
    q.add_argument("--path-like", help="glob filter on lineage path (reference wildcard query)")
    q.add_argument("--digest-like", help="glob filter on digest")
    q.set_defaults(fn=cmd_query)

    dft = sub.add_parser("drift", help="per-partition PSI between two stored runs' quality histograms")
    dft.add_argument("--manifest", required=True)
    dft.add_argument("--run-id", required=True)
    dft.add_argument("--other-run", required=True)
    dft.add_argument("--threshold", type=float, default=0.25)
    dft.set_defaults(fn=cmd_drift)

    tr = sub.add_parser("trend", help="consecutive-pair drift series across the store's run history")
    tr.add_argument("--manifest", required=True)
    tr.add_argument("--run-id", action="append",
                    help="explicit run order (repeatable); default: all runs by updated_at")
    tr.add_argument("--threshold", type=float, default=0.25)
    tr.set_defaults(fn=cmd_trend)

    pk = sub.add_parser("pack", help="pack documents into fixed token-budget training sequences")
    pk.add_argument("--input", required=True, action="append")
    pk.add_argument("--out", required=True, help="per-doc (shard, seq_id, pos) coordinates, parquet partitioned by shard")
    pk.add_argument("--manifest-out", help="also write the per-sequence manifest parquet")
    pk.add_argument("--budget", type=int, default=2048)
    pk.add_argument("--shards", type=int, default=1024)
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--tokens-col", default="n_tokens")
    pk.add_argument("--text-col", default="text",
                    help="fallback: derive the token count from this column when --tokens-col is absent")
    pk.set_defaults(fn=cmd_pack)

    dct = sub.add_parser("distinct", help="distinct doc_id estimate from stored manifest HLL sketches (no corpus rescan)")
    dct.add_argument("--manifest", required=True)
    dct.add_argument("--run-id", action="append", help="restrict to these runs (repeatable); default all")
    dct.set_defaults(fn=cmd_distinct)

    ol = sub.add_parser("outliers", help="partitions whose stored row_count deviates from the run's peers (manifest-only)")
    ol.add_argument("--manifest", required=True)
    ol.add_argument("--run-id", required=True)
    ol.add_argument("--z-threshold", type=float, default=3.0)
    ol.add_argument("--algo", help="score one algo's rows (default: dedupe per partition)")
    ol.set_defaults(fn=cmd_outliers)

    pb = sub.add_parser("probe", help="bloom point-lookup: which stored (run, partition) cells might hold these doc_ids")
    pb.add_argument("--manifest", required=True)
    pb.add_argument("--run-id", action="append", help="restrict to these runs (repeatable); default all")
    pb.add_argument("key", nargs="+", help="doc_ids to probe")
    pb.set_defaults(fn=cmd_probe)

    gt = sub.add_parser("gate", help="incremental ingest gate: keep docs content-new vs a seen-digest parquet")
    gt.add_argument("--input", required=True, action="append")
    gt.add_argument("--seen", help="parquet with a digest column (prior gate output / exported manifest); omit = keep all, deduped")
    gt.add_argument("--out", required=True)
    gt.add_argument("--algo", default="xxh64")
    gt.add_argument("--id-col", default="doc_id")
    gt.add_argument("--text-col", default="text")
    gt.add_argument("--digest-col", default="digest")
    gt.set_defaults(fn=cmd_gate)

    lk = sub.add_parser("leakage", help="cross-split near-dup leakage audit over LSH candidate pairs (exit 1 if leaking)")
    lk.add_argument("--input", required=True, action="append")
    lk.add_argument("--id-col", default="doc_id")
    lk.add_argument("--text-col", default="text")
    lk.add_argument("--n-perm", type=int, default=16)
    lk.add_argument("--n-bands", type=int, default=4)
    lk.add_argument("--shingle-k", type=int, default=3)
    lk.add_argument("--seed", default="s42")
    lk.set_defaults(fn=cmd_leakage)

    hi = sub.add_parser("history", help="one partition's audit trail across runs (manifest-only 'git log' for a slice)")
    hi.add_argument("--manifest", required=True)
    hi.add_argument("--partition-id", required=True)
    hi.add_argument("--algo", default=None)
    hi.set_defaults(fn=cmd_history)

    ex = sub.add_parser("expect", help="declarative schema + metric expectations from a JSON rules file (exit 1 on any failure)")
    ex.add_argument("--input", required=True, action="append")
    ex.add_argument("--rules", required=True, help="JSON file: {schema: [...], rules: [...], by: col}")
    ex.add_argument("--format", default="parquet", choices=["parquet", "jsonl"],
                    help="jsonl: schema block drives the scan; corrupt lines are quarantined and fail the gate")
    ex.set_defaults(fn=cmd_expect)

    mg = sub.add_parser("migrate", help="re-layout a legacy unpartitioned manifest store (--update-cache analog)")
    mg.add_argument("--manifest", required=True)
    mg.add_argument("--drop-backup", action="store_true",
                    help="delete the .legacy-backup dir after a successful migration")
    mg.set_defaults(fn=cmd_migrate)

    ls = sub.add_parser("list", help="list run snapshots (--list-snapshots analog)")
    ls.add_argument("--manifest", required=True)
    ls.set_defaults(fn=cmd_list)

    dr = sub.add_parser("drop", help="delete one run's manifest rows (snapshot delete analog)")
    dr.add_argument("--manifest", required=True)
    dr.add_argument("--run-id", required=True)
    dr.set_defaults(fn=cmd_drop)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit CLI surface: validate/query/list/drop round-trip and the
--checks typo guard (reference CLI analogs:
/root/reference/lib/hashio/cli.py:368-377 list-snapshots,
cache.py:463-472 delete, cache.py:364-412 wildcard query)."""

import json

import pytest

from hashio_spark.cli import main


@pytest.fixture(scope="module")
def io_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    from hashio_spark.datagen import asset_catalog, documents_interleaved

    docs = documents_interleaved(spark, n_docs=200, n_partitions=4)
    docs.write.mode("overwrite").parquet(str(root / "docs.parquet"))
    asset_catalog(spark, 100).write.mode("overwrite").parquet(str(root / "catalog.parquet"))
    return {
        "docs": str(root / "docs.parquet"),
        "catalog": str(root / "catalog.parquet"),
        "manifest": str(root / "manifest"),
    }


def test_checks_typo_fails_fast(io_dirs, capsys):
    """'--checks shap' must error out, not silently skip the shape class
    (round-2 ADVICE: dangerous for a validation tool)."""
    rc = main([
        "validate", "--input", io_dirs["docs"], "--catalog", io_dirs["catalog"],
        "--checks", "shap,uniqueness",
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "shap" in err and "unknown" in err


def test_validate_list_query_drop_roundtrip(io_dirs, capsys):
    rc = main([
        "validate", "--input", io_dirs["docs"], "--catalog", io_dirs["catalog"],
        "--manifest", io_dirs["manifest"], "--run-id", "runA", "--algo", "md5",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["run_id"] == "runA" and out["docs"] == 200

    rc = main([
        "validate", "--input", io_dirs["docs"], "--catalog", io_dirs["catalog"],
        "--manifest", io_dirs["manifest"], "--run-id", "runB", "--algo", "md5",
    ])
    assert rc == 0
    capsys.readouterr()

    assert main(["list", "--manifest", io_dirs["manifest"]]) == 0
    assert capsys.readouterr().out.split() == ["runA", "runB"]

    # wildcard filters: digest glob + lineage (path) glob
    assert main(["query", "--manifest", io_dirs["manifest"], "--run-id", "runA",
                 "--digest-like", "*"]) == 0
    n_all = len(capsys.readouterr().out.strip().splitlines())
    assert n_all > 0
    assert main(["query", "--manifest", io_dirs["manifest"],
                 "--path-like", "*docs.parquet"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 2 * n_all  # both runs
    assert main(["query", "--manifest", io_dirs["manifest"],
                 "--path-like", "*nope*"]) == 0
    assert capsys.readouterr().out.strip() == ""

    assert main(["drop", "--manifest", io_dirs["manifest"], "--run-id", "runA"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["deleted"] is True
    assert main(["list", "--manifest", io_dirs["manifest"]]) == 0
    assert capsys.readouterr().out.split() == ["runB"]
    # dropping again reports nothing to delete
    assert main(["drop", "--manifest", io_dirs["manifest"], "--run-id", "runA"]) == 1


def test_validate_multi_input_ordered_unique(io_dirs, spark, tmp_path, capsys):
    """M3: --input is repeatable; duplicate paths are dropped keeping
    first occurrence (reference cli.py:434); distinct paths union."""
    # duplicate of the same path: must NOT double the docs
    rc = main([
        "validate", "--input", io_dirs["docs"], "--input", io_dirs["docs"],
        "--catalog", io_dirs["catalog"],
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 200

    # two distinct paths: union (doc_ids deliberately collide -> the
    # uniqueness check sees them, proving both inputs were scanned)
    from hashio_spark.datagen import documents_interleaved

    second = str(tmp_path / "docs2.parquet")
    documents_interleaved(spark, n_docs=50, n_partitions=2).write.parquet(second)
    rc = main([
        "validate", "--input", io_dirs["docs"], "--input", second,
        "--catalog", io_dirs["catalog"],
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 250


def test_cli_validate_multi_algo(spark, tmp_path, capsys):
    """--algo md5,xxh64 lands one manifest row per (partition, algo) from
    a single validate pass."""
    import json as _json

    from hashio_spark.cli import main
    from hashio_spark.datagen import documents_interleaved
    from hashio_spark.sources.manifest_store import ManifestStore

    inp = str(tmp_path / "docs.parquet")
    documents_interleaved(spark, n_docs=400, n_partitions=4).write.parquet(inp)
    manifest = str(tmp_path / "m")
    assert main(["validate", "--input", inp, "--manifest", manifest,
                 "--run-id", "r1", "--algo", "md5,xxh64"]) == 0
    _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rows = ManifestStore(spark, manifest).read().select("partition_id", "algo").collect()
    assert sorted((r["partition_id"], r["algo"]) for r in rows) == sorted(
        (p, a) for p in range(4) for a in ("md5", "xxh64"))


def test_pyfiles_zip_importable(tmp_path):
    """The --py-files artifact must be importable straight from the zip
    (what spark-submit does on each executor's sys.path): build it, wipe
    hashio_spark from sys.modules, import the full module graph from the
    zip only."""
    import importlib
    import subprocess
    import sys

    out = str(tmp_path / "hashio_spark.zip")
    import tools.make_pyfiles as mk

    names = mk.build(out)
    assert "hashio_spark/cli.py" in names and "hashio_spark/plans/validate.py" in names
    assert not any("tests/" in n or "__pycache__" in n for n in names)
    # import in a clean interpreter with ONLY the zip on the path
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import hashio_spark.plans.validate, hashio_spark.cli, "
        "hashio_spark.queries, hashio_spark.sources.manifest_store; "
        "assert hashio_spark.__file__.startswith(%r); print('zip-import-ok')"
    ) % (out, out)
    env = {k: v for k, v in __import__("os").environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, env=env)
    assert r.returncode == 0 and "zip-import-ok" in r.stdout, r.stderr


def test_cli_sketches_distinct_roundtrip(io_dirs, capsys, tmp_path_factory):
    """validate --sketches stores HLL sketches; `distinct` answers from
    manifests alone, de-overlapping runs (both runs hash the same docs,
    so across-runs distinct ≈ one run's, not the sum)."""
    root = tmp_path_factory.mktemp("sketch")
    man = str(root / "manifest")
    for run in ("skA", "skB"):
        rc = main([
            "validate", "--input", io_dirs["docs"], "--manifest", man,
            "--run-id", run, "--algo", "xxh64", "--checks", "shape", "--sketches",
        ])
        assert rc == 0
    capsys.readouterr()
    assert main(["distinct", "--manifest", man]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["runs"]) == {"skA", "skB"}
    for est in out["runs"].values():
        assert abs(est - 200) / 200 < 0.05
    assert abs(out["distinct_across_runs"] - 200) / 200 < 0.05

    # single-run restriction
    assert main(["distinct", "--manifest", man, "--run-id", "skA"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["runs"]) == {"skA"}


def test_cli_distinct_without_sketches_errors(io_dirs, capsys):
    """A store whose runs were written without --sketches reports the
    gap loudly instead of returning an empty estimate."""
    assert main(["distinct", "--manifest", io_dirs["manifest"]]) == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "sketch" in out["hint"]


def test_cli_pack_roundtrip(spark, tmp_path, capsys):
    """pack derives token counts from text when absent, writes per-doc
    coordinates partitioned by shard plus the sequence manifest, and the
    two reconcile."""
    src = str(tmp_path / "docs.parquet")
    spark.range(300).selectExpr(
        "cast(id AS string) AS doc_id",
        "repeat('w ', cast(id % 40 + 1 AS int)) AS text",
    ).write.mode("overwrite").parquet(src)
    out, man = str(tmp_path / "packed"), str(tmp_path / "seqman")
    rc = main([
        "pack", "--input", src, "--out", out, "--manifest-out", man,
        "--budget", "64", "--shards", "4",
    ])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["docs_packed"] == 300
    packed = spark.read.parquet(out)
    manifest = spark.read.parquet(man)
    assert packed.count() == 300
    assert packed.select("shard").distinct().count() == 4
    # manifest totals reconcile with per-doc coordinates
    assert (
        manifest.groupBy().sum("n_docs").first()[0] == 300
        and manifest.groupBy().sum("total_tokens").first()[0]
        == packed.groupBy().sum("n_tokens").first()[0]
    )


def test_cli_pack_missing_columns_errors(spark, tmp_path, capsys):
    src = str(tmp_path / "nodocs.parquet")
    spark.range(5).selectExpr("cast(id AS string) AS doc_id").write.mode("overwrite").parquet(src)
    rc = main(["pack", "--input", src, "--out", str(tmp_path / "o")])
    assert rc == 2
    assert "text" in capsys.readouterr().err


def test_cli_gate_roundtrip(spark, tmp_path, capsys):
    """gate drops docs whose digest is in --seen plus batch-internal
    dupes, and the output parquet is itself a valid --seen for the next
    increment (chained gating)."""
    batch1 = str(tmp_path / "b1.parquet")
    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "doc_id long, text string"
    ).write.parquet(batch1)
    out1 = str(tmp_path / "out1")
    rc = main(["gate", "--input", batch1, "--out", out1, "--algo", "md5"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (res["input_docs"], res["kept"], res["dropped"]) == (3, 2, 1)

    batch2 = str(tmp_path / "b2.parquet")
    spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], "doc_id long, text string"
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    rc = main(["gate", "--input", batch2, "--seen", out1, "--out", out2, "--algo", "md5"])
    assert rc == 0
    kept = [r.doc_id for r in spark.read.parquet(out2).collect()]
    assert kept == [5]


def test_cli_leakage_exit_codes(spark, tmp_path, capsys):
    """leakage exits 1 with per-split JSON lines when near-dup pairs
    cross split boundaries, 0 on a corpus with no candidate pairs."""
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    leaky = str(tmp_path / "leaky.parquet")
    # 40 identical docs spread over doc_ids -> some land in different splits
    spark.createDataFrame(
        [(i, dup_text) for i in range(40)], "doc_id long, text string"
    ).write.parquet(leaky)
    rc = main(["leakage", "--input", leaky])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1
    assert lines[-1]["leaked_pairs"] > 0 and lines[-1]["leaking_split_pairs"] >= 1
    assert all({"split_a", "split_b", "n_pairs", "n_docs"} <= set(l) for l in lines[:-1])

    clean = str(tmp_path / "clean.parquet")
    texts = [(i, f"unique{i} totally different words here number {i} end") for i in range(10)]
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(clean)
    rc = main(["leakage", "--input", clean])
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["leaked_pairs"] == 0


def test_cli_probe_roundtrip(io_dirs, capsys, tmp_path_factory):
    """validate --sketches also stores doc_id bloom fingerprints; `probe`
    answers point lookups from manifests alone: present keys hit at least
    their own (run, partition) cell, bloom-less stores error loudly."""
    root = tmp_path_factory.mktemp("probe")
    man = str(root / "manifest")
    rc = main([
        "validate", "--input", io_dirs["docs"], "--manifest", man,
        "--run-id", "pbA", "--algo", "xxh64", "--checks", "shape", "--sketches",
    ])
    assert rc == 0
    capsys.readouterr()

    assert main(["probe", "--manifest", man, "doc-000000000007", "no-such-doc-xyz"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    summary = json.loads(out[-1])
    assert summary["probed"] == 2
    lines = {ln.split("\t")[0]: ln.split("\t") for ln in out[:-1]}
    assert lines["doc-000000000007"][1] == "maybe-present"
    assert any(c.startswith("pbA/") for c in lines["doc-000000000007"][2].split(","))
    # bloom has no false negatives, so absent-with-zero-hits is definitive
    assert lines["no-such-doc-xyz"][1] == "definitely-absent"


def test_cli_probe_without_blooms_errors(io_dirs, capsys):
    assert main(["probe", "--manifest", io_dirs["manifest"], "doc-000000000007"]) == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "bloom" in out["error"]


def test_cli_expect_gate(spark, tmp_path, capsys):
    """expect: schema contract stops before the scan; metric rules emit
    per-(slice, rule) verdicts; exit 1 on any failure (CI convention)."""
    docs = spark.createDataFrame(
        [(1, "hello world", "a"), (2, None, "a"), (3, "ok", "b")],
        "doc_id long, text string, grp string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "d.parquet"))

    rules = {
        "schema": [{"name": "doc_id", "dtype": "bigint"},
                   {"name": "text", "dtype": "string"}],
        "rules": [{"column": "text", "metric": "completeness", "op": ">=", "bound": 1.0},
                  {"column": "doc_id", "metric": "row_count", "op": ">=", "bound": 1.0}],
        "by": "grp",
    }
    rf = tmp_path / "rules.json"
    rf.write_text(json.dumps(rules))
    rc = main(["expect", "--input", str(tmp_path / "d.parquet"), "--rules", str(rf)])
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1  # grp a has a null text -> completeness fails
    verdicts = [d for d in out if "rule_id" in d]
    assert len(verdicts) == 4  # 2 groups x 2 rules
    assert out[-1] == {"n_failed": 1, "quarantined": 0, "passed": False}

    # schema mismatch: fails fast, rules never run
    rules_bad = {"schema": [{"name": "doc_id", "dtype": "string"}],
                 "rules": rules["rules"]}
    rf.write_text(json.dumps(rules_bad))
    rc = main(["expect", "--input", str(tmp_path / "d.parquet"), "--rules", str(rf)])
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1
    assert out[-1] == {"schema_failed": 1, "rules_run": False}
    assert not any("rule_id" in d for d in out)


def test_cli_expect_jsonl_quarantine(spark, tmp_path, capsys):
    """expect --format jsonl: schema block drives the scan; corrupt lines
    are quarantined (reported + fail the gate) while metric rules still
    run on the good split."""
    src = tmp_path / "c.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello"}\n'
        '{"doc_id": "oops", "text": "bad id type"}\n'
        "GARBAGE\n"
        '{"doc_id": 4, "text": "world"}\n'
    )
    rules = {
        "schema": [{"name": "doc_id", "dtype": "bigint", "nullable": False},
                   {"name": "text", "dtype": "string"}],
        "rules": [{"column": "text", "metric": "completeness", "op": ">=", "bound": 1.0}],
    }
    rf = tmp_path / "rules.json"
    rf.write_text(json.dumps(rules))
    rc = main(["expect", "--input", str(src), "--rules", str(rf), "--format", "jsonl"])
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 1
    q = {d["reason"]: d["n_lines"] for d in out if d.get("check") == "quarantine"}
    assert q == {"malformed": 1, "type": 1}
    verdicts = [d for d in out if "rule_id" in d]
    assert len(verdicts) == 1 and verdicts[0]["passed"]  # good split is clean
    assert out[-1] == {"n_failed": 2, "quarantined": 2, "passed": False}

    # clean corpus -> exit 0
    src.write_text('{"doc_id": 1, "text": "a"}\n{"doc_id": 2, "text": "b"}\n')
    rc = main(["expect", "--input", str(src), "--rules", str(rf), "--format", "jsonl"])
    out = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0 and out[-1]["passed"]


def test_validate_wrong_shape_fails_contract_not_analysis(spark, tmp_path, capsys):
    """A wrong-shaped parquet input (e.g. the flat TPC-H-ish documents
    table) must fail the scan-free schema contract with verdict rows and
    exit 1 — not surface a raw AnalysisException from deep inside the
    digest expression (round-5 verify probe)."""
    flat = spark.createDataFrame(
        [("d1", "hello", "en"), ("d2", "world", "fr")], "doc_id string, text string, lang string"
    )
    p = str(tmp_path / "flat.parquet")
    flat.write.mode("overwrite").parquet(p)
    rc = main(["validate", "--input", p])
    assert rc == 1
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["status"] == "schema-contract-failed"
    missing = {ln["column"] for ln in lines if ln.get("status") == "missing"}
    assert "spans" in missing


def test_validate_derives_partition_id_when_absent(spark, tmp_path, capsys):
    """The north-rule input carries only (doc_id, spans): partition_id is
    derived content-deterministically (same rule as the JSONL adapter),
    so the bare input-hint shape validates end to end."""
    from hashio_spark.datagen import documents_interleaved

    docs = documents_interleaved(spark, n_docs=100, n_partitions=4).drop(
        "partition_id", "quality"
    )
    p = str(tmp_path / "bare.parquet")
    docs.write.mode("overwrite").parquet(p)
    store = str(tmp_path / "m")
    rc = main(["validate", "--input", p, "--manifest", store, "--run-id", "bare"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 100

    # layout independence: a repartitioned copy produces the identical
    # manifest (partition_id is a pure content function)
    spark.read.parquet(p).repartition(7).write.mode("overwrite").parquet(
        str(tmp_path / "bare2.parquet")
    )
    rc = main(["validate", "--input", str(tmp_path / "bare2.parquet"),
               "--manifest", store, "--run-id", "bare2"])
    assert rc == 0
    capsys.readouterr()
    from hashio_spark.sources.manifest_store import ManifestStore

    st = ManifestStore(spark, store)
    mf = st.read()
    rows: dict[str, list] = {}
    for r in mf.collect():
        rows.setdefault(r.run_id, []).append((r.partition_id, r.digest))
    assert sorted(rows["bare"]) == sorted(rows["bare2"])



def _stage_input_records(sc) -> dict[int, int]:
    """stage id -> input records, from the JVM status store (a file scan
    counts rows, a cached-block read one record per cached batch)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, getattr(store, "stageList$default$4")(),
                             getattr(store, "stageList$default$5")())
    return {stages.apply(i).stageId(): stages.apply(i).inputRecords() for i in range(stages.size())}


def test_validate_reads_corpus_once(io_dirs, spark, tmp_path, capsys):
    """One CLI validate with every sink (manifest, violations, export)
    reads the N docs once.  The catalog is read once too; the cached
    per-doc frame, violations and report add one record per cached batch
    they serve (a few dozen here), while a second corpus read would add
    N more."""
    sc = spark.sparkContext
    n_docs = spark.read.parquet(io_dirs["docs"]).count()
    n_cat = spark.read.parquet(io_dirs["catalog"]).count()
    first = max(_stage_input_records(sc), default=-1) + 1
    rc = main([
        "validate", "--input", io_dirs["docs"], "--catalog", io_dirs["catalog"],
        "--manifest", str(tmp_path / "m"), "--run-id", "once", "--algo", "md5",
        "--violations-out", str(tmp_path / "v"), "--export", str(tmp_path / "hash.json"),
    ])
    assert rc == 0
    capsys.readouterr()
    read = sum(n for sid, n in _stage_input_records(sc).items() if sid >= first)
    assert n_docs + n_cat <= read < 2 * n_docs + n_cat, (read, n_docs, n_cat)


def test_validate_and_stream_leave_no_cached_rdd(io_dirs, spark, tmp_path, capsys):
    """validate's per-doc frame, the persisted violations and the
    materialized report are all released by the CLI and by the
    streaming sink."""
    from hashio_spark.sources.manifest_store import ManifestStore
    from hashio_spark.streaming.incremental import stream_validation

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    rc = main([
        "validate", "--input", io_dirs["docs"], "--catalog", io_dirs["catalog"],
        "--manifest", str(tmp_path / "m"), "--run-id", "leak",
        "--violations-out", str(tmp_path / "v"), "--export", str(tmp_path / "hash.json"),
    ])
    assert rc == 0
    capsys.readouterr()
    assert jsc.getPersistentRDDs().size() == before

    docs = spark.read.parquet(io_dirs["docs"])
    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 2).parquet(io_dirs["docs"])
    store = ManifestStore(spark, str(tmp_path / "sm"))
    q = stream_validation(stream, store, "s", catalog=spark.read.parquet(io_dirs["catalog"]),
                          checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) > 1
    assert store.list_runs() == ["s"]
    assert jsc.getPersistentRDDs().size() == before


def test_validate_empty_report_summary_is_null(spark, tmp_path, capsys):
    """A JSONL input whose every line is bad yields an empty report; the
    summary line still reads docs/violations null (SQL sum over no rows)."""
    src = tmp_path / "bad.jsonl"
    src.write_text("NOT JSON\n{broken\n")
    rc = main(["validate", "--input", str(src), "--format", "jsonl",
               "--manifest", str(tmp_path / "m"), "--export", str(tmp_path / "hash.json")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] is None and out["violations"] is None
    assert out["quarantined"] == 2

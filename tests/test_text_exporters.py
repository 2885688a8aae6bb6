"""Text-analysis expressions + exporter byte-parity tests."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hashio_spark.functions.text import (
    bpe_ish_token_count_expr,
    lang_id_expr,
    quality_exprs,
    quality_score_expr,
    rolling_fingerprint_expr,
    token_count_expr,
    word_shingles_expr,
)
from hashio_spark.sources.exporters import (
    read_hash_json,
    read_txt,
    write_hash_json,
    write_txt,
)


def _df(spark, texts):
    return spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))


def test_token_counts(spark):
    df = _df(spark, ["one two three", "a  b", "single"])
    rows = df.select("doc_id", token_count_expr().alias("n"), bpe_ish_token_count_expr().alias("b")).collect()
    got = {r["doc_id"]: (r["n"], r["b"]) for r in rows}
    assert got[0] == (3, 3)
    assert got[1][0] == 2  # double space collapsed by \s+
    assert got[2] == (1, 1)


def test_quality_features(spark):
    df = _df(spark, ["the cat sat on the mat", "1234 5678 !!!"])
    q = quality_exprs()
    rows = df.select("doc_id", *(v.alias(k) for k, v in q.items()), quality_score_expr().alias("score")).collect()
    good, bad = sorted(rows, key=lambda r: r["doc_id"])
    assert good["alpha_ratio"] > bad["alpha_ratio"]
    assert bad["digit_ratio"] > 0.5
    assert good["score"] > bad["score"]
    assert 0.0 <= bad["score"] <= good["score"] <= 1.0


def test_lang_id(spark):
    df = _df(spark, [
        "the cat is in the house and it is warm",
        "der Hund ist nicht in der Schule und das ist gut",
        "le chat est dans la maison et il est content pour un moment",
        "xyzzy qwerty",
    ])
    rows = {r["doc_id"]: r["lang"] for r in df.select("doc_id", lang_id_expr().alias("lang")).collect()}
    assert rows[0] == "en" and rows[1] == "de" and rows[2] == "fr" and rows[3] == "unknown"


def test_shingles_and_fingerprint(spark):
    df = _df(spark, ["a b c d e", "a b c d e", "a b c d f"])
    sh = df.select("doc_id", word_shingles_expr(k=3).alias("sh")).collect()
    got = {r["doc_id"]: r["sh"] for r in sh}
    assert got[0] == ["a b c", "b c d", "c d e"]
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint_expr(k=3).alias("fp")).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_hash_json_byte_parity(spark, tmp_path):
    """Byte-compare our writer against the reference JSONExporter's exact
    format (open '{', '    \"path\": <json indent=8>,\\n' entries,
    truncate-and-close fixup — exporter.py:70-137)."""
    df = spark.createDataFrame(
        pd.DataFrame({"path": ["a/b.txt", "c.bin"], "digest": ["h1", "h2"], "size": [10, 20]})
    )
    out = tmp_path / "hash.json"
    write_hash_json(df, str(out), key_col="path", algo="xxh64", meta_cols=("size",))

    # reference-format oracle built with the same primitive steps
    expected = "{\n"
    for k, entry in [("a/b.txt", {"size": 10, "xxh64": "h1"}), ("c.bin", {"size": 20, "xxh64": "h2"})]:
        expected += '    "{0}": {1},\n'.format(k, json.dumps(entry, indent=8))
    expected = expected[:-2] + "\n}"
    assert out.read_text() == expected
    # round-trip
    assert read_hash_json(str(out)) == {
        "a/b.txt": {"size": 10, "xxh64": "h1"},
        "c.bin": {"size": 20, "xxh64": "h2"},
    }


def test_mhl_roundtrip(spark, tmp_path):
    import pandas as pd

    from hashio_spark.sources.exporters import read_mhl, write_mhl

    df = spark.createDataFrame(
        pd.DataFrame({
            "path": ["a.mov", "b.wav"],
            "digest": ["d41d8cd98f00b204e9800998ecf8427e", "aa" * 16],
            "size": [100, 200],
            "mtime": [1700000000.0, 1700000100.0],
        })
    )
    p = tmp_path / "out.mhl"
    write_mhl(df, str(p), key_col="path", algo="md5", size_col="size", mtime_col="mtime", hashdate=1700000500)
    text = p.read_text()
    assert text.startswith('<?xml version="1.0" encoding="UTF-8"?>\n<hashlist version="1.1">')
    assert text.rstrip().endswith("</hashlist>")
    got = read_mhl(str(p), "md5")
    assert got["a.mov"]["md5"] == "d41d8cd98f00b204e9800998ecf8427e"
    assert got["a.mov"]["size"] == 100
    assert got["b.wav"]["lastmodificationdate"] == "2023-11-14T22:15:00Z"


def test_txt_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(pd.DataFrame({"path": ["x", "y z"], "digest": ["aa", "bb"]}))
    p = tmp_path / "hashes.txt"
    write_txt(df, str(p), key_col="path")
    assert p.read_text() == "aa x\nbb y z\n"
    assert read_txt(str(p), "xxh64") == {"x": {"xxh64": "aa"}, "y z": {"xxh64": "bb"}}


def test_exporter_registry_dispatch(spark, tmp_path):
    import pandas as pd

    from hashio_spark.sources.exporters import EXPORTERS

    df = spark.createDataFrame(pd.DataFrame({"doc_id": ["a", "b"], "digest": ["d1", "d2"]}))
    assert EXPORTERS.extensions() == ("json", "mhl", "txt")
    for ext in ("json", "txt", "mhl"):
        p = str(tmp_path / f"m.{ext}")
        EXPORTERS.write(df, p, "doc_id", "md5")
        out = EXPORTERS.read(p, "md5")
        assert set(out) == {"a", "b"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no exporter registered"):
        EXPORTERS.write(df, str(tmp_path / "m.nope"), "doc_id")


def test_hash_json_empty_manifest_is_valid_json(spark, tmp_path):
    """Empty input must still produce parseable JSON — the trailing-comma
    fixup used to truncate the header and leave '\\n}'."""
    from hashio_spark.sources.exporters import read_hash_json, write_hash_json

    df = spark.createDataFrame([], "doc_id string, digest string")
    p = str(tmp_path / "empty.json")
    write_hash_json(df, p, "doc_id", "md5")
    assert read_hash_json(p) == {}


_EXPORT_CASES = {
    "empty": ("k string, digest string", []),
    "non_ascii": ("k string, digest string",
                  [("日本/ß.bin", "d1"), ("a.txt", "d2"), ("é", "d3"), ("Z", "d4")]),
    # string order, not numeric: "1" < "10" < "2" < "33"
    "int_keys": ("k int, digest string", [(2, "d2"), (10, "d10"), (33, "d33"), (1, "d1")]),
}


@pytest.mark.parametrize("case", sorted(_EXPORT_CASES))
@pytest.mark.parametrize("ext", ["json", "txt", "mhl"])
def test_rows_and_dataframe_export_identical_bytes(spark, tmp_path, ext, case):
    """An export from already collected rows (the CLI's path) writes the
    same bytes as the export that collects the DataFrame itself."""
    from hashio_spark.sources.exporters import EXPORTERS

    schema, data = _EXPORT_CASES[case]
    df = spark.createDataFrame(data, schema)
    from_df, from_rows = tmp_path / f"df.{ext}", tmp_path / f"rows.{ext}"
    EXPORTERS.write(df, str(from_df), "k", "md5")
    EXPORTERS.write(df.collect(), str(from_rows), "k", "md5")
    assert from_rows.read_bytes() == from_df.read_bytes()
    keys = list(EXPORTERS.read(str(from_df), "md5"))  # file order
    assert keys == sorted(str(k) for k, _ in data)
    if case == "int_keys":
        assert keys == ["1", "10", "2", "33"]


def test_export_formatters_with_metadata(spark, tmp_path):
    """The metadata columns (HASH.json meta fields, MHL size/mtime) come
    out the same from rows as from the DataFrame."""
    from hashio_spark.sources.exporters import write_hash_json, write_mhl

    df = spark.createDataFrame(
        [("b.wav", "aa", 200, 1700000100.0), ("a.mov", "bb", 100, 1700000000.0)],
        "path string, digest string, size long, mtime double",
    )
    rows = df.collect()
    for name, write in (
        ("m.json", lambda d, p: write_hash_json(d, p, "path", "md5", meta_cols=("size",))),
        ("m.mhl", lambda d, p: write_mhl(d, p, "path", size_col="size", mtime_col="mtime",
                                         hashdate=1700000500)),
    ):
        write(df, str(tmp_path / f"df-{name}"))
        write(rows, str(tmp_path / f"rows-{name}"))
        assert (tmp_path / f"rows-{name}").read_bytes() == (tmp_path / f"df-{name}").read_bytes()

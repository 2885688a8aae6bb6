"""The Arrow minhash kernel (functions/digests.minhash4_md5_arrow) must
be byte-identical to the JVM expression form it replaced and to a plain
hashlib reference, including the NULL/short-doc contract, multibyte and
whitespace edge cases, the hashlib fallback and the shingle-set
ride-along."""

import hashlib
import importlib.util
import sys

import pandas as pd
from pyspark.sql import functions as F

from hashio_spark.functions import digests
from hashio_spark.functions.digests import _minhash4_rows, minhash4_md5_arrow


def _jvm_sigs(spark, df):
    toked = df.select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    tk = F.col("_toks")
    idx = F.when(F.size(tk) >= 3, F.sequence(F.lit(1), F.size(tk) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    shingled = toked.select(
        "doc_id", F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, 3))).alias("_sh")
    )

    def _sig(prefix):
        return F.array_min(
            F.transform(F.col("_sh"), lambda s: F.md5(F.concat(F.lit(prefix), s).cast("binary")))
        )

    return shingled.select("doc_id", *[_sig(f"{k}|").alias(f"sig{k}") for k in range(4)])


def test_kernel_matches_jvm_form(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b"),                      # <3 tokens -> NULL sigs
        (3, None),                       # NULL text -> NULL sigs
        (4, "x  y z"),                   # double space -> empty token kept
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "a b c a b c a b c"),        # repeated shingles
        (7, " leading space tail "),     # boundary empties
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = df.select("doc_id", minhash4_md5_arrow(False)(F.col("text")).alias("_s")).select(
        "doc_id", "_s.*"
    )
    want = _jvm_sigs(spark, df)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_kernel_sets_are_distinct_in_first_occurrence_order():
    texts = ["a b c a b c a b c", None, "x y", "über a über a über", "x  y z"]
    out = _minhash4_rows(pd.Series(texts), with_sets=True)
    assert out["sh"][0] == ["a b c", "b c a", "c a b"]
    assert out["sh"][1] is None
    assert out["sh"][2] == []
    assert out["sig0"][1] is None and out["sig0"][2] is None
    # decoded back to str, multibyte and empty tokens included
    assert out["sh"][3] == ["über a über", "a über a"]
    assert out["sh"][4] == ["x  y", " y z"]
    assert all(type(s) is str for sets in out["sh"][3:] for s in sets)


def test_kernel_min_is_over_hex_order():
    # the min is taken on digest bytes; hex encoding must agree
    out = _minhash4_rows(pd.Series(["p q r s"]), with_sets=False)
    shingles = ["p q r", "q r s"]
    for k in range(4):
        want = min(hashlib.md5(f"{k}|{s}".encode()).hexdigest() for s in shingles)
        assert out[f"sig{k}"][0] == want


_EDGE_DOCS = [
    "naïve café über straße façade",          # 2-byte UTF-8
    "日本語 の テキスト です ね",               # 3-byte UTF-8
    "emoji 😀 takes 🚀 four bytes",            # 4-byte UTF-8
    "nbsp\u00a0and ideographic\u3000space are not split",
    "a\tb c\td e",                             # tab stays inside a token
    "x  y z  w",                               # double spaces -> empty tokens
    " leading and trailing ",                  # boundary empties
    "  ",                                      # three empty tokens -> one shingle
    "a b",                                     # <3 tokens
    "",
    None,
]


def _reference_sigs(text):
    """The oracle's definition in plain hashlib over the str split."""
    if text is None:
        return [None] * 4
    toks = text.split(" ")
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    if not shingles:
        return [None] * 4
    return [min(hashlib.md5(f"{k}|{s}".encode()).hexdigest() for s in shingles) for k in range(4)]


def test_kernel_matches_hashlib_reference_on_multibyte_and_whitespace():
    out = _minhash4_rows(pd.Series(_EDGE_DOCS), with_sets=False)
    for i, text in enumerate(_EDGE_DOCS):
        assert [out[f"sig{k}"][i] for k in range(4)] == _reference_sigs(text), text


def test_kernel_hashlib_fallback_is_identical(monkeypatch):
    # a fresh copy of the module, imported while ``_md5`` cannot be
    # imported, must fall back to hashlib.md5 and give the same output
    monkeypatch.setitem(sys.modules, "_md5", None)
    spec = importlib.util.spec_from_file_location("_digests_without_md5", digests.__file__)
    fallback = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fallback)
    assert fallback.md5_new is hashlib.md5
    texts = pd.Series(_EDGE_DOCS + ["the quick brown fox jumps over the lazy dog"])
    for with_sets in (False, True):
        got = fallback._minhash4_rows(texts, with_sets)
        assert got.equals(_minhash4_rows(texts, with_sets))

"""Run the ACTUAL reference implementation (read-only, from
/root/reference/lib) as a test oracle, mirroring its own test strategy of
checking encoders against an independent implementation
(test_hashio.py:303-403).

The reference imports the ``xxhash`` C extension, which is absent here;
we inject a shim module backed by our pure-Python XXH64 (itself validated
against published golden vectors in test_digests.py).  The shim only has
to satisfy the entry points the oracle tests exercise.
"""

import os
import sys
import types

import pytest

from hashio_spark.functions.xxh import xxh64_hexdigest, xxh64_intdigest
from hashio_spark.functions.xxh3 import (
    xxh3_64_hexdigest,
    xxh3_64_intdigest,
    xxh3_128_hexdigest,
    xxh3_128_intdigest,
)

REF_LIB = "/root/reference/lib"


class _ShimBase:
    _hex = None
    _int = None

    def __init__(self, data: bytes = b"", seed: int = 0):
        self._buf = bytearray(data)
        self._seed = seed

    def update(self, data: bytes):
        self._buf.extend(data)
        return self

    def hexdigest(self) -> str:
        return type(self)._hex(bytes(self._buf), self._seed)

    def intdigest(self) -> int:
        return type(self)._int(bytes(self._buf), self._seed)

    def reset(self):
        self._buf = bytearray()


class _ShimXXH64(_ShimBase):
    _hex = staticmethod(xxh64_hexdigest)
    _int = staticmethod(xxh64_intdigest)


class _ShimXXH3_64(_ShimBase):
    _hex = staticmethod(xxh3_64_hexdigest)
    _int = staticmethod(xxh3_64_intdigest)


class _ShimXXH3_128(_ShimBase):
    _hex = staticmethod(xxh3_128_hexdigest)

    def intdigest(self) -> int:
        lo, hi = xxh3_128_intdigest(bytes(self._buf), self._seed)
        return (hi << 64) | lo


@pytest.fixture(scope="module")
def hashio_ref():
    if not os.path.isdir(REF_LIB):
        pytest.skip(f"reference implementation not installed at {REF_LIB}; "
                    "the hash contract stays covered by the golden vectors in test_digests.py")
    shim = types.ModuleType("xxhash")
    shim.xxh64 = _ShimXXH64
    shim.xxh3_64 = _ShimXXH3_64
    shim.xxh3_128 = _ShimXXH3_128
    shim.VERSION = "shim"
    sys.modules.setdefault("xxhash", shim)
    sys.path.insert(0, REF_LIB)
    try:
        import hashio.encoder as ref_encoder  # noqa: F401

        yield ref_encoder
    finally:
        sys.path.remove(REF_LIB)


def test_reference_golden_value(hashio_ref):
    enc = hashio_ref.XXH64Encoder()
    assert hashio_ref.checksum_text("hello, world\n", enc) == "abdc2a61f1f91f4c"


@pytest.mark.parametrize("algo,cls", [
    ("md5", "MD5Encoder"),
    ("sha256", "SHA256Encoder"),
    ("sha512", "SHA512Encoder"),
    ("crc32", "CRC32Encoder"),
    ("xxh64", "XXH64Encoder"),
    ("xxh3_64", "XXH3_64Encoder"),
    ("xxh3_128", "XXH3_128Encoder"),
    ("c4", "C4Encoder"),
])
def test_scalar_digests_match_reference(hashio_ref, algo, cls):
    """Our parity kernels must produce the exact hexdigest the reference's
    encoders produce on the same bytes."""
    from hashio_spark.functions.digests import parity_hexdigest

    for text in ["", "a", "hello, world\n", "span|text|ref|0", "x" * 500, "héllo wörld"]:
        enc = getattr(hashio_ref, cls)()
        expected = hashio_ref.checksum_text(text, enc)
        assert parity_hexdigest(text.encode("utf-8"), algo) == expected, (algo, text)


def test_composite_hash_matches_reference(hashio_ref, spark):
    """Spark composite_digest_expr ≡ reference composite_hash on the same
    (key, hash) pairs (encoder.py:447-460)."""
    import pandas as pd

    from hashio_spark.functions.canonical import composite_digest_expr

    pairs = [("p/b", "h2"), ("p/a", "h9"), ("q/c", "h1"), ("p/a", "h0"), ("z", "h5")]
    expected = hashio_ref.composite_hash(pairs, hashio_ref.MD5Encoder())
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["k", "h"]))
    got = df.agg(composite_digest_expr("k", "h", "md5").alias("d")).first()["d"]
    assert got == expected

    expected_x = hashio_ref.composite_hash(pairs, hashio_ref.XXH64Encoder())
    from hashio_spark.functions.digests import parity_hexdigest

    lines = "\n".join(f"{k}:{h}" for k, h in sorted(pairs))
    assert parity_hexdigest(lines.encode(), "xxh64") == expected_x


def test_file_digests_match_reference(hashio_ref, spark, tmp_path):
    """FIXTURES.md §4: hash a small on-disk tree with the reference's
    checksum_file, then reproduce identical digests from Spark's
    binaryFile reader + our parity UDF."""
    from pyspark.sql import functions as F

    from hashio_spark.functions.digests import parity_udf
    from hashio_spark.sources.files import read_file_tree

    # Spark's binaryFile source silently omits zero-byte files, while the
    # reference's walk hashes them to the empty-input digest — the tree
    # therefore PLANTS empty files (top-level and nested) and scans via
    # read_file_tree, which unions them back in (r03 "What's missing #3").
    files = {
        "a.txt": b"hello, world\n",
        "b.bin": bytes(range(256)) * 40,
        "one": b"\x00",
        "sub/c.txt": b"nested file contents\n" * 10,
        "empty.dat": b"",
        "sub/also_empty": b"",
    }
    for rel, data in files.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)

    expected = {}
    for rel in files:
        enc = hashio_ref.XXH64Encoder()
        expected[rel] = hashio_ref.checksum_file(str(tmp_path / rel), enc)
    # the reference maps empty input to the empty-input digest
    assert expected["empty.dat"] == "ef46db3751d8e999"

    df = read_file_tree(spark, str(tmp_path)).select(
        F.col("path"), parity_udf("xxh64")(F.col("content")).alias("digest")
    )
    got = {os.path.relpath(r["path"].removeprefix("file:"), str(tmp_path)): r["digest"] for r in df.collect()}
    assert got == expected


def test_verify_semantics_match_reference_dedupe(hashio_ref, spark):
    """Reference dedupe_paths on a synthesized temp tree vs our
    exact_duplicates over binaryFile — identical duplicate groups
    (mirrors test_hashio.py:130-287)."""
    import tempfile

    from pyspark.sql import functions as F

    from hashio_spark.functions.digests import parity_udf
    from hashio_spark.operators.dedupe import exact_duplicates

    with tempfile.TemporaryDirectory() as d:
        layout = {
            "x1.txt": b"same content",
            "x2.txt": b"same content",
            "y.txt": b"different",
            "z1.txt": b"zz",
            "z2.txt": b"zz",
            "z3.txt": b"zz",
        }
        for name, data in layout.items():
            with open(os.path.join(d, name), "wb") as f:
                f.write(data)

        ref_groups = sorted(
            sorted(os.path.basename(p) for p in grp)
            for grp in hashio_ref.dedupe_paths([d], algo="xxh64")
        )

        df = (
            spark.read.format("binaryFile").load(d)
            .select(F.element_at(F.split(F.col("path"), "/"), -1).alias("name"), F.col("content"))
        )
        ours = exact_duplicates(df, "name", "content", algo_expr=parity_udf("xxh64")(F.col("content")))
        got = sorted(sorted(r["keys"]) for r in ours.collect())
        assert got == ref_groups

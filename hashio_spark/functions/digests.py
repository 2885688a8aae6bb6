"""Digest kernels: the Spark analog of the reference encoder registry.

The reference registers encoders by subclass reflection
(``/root/reference/lib/hashio/encoder.py:138-146,269-302``); here the
registry is a plain dict of named column-expression builders.

Two tiers per algorithm:

* **scale path** — builtin ``pyspark.sql.functions`` expressions (JVM-side,
  whole-stage codegen, zero Python).  Used for all hot-path digesting.
* **parity path** — Arrow-vectorized pandas UDFs producing hexdigests
  byte-identical to the reference's ``Encoder.hexdigest()`` output
  (``/root/reference/lib/hashio/encoder.py:161-266``).  Needed because
  Spark's ``xxhash64`` uses seed 42 over its internal row encoding and
  returns a signed int64, which is not the ``xxhash.xxh64`` hexdigest the
  reference writes into HASH.json.

All parity UDFs take a binary or string column and return a string
hexdigest.  Per-row Python UDFs are never used (BASELINE.json input_hint).
"""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from hashio_spark.functions.xxh import xxh64_hexdigest

try:
    # The one md5 constructor of every Python md5 kernel.  CPython's
    # builtin md5 skips OpenSSL's per-object EVP set-up, which is most of
    # the cost of hashing a 15-byte shingle; its ``copy()`` is a struct
    # copy, so a kernel can hash a fixed prefix once and copy that state.
    from _md5 import md5 as md5_new
except ImportError:  # interpreters built without the builtin module
    md5_new = hashlib.md5

# ---------------------------------------------------------------------------
# Scale path: builtin expressions (preferred in every pipeline)
# ---------------------------------------------------------------------------


def digest_expr(col: Column | str, algo: str = "md5") -> Column:
    """Builtin JVM digest expression for ``algo`` over a string/binary column.

    ``xxh64`` here is Spark's native ``xxhash64`` formatted as 16-char hex —
    deterministic and collision-equivalent, but NOT byte-identical to the
    reference hexdigest (use :func:`parity_udf` for that).
    """
    c = F.col(col) if isinstance(col, str) else col
    if algo == "null":
        # metadata-only walks produce no digest (encoder.py:73-94)
        return F.lit("")
    if algo == "md5":
        return F.md5(c.cast("binary"))
    if algo == "sha256":
        return F.sha2(c.cast("binary"), 256)
    if algo == "sha512":
        return F.sha2(c.cast("binary"), 512)
    if algo == "crc32":
        # reference format: 8-char lowercase hex (encoder.py:116-117)
        return F.lower(F.lpad(F.hex(F.crc32(c.cast("binary"))), 8, "0"))
    if algo in ("xxh64", "xxhash64"):
        # native, seed-42, signed; F.hex of a bigint is its two's-complement
        # (i.e. unsigned) 64-bit hex — a stable 16-char string key
        return F.lower(F.lpad(F.hex(F.xxhash64(c)), 16, "0"))
    raise ValueError(f"unknown algo: {algo}")


def path_type_digest_expr(
    kind_col: Column | str,
    content_col: Column | str,
    algo: str = "md5",
    cached_digest_col: Column | str | None = None,
    fresh_col: Column | str | None = None,
) -> Column:
    """Path-type dispatch digest (SURVEY F12; reference ``checksum_path``,
    ``/root/reference/lib/hashio/encoder.py:388-412``): one ``F.when``
    chain over a ``kind`` column, fully inside whole-stage codegen —

    * ``kind='dir'`` → empty digest (directory digests come from the
      tree-hash rollup, the reference's ``checksum_folder`` analog —
      see ``operators/rollup.dataset_digest``);
    * cached-and-fresh rows (``fresh_col`` true, cached digest present)
      → reuse the cached value, skipping the content digest entirely
      (the reference's cache short-circuit, ``encoder.py:406-430``);
    * everything else (``kind='file'``) → digest the content column.

    The branch predicates are evaluated per row; Catalyst only computes
    the expensive content digest on rows that reach the otherwise-branch.
    """
    k = F.col(kind_col) if isinstance(kind_col, str) else kind_col
    expr = F.when(k == "dir", F.lit(""))
    if cached_digest_col is not None and fresh_col is not None:
        cached = F.col(cached_digest_col) if isinstance(cached_digest_col, str) else cached_digest_col
        fresh = F.col(fresh_col) if isinstance(fresh_col, str) else fresh_col
        expr = expr.when(fresh & cached.isNotNull(), cached)
    return expr.otherwise(digest_expr(content_col, algo))


# ---------------------------------------------------------------------------
# Parity path: Arrow-vectorized hexdigest kernels
# ---------------------------------------------------------------------------

_C4_CHARSET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_C4_IDLEN = 90


def _c4_from_sha512_hex(shastr: str) -> str:
    """SHA512 hex → C4 id, replicating the reference's quirks exactly:
    base-58 encode, ``c4`` prefix, RIGHT-pad with ``1`` to 90 chars
    (``/root/reference/lib/hashio/encoder.py:252-266`` uses ``ljust``)."""
    value = int(shastr, 16)
    out = ""
    while value != 0:
        value, modulo = divmod(value, 58)
        out = _C4_CHARSET[modulo] + out
    return "c4" + out.ljust(_C4_IDLEN - 2, "1")


def _to_bytes(s: object) -> bytes:
    if s is None:
        return b""
    if isinstance(s, (bytes, bytearray)):
        return bytes(s)
    return str(s).encode("utf-8")


def _hexdigest_series(s: pd.Series, algo: str) -> pd.Series:
    if algo == "null":
        return pd.Series([""] * len(s), index=s.index, dtype="object")
    if algo == "xxh64":
        return s.map(lambda v: xxh64_hexdigest(_to_bytes(v)))
    if algo == "xxh3_64":
        from hashio_spark.functions.xxh3 import xxh3_64_hexdigest

        return s.map(lambda v: xxh3_64_hexdigest(_to_bytes(v)))
    if algo == "xxh3_128":
        from hashio_spark.functions.xxh3 import xxh3_128_hexdigest

        return s.map(lambda v: xxh3_128_hexdigest(_to_bytes(v)))
    if algo == "crc32":
        return s.map(lambda v: format(zlib.crc32(_to_bytes(v)) & 0xFFFFFFFF, "08x"))
    if algo == "c4":
        return s.map(lambda v: _c4_from_sha512_hex(hashlib.sha512(_to_bytes(v)).hexdigest()))
    if algo in ("md5", "sha256", "sha512"):
        fn = md5_new if algo == "md5" else getattr(hashlib, algo)
        return s.map(lambda v: fn(_to_bytes(v)).hexdigest())
    raise ValueError(f"unknown parity algo: {algo}")


_PARITY_ALGOS = ("null", "md5", "sha256", "sha512", "crc32", "xxh64", "xxh3_64", "xxh3_128", "c4")
_parity_udf_cache: dict[str, object] = {}


def parity_udf(algo: str):
    """Pandas UDF (Arrow-batched) producing reference-identical hexdigests.

    Equivalent of ``checksum_text`` / ``checksum_data``
    (``/root/reference/lib/hashio/encoder.py:305-321,375-385``).
    """
    if algo not in _PARITY_ALGOS:
        raise ValueError(f"unknown parity algo: {algo}")
    if algo not in _parity_udf_cache:

        def _make(a):
            @F.pandas_udf(StringType())
            def _udf(s: pd.Series) -> pd.Series:
                return _hexdigest_series(s, a)

            return _udf

        _parity_udf_cache[algo] = _make(algo)
    return _parity_udf_cache[algo]


def parity_hexdigest(data: bytes | str, algo: str = "xxh64") -> str:
    """Driver-side scalar parity digest (for tests / golden values)."""
    return _hexdigest_series(pd.Series([data]), algo).iloc[0]


# ---------------------------------------------------------------------------
# Arrow minhash kernel (text → 4-permutation md5 MinHash over 3-word
# shingles), the one kernel behind every md5 LSH query.  Token/shingle
# semantics replicate the oracle exactly: split on a single literal space
# (empty tokens kept, like Spark's split), shingle = " ".join of 3
# consecutive tokens, permutation k = md5(b"k|" + shingle), min taken on
# the raw digest bytes (hex encoding is order-preserving).  Docs with <3
# tokens or NULL text yield NULL signatures, matching the oracle's
# generate_series(1, 0).
#
# The kernel splits each doc's UTF-8 bytes once: a space byte never
# occurs inside a multibyte UTF-8 character, so the byte split equals the
# str split.  Each permutation hashes its prefix once per Arrow batch; a
# shingle costs one ``copy()`` of that state, one ``update`` and one
# ``digest`` of the builtin md5 (:data:`md5_new`).  2,000 docs of 40-100
# words on one core: 0.40 s with ``hashlib.md5(p + b)`` per shingle,
# 0.16-0.18 s now, byte-identical.
#
# md5 stays in Python on purpose.  The compiled JVM form
# (``text.word_shingle_rows`` + ``min(md5(concat('k|', gram)))`` in one
# hash aggregate, the shape of the xxhash64 operator) gives identical
# pairs but measured slower per ``dedupe_minhash_lsh`` run: 3.00 and
# 2.44 s against this kernel's 1.99 and 1.91 s (20k docs of 40-100
# words, two inputs, median of 6 in one session, 4 cores).  Spark's md5
# goes through ``MessageDigest.getInstance`` per row (BENCH.md
# finding #1).
# ---------------------------------------------------------------------------

_MINHASH_PREFS = [b"0|", b"1|", b"2|", b"3|"]
_ABOVE_ANY_DIGEST = b"\xff" * 17  # sorts after every 16-byte digest


def _minhash4_rows(texts: pd.Series, with_sets: bool) -> pd.DataFrame:
    bases = [md5_new(p) for p in _MINHASH_PREFS]
    sigs: list[list] = [[] for _ in bases]
    sets: list = []
    for t in texts:
        toks = None if t is None else t.encode("utf-8").split(b" ")
        if toks is None or len(toks) < 3:
            for sig in sigs:
                sig.append(None)
            if with_sets:
                sets.append(None if toks is None else [])
            continue
        bs = list(map(b" ".join, zip(toks, toks[1:], toks[2:])))
        for sig, base in zip(sigs, bases):
            copy = base.copy
            m = _ABOVE_ANY_DIGEST
            for b in bs:
                h = copy()
                h.update(b)
                d = h.digest()
                if d < m:
                    m = d
            sig.append(m.hex())
        if with_sets:
            # array_distinct semantics: first occurrence order
            sets.append([b.decode("utf-8") for b in dict.fromkeys(bs)])
    out = {f"sig{k}": sig for k, sig in enumerate(sigs)}
    if with_sets:
        out["sh"] = sets
    return pd.DataFrame(out)


_minhash_udf_cache: dict[bool, object] = {}


def minhash4_md5_arrow(with_sets: bool = False):
    """Pandas UDF: text → struct(sig0..sig3[, sh]) — the 4-permutation
    md5 MinHash (and optionally the distinct shingle set) in one Arrow
    batch pass.  See the kernel note above :func:`_minhash4_rows` for
    semantics and measurements."""
    if with_sets not in _minhash_udf_cache:
        from pyspark.sql.types import ArrayType, StructField, StructType

        fields = [StructField(f"sig{k}", StringType()) for k in range(4)]
        if with_sets:
            fields.append(StructField("sh", ArrayType(StringType())))
        schema = StructType(fields)

        def _make(ws: bool):
            @F.pandas_udf(schema)
            def _udf(texts: pd.Series) -> pd.DataFrame:
                return _minhash4_rows(texts, ws)

            return _udf

        _minhash_udf_cache[with_sets] = _make(with_sets)
    return _minhash_udf_cache[with_sets]


ALGOS = _PARITY_ALGOS

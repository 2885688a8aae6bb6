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
        fn = getattr(hashlib, algo)
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
# shingles).  Same rationale as the bloom lanes (BENCH.md finding #1): the
# JVM md5 builtin funnels through the JCA provider and the shingle
# pipeline runs as interpreted higher-order lambdas, so four md5-min
# passes over ~2.6M shingles cost ~2.0 s at sf1.0; the hashlib loop below
# is lock-free and skips the per-element expression interpreter — 1.0 s
# for the same output (verified byte-identical via exceptAll in both
# directions).  Token/shingle semantics replicate the JVM form exactly:
# split on a single literal space (empty tokens kept, like Spark's
# split), shingle = " ".join of 3 consecutive tokens, min taken on the
# raw digest bytes (hex encoding is order-preserving).  Docs with <3
# tokens or NULL text yield NULL signatures, matching the guarded
# sequence() form and the oracle's generate_series(1, 0).
# ---------------------------------------------------------------------------

_MINHASH_PREFS = [b"0|", b"1|", b"2|", b"3|"]


def _minhash4_rows(texts: pd.Series, with_sets: bool) -> pd.DataFrame:
    md5 = hashlib.md5
    prefs = _MINHASH_PREFS
    out: dict[str, list] = {f"sig{k}": [] for k in range(4)}
    if with_sets:
        out["sh"] = []
    for t in texts:
        if t is None:
            for k in range(4):
                out[f"sig{k}"].append(None)
            if with_sets:
                out["sh"].append(None)
            continue
        toks = t.split(" ")
        n = len(toks) - 2
        if n < 1:
            for k in range(4):
                out[f"sig{k}"].append(None)
            if with_sets:
                out["sh"].append([])
            continue
        shingles = [" ".join(toks[i : i + 3]) for i in range(n)]
        bs = [s.encode("utf-8") for s in shingles]
        for k, p in enumerate(prefs):
            out[f"sig{k}"].append(min([md5(p + b).digest() for b in bs]).hex())
        if with_sets:
            # array_distinct semantics: first occurrence order
            out["sh"].append(list(dict.fromkeys(shingles)))
    return pd.DataFrame(out)


_minhash_udf_cache: dict[bool, object] = {}


def minhash4_md5_arrow(with_sets: bool = False):
    """Pandas UDF: text → struct(sig0..sig3[, sh]) — the 4-permutation
    md5 MinHash (and optionally the distinct shingle set) in one Arrow
    batch pass.  See the module-level kernel note for semantics and the
    measured 2× over the JVM expression form."""
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

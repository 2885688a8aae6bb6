"""Text-analysis expression library (training-data pipeline ops).

All pure JVM column expressions — language-ID heuristic, quality scoring,
token counting, shingling, rolling fingerprint.  No UDFs: at 100 TB these
run inside whole-stage codegen on the scan output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# minimal per-language stopword regexes for the n-gram/stopword heuristic
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|of|and|a|to|in|is|that|it|for)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|zu|den|mit)\b",
    "fr": r"\b(le|la|les|de|et|un|une|est|que|pour)\b",
    "es": r"\b(el|la|los|de|y|un|una|es|que|por)\b",
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count_expr(col: Column | str = "text") -> Column:
    """Whitespace token count (BPE-ish regex variant below)."""
    return F.size(F.split(_c(col), r"\s+"))


def bpe_ish_token_count_expr(col: Column | str = "text") -> Column:
    """Rough subword-token estimate: words + punctuation marks counted
    separately (a cheap proxy for BPE token counts)."""
    words = F.size(F.regexp_extract_all(_c(col), F.lit(r"[A-Za-z0-9]+"), 0))
    punct = F.size(F.regexp_extract_all(_c(col), F.lit(r"[^\sA-Za-z0-9]"), 0))
    return words + punct


def quality_exprs(col: Column | str = "text") -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features."""
    c = _c(col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    digits = F.length(F.regexp_replace(c, "[^0-9]", "")).cast("double")
    spaces = F.length(F.regexp_replace(c, "[^ ]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", "")).cast("double")
    n_tok = token_count_expr(c).cast("double")
    stop = F.size(F.regexp_extract_all(c, F.lit(LANG_PATTERNS["en"]), 0)).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    return {
        "n_chars": n,
        "n_tokens": n_tok,
        "alpha_ratio": alpha / safe_n,
        "digit_ratio": digits / safe_n,
        "punct_ratio": punct / safe_n,
        "space_ratio": spaces / safe_n,
        "avg_token_len": (n - spaces) / F.greatest(n_tok, F.lit(1.0)),
        "stopword_ratio": stop / F.greatest(n_tok, F.lit(1.0)),
    }


def quality_score_expr(col: Column | str = "text") -> Column:
    """Composite [0,1] quality score: rewards alpha-heavy, stopword-bearing,
    reasonably-sized documents; penalizes digit/punct soup."""
    q = quality_exprs(col)
    length_term = F.least(q["n_tokens"] / F.lit(100.0), F.lit(1.0))
    return F.round(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                0.35 * q["alpha_ratio"]
                + 0.25 * F.least(q["stopword_ratio"] * 4, F.lit(1.0))
                + 0.25 * length_term
                + 0.15 * (1 - F.least(q["digit_ratio"] * 5, F.lit(1.0))),
            ),
        ),
        6,
    )


def lang_scores_expr(col: Column | str = "text") -> Column:
    """Map of language -> stopword hits (n-gram heuristic)."""
    c = _c(col)
    return F.map_from_arrays(
        F.array(*[F.lit(k) for k in LANG_PATTERNS]),
        F.array(*[F.size(F.regexp_extract_all(c, F.lit(p), 0)) for p in LANG_PATTERNS.values()]),
    )


def lang_id_expr(col: Column | str = "text", min_hits: int = 2) -> Column:
    """Argmax language guess; 'unknown' below ``min_hits``."""
    c = _c(col)
    scored = F.array(
        *[
            F.struct(
                F.size(F.regexp_extract_all(c, F.lit(p), 0)).alias("hits"),
                F.lit(k).alias("lang"),
            )
            for k, p in LANG_PATTERNS.items()
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] >= min_hits, best["lang"]).otherwise(F.lit("unknown"))


def word_shingles_from_tokens(toks_col: Column | str, k: int = 3) -> Column:
    """k-word shingles from a BOUND tokens column (array<string>).

    Docs with fewer than ``k`` tokens yield an EMPTY array.  The guard is
    load-bearing: ``sequence(1, size-k+1)`` with a negative span evaluates
    as a *descending* sequence in Spark ([1, 0]), and the inner
    ``slice(toks, 0, k)`` then throws INVALID_PARAMETER_VALUE.START —
    a whole-job crash on any real corpus containing short documents.

    Pass a column ATTRIBUTE (project the tokenization first), not an
    inline ``split(...)`` expression: higher-order lambdas are
    interpreted, with no common-subexpression elimination, so an
    embedded split is re-executed once per array ELEMENT — measured 5×
    on the whole shingle stage at sf0.1 (BENCH.md engine finding #7).
    Catalyst will not collapse the tokenization projection back into the
    consumer (CollapseProject only inlines cheap expressions referenced
    more than once).

    This array form is for consumers that need the whole shingle set in
    one row (set ops, sizes).  A consumer that explodes the shingles
    anyway should call :func:`word_shingle_rows`, which builds the same
    shingles with no lambda.
    """
    tk = _c(toks_col) if isinstance(toks_col, str) else toks_col
    idx = F.when(
        F.size(tk) >= k, F.sequence(F.lit(1), F.size(tk) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, k)))


def word_shingle_rows(df: DataFrame, toks_col: str, k: int = 3) -> DataFrame:
    """One row per k-word shingle of the tokens column ``toks_col``
    (array<string>), in token order, with every other column of ``df``
    carried and the shingle in ``gram``.  A row whose tokens are NULL or
    fewer than ``k`` keeps exactly one row, with a NULL shingle.

    The shingles equal :func:`word_shingles_from_tokens`' element by
    element, but no lambda builds them: the k shifted slices
    ``slice(toks, j, n)`` (``n = size - (k-1)``) are zipped into one
    struct per position, and each struct's fields are joined with
    ``concat_ws``.  All of it compiles under whole-stage codegen; the
    ``transform`` form is interpreted per element.

    Two guards are load-bearing:
    * ``explode_outer``, not ``explode``: ``explode`` infers a
      ``size(...) > 0 AND isnotnull(...)`` filter on its input, which is
      pushed into the scan and re-runs the whole shingle pipeline per
      row (BENCH.md finding #8);
    * the NULL struct of a shingle-less row maps to a NULL shingle, not
      to ``concat_ws``' empty string.
    """
    tk = F.col(toks_col)
    n = F.size(tk) - (k - 1)
    zipped = F.arrays_zip(*[F.slice(tk, j + 1, n) for j in range(k)])
    keep = [c for c in df.columns if c != toks_col]
    rows = df.select(*keep, F.explode_outer(F.when(n >= 1, zipped)).alias("_z"))
    z = F.col("_z")
    gram = F.when(z.isNotNull(), F.concat_ws(" ", *[z[str(j)] for j in range(k)]))
    return rows.select(*keep, gram.alias("gram"))


def word_shingles_expr(col: Column | str = "text", k: int = 3) -> Column:
    """k-word shingles computed inline from a text column.

    Convenience/compat form.  In hot paths prefer projecting
    ``split(col, '\\s+')`` to its own column and calling
    :func:`word_shingles_from_tokens` — the inline split here sits inside
    an interpreted lambda and re-executes per element (see that
    function's docstring for the measured cost)."""
    return word_shingles_from_tokens(F.split(_c(col), r"\s+"), k)


def rolling_fingerprint_expr(col: Column | str = "text", k: int = 3, n_keep: int = 4) -> Column:
    """Document fingerprint: the ``n_keep`` smallest shingle hashes,
    concatenated (a winnowing-style rolling-hash sketch).  Equal documents
    → equal fingerprints; high-overlap documents share most components."""
    hashes = F.transform(word_shingles_expr(col, k), lambda s: F.lower(F.lpad(F.hex(F.xxhash64(s)), 16, "0")))
    return F.concat_ws("", F.slice(F.array_sort(hashes), 1, n_keep))


def gram_repetition_struct(toks_col: Column | str, k: int = 3) -> Column:
    """struct(n_grams, n_distinct) over the doc's k-gram shingles — the
    within-document repetition signal of the Gopher/RefinedWeb family of
    quality rules (a doc whose gram multiset is mostly duplicates is
    boilerplate/spam).  Duplicate fraction = (n_grams - n_distinct) /
    n_grams, computed by the caller so 0-gram docs stay NULL-safe.  Pass
    a BOUND tokens column (see :func:`word_shingles_from_tokens`)."""
    grams = word_shingles_from_tokens(toks_col, k)
    return F.struct(
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )

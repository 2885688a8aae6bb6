"""Release handles for operator-internal persisted intermediates.

Several operators (the banded LSH callers of the one MinHash-LSH core in
``operators/dedupe`` — its xxhash64 operators and the md5 oracle-parity
queries in ``queries`` — plus ``operators/similarity``) persist a narrow
intermediate because it feeds multiple consumers inside the returned
plan — without the persist, Catalyst recomputes the whole upstream per
consumer (measured 33 s → 7 s at sf0.1).  The persist must outlive the
operator call (the caller hasn't run an action yet), so the operator cannot
unpersist it itself.  Left alone, a long-lived driver invoking such
operators repeatedly accumulates cached RDDs holding executor memory until
LRU eviction (round-3 ADVICE).

The contract: operators attach their persisted handles to the DataFrame
they return via :func:`track`; callers release them with :func:`release`
after their consuming action::

    pairs = lsh_candidate_pairs(sig)
    pairs.write.parquet(out)
    release(pairs)            # unpersists the internal banding

``plans.validate.validate`` follows the same contract: it persists its
per-doc frame (the one read of the corpus) and tracks it on both the
report and the violations it returns::

    res = validate(docs, catalog)
    res.violations.write.parquet(out)
    rows = res.report.collect()
    release(res.report)       # unpersists the per-doc frame

A handle may itself carry handles (a query that returns a projection of
``res.report`` tracks ``res.report``); ``release`` follows them.
``release`` is a no-op on DataFrames without handles, so callers may apply
it unconditionally.  ``spark.catalog.clearCache()`` remains the blunt
fallback (bench.py runs it before every timed pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_hashio_persisted"


def track(out: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Attach persisted ``intermediates`` to ``out`` for later release."""
    handles = tuple(getattr(out, _ATTR, ())) + intermediates
    setattr(out, _ATTR, handles)
    return out


def release(df: DataFrame) -> None:
    """Unpersist every intermediate an operator persisted while building
    ``df`` (no-op if there are none).  Call after the consuming action."""
    for h in getattr(df, _ATTR, ()):
        h.unpersist()
        release(h)
    setattr(df, _ATTR, ())

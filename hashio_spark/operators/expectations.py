"""Declarative data-quality expectations — Deequ-style rules compiled
into ONE aggregation pass.

The flagship constraint set (uniqueness, referential, span shape) covers
the fixed invariants of the interleaved-document schema; real pipelines
also carry ad-hoc per-table rules ("n_chars is never null", "mean doc
length stays between 10 and 5000 per source").  The public pattern is
Amazon Deequ / Great Expectations: declare (column, metric, bound)
rules, evaluate them per slice, gate the run on failures.

Spark-first shape: ALL rules compile into a single
``groupBy(slice).agg(...)`` — every metric here is algebraic
(count/sum/min/max), so the one pass gets map-side partials and the
shuffle carries O(slices × rules) scalars regardless of corpus size.
The per-rule verdict explode is an ``inline`` of a rule-count-sized
struct array built FROM the aggregated row — no second scan, no join.
``distinct`` is exact (count(distinct) — a second shuffle keyed on the
value, oracle-portable); ``approx_distinct`` is the 100-TB tier (HLL
sketch, merges map-side, single shuffle) — same contract as the stats
pass (`operators/stats.py`).

Reference parity: the reference validates only digest equality
(`/root/reference/lib/hashio/encoder.py:651-705`); declarative metric
rules are the north-rule "schema + constraint validator" generalization.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_METRICS = ("completeness", "min", "max", "mean", "distinct", "approx_distinct", "row_count")
_OPS = (">=", "<=", "between")


@dataclass(frozen=True)
class Expectation:
    """One rule: ``metric(column) op bound`` (bound = (lo, hi) for between).

    ``column`` is ignored for ``row_count`` (pass any column name; it is
    echoed in the output for lineage)."""

    column: str
    metric: str
    op: str
    bound: float | tuple[float, float]

    def __post_init__(self) -> None:
        if self.metric not in _METRICS:
            raise ValueError(f"unknown metric: {self.metric} (want one of {_METRICS})")
        if self.op not in _OPS:
            raise ValueError(f"unknown op: {self.op} (want one of {_OPS})")
        if self.op == "between" and not (isinstance(self.bound, tuple) and len(self.bound) == 2):
            raise ValueError("op 'between' needs bound=(lo, hi)")
        if self.op != "between" and isinstance(self.bound, tuple):
            raise ValueError(f"op '{self.op}' needs a scalar bound")


def _metric_expr(rule: Expectation) -> Column:
    c = F.col(rule.column)
    if rule.metric == "completeness":
        return F.count(c).cast("double") / F.count(F.lit(1)).cast("double")
    if rule.metric == "min":
        return F.min(c).cast("double")
    if rule.metric == "max":
        return F.max(c).cast("double")
    if rule.metric == "mean":
        # decimal-exact sum so the mean is identical under any partial-agg
        # merge order (same discipline as corr_by_segment)
        return F.sum(c.cast("decimal(38,6)")).cast("double") / F.count(c).cast("double")
    if rule.metric == "distinct":
        return F.count_distinct(c).cast("double")
    if rule.metric == "approx_distinct":
        return F.approx_count_distinct(c).cast("double")
    return F.count(F.lit(1)).cast("double")  # row_count


def evaluate_expectations(
    df: DataFrame,
    rules: list[Expectation],
    by: str | list[str] | None = None,
) -> DataFrame:
    """Evaluate every rule per slice (``by`` columns; None = whole table).

    Output: one row per (slice, rule) —
    ``(by…, rule_id, column, metric, op, value, bound_lo, bound_hi,
    passed)`` with ``value`` rounded to 6 decimals (the SAME rounded
    value drives the verdict, so pass/fail is reproducible across
    engines).  One aggregation pass for all rules.
    """
    if not rules:
        raise ValueError("no expectations given")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    aggs = [F.round(_metric_expr(r), 6).alias(f"_m{i}") for i, r in enumerate(rules)]
    agg = df.groupBy(*by_cols).agg(*aggs) if by_cols else df.agg(*aggs)
    return agg.select(*by_cols, F.inline(F.array(*_verdict_structs(rules))))


def _verdict_structs(rules: list[Expectation]) -> list[Column]:
    """Per-rule verdict structs over the aggregated row's ``_m{i}``
    columns (shared by the batch and streaming evaluators).

    A NULL metric (empty slice, or min/max/mean over an all-null column)
    FAILS its rule — ``passed`` is coalesced to false, never NULL, so the
    summary's failure count and a CI gate agree (a three-valued ``passed``
    would make ``sum(when(~passed, 1))`` silently skip exactly the rows a
    gate most needs to see)."""
    structs = []
    for i, r in enumerate(rules):
        v = F.col(f"_m{i}")
        if r.op == ">=":
            lo, hi = float(r.bound), None
            ok = v >= F.lit(lo)
        elif r.op == "<=":
            lo, hi = None, float(r.bound)
            ok = v <= F.lit(hi)
        else:
            lo, hi = float(r.bound[0]), float(r.bound[1])
            ok = (v >= F.lit(lo)) & (v <= F.lit(hi))
        structs.append(
            F.struct(
                F.lit(i).cast("long").alias("rule_id"),
                F.lit(r.column).alias("column"),
                F.lit(r.metric).alias("metric"),
                F.lit(r.op).alias("op"),
                v.alias("value"),
                (F.lit(lo).cast("double") if lo is not None else F.lit(None).cast("double")).alias("bound_lo"),
                (F.lit(hi).cast("double") if hi is not None else F.lit(None).cast("double")).alias("bound_hi"),
                F.coalesce(ok, F.lit(False)).alias("passed"),
            )
        )
    return structs


@dataclass(frozen=True)
class SchemaField:
    """One column contract: ``name`` must exist with Spark type
    ``dtype`` (simpleString form, e.g. ``bigint``, ``string``,
    ``array<struct<kind:string,...>>``); ``nullable=False`` additionally
    requires the physical column to be non-nullable."""

    name: str
    dtype: str
    nullable: bool = True


def schema_verdicts(
    df: DataFrame, contract: list[SchemaField], strict: bool = False
) -> list[tuple[str, str | None, str | None, str]]:
    """Validate ``df``'s PHYSICAL schema against a declared contract —
    the "schema" half of the schema + constraint validator.  Pure
    metadata: reads ``df.schema`` only and returns plain Python tuples —
    no scan, no Spark job — so it is the cheap pre-flight gate a pipeline
    runs before committing executors to a 100-TB pass (a wrong-typed
    column fails here in milliseconds, not an hour into the job).

    One ``(column, expected, actual, status)`` verdict per contract
    field — status ``ok`` / ``missing`` / ``type_mismatch`` /
    ``nullability`` — plus, when ``strict``, one
    ``unexpected`` row per physical column the contract does not name.
    Struct/array types compare STRUCTURALLY: struct fields match by NAME
    (order-insensitive — downstream consumers access fields by name, so
    a writer that serialized the same fields in a different order is
    valid), and integer widths coerce (an ``int`` contract accepts a
    ``bigint`` column and vice versa — common across writers; ADVICE r5).
    """

    def _compat(want, got) -> bool:
        import pyspark.sql.types as T

        _ints = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if isinstance(want, T.StructType) and isinstance(got, T.StructType):
            wf = {f.name: f.dataType for f in want.fields}
            gf = {f.name: f.dataType for f in got.fields}
            return set(wf) == set(gf) and all(_compat(wf[k], gf[k]) for k in wf)
        if isinstance(want, T.ArrayType) and isinstance(got, T.ArrayType):
            return _compat(want.elementType, got.elementType)
        if isinstance(want, T.MapType) and isinstance(got, T.MapType):
            return _compat(want.keyType, got.keyType) and _compat(want.valueType, got.valueType)
        if isinstance(want, _ints) and isinstance(got, _ints):
            return True
        return want.simpleString() == got.simpleString()

    import pyspark.sql.types as T

    actual = {f.name: f for f in df.schema.fields}
    rows: list[tuple[str, str, str | None, str]] = []
    for c in contract:
        f = actual.get(c.name)
        want = "".join(c.dtype.split()).lower()
        try:
            want_dt = T._parse_datatype_string(want)
        except Exception:
            want_dt = None
        if f is None:
            rows.append((c.name, c.dtype, None, "missing"))
        elif not (
            _compat(want_dt, f.dataType)
            if want_dt is not None
            else f.dataType.simpleString() == want
        ):
            rows.append((c.name, c.dtype, f.dataType.simpleString(), "type_mismatch"))
        elif not c.nullable and f.nullable:
            rows.append((c.name, c.dtype, f.dataType.simpleString(), "nullability"))
        else:
            rows.append((c.name, c.dtype, f.dataType.simpleString(), "ok"))
    if strict:
        named = {c.name for c in contract}
        for f in df.schema.fields:
            if f.name not in named:
                rows.append((f.name, None, f.dataType.simpleString(), "unexpected"))
    return rows


def check_schema(df: DataFrame, contract: list[SchemaField], strict: bool = False) -> DataFrame:
    """:func:`schema_verdicts` as a DataFrame
    ``(column, expected, actual, status)``."""
    return df.sparkSession.createDataFrame(
        schema_verdicts(df, contract, strict),
        "column string, expected string, actual string, status string",
    )


def expectation_summary(verdicts: DataFrame, by: str | list[str] | None = None) -> DataFrame:
    """Gate row(s): (by…, n_rules, n_failed, passed) from the verdict table
    — the shape a CI step asserts on (exit nonzero iff any ``not passed``)."""
    by_cols = [by] if isinstance(by, str) else list(by or [])
    agg = verdicts.groupBy(*by_cols) if by_cols else verdicts.groupBy()
    return agg.agg(
        F.count(F.lit(1)).alias("n_rules"),
        F.sum(F.when(~F.col("passed"), 1).otherwise(0)).cast("long").alias("n_failed"),
        (F.sum(F.when(~F.col("passed"), 1).otherwise(0)) == 0).alias("passed"),
    )


def schema_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Schema evolution report between two corpus versions — scan-free
    (pure metadata), the pre-flight diff a pipeline runs before trusting
    a new drop: one row per column that was ``added`` / ``removed`` /
    ``type_changed`` / ``nullability_changed`` (tightened or loosened).
    Unchanged columns are omitted; nested types compare by simpleString.
    """
    b = {f.name: f for f in before.schema.fields}
    a = {f.name: f for f in after.schema.fields}
    rows: list[tuple[str, str | None, str | None, str]] = []
    for name, f in a.items():
        if name not in b:
            rows.append((name, None, f.dataType.simpleString(), "added"))
    for name, f in b.items():
        g = a.get(name)
        if g is None:
            rows.append((name, f.dataType.simpleString(), None, "removed"))
        elif f.dataType.simpleString() != g.dataType.simpleString():
            rows.append((name, f.dataType.simpleString(), g.dataType.simpleString(), "type_changed"))
        elif f.nullable != g.nullable:
            rows.append((name, f.dataType.simpleString(), g.dataType.simpleString(), "nullability_changed"))
    return before.sparkSession.createDataFrame(
        rows, "column string, before string, after string, change string"
    )

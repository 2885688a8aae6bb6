"""Per-partition column statistics — one shuffle, map-side partials.

The stats pass generalizes the reference's metadata projection + progress
counters (``/root/reference/lib/hashio/utils.py:107-126``,
``worker.py:151-152,287-291``) into a single ``groupBy(partition_id)``
aggregation: count / nulls / min / max / HLL-distinct per column plus the
group digests.  Every aggregate here is algebraic → Spark computes
map-side partials before the shuffle, so network traffic is
O(partitions × columns), independent of row count: the property that
makes the pass viable at 10^12 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stat_aggs(columns: list[str], hll_rsd: float = 0.05) -> list[Column]:
    """count/null-count/min/max/approx-distinct aggregate expressions.

    ``min``/``max`` over a string column has an immutable buffer field,
    which makes the whole aggregation a ``SortAggregate`` (a per-task sort
    of the INPUT rows) — cheap over a narrow projection like the
    flagship's per-doc frame, expensive over one that carries a wide
    payload column.
    """
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.approx_count_distinct(c, hll_rsd).alias(f"{c}_approx_distinct"),
        ]
    return aggs


def column_stats(df: DataFrame, columns: list[str], group_col: str = "partition_id") -> DataFrame:
    """Per-group stats DataFrame, one row per group."""
    return df.groupBy(group_col).agg(*stat_aggs(columns))


def exact_group_corr(
    df: DataFrame,
    x: str,
    y: str,
    group_col: str,
    scale: int = 100,
) -> DataFrame:
    """Per-group Pearson correlation with ENGINE-REPRODUCIBLE doubles.

    ``F.corr`` (and any streaming-moments formulation) sums doubles, and
    double addition is non-associative — the result depends on partition
    boundaries and merge order, so two runs (or two engines) disagree in
    the low bits.  Here both inputs are scaled to exact integers
    (``round(v*scale)``), the five power sums accumulate in
    ``decimal(38,0)`` (associative, overflow-checked, exact under any
    partitioning), and only the final closed-form expression runs in
    floating point — identical exact operands + identical IEEE-754
    operation tree = bit-identical output everywhere.

    Scale: one hash-aggregate with map-side partials; network is
    O(groups), independent of row count.  Output:
    (group_col, n, corr) with corr rounded to 6 decimals.
    """
    # per-row products stay in bigint (caller contract: |x*scale·y*scale|
    # < 2^63 per ROW — true for currency-like columns); only the SUMS,
    # which genuinely exceed int64 at scale, are lifted to decimal(38,0).
    # decimal×decimal would hit Spark's 38-precision cap instead.
    xi = F.round(F.col(x) * scale).cast("long")
    yi = F.round(F.col(y) * scale).cast("long")

    def _dsum(col):
        return F.sum(col.cast("decimal(38,0)"))

    sums = (
        df.select(F.col(group_col), xi.alias("_x"), yi.alias("_y"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("_x")).alias("_sx"),
            _dsum(F.col("_y")).alias("_sy"),
            _dsum(F.col("_x") * F.col("_y")).alias("_sxy"),
            _dsum(F.col("_x") * F.col("_x")).alias("_sx2"),
            _dsum(F.col("_y") * F.col("_y")).alias("_sy2"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sx2 = F.col("_sx2").cast("double")
    sy2 = F.col("_sy2").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    return sums.select(group_col, "n", F.round(corr, 6).alias("corr"))


def zscore_outliers(
    df: DataFrame,
    x: str,
    group_col: str,
    key_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flags with engine-reproducible doubles —
    the length/quality outlier filter of a corpus-cleaning pass.

    Same exactness discipline as :func:`exact_group_corr`: ``x`` must be
    integer-valued (cast to long); n/Σx/Σx² accumulate in decimal(38,0)
    (associative — identical under any partitioning), and only the final
    closed form runs in floating point.  mean = Σx/n, population variance
    = (n·Σx² − Σx²̂)/n², z = (x − mean)/σ — multiply/divide/sqrt are all
    IEEE-754 exactly-rounded, so the SAME expression tree in any engine
    produces bit-identical z and identical keep decisions.

    Scale: one hash-aggregate to O(groups) rows, broadcast back, per-row
    filter — no window, no sort.  Output: (key, group, x, z) for rows
    with |z| > threshold, z rounded to 6 decimals AFTER the compare (the
    gate uses the full-precision value).
    """
    xi = F.col(x).cast("long")

    def _dsum(col):
        return F.sum(col.cast("decimal(38,0)"))

    g = (
        df.select(F.col(group_col), xi.alias("_x"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            _dsum(F.col("_x")).alias("_sx"),
            _dsum(F.col("_x") * F.col("_x")).alias("_sx2"),
        )
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sx2 = F.col("_sx2").cast("double")
    stats = g.select(
        group_col,
        (sx / n).alias("_mean"),
        F.sqrt((n * sx2 - sx * sx) / (n * n)).alias("_std"),
    )
    j = df.join(F.broadcast(stats), group_col)
    z = (xi.cast("double") - F.col("_mean")) / F.col("_std")
    return (
        j.filter(F.col("_std") > 0)
        .filter(F.abs(z) > F.lit(float(threshold)))
        .select(
            F.col(key_col),
            F.col(group_col),
            xi.alias(x),
            F.round(z, 6).alias("zscore"),
        )
    )


def rolling_stats(
    df: DataFrame,
    part_col: str,
    order_cols: list[str],
    value_col: str,
    window_rows: int = 3,
) -> DataFrame:
    """Per-key rolling aggregates over an ordered event stream: trailing
    ``window_rows``-row moving average + running count/sum of
    ``value_col`` — the feature-engineering primitive behind per-user
    rate/velocity signals (reference analog: the running progress
    counters, ``worker.py:151-152``, generalized from one global stream
    to per-key ordered streams).

    Scale shape: ONE exchange hash-partitioned on ``part_col`` and a
    per-key sort — both windows below share the identical
    (partition, order) spec, so Catalyst plans a single Window node over
    a single sort.  Frames are row-bounded (no unbounded-following), so
    the window evaluator streams each key group without materializing
    it.  Skewed keys (one user with millions of events) are the caveat;
    profile with ``skew.key_profile`` and split hot keys upstream.

    ``order_cols`` must be a deterministic total order within each key
    (include a unique id as tiebreak) or the moving average is
    layout-dependent.
    """
    from pyspark.sql import Window

    base = Window.partitionBy(part_col).orderBy(*[F.col(c).asc() for c in order_cols])
    trailing = base.rowsBetween(-(window_rows - 1), 0)
    running = base.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(value_col).cast("double")
    return (
        df.withColumn("seq", F.row_number().over(base))
        .withColumn("moving_avg", F.round(F.avg(v).over(trailing), 6))
        .withColumn("running_sum", F.round(F.sum(v).over(running), 6))
    )

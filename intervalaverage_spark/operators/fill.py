"""Gap-value fill over regular series: LOCF / NOCB / linear interpolation.

``finalize`` (operators/tiers.py) emits dense tier grids whose uncovered
windows carry NULL values (the reference's unmatched-y semantics,
src/code.cpp:32-50). A retention/rollup engine also needs the standard
fills on top of that grid:

* ``locf``  — last observation carried forward (per key, in order);
  optional ``limit`` bounds how far (in order-units) a value is carried.
* ``nocb``  — next observation carried backward (the mirror).
* ``interpolate_linear`` — interior NULLs get the straight line between
  the surrounding observations; leading/trailing NULLs stay NULL.

All three are single-window codegen expressions
(``last(v, ignorenulls=True)`` over the key partition) — ONE exchange on
the group key, no join, no UDF. At 10^12 rows the window partitions by
the same (url-hash) key the tier tables are already laid out on, so with
a bucketed/partitioned layout the exchange disappears entirely.

Skew (``bucket_width``): the same windows partitioned by
``(key, floor(order/width))`` through the time-sliced carry
(plans/timeslice.py). The summary is the last (locf) / first (nocb) /
both (interpolate) non-null ``struct(t, v)`` per (key, bucket); the carry
is the nearest one in an earlier / later bucket. The bucketed path needs
an integer order domain: fractional order columns raise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.plans.timeslice import timeslice
from intervalaverage_spark.validation import IntervalSchemaError


def _order_distance_col(df: DataFrame, order_col: str,
                        bucket_width: int | None) -> Column:
    """Order expression used for ``limit`` distance arithmetic. Numeric
    order columns keep their NATIVE type on the flat path (a long cast
    would silently truncate a double order column, changing limit
    semantics); timestamp columns are cast to long (epoch seconds)
    because their native difference is a DayTimeIntervalType that cannot
    be compared to the integer ``limit`` (round-5 ADVICE — the
    native-type change broke timestamp callers). Date columns go through
    ``unix_date`` (epoch DAYS): Spark 3+/4 forbids a date→numeric cast
    outright (DATATYPE_MISMATCH, round-6 ADVICE), and the day unit is
    what a daily-grid ``limit`` means. The bucketed path always
    long-izes the order: it is also the bucket and carry time."""
    import pyspark.sql.types as T

    dt = df.schema[order_col].dataType
    if isinstance(dt, T.DateType):
        return F.unix_date(F.col(order_col))
    if bucket_width is not None or isinstance(
            dt, (T.TimestampType, T.TimestampNTZType)):
        return F.col(order_col).cast("long")
    return F.col(order_col)


def _carry(v: str, forward: bool) -> str:
    return f"__c{'f' if forward else 'b'}_{v}"


def _sliced(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str],
    out_suffix: str,
    bucket_width: int | None,
    directions: Sequence[bool],
) -> tuple[DataFrame, list[str]]:
    """Validate, then :func:`timeslice` with the nearest non-null
    observation ``struct<t, v>`` of each value column as carry: from the
    nearest strictly EARLIER bucket, or LATER for ``forward`` in
    ``directions``."""
    import pyspark.sql.types as T

    for c in (order_col, *value_cols, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"missing column {c!r}")
    clash = [f"{v}{out_suffix}" for v in value_cols if f"{v}{out_suffix}" in df.columns]
    if clash:
        raise IntervalSchemaError(f"output column(s) {clash} already exist")
    dt = df.schema[order_col].dataType
    if bucket_width is not None and (
            isinstance(dt, (T.FloatType, T.DoubleType))
            or (isinstance(dt, T.DecimalType) and dt.scale > 0)):
        raise IntervalSchemaError(
            f"bucket_width needs an integer order domain; {order_col!r} is "
            f"{dt.simpleString()} (use the flat path or scale to integers)")
    t = _order_distance_col(df, order_col, bucket_width)
    # per bucket: the latest (earliest, when carried backward in time)
    # non-null observation; the carry reads it under the same name
    summary = [
        (F.min_by if fwd else F.max_by)(
            F.struct(t.alias("t"), F.col(v).alias("v")),
            F.when(F.col(v).isNotNull(), t),
        ).alias(_carry(v, fwd))
        for v in value_cols for fwd in directions
    ]
    return timeslice(
        df, group_vars, t, bucket_width, summary=summary,
        combine=lambda earlier, later: [
            F.last(_carry(v, fwd), ignorenulls=True)
            .over(later if fwd else earlier).alias(_carry(v, fwd))
            for v in value_cols for fwd in directions
        ],
    )


def _nearest(v: str, ot: Column, order_col: str, part: list[str],
             bucketed: bool, forward: bool) -> tuple[Column, Column]:
    """Nearest non-null ``v`` at or before (``forward``: at or after) each
    row, and its ``ot``: in-bucket window, else the bucket carry."""
    w = (
        Window.partitionBy(*part)
        .orderBy(F.desc(order_col) if forward else order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    val = F.last(v, ignorenulls=True).over(w)
    at = F.last(F.when(F.col(v).isNotNull(), ot), ignorenulls=True).over(w)
    if bucketed:
        c = F.col(_carry(v, forward))
        val = F.when(at.isNull(), c.getField("v")).otherwise(val)
        at = F.coalesce(at, c.getField("t"))
    return val, at


def _carry_fill(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str],
    limit: int | None,
    out_suffix: str,
    bucket_width: int | None,
    forward: bool,
) -> DataFrame:
    """:func:`locf` (``forward=False``) and :func:`nocb` (``forward=True``)."""
    value_cols = list(value_cols)
    src, part = _sliced(df, order_col, value_cols, group_vars, out_suffix,
                        bucket_width, [forward])
    ot = _order_distance_col(df, order_col, bucket_width)
    cols: list[Column] = []
    for v in value_cols:
        filled, src_t = _nearest(v, ot, order_col, part,
                                 bucket_width is not None, forward)
        if limit is not None:
            dist = src_t - ot if forward else ot - src_t
            filled = F.when(dist <= F.lit(int(limit)), filled)
        cols.append(filled.alias(f"{v}{out_suffix}"))
    return src.select(*df.columns, *cols)


def locf(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    limit: int | None = None,
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Fill NULLs with the last preceding non-NULL per key; appends
    ``<v><out_suffix>`` per value column. ``limit``: carry at most that
    many order-units past the observation (NULL again beyond it) — the
    distance is measured in the order column's OWN type for numeric
    order columns (exact for doubles too) and in long epoch units for
    timestamp/date ones (see :func:`_order_distance_col`).
    ``bucket_width``: time-sliced skew path (module docstring); it
    requires an integer order domain and raises on fractional ones."""
    return _carry_fill(df, order_col, value_cols, group_vars, limit,
                       out_suffix, bucket_width, forward=False)


def nocb(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    limit: int | None = None,
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Next observation carried backward — :func:`locf` on the mirrored
    order axis (same single-exchange plan, descending sort; same
    ``bucket_width`` skew path with the carry scanned from LATER
    buckets)."""
    return _carry_fill(df, order_col, value_cols, group_vars, limit,
                       out_suffix, bucket_width, forward=True)


def interpolate_linear(
    df: DataFrame,
    order_col: str,
    value_cols: Sequence[str],
    group_vars: Sequence[str] = (),
    out_suffix: str = "_filled",
    bucket_width: int | None = None,
) -> DataFrame:
    """Interior NULLs become the linear interpolation between the nearest
    preceding and following observations (weighted by order distance);
    rows outside the observed span stay NULL; observed rows pass through.

    Two windows (ascending + descending) over the SAME key partitioning —
    Catalyst plans one exchange and two sorts, still zero joins. With
    ``bucket_width`` the windows re-key by (key, bucket) and BOTH carry
    directions come from one 1-row-per-bucket table (one extra join)."""
    value_cols = list(value_cols)
    src, part = _sliced(df, order_col, value_cols, group_vars, out_suffix,
                        bucket_width, [False, True])
    t = F.col(order_col).cast("double")
    cols: list[Column] = []
    for v in value_cols:
        pv, pt = _nearest(v, t, order_col, part,
                          bucket_width is not None, forward=False)
        nv, nt = _nearest(v, t, order_col, part,
                          bucket_width is not None, forward=True)
        interp = pv + (nv - pv) * (t - pt) / (nt - pt)
        cols.append(
            F.when(F.col(v).isNotNull(), F.col(v).cast("double"))
            .when(pv.isNotNull() & nv.isNotNull(), interp)
            .alias(f"{v}{out_suffix}")
        )
    return src.select(*df.columns, *cols)

"""As-of (point-in-time) join — the lead/lag construction generalized.

The reference derives validity windows from visit timestamps with an
as-of/lead construction (SURVEY §1.5; sources/webts.py mirrors it). This
module exposes the underlying operator directly: for every left row at
time ``t``, attach the most recent right row at ``rt <= t`` (backward; or
the earliest ``rt >= t`` forward), per key, optionally within a
``tolerance``.

Spark-first design — **zero join in the default path**:

* tag both sides, UNION them, and run ONE window per key ordered by
  ``(t, side)`` with ``last(payload, ignorenulls=True)``. Right rows sort
  before left rows at equal ``t``, so the match is inclusive. One
  exchange, one sort, whole-stage codegen; no range join, no broadcast,
  no per-key binary search. (A join-based as-of needs an equi+range
  non-equi join and a per-pair argmax — strictly more shuffles.)

* ``bucket_width`` (the skew path): the same window partitioned by
  ``(key, floor(t/width))`` through the time-sliced carry
  (plans/timeslice.py). The summary is the last right payload per
  (key, bucket) — one ``max_by`` over the tagged union, so buckets that
  hold only left rows get a row too — and the carry is the nearest
  earlier bucket's. Equality with the flat path is property-tested
  (tests/test_property_hypothesis.py, tests/test_asof_fill.py).

100 TB: both paths shuffle each row exactly once on a composite key the
data model already spreads (url-hash × time); no driver collect, no
state larger than one window partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.plans.timeslice import timeslice
from intervalaverage_spark.validation import IntervalSchemaError


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance: int | None = None,
    bucket_width: int | None = None,
    suffix: str = "_right",
    validate: bool = False,
) -> DataFrame:
    """For each left row, attach the closest right row per key.

    backward: latest right with ``rt <= t``; forward: earliest right with
    ``rt >= t``. Unmatched (or out-of-``tolerance``) left rows keep NULL
    right columns — left rows are never dropped (left-join semantics,
    matching DuckDB ``ASOF LEFT JOIN``).

    Output: every left column, then ``<right_ts><suffix>`` (the matched
    timestamp) and ``<c><suffix>`` for each of ``right_cols`` (default:
    all non-key, non-ts right columns).

    Right rows must be unique per (key, ``right_ts``) — the analogue of
    the reference's non-overlapping-x requirement
    (R/intervalaverage_functions.R:324-338): with duplicates the matched
    payload is sort-order-dependent. ``validate=True`` checks it eagerly
    (one aggregate + a single-row head, the reference's skippable
    eager-validation philosophy); default off — dedup upstream.
    """
    if direction not in ("backward", "forward"):
        raise IntervalSchemaError(f"direction must be backward/forward, got {direction!r}")
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*on, right_ts)]
    right_cols = list(right_cols)
    for c in on + [left_ts]:
        if c not in left.columns:
            raise IntervalSchemaError(f"left is missing column {c!r}")
    for c in on + [right_ts, *right_cols]:
        if c not in right.columns:
            raise IntervalSchemaError(f"right is missing column {c!r}")
    clash = [f"{c}{suffix}" for c in (right_ts, *right_cols) if f"{c}{suffix}" in left.columns]
    if clash:
        raise IntervalSchemaError(f"suffix {suffix!r} collides with left columns {clash}")
    if validate:
        from intervalaverage_spark.operators.analytics import check_unique_ts

        check_unique_ts(right, right_ts, on)

    pay = F.struct(
        F.col(right_ts).cast("long").alias("__rt"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    left_pay_cols = [c for c in left.columns]
    # field list built as ONE join so an empty right_cols yields the valid
    # "struct<__rt:bigint>" (not a trailing comma → opaque DDL parse error)
    rpay_ddl = "struct<" + ",".join(
        ["__rt:bigint"]
        + [f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in right_cols]
    ) + ">"
    l2 = left.select(
        *on,
        F.col(left_ts).cast("long").alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c).alias(c) for c in left_pay_cols]).alias("__lpay"),
        F.lit(None).cast(rpay_ddl).alias("__rpay"),
    )
    r2 = right.select(
        *on,
        F.col(right_ts).cast("long").alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l2.schema["__lpay"].dataType.simpleString()).alias("__lpay"),
        pay.alias("__rpay"),
    )
    u = l2.unionByName(r2)

    # forward = backward on the mirrored time axis: negate t (right rows
    # still sort first at equal |t| via __side) and every comparison below
    # is unchanged.
    if direction == "forward":
        u = u.withColumn("__t", -F.col("__t"))

    def in_bucket(part: list[str]) -> list[Column]:
        w = (
            Window.partitionBy(*part)
            .orderBy("__t", "__side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return [F.last("__rpay", ignorenulls=True).over(w).alias("__m")]

    src, _ = timeslice(
        u, on, F.col("__t"), bucket_width,
        summary=[F.max_by("__rpay", F.when(F.col("__side") == 0, F.col("__t")))
                 .alias("__blast")],
        combine=lambda earlier, _later: [
            F.last("__blast", ignorenulls=True).over(earlier).alias("__carry")],
        within=in_bucket,
    )
    matched = src.filter(F.col("__side") == 1)
    m = F.col("__m")
    if bucket_width is not None:
        m = F.coalesce(m, F.col("__carry"))
    if tolerance is not None:
        # distance on the (possibly mirrored) axis: __t - __rt >= 0 always
        dist = F.col("__t") - (m.getField("__rt") * (-1 if direction == "forward" else 1))
        m = F.when(dist <= F.lit(int(tolerance)), m)
    out = [F.col(f"__lpay.{c}").alias(c) for c in left_pay_cols]
    out.append(m.getField("__rt").alias(f"{right_ts}{suffix}"))
    out += [m.getField(c).alias(f"{c}{suffix}") for c in right_cols]
    return matched.select(*out)

"""The time-sliced carry (plans/timeslice.py) behind every operator's
``bucket_width`` path: the shared width check, the integer-order
contract of the bucketed fills, and the plan shape each operator gets
from it (flat == bucketed results are property-tested in
tests/test_property_hypothesis.py)."""

from __future__ import annotations

import decimal

import pandas as pd
import pytest

from intervalaverage_spark.operators.analytics import rate, rolling_decomposable
from intervalaverage_spark.operators.asof import asof_join
from intervalaverage_spark.operators.fill import interpolate_linear, locf, nocb
from intervalaverage_spark.operators.sessions import sessionize
from intervalaverage_spark.validation import IntervalSchemaError


@pytest.fixture(scope="module")
def pts(spark):
    return spark.createDataFrame(pd.DataFrame(
        {"k": [1, 1, 1, 2], "t": [1, 5, 9, 3], "v": [1.0, None, 3.0, 2.0]}))


OPS = {
    "asof_join": lambda df, bw: asof_join(df, df, ["k"], "t", "t", ["v"],
                                          bucket_width=bw),
    "locf": lambda df, bw: locf(df, "t", ["v"], ["k"], bucket_width=bw),
    "nocb": lambda df, bw: nocb(df, "t", ["v"], ["k"], bucket_width=bw),
    "interpolate_linear": lambda df, bw: interpolate_linear(
        df, "t", ["v"], ["k"], bucket_width=bw),
    "sessionize": lambda df, bw: sessionize(df, "t", 2, ["k"], bucket_width=bw),
    "rate": lambda df, bw: rate(df, "t", "v", ["k"], bucket_width=bw),
    "rolling_decomposable": lambda df, bw: rolling_decomposable(
        df, "t", "v", 3, ["k"], bucket_width=bw, assume_unique_ts=True),
}


@pytest.mark.parametrize("width", [0, -10])
@pytest.mark.parametrize("op", sorted(OPS))
def test_bucket_width_must_be_positive(pts, op, width):
    """Every bucketed entry point rejects a non-positive width when it is
    called — not with REMAINDER_BY_ZERO at action time, and not by
    silently dropping matches (a negative width flips floor division)."""
    with pytest.raises(IntervalSchemaError, match="bucket_width must be positive"):
        OPS[op](pts, width)


def test_internal_column_clash(pts):
    """An input column that shares a name the carry adds (the bucket, or
    an operator's carry column) is rejected, not silently shadowed."""
    from pyspark.sql import functions as F

    from intervalaverage_spark.plans.timeslice import BUCKET

    for extra in (BUCKET, "__cb_v"):
        df = pts.withColumn(extra, F.lit(0))
        with pytest.raises(IntervalSchemaError, match="internal column"):
            locf(df, "t", ["v"], ["k"], bucket_width=4)
        locf(df, "t", ["v"], ["k"])  # the flat path adds neither


def test_bucketed_fill_rejects_fractional_order(spark):
    """The bucketed fills bucket and carry on a long order: a fractional
    order column would be truncated and disagree with the flat path
    (locf limit=1 would fill 1.9 from 0.5; interpolation at 1.9 would give
    2.90 instead of 2.68). They raise; the flat path keeps the exact
    native-type answer."""
    data = [(1, 0.5, 1.0), (1, 1.9, None), (1, 2.2, None), (1, 3.0, 4.0)]
    for ddl in ("float", "double", "decimal(10,2)"):
        df = spark.createDataFrame(
            [(k, decimal.Decimal(str(o)) if ddl.startswith("decimal") else o, v)
             for k, o, v in data], f"k int, o {ddl}, v double")
        for op in (locf, nocb, interpolate_linear):
            with pytest.raises(IntervalSchemaError, match="integer order domain"):
                op(df, "o", ["v"], ["k"], bucket_width=2)
    df = spark.createDataFrame(data, "k int, o double, v double")
    flat = locf(df, "o", ["v"], ["k"], limit=1).toPandas().sort_values("o")
    assert flat["v_filled"].fillna(-1).tolist() == [1.0, -1, -1, 4.0]
    interp = interpolate_linear(df, "o", ["v"], ["k"]).toPandas().sort_values("o")
    assert interp["v_filled"].round(6).tolist()[1] == pytest.approx(2.68)
    # an integral decimal is an integer domain: accepted
    whole = spark.createDataFrame(
        [(1, decimal.Decimal(1), 1.0), (1, decimal.Decimal(4), None)],
        "k int, o decimal(10,0), v double")
    out = locf(whole, "o", ["v"], ["k"], bucket_width=2).toPandas().sort_values("o")
    assert out["v_filled"].tolist() == [1.0, 1.0]


# (joins, hash exchanges) per operator before the carry was shared: the
# flat plans must stay exactly these; a bucketed plan may not gain a join
# or an exchange (the asof's tagged-union summary dropped it from 5 to 4).
PLAN_SHAPES = {
    "asof_join": ((0, 1), (1, 5)),
    "locf": ((0, 1), (1, 4)),
    "nocb": ((0, 1), (1, 4)),
    "interpolate_linear": ((0, 1), (1, 4)),
    "rate": ((0, 1), (1, 4)),
    "sessionize": ((0, 1), (1, 4)),
    "rolling_decomposable": ((0, 3), (4, 17)),
}


def _shape(df) -> tuple[int, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = sum(1 for line in plan.splitlines() if "Join " in line)
    return joins, plan.count("Exchange hashpartitioning")


@pytest.mark.parametrize("op", sorted(OPS))
def test_plan_shape(spark, pts, op):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flat, bucketed = _shape(OPS[op](pts, None)), _shape(OPS[op](pts, 4))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    want_flat, (want_joins, max_exchanges) = PLAN_SHAPES[op]
    assert flat == want_flat
    assert bucketed[0] == want_joins
    assert bucketed[1] <= max_exchanges

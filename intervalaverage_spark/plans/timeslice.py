"""Time-sliced carry — the one hot-key mechanism behind ``asof_join``,
``locf`` / ``nocb`` / ``interpolate_linear``, ``sessionize``, ``rate``
and ``rolling_decomposable``.

A window partitioned only by its key puts an entire hot key in one task.
With ``bucket_width`` set, these operators partition their windows by
``(key, floor(t/width))`` instead, so a hot key spreads across its time
buckets, and resolve what a row needs from OTHER buckets with a carry:

1. **summary** — one row per (key, bucket): the operator's aggregates
   (last observation, min/max t, bucket sums, ...);
2. **combine** — a window over each key's bucket rows reads the
   summaries of strictly earlier (or strictly later) buckets: the
   operator's carry columns (last carried value, running offset, ...);
3. **join back** — the carry columns join onto the rows on (key, bucket).

The bucket table holds ~span/width rows per key, so the carry scan is
cheap; every heavy stage is keyed by (key, bucket), so the hot key stays
spread. Buckets come from exact integer floor division (``fdiv``), so the
bucketed path needs an integer time domain (long, timestamp seconds, or
epoch days). Each operator keeps ONE code path: with
``bucket_width=None`` the same windows partition by the key alone and no
carry is built — the flat plan. Equality of the two paths is
property-tested per operator (tests/test_property_hypothesis.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from intervalaverage_spark.plans.rangejoin import fdiv
from intervalaverage_spark.validation import IntervalSchemaError

BUCKET = "__ts_bk"


def _fresh(df: DataFrame, added: Sequence[str]) -> None:
    clash = [c for c in added if c in df.columns]
    if clash:
        raise IntervalSchemaError(f"internal column(s) {clash} already exist in input")


def timeslice(
    df: DataFrame,
    keys: Sequence[str],
    t: Column,
    bucket_width: int | None,
    summary: Sequence[Column],
    combine: Callable[[WindowSpec, WindowSpec], Sequence[Column]],
    within: Callable[[list[str]], Sequence[Column]] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Return ``(rows, part)``: ``part`` is what the operator's windows
    partition by — ``keys`` when flat, ``keys + [BUCKET]`` when bucketed.

    ``summary``: aliased aggregates per (key, bucket). ``combine(earlier,
    later)``: aliased carry columns over the summary table — ``earlier``
    frames every strictly earlier bucket in ascending order, ``later``
    every strictly later one in descending order (so ``last`` is the
    nearest bucket in both). ``within(part)``: optional per-row columns
    computed BEFORE the summary (they may feed it), on both paths.

    With ``bucket_width=None`` only ``within`` runs: ``df`` (plus the
    ``within`` columns) and ``keys`` come back unchanged. Otherwise the
    rows gain ``BUCKET``, the ``within`` columns and the carry columns
    (left join: NULL where no carry exists). Any added column that already exists in
    ``df`` raises :class:`IntervalSchemaError`, as does a width <= 0."""
    keys = list(keys)
    if bucket_width is None:
        part = keys
        src = df
    else:
        if bucket_width <= 0:
            raise IntervalSchemaError(f"bucket_width must be positive, got {bucket_width}")
        _fresh(df, [BUCKET])
        part = [*keys, BUCKET]
        src = df.withColumn(BUCKET, fdiv(t, bucket_width))
    if within is not None:
        n = len(src.columns)
        src = src.select("*", *within(part))
        _fresh(df, src.columns[n:])
    if bucket_width is None:
        return src, part

    by_bucket = Window.partitionBy(*keys)
    earlier = by_bucket.orderBy(BUCKET).rowsBetween(Window.unboundedPreceding, -1)
    later = by_bucket.orderBy(F.desc(BUCKET)).rowsBetween(Window.unboundedPreceding, -1)
    carry = src.groupBy(*part).agg(*summary).select(*part, *combine(earlier, later))
    _fresh(df, carry.columns[len(part):])
    return src.join(carry, on=part, how="left"), part

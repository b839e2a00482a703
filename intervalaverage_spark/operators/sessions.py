"""Gap-based sessionization — the crawl-burst / user-session operator.

The dual of the engine's maxgap statistic: where ``interval_average``
reports the longest uncovered run inside a window, sessionization
materializes the covered runs themselves — consecutive observations per
key whose gaps stay ≤ ``gap`` become one session (gaps-and-islands).

Plan: one window per key (lag + running sum of session-break flags) and,
for bounds, one aggregate sharing the SAME (key) partitioning — Catalyst
plans a single exchange for both. All codegen, no join, no UDF.

Skew (``bucket_width``): a session is defined by consecutive rows, so
the window cannot be NAIVELY time-sliced — but cross-bucket merging is
itself a gaps-and-islands problem at BUCKET granularity, resolved by the
time-sliced carry (plans/timeslice.py):

1. sessionize within each ``(key, floor(t/width))`` bucket (local ids);
2. summary per (key, bucket): ``(min_t, max_t, n_sessions)``;
3. combine: a bucket's first session continues the previous bucket's
   last session iff ``min_t − prev_max_t ≤ gap`` (exactly the flat break
   condition at the boundary row), and the running global-id offset is
   ``Σ (n_sessions − merged)`` over earlier buckets;
4. after the join back: ``session_id = offset + local_id − merged``.

Identical output to the flat path (hypothesis-tested, including the
everything-merges ``gap ≥ width`` regime).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from intervalaverage_spark.plans.timeslice import timeslice
from intervalaverage_spark.validation import IntervalSchemaError


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: int,
    group_vars: Sequence[str],
    out_col: str = "session_id",
    bucket_width: int | None = None,
) -> DataFrame:
    """Append a 1-based ``session_id`` per key: a new session starts at
    the first row and whenever ``t - previous t > gap``. Rows with equal
    timestamps share a session (distance 0 ≤ gap). ``bucket_width``
    selects the time-sliced hot-key path (module docstring) — identical
    ids, spread windows."""
    group_vars = list(group_vars)
    for c in (ts_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"missing column {c!r}")
    if out_col in df.columns:
        raise IntervalSchemaError(f"output column {out_col!r} already exists")
    if gap < 0:
        raise IntervalSchemaError(f"gap must be >= 0, got {gap}")
    t = F.col(ts_col).cast("long")
    # flat: the local ids ARE the session ids (same plan, no internal name)
    lsid = out_col if bucket_width is None else "__lsid"

    def local_ids(part: list[str]) -> list[Column]:
        w = Window.partitionBy(*part).orderBy(t)
        prev = F.lag(t).over(w)
        brk = F.when(prev.isNull() | ((t - prev) > gap), 1).otherwise(0)
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return [F.sum(brk).over(run).alias(lsid)]

    def merge_offset(earlier: WindowSpec, _later: WindowSpec) -> list[Column]:
        prev_max = F.last("__max_t", ignorenulls=True).over(earlier)
        merged = F.when(
            prev_max.isNotNull() & ((F.col("__min_t") - prev_max) <= gap), 1
        ).otherwise(0)
        return [
            merged.alias("__smrg"),
            F.coalesce(F.sum(F.col("__n_sess") - merged).over(earlier),
                       F.lit(0)).alias("__soff"),
        ]

    src, _ = timeslice(
        df, group_vars, t, bucket_width,
        summary=[F.min(t).alias("__min_t"), F.max(t).alias("__max_t"),
                 F.max("__lsid").alias("__n_sess")],
        combine=merge_offset, within=local_ids,
    )
    sid = F.col(lsid)
    if bucket_width is not None:
        sid = F.col("__soff") + sid - F.col("__smrg")
    return src.select(*df.columns, sid.alias(out_col))


def session_bounds(
    df: DataFrame,
    ts_col: str,
    gap: int,
    group_vars: Sequence[str],
    value_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """One row per session: start/end timestamps, event count, duration
    (closed-interval semantics: ``end - start + 1`` time units, matching
    the engine's interval length convention), and optionally the sum of
    ``value_col``. The groupBy reuses the window's (key) partitioning —
    still a single exchange (flat path); ``bucket_width`` passes through
    to :func:`sessionize` for the hot-key keying."""
    reserved = ["session_id", "session_start", "session_end", "n_events",
                "duration"] + ([f"sum_{value_col}"] if value_col else [])
    clash = [g for g in group_vars if g in reserved]
    if clash:
        raise IntervalSchemaError(
            f"group_vars {clash} collide with reserved output column names "
            f"{reserved}")
    s = sessionize(df, ts_col, gap, group_vars, bucket_width=bucket_width)
    aggs = [
        F.min(F.col(ts_col).cast("long")).alias("session_start"),
        F.max(F.col(ts_col).cast("long")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if value_col is not None:
        if value_col not in df.columns:
            raise IntervalSchemaError(f"missing column {value_col!r}")
        aggs.append(F.sum(value_col).alias(f"sum_{value_col}"))
    out = s.groupBy(*group_vars, "session_id").agg(*aggs)
    return out.withColumn(
        "duration", F.col("session_end") - F.col("session_start") + 1
    )

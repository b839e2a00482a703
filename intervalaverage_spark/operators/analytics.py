"""Series analytics: rate/derivative, time-range rolling aggregates,
exact + approximate windowed percentiles.

The read-side toolkit a monitoring/telemetry engine layers over tier
points (PromQL's rate/irate, SQL's RANGE-frame moving aggregates,
percentile panels). All are single-exchange window/groupBy shapes —
no UDFs; the only non-codegen node is the percentile buffer (see
:func:`windowed_percentiles` for the exact/approx trade-off).

Skew: a window partitioned only by the group key puts an entire hot key
in one task. :func:`rate` and :func:`rolling_decomposable` take
``bucket_width`` — the time-sliced carry of plans/timeslice.py — so a hot
key spreads across its time buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.plans.rangejoin import fdiv
from intervalaverage_spark.plans.timeslice import timeslice
from intervalaverage_spark.validation import IntervalDataError, IntervalSchemaError

_AGGS = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count}


def _need(df: DataFrame, *cols: str) -> None:
    for c in cols:
        if c not in df.columns:
            raise IntervalSchemaError(f"missing column {c!r}")


def _no_clash(df: DataFrame, *cols: str) -> None:
    clash = [c for c in cols if c in df.columns]
    if clash:
        raise IntervalSchemaError(f"output column(s) {clash} already exist")


def check_unique_ts(df: DataFrame, ts_col: str, group_vars: Sequence[str]) -> None:
    """Raise :class:`IntervalDataError` if any (key, ts) appears more than
    once — the eager analogue of the reference's non-overlap validation
    (R/intervalaverage_functions.R:307-338, skippable there too). One
    aggregate + head(1): the collect is bounded to a single row."""
    dup = (
        df.groupBy(*group_vars, ts_col)
        .count()
        .filter(F.col("count") > 1)
        .head(1)
    )
    if dup:
        keys = {c: dup[0][c] for c in (*group_vars, ts_col)}
        raise IntervalDataError(
            f"duplicate (key, {ts_col}) rows — e.g. {keys} appears "
            f"{dup[0]['count']} times; the matched predecessor would be "
            "sort-order-dependent. Dedup upstream or aggregate first."
        )


def rate(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    counter_reset: str = "none",
    out_col: str = "rate",
    bucket_width: int | None = None,
    validate: bool = False,
) -> DataFrame:
    """Per-key discrete derivative ``Δv/Δt`` between consecutive points.

    ``counter_reset``:
      * ``"none"``  — gauge semantics: Δv may be negative.
      * ``"zero"``  — monotone-counter semantics (PromQL ``rate``): a
        drop means the counter restarted at 0, so Δv = current value.

    First point per key (no predecessor) and duplicate timestamps
    (Δt = 0) yield NULL — dedup upstream for unique-ts series, same
    contract as operators/asof.py; ``validate=True`` checks it eagerly
    (one bounded aggregate, default off — the reference's skippable
    eager-validation split, SURVEY §4 #7).

    ``bucket_width`` (the skew path, plans/timeslice.py): the window
    partitions by ``(key, floor(t/width))``; the predecessor of each
    bucket's first row is the carry — the last point of the nearest
    earlier bucket. Identical results to the flat path (property-tested)."""
    if counter_reset not in ("none", "zero"):
        raise IntervalSchemaError(
            f"counter_reset must be none/zero, got {counter_reset!r}")
    group_vars = list(group_vars)
    _need(df, ts_col, value_col, *group_vars)
    _no_clash(df, out_col)
    if validate:
        check_unique_ts(df, ts_col, group_vars)
    t = F.col(ts_col).cast("long")
    v = F.col(value_col).cast("double")
    point = F.struct(t.alias("t"), v.alias("v"))
    src, part = timeslice(
        df, group_vars, t, bucket_width,
        summary=[F.max_by(point, t).alias("__blast")],
        combine=lambda earlier, _later: [
            F.last("__blast", ignorenulls=True).over(earlier).alias("__rcarry")],
    )
    prev = F.lag(point).over(Window.partitionBy(*part).orderBy(t))
    if bucket_width is not None:
        prev = F.when(prev.isNull(), F.col("__rcarry")).otherwise(prev)

    pt, pv = prev.getField("t"), prev.getField("v")
    dv = (
        F.when(v >= pv, v - pv).otherwise(v)
        if counter_reset == "zero" else v - pv
    )
    return src.select(
        *df.columns, F.when(t > pt, dv / (t - pt)).alias(out_col)
    )


def rolling(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("mean",),
) -> DataFrame:
    """Time-RANGE moving aggregates per key: each row sees every point
    with ``t' ∈ [t − window, t]`` (closed, in ``ts_col`` units — event
    spacing doesn't matter, unlike ROWS frames). Appends
    ``<value>_roll_<agg>`` per requested agg. One exchange; all frames
    share the single (key, t) sort.

    No ``bucket_width`` twin HERE: a RANGE frame reaches back ``window``
    time units, so time-slicing this window would need a carry of up to
    ``window``-worth of ROWS per bucket boundary (not 1 row) — at that
    point the carry IS the hot partition. For the decomposable aggregates
    (sum/count/mean) use :func:`rolling_decomposable`, which sidesteps
    the frame entirely via bucketed prefix sums + a bucketed as-of
    lookup; min/max genuinely need this direct frame (non-invertible),
    where hot-key mitigation is the key model itself (url-hash keys) or
    pre-aggregating to a coarser tier first."""
    group_vars = list(group_vars)
    _need(df, ts_col, value_col, *group_vars)
    bad = [a for a in aggs if a not in _AGGS]
    if bad:
        raise IntervalSchemaError(f"unknown aggs {bad}; choose from {sorted(_AGGS)}")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    _no_clash(df, *[f"{value_col}_roll_{a}" for a in aggs])
    t = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(*group_vars)
        .orderBy(t)
        .rangeBetween(-window, 0)
    )
    cols = [
        _AGGS[a](F.col(value_col).cast("double")).over(w)
        .alias(f"{value_col}_roll_{a}")
        for a in aggs
    ]
    return df.select("*", *cols)


def rolling_decomposable(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("sum", "count", "mean"),
    bucket_width: int | None = None,
    assume_unique_ts: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Time-RANGE rolling sum/count/mean with FULL hot-key spreading —
    the bucketable twin :func:`rolling` cannot have for general
    aggregates.

    A RANGE frame's carry is a window-full of rows, so time-slicing the
    window directly is hopeless (see :func:`rolling`). But sum/count/mean
    are DECOMPOSABLE: ``frame(t) = prefix(t) − prefix(pred(t − w − 1))``,
    and both pieces bucket cleanly:

    1. collapse to one row per (key, t): ``s_t = Σv, c_t = count(v)`` —
       a plain shuffled aggregate (also makes duplicate timestamps share
       one frame result, exactly the RANGE-frame contract);
    2. running prefix per key — with ``bucket_width``, per (key,
       time-bucket) plus the sum of all earlier buckets as carry
       (plans/timeslice.py);
    3. the ``prefix`` just before the frame start is an as-of lookup of
       the prefix table against itself at ``t − w − 1`` —
       :func:`~intervalaverage_spark.operators.asof.asof_join`, which has
       its own bucketed path;
    4. join the per-t frame results back to the input rows on (key, t).

    Appends ``<value>_roll_<agg>`` (matching :func:`rolling`'s naming);
    outputs are double — same as :func:`rolling`, which also casts values
    to double before aggregating. Numerics: bit-identical to
    :func:`rolling` when the double-cast values are integers or
    integer-valued doubles within 2**53 — prefix subtraction is then
    exact. For general doubles (and for decimals, which the double cast
    truncates to 53-bit significands) results can differ from the direct
    frame sum in the last ulps (different addition order). Integer time
    domain required (``t − w − 1`` predecessor logic).

    ``assume_unique_ts=True`` declares the input already holds at most
    one row per (key, t): the collapse aggregate AND the final join-back
    (an avoidable full equi-join in that common shape — tier outputs,
    deduped series) are both skipped; the prefix/as-of stages carry the
    input rows directly, saving one shuffle + one join. Results are
    undefined if the promise is broken — pass ``validate=True`` to check
    it eagerly (one bounded aggregate, the reference's skippable
    eager-validation split)."""
    group_vars = list(group_vars)
    _need(df, ts_col, value_col, *group_vars)
    allowed = ("sum", "count", "mean")
    bad = [a for a in aggs if a not in allowed]
    if bad:
        raise IntervalSchemaError(
            f"aggs {bad} are not decomposable; choose from {allowed} "
            "(min/max need the direct rolling())")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    _no_clash(df, *[f"{value_col}_roll_{a}" for a in aggs])
    _no_clash(df, "__rd_t", "__rd_cs", "__rd_cc", "__rd_ps", "__rd_pc")
    t = F.col(ts_col).cast("long")
    v = F.col(value_col).cast("double")

    if assume_unique_ts:
        if validate:
            check_unique_ts(df, ts_col, group_vars)
        _no_clash(df, "__s", "__c", "__q")
        # 1 row per (key, t) promised: the input rows ARE the per-t points,
        # so skip both the collapse aggregate and the final join-back.
        pts = df.select(
            "*", t.alias("__rd_t"), v.alias("__s"),
            F.when(v.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("__c"),
        )
    else:
        pts = df.select(*group_vars, t.alias("__rd_t"), v.alias("__v")).groupBy(
            *group_vars, "__rd_t"
        ).agg(F.sum("__v").alias("__s"), F.count("__v").alias("__c"))
    keep = [c for c in pts.columns if c not in ("__s", "__c")]

    src, part = timeslice(
        pts, group_vars, F.col("__rd_t"), bucket_width,
        summary=[F.sum("__s").alias("__bs"), F.sum("__c").alias("__bc")],
        combine=lambda earlier, _later: [
            F.coalesce(F.sum("__bs").over(earlier), F.lit(0.0)).alias("__os"),
            F.coalesce(F.sum("__bc").over(earlier), F.lit(0).cast("long")).alias("__oc"),
        ],
    )
    wcum = (
        Window.partitionBy(*part)
        .orderBy("__rd_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs, cc = F.sum("__s").over(wcum), F.sum("__c").over(wcum)
    if bucket_width is not None:
        # coalesce BOTH terms: a bucket prefix of only-NULL __s must not
        # wipe out the carried offset (NULL-frame semantics are restored
        # downstream by the fc > 0 guard, so 0 is safe here)
        cs = F.col("__os") + F.coalesce(cs, F.lit(0.0))
        cc = F.col("__oc") + cc
    pref = src.select(*keep, cs.alias("__rd_cs"), cc.alias("__rd_cc"))

    from intervalaverage_spark.operators.asof import asof_join

    q = pref.select(
        "*", (F.col("__rd_t") - F.lit(int(window)) - 1).alias("__q")
    )
    slim = pref.select(
        *group_vars, "__rd_t",
        F.col("__rd_cs").alias("__rd_ps"), F.col("__rd_cc").alias("__rd_pc"),
    )
    m = asof_join(
        q, slim,
        on=group_vars, left_ts="__q", right_ts="__rd_t",
        right_cols=["__rd_ps", "__rd_pc"], direction="backward",
        bucket_width=bucket_width, suffix="__m",
    )
    fs = F.col("__rd_cs") - F.coalesce(F.col("__rd_ps__m"), F.lit(0.0))
    fc = (F.col("__rd_cc") - F.coalesce(F.col("__rd_pc__m"), F.lit(0))).cast("long")
    # an all-NULL (or empty) frame must yield NULL sum/mean like the
    # direct RANGE frame does — X − X = 0 would be wrong
    exprs = {"sum": F.when(fc > 0, fs), "count": fc,
             "mean": F.when(fc > 0, fs / fc)}
    frame_cols = [exprs[a].alias(f"{value_col}_roll_{a}") for a in aggs]
    if assume_unique_ts:
        # m carries every original input column through the as-of's left
        # payload — emit directly, zero join-back.
        return m.select(*[F.col(c) for c in df.columns], *frame_cols)
    frame = m.select(*group_vars, "__rd_t", *frame_cols)
    from functools import reduce

    cond = reduce(
        lambda a_, b_: a_ & b_,
        [df[g].eqNullSafe(frame[g]) for g in group_vars] + [t == frame["__rd_t"]],
    )
    out = df.join(frame, on=cond, how="left")
    return out.select(
        *[df[c] for c in df.columns],
        *[frame[f"{value_col}_roll_{a}"] for a in aggs],
    )


def rolling_minmax(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window: int,
    group_vars: Sequence[str],
    aggs: Sequence[str] = ("min", "max"),
    assume_unique_ts: bool = False,
    validate: bool = False,
) -> DataFrame:
    """Time-RANGE rolling min/max with FULL hot-key spreading — the
    skew path for the NON-invertible aggregates that
    :func:`rolling_decomposable`'s prefix-subtraction cannot serve (you
    cannot "subtract" an expired point from a running min).

    The classic two-block decomposition (the O(n) sliding-window-min
    construction, re-expressed as Spark windows): pick the block width
    EQUAL to the frame width ``w``. For integer t,
    ``floor((t−w)/w) == floor(t/w) − 1`` exactly, so every closed frame
    ``[t−w, t]`` spans exactly two adjacent blocks —

    1. collapse to one row per (key, t) with per-t min/max (duplicate
       timestamps share one frame result, the RANGE-frame contract) —
       skipped under ``assume_unique_ts`` like
       :func:`rolling_decomposable`;
    2. per (key, block = floor(t/w)) compute the running PREFIX min/max
       (ascending cumulative) and the running SUFFIX min/max (descending
       cumulative) — two window passes over the SAME (key, block)
       partitioning, each partition at most w time units of one key;
    3. ``frame(t) = combine( prefix(t) within block bk,
       suffix(first point ≥ t−w) within block bk−1 )``: the second term
       is a FORWARD as-of lookup of ``t−w`` into the suffix table with
       the block in the equi keys (``on=(key, bk−1)``) — the as-of
       window partitions by (key, block), so it is spread too;
    4. ``least``/``greatest`` the two terms (both skip NULLs; an
       all-NULL or empty frame yields NULL, matching the direct frame).

    Every stage — collapse, both cumulative windows, the as-of, the
    join-back — is keyed by (key, block): a hot key spreads across its
    time blocks with zero replication, no w-row carries (the reason
    :func:`rolling` itself cannot be time-sliced). Appends
    ``<value>_roll_min`` / ``<value>_roll_max`` (matching
    :func:`rolling`'s naming); outputs are double, values compared after
    the same double cast :func:`rolling` applies, so results are
    IDENTICAL to the direct frame (min/max never round). Integer time
    domain required."""
    group_vars = list(group_vars)
    _need(df, ts_col, value_col, *group_vars)
    allowed = ("min", "max")
    bad = [a for a in aggs if a not in allowed]
    if bad:
        raise IntervalSchemaError(
            f"aggs {bad} not supported; choose from {allowed} "
            "(sum/count/mean have rolling_decomposable)")
    if window < 0:
        raise IntervalSchemaError(f"window must be >= 0, got {window}")
    _no_clash(df, *[f"{value_col}_roll_{a}" for a in aggs])
    _no_clash(df, "__rm_t", "__rm_mn", "__rm_mx")
    t = F.col(ts_col).cast("long")
    v = F.col(value_col).cast("double")

    if assume_unique_ts:
        if validate:
            check_unique_ts(df, ts_col, group_vars)
        _no_clash(df, "__rm_bk", "__rm_qb", "__rm_qt",
                  "__pmn", "__pmx", "__smn", "__smx")
        pts = df.select("*", t.alias("__rm_t"), v.alias("__rm_mn"),
                        v.alias("__rm_mx"))
    else:
        pts = df.select(*group_vars, t.alias("__rm_t"), v.alias("__v")).groupBy(
            *group_vars, "__rm_t"
        ).agg(F.min("__v").alias("__rm_mn"), F.max("__v").alias("__rm_mx"))
    keep = [c for c in pts.columns if c not in ("__rm_mn", "__rm_mx")]

    if window == 0:
        # frame = the point's same-t peer rows: one window partitioned by
        # (key, t) directly over df — still (key, block)-grained spreading
        # (block == t here), and neither collapse nor join-back is needed
        # (joining the collapsed frame back would be a self-join on the
        # groupBy's pass-through attributes — ambiguous by construction)
        w0 = Window.partitionBy(*group_vars, t)
        exprs0 = {"min": F.min(v).over(w0), "max": F.max(v).over(w0)}
        return df.select(
            "*", *[exprs0[a].alias(f"{value_col}_roll_{a}") for a in aggs])

    bk = fdiv(F.col("__rm_t"), window)
    p2 = pts.withColumn("__rm_bk", bk)
    wasc = (
        Window.partitionBy(*group_vars, "__rm_bk")
        .orderBy("__rm_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wdesc = (
        Window.partitionBy(*group_vars, "__rm_bk")
        .orderBy(F.desc("__rm_t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = p2.select(
        *keep, "__rm_bk",
        F.min("__rm_mn").over(wasc).alias("__pmn"),
        F.max("__rm_mx").over(wasc).alias("__pmx"),
    )
    suf = p2.select(
        *group_vars, "__rm_bk", "__rm_t",
        F.min("__rm_mn").over(wdesc).alias("__smn"),
        F.max("__rm_mx").over(wdesc).alias("__smx"),
    )

    from intervalaverage_spark.operators.asof import asof_join

    q = pref.select(
        "*",
        (F.col("__rm_bk") - 1).alias("__rm_qb"),
        (F.col("__rm_t") - F.lit(int(window))).alias("__rm_qt"),
    ).drop("__rm_bk")
    m = asof_join(
        q, suf.withColumnRenamed("__rm_bk", "__rm_qb"),
        on=[*group_vars, "__rm_qb"], left_ts="__rm_qt", right_ts="__rm_t",
        right_cols=["__smn", "__smx"], direction="forward", suffix="__m",
    )
    # least/greatest skip NULLs; all-NULL (or block-bk-1-empty) terms fall
    # through to the other term, both NULL → NULL like the direct frame
    exprs = {"min": F.least(F.col("__pmn"), F.col("__smn__m")),
             "max": F.greatest(F.col("__pmx"), F.col("__smx__m"))}
    frame = m.select(
        *keep, *[exprs[a].alias(f"{value_col}_roll_{a}") for a in aggs]
    )
    return _rm_emit(df, frame, t, group_vars, value_col, aggs,
                    assume_unique_ts)


def _rm_emit(df, frame, t, group_vars, value_col, aggs, assume_unique):
    """Join-back (collapsed mode) or direct emit (assume_unique mode) —
    shared by both rolling_minmax branches."""
    roll_cols = [f"{value_col}_roll_{a}" for a in aggs]
    if assume_unique:
        return frame.select(*[F.col(c) for c in df.columns], *roll_cols)
    from functools import reduce

    cond = reduce(
        lambda a_, b_: a_ & b_,
        [df[g].eqNullSafe(frame[g]) for g in group_vars]
        + [t == frame["__rm_t"]],
    )
    out = df.join(frame, on=cond, how="left")
    return out.select(*[df[c] for c in df.columns],
                      *[frame[c] for c in roll_cols])


def percentile_col_name(p: float) -> str:
    """``0.5 → p50``, ``0.95 → p95``, ``1.0 → p100``, ``0.0 → p00``,
    ``0.999 → p99_9`` — numeric derivation, never a ``.`` in the name
    (a dot breaks unquoted downstream references)."""
    n = round(p * 100, 9)
    if abs(n - round(n)) < 1e-9:
        return f"p{int(round(n)):02d}"
    return "p" + f"{n:g}".replace(".", "_").replace("-", "m")


def windowed_percentiles(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_width: int,
    percentiles: Sequence[float],
    group_vars: Sequence[str],
    exact: bool = True,
    accuracy: int = 10000,
    names: Sequence[str] | None = None,
) -> DataFrame:
    """Percentiles of ``value_col`` per (key, time bucket) — the panel
    query. Output: group_vars…, bucket, one column per requested
    percentile (``names`` overrides the derived ``p<pct>`` labels),
    n_points. NULL values excluded (bucket of only NULLs → NULL
    percentiles, n_points still counts).

    ``exact=True`` uses Spark's exact linear-interpolation ``percentile``
    — an ObjectHashAggregate whose per-group state buffers EVERY value in
    the bucket; fine while buckets are bounded (a (key, day) bucket), a
    memory hazard for unbounded-cardinality panels.

    ``exact=False`` switches to ``percentile_approx`` (Greenwald-Khanna
    quantile summaries at ``accuracy``; rank error ≤ 1/accuracy). The
    physical node is still an ObjectHashAggregate — Spark implements both
    as TypedImperativeAggregates — but the state per group is a bounded,
    MERGEABLE sketch of O(accuracy·log n) entries instead of all n
    values, so map-side partial aggregation does real reduction and no
    bucket can blow executor memory regardless of its row count. That
    bounded-state property (not the node name) is what makes it the
    10^12-row panel path; see BENCH/PLANS.md §percentiles."""
    group_vars = list(group_vars)
    _need(df, ts_col, value_col, *group_vars)
    for p in percentiles:
        if not 0.0 <= p <= 1.0:
            raise IntervalSchemaError(f"percentile {p} outside [0, 1]")
    if bucket_width <= 0:
        raise IntervalSchemaError(f"bucket_width must be positive, got {bucket_width}")
    if accuracy <= 0:
        raise IntervalSchemaError(f"accuracy must be positive, got {accuracy}")
    if names is None:
        names = [percentile_col_name(p) for p in percentiles]
    elif len(names) != len(percentiles):
        raise IntervalSchemaError(
            f"{len(names)} names for {len(percentiles)} percentiles")
    # the output schema is group_vars…, bucket, <names>…, n_points — every
    # name must be unique (percentiles=[0.5, 0.5] would otherwise emit two
    # ambiguous p50 columns; a name equal to a group var or the reserved
    # bucket/n_points would shadow it)
    out_schema = [*group_vars, "bucket", *names, "n_points"]
    seen: set[str] = set()
    dup = sorted({n for n in out_schema if n in seen or seen.add(n)})
    if dup:
        raise IntervalSchemaError(
            f"duplicate output column name(s) {dup}: percentile names must "
            "be unique and distinct from group_vars/'bucket'/'n_points'")
    t = F.col(ts_col).cast("long")
    varr = F.col(value_col).cast("double")
    parr = F.array(*[F.lit(float(p)) for p in percentiles])
    if exact:
        pct = F.percentile(varr, parr)
    else:
        pct = F.percentile_approx(varr, parr, F.lit(int(accuracy)))
    agg = df.groupBy(*group_vars, fdiv(t, bucket_width).alias("bucket")).agg(
        pct.alias("__p"), F.count(F.lit(1)).alias("n_points")
    )
    return agg.select(
        *group_vars, "bucket",
        *[F.col("__p").getItem(i).alias(n) for i, n in enumerate(names)],
        "n_points",
    )


def trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """Per-key OLS linear trend: slope, intercept, and r² of
    ``value ~ time`` — "is this series drifting, and how fast".

    Closed-form least squares from five EXACT decimal moments
    (n, Σt', Σx, Σt'x, Σt'², Σx²) where ``t'`` is seconds since the
    key's own first observation — centring keeps the decimal products
    inside DECIMAL(38) and conditions the arithmetic; the final
    slope/intercept/r² are each ONE fixed-order float expression over
    those exact sums, 6-dp rounded, so the result replays hash-exact
    cross-engine (the same decimal-moments discipline as the CUSUM
    calibration, operators/changepoint.py).

    Returns one row per key: ``(…group_vars, n_points, t0, slope,
    intercept, r2)`` — ``slope`` in value-units per DAY (per-second
    slopes round to ±0 at 6 dp; the per-day scale keeps the signal
    inside the cross-engine 6-dp compare, and the near-zero sign is
    normalised away — IEEE −0.0 differs between engines' ROUND),
    ``intercept`` the fitted value at ``t0`` (the key's first
    timestamp, epoch seconds), ``r2`` NULL for degenerate fits (single
    point, constant time, or constant value). NULL values are excluded.

    Scale shape: two hash aggregations on the key (min-ts, then the
    moment fold — both combine map-side) and one broadcast-sized join
    between them; no window, no sort, no UDF. At 100 TB each key costs
    one pass however long its history.
    """
    if not group_vars:
        raise IntervalSchemaError("trend: group_vars must be non-empty")
    for c in (ts_col, value_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"trend: missing column {c!r}")
    g = list(group_vars)
    pts = trend_points(df, ts_col, value_col, g)
    return trend_from_moments(trend_moments(pts, g, trend_t0(pts, g)))


def trend_points(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """The ``(…keys, __t epoch-seconds, __x 6-dp decimal)`` projection
    shared by the batch and STREAMING trend paths (NULLs excluded) —
    factored out so both compute moments over bit-identical inputs."""
    g = list(group_vars)
    return df.where(F.col(value_col).isNotNull()).select(
        *g,
        F.col(ts_col).cast("timestamp").cast("long").alias("__t"),
        F.round(F.col(value_col).cast("double"), 6)
        .cast("decimal(18,6)").alias("__x"),
    )


def trend_t0(pts: DataFrame, group_vars: Sequence[str]) -> DataFrame:
    """Per-key centring reference ``(…keys, t0 = min __t)`` — batch
    computes it inline; the streaming path takes it as the OFFLINE
    CALIBRATION artifact (the cusum mu/kappa/h pattern)."""
    return pts.groupBy(*group_vars).agg(F.min("__t").alias("t0"))


def trend_moments(
    pts: DataFrame, group_vars: Sequence[str], t0: DataFrame
) -> DataFrame:
    """EXACT decimal moment fold ``(t0, n, Σu, Σx, Σux, Σu², Σx²)`` with
    time centred on the supplied ``t0`` relation. Every sum is an
    associative decimal aggregate, so the SAME fold runs as a native
    Structured Streaming aggregation (streaming/sketch_stream.py
    streaming_trend_moments) with state = one row per key — and a
    bounded streaming replay's moments equal this batch fold
    bit-for-bit."""
    g = list(group_vars)
    ctr = pts.join(t0, g).select(
        *g, "t0",
        (F.col("__t") - F.col("t0")).cast("decimal(12,0)").alias("__u"),
        "__x",
    )
    return ctr.groupBy(*g).agg(
        F.max("t0").alias("t0"),
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__u").alias("_su"),
        F.sum("__x").alias("_sx"),
        F.sum(F.col("__u") * F.col("__x")).alias("_sux"),
        F.sum(F.col("__u") * F.col("__u")).alias("_suu"),
        F.sum(F.col("__x") * F.col("__x")).alias("_sxx"),
    )


def trend_from_moments(m: DataFrame) -> DataFrame:
    """Closed-form slope/intercept/r² from a :func:`trend_moments`
    relation — each ONE fixed-order float expression, 6-dp rounded,
    −0.0-normalised; NULL for degenerate fits. Runs identically on the
    batch fold and on a streamed moments sink, which is what pins
    stream == batch exactly."""
    g = [c for c in m.columns
         if c not in ("t0", "n_points", "_su", "_sx", "_sux", "_suu", "_sxx")]
    n = F.col("n_points").cast("double")
    su = F.col("_su").cast("double")
    sx = F.col("_sx").cast("double")
    sux = F.col("_sux").cast("double")
    suu = F.col("_suu").cast("double")
    sxx = F.col("_sxx").cast("double")
    cov_n = n * sux - su * sx      # n² · covariance
    var_t = n * suu - su * su      # n² · time variance
    var_x = n * sxx - sx * sx      # n² · value variance
    slope = F.when(var_t > 0.0, cov_n / var_t)
    intercept = F.when(
        var_t > 0.0, (sx - (cov_n / var_t) * su) / n
    )
    r2 = F.when(
        (var_t > 0.0) & (var_x > 0.0),
        (cov_n * cov_n) / (var_t * var_x),
    )
    return m.select(
        *g,
        "n_points",
        "t0",
        (F.round(slope * 86400.0, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def autocorr(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    max_lag: int = 1,
) -> DataFrame:
    """Per-key sequence autocorrelation at lags 1..``max_lag``: the
    Pearson correlation of ``(x_i, x_{i+ℓ})`` over consecutive
    observation pairs in time order — "does this series remember
    itself", the periodicity/persistence companion of :func:`trend`
    (trend asks IS it drifting; autocorrelation asks is it NOISE or
    STRUCTURE, e.g. recrawl-interval persistence per host or diurnal
    carry-over in crawl activity).

    Sequence ACF, not grid ACF: lags count OBSERVATIONS, not seconds —
    no resample/gap-fill is imposed (compose with the fill operators
    first if a regular grid is wanted). Duplicate timestamps collapse
    to their 6-dp decimal mean first (the same total-order precondition
    as the CUSUM detector — reuses
    :func:`~intervalaverage_spark.operators.changepoint.cusum_points`),
    so the pairing is deterministic. NULL values are excluded.

    Exactness discipline (the trend/CUSUM pattern): pair sums
    ``(n, Σa, Σb, Σab, Σa², Σb²)`` are EXACT decimal folds; ``acf`` is
    ONE fixed-order float expression over them, 6-dp rounded,
    −0.0-normalised; degenerate keys (fewer than 2 pairs at that lag,
    or zero variance on either margin) emit NULL, never NaN.

    Returns one row per (key, lag): ``(*group_vars, lag, n_pairs,
    acf)`` — keys emit a row for every lag that has at least one pair.

    Scale shape: the duplicate collapse is one partially-aggregated
    exchange; ONE key-partitioned window sort produces all ``max_lag``
    lead columns; the explode to (lag, a, b) pairs is map-side; the
    moment fold combines map-side on (key, lag). Per-key cost is one
    sorted scan of its history + max_lag× map-side rows — a hot key
    never materialises its history more than once, and there is no
    join at all.
    """
    from intervalaverage_spark.operators.changepoint import cusum_points

    if max_lag < 1:
        raise IntervalSchemaError(
            f"autocorr: max_lag must be >= 1, got {max_lag}")
    if not group_vars:
        raise IntervalSchemaError("autocorr: group_vars must be non-empty")
    for c in (ts_col, value_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"autocorr: missing column {c!r}")
    g = list(group_vars)
    pts = cusum_points(df, ts_col, value_col, g)

    w = Window.partitionBy(*g).orderBy(ts_col)
    lead_cols = [
        F.lead("x", lag).over(w).alias(f"__b{lag}")
        for lag in range(1, max_lag + 1)
    ]
    lagged = pts.select(*g, F.col("x").alias("__a"), *lead_cols)
    pairs = lagged.select(
        *g,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(lag).cast("int").alias("lag"),
                    F.col("__a").alias("a"),
                    F.col(f"__b{lag}").alias("b"),
                )
                for lag in range(1, max_lag + 1)
            ])
        ).alias("__p"),
    ).select(
        *g, "__p.lag", F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b")
    ).where(F.col("__b").isNotNull())

    m = pairs.groupBy(*g, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__a").alias("_sa"),
        F.sum("__b").alias("_sb"),
        F.sum(F.col("__a") * F.col("__b")).alias("_sab"),
        F.sum(F.col("__a") * F.col("__a")).alias("_saa"),
        F.sum(F.col("__b") * F.col("__b")).alias("_sbb"),
    )
    n = F.col("n_pairs").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    sab = F.col("_sab").cast("double")
    saa = F.col("_saa").cast("double")
    sbb = F.col("_sbb").cast("double")
    num = n * sab - sa * sb
    va = n * saa - sa * sa
    vb = n * sbb - sb * sb
    acf = F.when((va > 0.0) & (vb > 0.0), num / F.sqrt(va * vb))
    return m.select(
        *g,
        "lag",
        "n_pairs",
        (F.round(acf, 6) + F.lit(0.0)).alias("acf"),
    )


def theil_sen(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    max_points: int = 2000,
) -> DataFrame:
    """Per-key Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes — up to ~29% of a series can be corrupt (bot bursts, parser
    glitches, the exact junk MAD flags) and the slope estimate stands,
    where OLS (:func:`trend`) is dragged by every outlier. Sen's
    intercept = median residual at the key's first observation.

    Quadratic by definition (all C(n,2) pairs), so the per-key history
    is BOUNDED: only keys with ``2 ≤ n ≤ max_points`` distinct
    timestamps emit a row — larger keys are EXCLUDED (documented, not
    sampled: silent subsampling would break determinism; downsample
    first via M4/tiers, or use :func:`trend` whose one-pass moments
    handle any length). Duplicate timestamps collapse to 6-dp decimal
    means first (the family's total-order precondition).

    Exactness: each pairwise slope is ONE fixed-order float
    ``(Δx_decimal → double) · 86400 / Δt``, 6-dp rounded; the medians
    are exact linear-interpolation percentiles over those rounded
    values (the E25/E72 contract); residuals likewise fixed-order.
    Output: ``(*group_vars, n_points, n_pairs, ts_slope units/day,
    ts_intercept)``.

    Scale shape: the pair join is a key-equi self-join whose fan-out is
    C(n,2) per key — bounded by ``max_points`` BY CONSTRUCTION, so no
    hot key can quadratic-bomb the stage; everything else is key-equi
    joins against key-cardinality relations. The 10^9-series regime is
    trend() for every key + theil_sen on the suspicious ones MAD/CUSUM
    surfaced.
    """
    if max_points < 2:
        raise IntervalDataError(
            f"theil_sen: max_points must be >= 2, got {max_points}")
    if not group_vars:
        raise IntervalSchemaError("theil_sen: group_vars must be non-empty")
    for c in (ts_col, value_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(f"theil_sen: missing column {c!r}")
    g = list(group_vars)
    # collapse on the FLOOR-SECOND (not the raw timestamp): slopes
    # divide by Δt in whole seconds, so two sub-second observations
    # must fuse BEFORE pairing or Δt = 0 pairs would divide by zero
    t = F.col(ts_col).cast("timestamp").cast("long")
    xd = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    pts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*g, t.alias("__t"))
        .agg(F.sum(xd).alias("_sx"), F.count(F.lit(1)).alias("_cn"))
        .select(
            *g, "__t",
            F.round(F.col("_sx").cast("double") / F.col("_cn"), 6)
            .cast("decimal(18,6)").alias("x"),
        )
    )
    bounds = pts.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("__t").alias("__t0"),
    ).where((F.col("n_points") >= 2) & (F.col("n_points") <= max_points))
    kp = pts.join(bounds, g)

    a = kp.select(*g, F.col("__t").alias("__t1"), F.col("x").alias("__x1"))
    b = kp.select(*g, F.col("__t").alias("__t2"), F.col("x").alias("__x2"))
    # slopes stay RAW doubles into the median: each is bit-identical
    # cross-engine (decimal Δx → double exact, integer Δt), and the
    # 0.5-interpolation midpoint of raw doubles almost never lands on a
    # 6-dp round boundary — whereas pre-rounded slopes put EVERY odd
    # midpoint exactly on the 7th-digit 5 (measured flapping at sf0.01)
    slope = (
        ((F.col("__x2") - F.col("__x1")).cast("double") * 86400.0)
        / (F.col("__t2") - F.col("__t1")).cast("double")
    )
    med_slope = (
        a.join(b, g).where(F.col("__t1") < F.col("__t2"))
        .groupBy(*g)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.round(F.percentile(slope, F.lit(0.5)), 6) + F.lit(0.0))
            .alias("ts_slope"),
        )
    )
    resid = (
        F.col("x").cast("double")
        - F.col("ts_slope")
        * ((F.col("__t") - F.col("__t0")).cast("double") / 86400.0)
    )
    out = (
        kp.join(med_slope, g)
        .groupBy(*g)
        .agg(
            F.max("n_points").alias("n_points"),
            F.max("n_pairs").alias("n_pairs"),
            F.max("ts_slope").alias("ts_slope"),
            (F.round(F.percentile(resid, F.lit(0.5)), 6) + F.lit(0.0))
            .alias("ts_intercept"),
        )
    )
    return out.select(*g, "n_points", "n_pairs", "ts_slope", "ts_intercept")


def cadence_stats(
    df: DataFrame,
    ts_col: str,
    group_vars: Sequence[str],
) -> DataFrame:
    """Per-key inter-arrival (cadence) statistics: the distribution of
    gaps between consecutive DISTINCT observation times — "how often is
    this url recrawled / this sensor heard from, and how regular is
    it". The scheduling-side companion of the recrawl-priority score
    (E48 ranks what to fetch next; this measures what the historical
    cadence actually was, and its regularity feeds the churn model).

    Gaps are in integer seconds between distinct timestamps (duplicate
    ts collapse first — cadence is about observation TIMES, not row
    multiplicity). Per key: ``n_obs`` distinct times, ``n_gaps`` =
    n_obs − 1, min/max gap, ``mean_gap`` (exact decimal sum → one
    divide, 6-dp), ``p50_gap``/``p95_gap`` (exact linear-interpolation
    percentiles — Spark ``percentile`` == DuckDB ``quantile_cont``),
    and ``cv_gap`` = population σ/μ from exact decimal moments (ONE
    fixed-order float, 6-dp; cv 0 = metronome, ≥1 = bursty). Keys with
    a single observation emit ``n_gaps = 0`` with NULL gap statistics.

    Scale shape: the distinct-ts collapse is one partially-aggregated
    exchange; ONE key-partitioned window (lag) produces the gaps; the
    stats fold is a single aggregation on the same key (decimal sums
    combine map-side; the two exact percentiles buffer a key's gaps —
    the documented short-series trade, same as robust_anomalies). No
    join; per-key cost is one sorted scan of its distinct times.
    """
    if not group_vars:
        raise IntervalSchemaError(
            "cadence_stats: group_vars must be non-empty")
    for c in (ts_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(
                f"cadence_stats: missing column {c!r}")
    g = list(group_vars)
    t = F.col(ts_col).cast("timestamp").cast("long")
    obs = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(*g, t.alias("__t"))
        .agg(F.count(F.lit(1)).alias("__dup"))
        .drop("__dup")
    )
    w = Window.partitionBy(*g).orderBy("__t")
    gaps = obs.select(
        *g,
        (F.col("__t") - F.lag("__t").over(w)).alias("__gap"),
    )
    gd = F.col("__gap").cast("decimal(18,0)")
    agg = gaps.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.count("__gap").alias("n_gaps"),
        F.min("__gap").alias("min_gap"),
        F.max("__gap").alias("max_gap"),
        F.sum(gd).alias("_sg"),
        F.sum(gd * gd).alias("_sgg"),
        F.percentile(F.col("__gap").cast("double"), F.lit(0.5))
        .alias("_p50"),
        F.percentile(F.col("__gap").cast("double"), F.lit(0.95))
        .alias("_p95"),
    )
    n = F.col("n_gaps").cast("double")
    sg = F.col("_sg").cast("double")
    sgg = F.col("_sgg").cast("double")
    mean_gap = F.when(F.col("n_gaps") > 0, sg / n)
    # population cv = sqrt(n·Σg² − (Σg)²) / Σg  (σ/μ with one fixed order)
    cv = F.when(
        (F.col("n_gaps") > 0) & (sg > 0.0),
        F.sqrt(F.greatest(F.lit(0.0), n * sgg - sg * sg)) / sg,
    )
    return agg.select(
        *g,
        "n_obs",
        "n_gaps",
        "min_gap",
        "max_gap",
        F.round(mean_gap, 6).alias("mean_gap"),
        F.round("_p50", 6).alias("p50_gap"),
        F.round("_p95", 6).alias("p95_gap"),
        F.round(cv, 6).alias("cv_gap"),
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    period: int = 86400,
    buckets: int = 24,
) -> DataFrame:
    """Per-key seasonal baseline: mean and σ of the value per PHASE
    bucket of a repeating period (default: hour-of-day over a day) —
    crawl traffic, fetch latency and page-change rates are strongly
    diurnal, so "is this value high?" is only answerable against the
    hour it happened in. The companion detector
    (:func:`seasonal_anomalies`) flags against THIS baseline; CUSUM
    (level shifts) and MAD (global outliers) miss exactly the
    anomalies that hide inside the daily swing.

    Phase = ``(epoch mod period) ÷ (period/buckets)`` (integer
    arithmetic; ``period`` must divide evenly into ``buckets``).
    Duplicate (key, ts) rows collapse to their 6-dp decimal mean first
    (:func:`~intervalaverage_spark.operators.changepoint.cusum_points`
    — the family's total-order precondition), then per (key, phase):
    ``n_obs``, ``mean_v`` (exact decimal sum → one divide → 6-dp) and
    ``sd_v`` (population σ from exact decimal moments — ONE
    fixed-order float, 6-dp; NULL when n_obs < 2).

    Scale shape: ONE map-side-combined aggregation on (key, phase) —
    the profile is keys × buckets rows, the artifact you persist
    nightly and broadcast at detection time. No window, no join, no
    UDF.
    """
    if buckets < 1 or period < 1 or period % buckets != 0:
        raise IntervalDataError(
            "seasonal_profile: need period >= buckets >= 1 with "
            f"period % buckets == 0, got period={period} buckets={buckets}")
    if not group_vars:
        raise IntervalSchemaError(
            "seasonal_profile: group_vars must be non-empty")
    for c in (ts_col, value_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(
                f"seasonal_profile: missing column {c!r}")
    from intervalaverage_spark.operators.changepoint import cusum_points

    g = list(group_vars)
    width = period // buckets
    pts = cusum_points(df, ts_col, value_col, g)
    t = F.col(ts_col).cast("timestamp").cast("long")
    ph = pts.select(
        *g,
        (F.pmod(t, F.lit(period)) / F.lit(width)).cast("long").alias("phase"),
        "x",
    )
    agg = ph.groupBy(*g, "phase").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("x").alias("_s1"),
        F.sum(F.col("x") * F.col("x")).alias("_s2"),
    )
    n = F.col("n_obs").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    sd = F.when(
        F.col("n_obs") >= 2,
        F.sqrt(F.greatest(F.lit(0.0), s2 / n - (s1 / n) * (s1 / n))),
    )
    return agg.select(
        *g, "phase", "n_obs",
        F.round(s1 / n, 6).alias("mean_v"),
        F.round(sd, 6).alias("sd_v"),
    )


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    period: int = 86400,
    buckets: int = 24,
    k: float = 3.0,
) -> DataFrame:
    """Points deviating more than ``k``·σ from THEIR OWN phase bucket's
    mean (:func:`seasonal_profile`) — the "3am spike that is normal at
    3pm" detector. The flag compare runs entirely in decimal (mean and
    σ re-enter as 6-dp decimals), so the anomaly SET is cross-engine
    exact; ``rz = (x − mean)/σ`` is one fixed-order float, 6-dp,
    −0.0-normalised. Phase buckets with σ NULL (single point) or σ = 0
    (constant — flag degenerates to x ≠ mean, rz NULL) follow the
    robust_anomalies degenerate contract.

    Output: ``(*group_vars, ts_col, phase, x, mean_v, sd_v, rz)`` for
    anomalous points only. Scale shape: the profile fold + ONE
    key-phase equi join back (profile is keys × buckets rows —
    broadcastable); no window.
    """
    if not (k == k) or k < 0:
        raise IntervalDataError(
            f"seasonal_anomalies: k must be >= 0, got {k}")
    from intervalaverage_spark.operators.changepoint import cusum_points

    g = list(group_vars)
    prof = seasonal_profile(df, ts_col, value_col, g, period, buckets)
    width = period // buckets
    pts = cusum_points(df, ts_col, value_col, g)
    t = F.col(ts_col).cast("timestamp").cast("long")
    ph = pts.select(
        *g, ts_col,
        (F.pmod(t, F.lit(period)) / F.lit(width)).cast("long").alias("phase"),
        "x",
    )
    kd = F.lit(round(float(k), 6)).cast("decimal(18,6)")
    md = F.col("mean_v").cast("decimal(18,6)")
    sd = F.col("sd_v").cast("decimal(18,6)")
    dev = F.abs(F.col("x") - md)
    flagged = ph.join(prof, [*g, "phase"]).where(
        F.when(sd.isNull(), F.lit(False)).otherwise(dev > kd * sd)
    )
    rz = F.when(
        sd > 0,
        (F.col("x") - md).cast("double") / sd.cast("double"),
    )
    return flagged.select(
        *g, ts_col, "phase",
        F.col("x").cast("double").alias("x"),
        "mean_v", "sd_v",
        (F.round(rz, 6) + F.lit(0.0)).alias("rz"),
    )


def robust_anomalies(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_vars: Sequence[str],
    k: float = 3.0,
) -> DataFrame:
    """Per-key robust outliers: points whose absolute deviation from the
    key's MEDIAN exceeds ``k`` × MAD (median absolute deviation) — the
    distribution-free complement of :func:`~intervalaverage_spark.
    operators.changepoint.cusum` (CUSUM finds sustained LEVEL SHIFTS
    against a mean/σ calibration that outliers themselves corrupt; MAD
    has a 50% breakdown point, so this finds the POINT anomalies even
    when half the data is junk — the right screen for crawl-metric
    spikes, bot bursts, parser glitches).

    Exactness discipline: values collapse to 6-dp decimal means per
    (key, ts) first (:func:`~intervalaverage_spark.operators.
    changepoint.cusum_points` — same total-order precondition as the
    rest of the family); median and MAD are exact linear-interpolation
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``,
    the E25 precedent), each 6-dp-rounded back to decimal; the flag
    compare ``|x − med| > k·mad`` runs ENTIRELY in decimal, so the
    anomaly SET is cross-engine exact, not approximately. ``rz`` is the
    robust z-score ``(x − med) / (1.4826·mad)`` — one fixed-order float
    expression, 6-dp, −0.0-normalised; NULL when ``mad = 0`` (where the
    flag degenerates to ``x ≠ med``, documented rather than NaN).

    Returns only the anomalous points: ``(*group_vars, ts_col, x, med,
    mad, rz)`` with x/med/mad as 6-dp doubles.

    Scale shape: two aggregations on the key (median, then MAD of the
    deviations) and two key-equi joins back — the stats relations are
    one row per key, so AQE broadcasts them when small and the joins
    stay co-partitioned with the collapse otherwise; no window, no
    sort, no UDF; a hot key costs two percentile folds of its history,
    never a cross join. Exact percentile buffers a key's values inside
    the aggregate — for the 10^9-key/short-series regime this is the
    right trade; for million-point single keys compose with the
    histogram sketch (functions/quantiles.py) instead.
    """
    from intervalaverage_spark.operators.changepoint import cusum_points

    if not group_vars:
        raise IntervalSchemaError(
            "robust_anomalies: group_vars must be non-empty")
    for c in (ts_col, value_col, *group_vars):
        if c not in df.columns:
            raise IntervalSchemaError(
                f"robust_anomalies: missing column {c!r}")
    if not (k == k) or k < 0:  # NaN or negative
        raise IntervalDataError(
            f"robust_anomalies: k must be >= 0, got {k}")
    g = list(group_vars)
    kd = F.lit(round(float(k), 6)).cast("decimal(18,6)")
    pts = cusum_points(df, ts_col, value_col, g)

    med = pts.groupBy(*g).agg(
        F.round(F.percentile(F.col("x").cast("double"), F.lit(0.5)), 6)
        .cast("decimal(18,6)").alias("__med")
    )
    dev = pts.join(med, g).select(
        *g, ts_col, "x", "__med",
        F.abs(F.col("x") - F.col("__med")).alias("__dev"),
    )
    mad = dev.groupBy(*g).agg(
        F.round(F.percentile(F.col("__dev").cast("double"), F.lit(0.5)), 6)
        .cast("decimal(18,6)").alias("__mad")
    )
    flagged = dev.join(mad, g).where(
        F.col("__dev") > kd * F.col("__mad")
    )
    rz = F.when(
        F.col("__mad") > 0,
        (F.col("x") - F.col("__med")).cast("double")
        / (F.lit(1.4826) * F.col("__mad").cast("double")),
    )
    return flagged.select(
        *g,
        ts_col,
        F.col("x").cast("double").alias("x"),
        F.col("__med").cast("double").alias("med"),
        F.col("__mad").cast("double").alias("mad"),
        (F.round(rz, 6) + F.lit(0.0)).alias("rz"),
    )

"""The north-star job: web-page visits → observation intervals → 1h/1d/30d
tier states → finalized points (+ optional Gorilla segment blobs), with
per-partition lineage checkpoints and exact resume.

Run via ``spark-submit --py-files ia.zip -m intervalaverage_spark.jobs.rollup``
or programmatically through :func:`run_rollup`. Designed so every stage is
a shuffle on ``(p, …)`` where ``p = xxhash64(url) % n_buckets`` — the tier
cascade then never reshuffles across stages (url stays co-located), and a
bucket is the unit of both skew mitigation and resume.

One run is three actions, whatever the number of tiers:

1. the resume plan — bucket fingerprints full-outer-joined with the
   manifest, collected once (``checkpoint.resume_plan``);
2. every tier's state as one lazy union with a ``tier`` column, written
   once ``partitionBy("tier", "p")`` into ``out_root`` with dynamic
   partition overwrite; per-tier point counts ride on that write as one
   ``Observation`` (without ``out_root``: one ``groupBy("tier")`` count);
3. the new manifest, written from its driver-side Arrow table.

Nothing is cached; the interval table is evaluated by the plan collect and
by the write. Layout: ``<out_root>/tier=<t>/p=<b>/part-*.parquet`` plus
``<out_root>/_lineage``.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.operators.tiers import (
    TIER_WIDTHS,
    finalize,
    rollup_cascade,
    rollup_from_raw,
)
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals

VALUE_VARS = ["text_bytes", "crawl_gap"]
GROUP_VARS = ["url", "lang"]


def run_rollup(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str | None = None,
    n_buckets: int = 32,
    tiers: Sequence[str] = ("1h", "1d", "30d"),
    resume: bool = True,
    unit: int = 1,
    strategy: str = "direct",
) -> dict:
    """Returns a metrics report. With ``out_root``, states are written
    partitioned by tier and bucket with a lineage manifest; a re-run
    recomputes only buckets whose input fingerprint changed.

    ``strategy``:
      * ``"direct"`` (default) — every tier from the raw interval table.
        At web-crawl visit density the materialized hour-grid state is
        ~170× denser than raw (each ~9-day validity interval covers ~220
        hour windows), so cascading 1d from the 1h STATE shuffles two
        orders of magnitude more rows than re-aggregating raw (measured
        180 s vs 4.7 s at 60k pages / 8 cores).
      * ``"cascade"`` — each tier merged from the previous tier's state
        (rollup_cascade). Correct and REQUIRED when raw has aged out of
        retention and only a finer tier remains; exactness of
        cascade == direct == interval_average is property-tested."""
    widths = [TIER_WIDTHS[t] for t in tiers]
    for w0, w1 in zip(widths, widths[1:]):
        if w1 % w0:
            raise ValueError(f"tier widths must tile: {w0} → {w1}")
    if strategy not in ("direct", "cascade"):
        raise ValueError(f"unknown strategy {strategy!r}")
    t_start = time.time()
    report: dict = {"tiers": {}, "buckets": {"n": n_buckets}}

    x = ckpt.with_bucket(observation_intervals(pages, unit=unit), "url", n_buckets)
    plan = None
    if out_root and resume:
        plan = ckpt.resume_plan(
            ckpt.fingerprint_partitions(x), ckpt.read_manifest(spark, out_root), tier="input")
        # the write below never reaches a vanished bucket's partitions
        if plan.vanished:
            ckpt.delete_partition_dirs(
                spark, out_root,
                [f"tier={t}/p={b}" for t in tiers for b in plan.vanished],
            )
        report["buckets"].update(
            todo=len(plan.todo), skipped=len(plan.skipped), vanished=len(plan.vanished))
        x = x.filter(F.col("p").isin(plan.todo))

    states = _tier_states(x, tiers, widths, strategy)
    if plan is not None and not plan.todo:
        counts = {}  # every bucket skipped: nothing to write
    elif out_root:
        obs = Observation()
        ckpt.write_partitioned(
            states.observe(obs, *[F.count_if(F.col("tier") == t).alias(t) for t in tiers]),
            out_root, ("tier", "p"),
        )
        counts = obs.get
    else:
        counts = {r["tier"]: r["count"] for r in states.groupBy("tier").count().collect()}
    if plan is not None:
        ckpt.write_manifest_arrow(spark, plan.manifest, out_root)

    report["tiers"] = {t: {"points": counts.get(t, 0)} for t in tiers}
    report["total_points"] = sum(v["points"] for v in report["tiers"].values())
    report["wall_seconds"] = round(time.time() - t_start, 3)
    report["points_per_sec"] = round(report["total_points"] / max(report["wall_seconds"], 1e-9), 1)
    return report


def _tier_states(
    x: DataFrame, tiers: Sequence[str], widths: Sequence[int], strategy: str,
) -> DataFrame:
    """Every tier's state in one lazy plan, told apart by a ``tier``
    column; with ``cascade`` each tier is merged from the previous one."""
    keys = [*GROUP_VARS, "p"]
    states, prev = [], None
    for tier, width, prev_width in zip(tiers, widths, [None, *widths]):
        if prev is None or strategy == "direct":
            st = rollup_from_raw(x, width, VALUE_VARS, keys)
        else:
            st = rollup_cascade(prev, prev_width, width, VALUE_VARS, keys)
        states.append(st.withColumn("tier", F.lit(tier)))
        prev = st
    return reduce(DataFrame.unionByName, states)


def finalize_tier(
    spark: SparkSession,
    out_root: str,
    tier: str,
    required_percentage: float = 0.0,
) -> DataFrame:
    """Read a written tier state and materialize reference-semantics points."""
    state = spark.read.parquet(os.path.join(out_root, f"tier={tier}"))
    return finalize(
        state, TIER_WIDTHS[tier], VALUE_VARS, [*GROUP_VARS, "p"],
        required_percentage=required_percentage,
    )


def main() -> None:  # pragma: no cover — spark-submit entry
    from intervalaverage_spark.session import get_spark
    from intervalaverage_spark.sources.webts import synth_webpages

    spark = get_spark(app_name="ia-rollup")
    pages = synth_webpages(spark, n_pages=int(os.environ.get("IA_PAGES", "2000")))
    report = run_rollup(spark, pages, out_root=os.environ.get("IA_OUT"))
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()

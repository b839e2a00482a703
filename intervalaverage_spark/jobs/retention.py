"""Retention: age out tier partitions by policy, metadata-only.

The third leg of the north_rule's "rollup + downsample + retention"
engine. Policies map tier → keep horizon (seconds); enforcement drops
whole ``d=<day>`` partition directories under ``tier=<t>/`` — a
driver-side filesystem metadata operation (same Hadoop FS path as
vanished-bucket cleanup, ``plans.checkpoint.delete_partition_dirs``),
NO data read, NO rewrite, any store. This is exactly why the engine keeps
mergeable STATE per tier (operators/tiers.py): 30d-from-1d equals
30d-from-raw, so dropping raw/fine partitions after the coarser tier is materialized
loses nothing the coarser tier reports.

Two safety rules, both enforced here:

* **monotone policies** — a finer tier must never out-live a coarser one
  (retaining 1h past 1d would claim precision the 1d tier can't back
  after its own cutoff; and dropping 1d before 30d is fine only because
  30d state already merged it). ``validate_policies`` raises on
  violations.
* **retain-at-least** — a cutoff falling mid-partition keeps the whole
  straddling directory: retention may keep MORE than the horizon, never
  less.

Reference parity note: the reference has no retention (in-memory
single-node tables, SURVEY §1.1); this is scale-layer machinery the
10^12-row target requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from intervalaverage_spark.operators.tiers import TIER_WIDTHS
from intervalaverage_spark.plans.checkpoint import delete_partition_dirs
from intervalaverage_spark.plans.layout import DAY


def validate_policies(policies: dict[str, int | None]) -> None:
    """Horizons must be non-decreasing with tier width: the coarser the
    tier, the longer (or equally long / forever=None) it is kept."""
    unknown = [t for t in policies if t not in TIER_WIDTHS]
    if unknown:
        raise ValueError(f"unknown tiers in policy: {unknown} (have {list(TIER_WIDTHS)})")
    ordered = sorted(policies, key=lambda t: TIER_WIDTHS[t])
    prev_t, prev_keep = None, None
    for t in ordered:
        keep = policies[t]
        if keep is not None and keep < TIER_WIDTHS[t]:
            raise ValueError(
                f"tier {t!r}: horizon {keep}s is shorter than one {t} window "
                f"({TIER_WIDTHS[t]}s) — the tier would never retain a full window"
            )
        if prev_t is not None:
            prev_is_forever = prev_keep is None
            if prev_is_forever and keep is not None:
                raise ValueError(
                    f"non-monotone retention: finer tier {prev_t!r} is kept forever "
                    f"but coarser tier {t!r} only {keep}s"
                )
            if not prev_is_forever and keep is not None and keep < prev_keep:
                raise ValueError(
                    f"non-monotone retention: finer tier {prev_t!r} kept {prev_keep}s "
                    f"outlives coarser tier {t!r} kept {keep}s"
                )
        prev_t, prev_keep = t, keep


def _list_day_dirs(spark: SparkSession, tier_path: str) -> list[int]:
    """Day-partition values present under ``tier_path`` (Hadoop FS listing
    — driver-side metadata, no data open)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(tier_path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        return []
    days = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("d="):
            try:
                days.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(days)


def apply_retention(
    spark: SparkSession,
    root: str,
    policies: dict[str, int | None],
    now: int,
    dry_run: bool = False,
) -> dict:
    """Enforce ``policies`` on the ``root/tier=<t>/d=<day>/p=<bucket>``
    layout at epoch-seconds ``now``. Returns a report:
    ``{tier: {"cutoff_day": int|None, "dropped": [days], "kept": n}}``.

    A day directory is dropped iff EVERY window starting in it ended
    before the horizon: windows starting day ``d`` end by
    ``(d+1)*DAY - 1 + (width-1)`` (the widest window starting that day),
    so the directory is droppable when that bound < ``now - keep`` —
    retain-at-least semantics, never drops a partially-live day.
    """
    validate_policies(policies)
    report: dict = {}
    for tier, keep in policies.items():
        tier_path = os.path.join(root, f"tier={tier}")
        days = _list_day_dirs(spark, tier_path)
        if keep is None:
            report[tier] = {"cutoff_day": None, "dropped": [], "kept": len(days)}
            continue
        width = TIER_WIDTHS[tier]
        horizon = now - keep
        # drop day d iff (d+1)*DAY - 1 + width - 1 < horizon
        doomed = [d for d in days if (d + 1) * DAY + width - 2 < horizon]
        if doomed and not dry_run:
            delete_partition_dirs(
                spark, root, [f"tier={tier}/d={d}" for d in doomed]
            )
        report[tier] = {
            "cutoff_day": (horizon - width + 1) // DAY,
            "dropped": doomed,
            "kept": len(days) - len(doomed),
        }
    return report

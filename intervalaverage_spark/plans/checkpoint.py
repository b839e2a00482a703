"""Per-partition lineage + metrics checkpoints enabling exact resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The unit of resume is a *url-hash bucket*: every table in the
pipeline carries ``p = pmod(xxhash64(url), n_buckets)`` and is written
``partitionBy(..., "p")``. For each bucket we record a LINEAGE row:

    tier, p, input_fingerprint, input_rows, output_rows, output_checksum

The input fingerprint is an order-insensitive pure-JVM aggregate: the SUM
of per-row xxhash64 reduced mod the largest 63-bit prime (DECIMAL
accumulation — ANSI-safe, no overflow, no Python). SUM, not bit_xor: XOR
cancels any pairwise-duplicated change (two identical new rows would
leave the fingerprint untouched), while a modular sum is duplicate-
sensitive. The row count is compared as a second independent witness.

A run plans its resume from ONE driver collect: :func:`resume_plan`
full-outer-joins the fingerprints with the manifest and returns the
buckets to recompute, the ones to skip, the ones whose input vanished,
and the manifest to write afterwards (an Arrow table — written without a
Python worker). The recomputed buckets are then written in ONE
partitioned write (``jobs/rollup.py`` writes every tier at once,
``partitionBy("tier", "p")``); dynamic partition overwrite, set per
write, rewrites exactly those directories and leaves every other one —
other buckets, other tiers, sibling directories — in place. This replaces
Structured Streaming checkpoints for the batch-incremental tier cascade
(SURVEY §2.3: watermarks are out of scope; resume-from-checkpoint
replaces them).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "tier string, p long, input_fingerprint long, input_rows long, "
    "output_rows long, output_checksum long"
)
#: MANIFEST_SCHEMA in Arrow, for the driver-side manifest snapshot
_MANIFEST_ARROW = pa.schema([("tier", pa.string())] + [
    (c, pa.int64())
    for c in ("p", "input_fingerprint", "input_rows", "output_rows", "output_checksum")
])


def with_bucket(df: DataFrame, key_col: str, n_buckets: int, out: str = "p") -> DataFrame:
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))


#: largest prime below 2^63 — fingerprint modulus (result fits LongType)
_FP_MOD = 9223372036854775783


def fingerprint_partitions(df: DataFrame, part_col: str = "p") -> DataFrame:
    """One row per bucket: (p, fingerprint, rows). Order-insensitive AND
    duplicate-sensitive (modular sum of row hashes; see module docstring)."""
    cols = [c for c in df.columns if c != part_col]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.groupBy(part_col).agg(
        F.pmod(F.sum(h), F.lit(_FP_MOD).cast("decimal(38,0)"))
        .cast("long").alias("fingerprint"),
        F.count(F.lit(1)).alias("rows"),
    )


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The ``_lineage`` manifest under ``path``, or an empty one. Read with
    the known schema, so no schema-inference job runs."""
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(os.path.join(path, "_lineage"))
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def write_manifest(manifest: DataFrame, path: str) -> None:
    """Overwrite the ``_lineage`` manifest. Manifest rows are per-bucket
    metadata (small by construction), and the plan may lazily READ the
    directory being overwritten, so it is snapshotted on the driver first
    — through Arrow, which needs no Python worker."""
    write_manifest_arrow(manifest.sparkSession, manifest.toArrow(), path)


def write_manifest_arrow(spark: SparkSession, table: pa.Table, path: str) -> None:
    """Overwrite the ``_lineage`` manifest with a driver-side Arrow table."""
    (spark.createDataFrame(table).coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(path, "_lineage")))


class ResumePlan(NamedTuple):
    """Driver-side outcome of :func:`resume_plan`."""

    todo: list[int]      #: buckets that are new or whose input changed
    skipped: list[int]   #: buckets whose (fingerprint, rows) match the manifest
    vanished: list[int]  #: manifest buckets with no input rows left
    manifest: pa.Table   #: the manifest to write once the todo buckets are done


def resume_plan(input_fps: DataFrame, manifest: DataFrame, tier: str) -> ResumePlan:
    """Compare bucket (fingerprint, row count) with the manifest in ONE
    collect of their full outer join.

    Both recorded witnesses must match for a skip — the row count catches
    any residual hash-collision class the modular sum might admit. A
    manifest bucket with no fingerprint row has vanished: a bucket with
    zero input emits nothing, so its written partitions and manifest
    entries are stale and must be cleared. The new manifest records every
    fingerprinted bucket under ``tier``, keeps the other tiers' entries,
    and drops every entry of a vanished bucket. Bucket counts are small
    (≤ thousands) by construction, so the collect is a metadata
    operation, not a data read."""
    cols = _MANIFEST_ARROW.names
    old = manifest.select(*(F.col(c).alias(f"m_{c}") for c in cols))
    j = input_fps.join(
        old, (input_fps["p"] == old["m_p"]) & (old["m_tier"] == tier), "full_outer")
    todo, skipped, vanished, kept, new = [], [], [], [], []
    for r in j.select("p", "fingerprint", "rows", *old.columns).collect():
        if r["p"] is None:  # a manifest entry no fingerprint matched
            if r["m_tier"] == tier:
                vanished.append(r["m_p"])
            else:
                kept.append(r[3:])
            continue
        same = r["m_input_fingerprint"] == r["fingerprint"] and r["m_input_rows"] == r["rows"]
        (skipped if same else todo).append(r["p"])
        new.append((tier, r["p"], r["fingerprint"], r["rows"], None, None))
    gone = set(vanished)
    rows = sorted(new + [k for k in kept if k[1] not in gone], key=lambda k: (k[0], k[1]))
    table = pa.Table.from_pylist([dict(zip(cols, k)) for k in rows], schema=_MANIFEST_ARROW)
    return ResumePlan(sorted(todo), sorted(skipped), sorted(vanished), table)


def plan_resume(
    input_fps: DataFrame,
    manifest: DataFrame,
    tier: str,
) -> tuple[list[int], list[int]]:
    """``(todo_buckets, skipped_buckets)`` of :func:`resume_plan`."""
    plan = resume_plan(input_fps, manifest, tier)
    return plan.todo, plan.skipped


def delete_partition_dirs(spark: SparkSession, root: str, subdirs: Sequence[str]) -> None:
    """Remove partition directories (e.g. ``tier=1d/p=3``) through the
    Hadoop FileSystem API — filesystem-agnostic (local/HDFS/object store),
    driver-side metadata operation. Used to clear stale partitions of
    vanished buckets."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for sub in subdirs:
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(root, sub))
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)


def write_partitioned(
    df: DataFrame,
    path: str,
    part_cols: Sequence[str] = ("p",),
    dynamic: bool = True,
) -> None:
    """Partitioned parquet write; with ``dynamic``, only partitions present
    in ``df`` are overwritten (exact-resume rewrite granularity)."""
    w = df.write.partitionBy(*part_cols).mode("overwrite")
    if dynamic:
        # per write, not on the session: concurrent writers keep their mode
        w = w.option("partitionOverwriteMode", "dynamic")
    w.parquet(path)

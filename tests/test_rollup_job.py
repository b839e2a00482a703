"""run_rollup as one job: one resume collect, one partitioned write for all
tiers, counts in-band — and what that single write may and may not touch."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from intervalaverage_spark.jobs.rollup import finalize_tier, run_rollup
from intervalaverage_spark.plans.checkpoint import with_bucket, write_partitioned
from intervalaverage_spark.sources.webts import synth_webpages

TIERS = ("1h", "1d", "30d")


@pytest.fixture()
def pages(spark, tmp_path):
    """A small seeded page table, read back from parquet as a job reads it."""
    path = str(tmp_path / "pages")
    synth_webpages(spark, n_pages=40, n_domains=6, seed=5).write.parquet(path)
    return spark.read.parquet(path)


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _tree(root: str) -> dict[str, str]:
    """relative path → sha256 of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _mutate_one_bucket(pages):
    victim = pages.select("url").orderBy("url").first()["url"]
    mutated = pages.withColumn(
        "text",
        F.when(F.col("url") == victim, F.concat(F.col("text"), F.lit(" EDITED")))
        .otherwise(F.col("text")),
    )
    return mutated, with_bucket(pages.filter(F.col("url") == victim), "url", 8).first()["p"]


def test_run_rollup_leaves_nothing_persisted(spark, pages, tmp_path):
    out = str(tmp_path / "out")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for label in ("cold", "warm"):
        before = persistent().size()
        run_rollup(spark, pages, out_root=out, n_buckets=8)
        assert persistent().size() == before, label


def test_write_partitioned_dynamic_is_per_write(spark, tmp_path):
    """Dynamic overwrite is a write option: untouched partitions survive
    and the session's overwrite mode is never changed."""
    path = str(tmp_path / "parts")
    mode = lambda: spark.conf.get("spark.sql.sources.partitionOverwriteMode")  # noqa: E731
    before = mode()
    assert before.upper() == "STATIC"
    write_partitioned(spark.range(30).withColumn("p", F.col("id") % 3), path, ("p",))
    assert mode() == before
    write_partitioned(spark.range(5).withColumn("p", F.lit(1).cast("long")), path, ("p",))
    assert mode() == before
    got = spark.read.parquet(path)
    assert {r["p"]: r["count"] for r in got.groupBy("p").count().collect()} == {0: 10, 1: 5, 2: 10}
    assert sorted(r["id"] for r in got.filter("p = 1").collect()) == list(range(5))


def test_single_write_touches_only_what_it_owns(spark, pages, tmp_path):
    """A re-run of one tier after a one-bucket change rewrites that tier's
    bucket only: the other tiers, the manifest and sibling directories
    written into the same root stay; the result equals a fresh run."""
    out = str(tmp_path / "out")
    run_rollup(spark, pages, out_root=out, n_buckets=8, tiers=TIERS)
    finalize_tier(spark, out, "1d").write.parquet(os.path.join(out, "points_1d"))
    spark.range(3).write.parquet(os.path.join(out, "segments"))
    kept = {d: _tree(os.path.join(out, d)) for d in ("tier=1h", "tier=30d", "points_1d", "segments")}
    manifest0 = spark.read.parquet(os.path.join(out, "_lineage")).collect()

    mutated, victim_p = _mutate_one_bucket(pages)
    r = run_rollup(spark, mutated, out_root=out, n_buckets=8, tiers=("1d",))
    assert r["buckets"] == {"n": 8, "todo": 1, "skipped": 7, "vanished": 0}, r
    assert r["tiers"]["1d"]["points"] > 0 and r["total_points"] == r["tiers"]["1d"]["points"]

    for d, files in kept.items():
        assert _tree(os.path.join(out, d)) == files, d
    clean = str(tmp_path / "clean")
    run_rollup(spark, mutated, out_root=clean, n_buckets=8, tiers=("1d",))
    manifest = spark.read.parquet(os.path.join(out, "_lineage"))
    assert _same(manifest, spark.read.parquet(os.path.join(clean, "_lineage")))
    changed = manifest.exceptAll(spark.createDataFrame(manifest0, manifest.schema)).collect()
    assert [row["p"] for row in changed] == [victim_p]
    assert _same(finalize_tier(spark, out, "1d"), finalize_tier(spark, clean, "1d"))


def test_cascade_strategy_matches_direct(spark, pages, tmp_path):
    roots, reports = {}, {}
    for strategy in ("direct", "cascade"):
        roots[strategy] = str(tmp_path / strategy)
        reports[strategy] = run_rollup(spark, pages, out_root=roots[strategy],
                                       n_buckets=8, tiers=TIERS, strategy=strategy)
    assert reports["cascade"]["tiers"] == reports["direct"]["tiers"]
    assert reports["cascade"]["total_points"] == reports["direct"]["total_points"] > 0
    for tier in TIERS:
        assert _same(finalize_tier(spark, roots["cascade"], tier),
                     finalize_tier(spark, roots["direct"], tier)), tier


def test_counts_without_out_root(spark, pages, tmp_path):
    written = run_rollup(spark, pages, out_root=str(tmp_path / "out"), n_buckets=8)
    in_memory = run_rollup(spark, pages, out_root=None, n_buckets=8)
    assert in_memory["tiers"] == written["tiers"]
    assert "buckets" in in_memory and "todo" not in in_memory["buckets"]


#: Spark jobs of one run_rollup (3 tiers, 8 buckets, local[4], 4 shuffle
#: partitions) on the 40-page fixture. Measured the same way before the
#: one-pass rewrite: cold manifest 29, warm 18, no out_root 15; after: 9, 6, 6.
MAX_JOBS = {"cold": 9, "warm": 6, "no_out_root": 6}


def test_job_count_guard(spark, pages, tmp_path):
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    jobs = {}
    try:
        for label, root in (("cold", out), ("warm", out), ("no_out_root", None)):
            group = f"rollup-guard-{label}"
            sc.setJobGroup(group, label)
            run_rollup(spark, pages, out_root=root, n_buckets=8, tiers=TIERS)
            jobs[label] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(jobs[k] <= MAX_JOBS[k] for k in MAX_JOBS), jobs

"""``rollup``: the north-star job, write-heavy.

One pass = ``run_rollup`` into a fresh directory (cold manifest), then the
1d tier finalized and Gorilla-encoded. It keeps ``operators.tiers``,
``plans.checkpoint`` and ``functions.gorilla`` busy.

The traced run adds a resumed ``run_rollup`` after a seed-chosen handful
of urls gained one extra visit: there fingerprinting dominates and the
tiers are nearly idle, so a change that helps one and costs the other
shows up in the per-layer figures.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from intervalaverage_spark.functions.gorilla import decode_segments, encode_segments
from intervalaverage_spark.jobs.rollup import GROUP_VARS, VALUE_VARS, finalize_tier, run_rollup
from intervalaverage_spark.operators.tiers import TIER_WIDTHS, rollup_from_raw
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals, synth_webpages

from harness import dir_bytes

TIERS = ("1h", "1d", "30d")
#: sized to the input: 150 pages hold few urls per bucket at 32
N_BUCKETS = 8
SEGMENT_WIDTH = 30 * 86400

SIZES = {
    "full": {"pages": 150, "warm_pages": 12, "changed_urls": 3},
    "smoke": {"pages": 60, "warm_pages": 8, "changed_urls": 2},
}

#: spans whose event-log figures are reported (the full pass, not resume)
EVENT_SPANS = (
    "tiers.rollup_from_raw_1h",
    "checkpoint.fingerprint",
    "checkpoint.write_partitioned",
    "tiers.finalize",
    "gorilla.encode_segments",
)


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


class Rollup:
    def __init__(self, run, size: dict):
        self.run, self.size, self.spark = run, size, run.spark

    # ------------------------------------------------------------ inputs
    def _pages(self, n: int, seed: int, name: str):
        return self.run.materialize(synth_webpages(
            self.spark, n_pages=n, n_domains=max(n // 50, 4), seed=seed), name)

    def _with_revisits(self, pages, k: int, name: str):
        """``pages`` plus one re-crawl, 17 s after the first visit, of ``k``
        seed-chosen urls; returns it with the buckets those urls hash to."""
        chosen = ckpt.with_bucket(
            pages.select("url").distinct()
            .orderBy(F.xxhash64("url", F.lit(self.run.seed))).limit(k),
            "url", N_BUCKETS).collect()
        urls = [r.url for r in chosen]
        first = (pages.filter(F.col("url").isin(urls))
                 .groupBy("url").agg(F.min("warc_ts").alias("warc_ts")))
        extra = pages.join(first, ["url", "warc_ts"]).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 17 SECONDS"))
        extra = self.run.materialize(extra.select(*pages.columns), name)
        return pages.unionByName(extra), sorted({int(r.p) for r in chosen})

    @staticmethod
    def _expected(pages) -> dict:
        """Totals every tier must conserve: Σ len, Σ len over non-null v,
        and Σ len·v over the observation intervals (exact decimal)."""
        x = observation_intervals(pages, unit=1)
        ln = F.col("end") - F.col("start") + 1
        aggs = [F.count(F.lit(1)).alias("intervals"), F.sum(ln).alias("xduration")]
        for v in VALUE_VARS:
            aggs += [
                F.sum(F.when(F.col(v).isNotNull(), ln)).alias(f"nobs_{v}"),
                F.sum(ln.cast("decimal(20,0)") * F.col(v).cast("decimal(18,0)"))
                .alias(f"sum_wv_{v}"),
            ]
        return x.agg(*aggs).first().asDict()

    def setup(self) -> dict:
        s = self.size
        self.pages = self._pages(s["pages"], self.run.seed, "pages")
        return {"pages": s["pages"], "visits": parquet_rows(self.run.path("pages")),
                "n_buckets": N_BUCKETS}

    def oracle(self) -> None:
        self.expect = {"full": self._expected(self.pages)}

    # ------------------------------------------------------------ checks
    def _conserved(self, oid: int, out: str, expect: dict, label: str) -> None:
        sums = ["sum(xduration)"]
        for v in VALUE_VARS:
            sums += [f"sum(nobs_{v})", f"sum(sum_wv_{v})"]
        keys = ["xduration"] + [f"{p}_{v}" for v in VALUE_VARS for p in ("nobs", "sum_wv")]
        con = duckdb.connect()
        try:
            for tier in TIERS:
                got = con.execute(
                    f"SELECT {', '.join(sums)} FROM read_parquet('{out}/tier={tier}/*/*.parquet')"
                ).fetchone()
                for k, g in zip(keys, got):
                    want = float(expect[k])
                    ok = g is not None and math.isclose(float(g), want, rel_tol=1e-9)
                    self.run.check(oid, ok, f"{label}: tier {tier} {k} = {g}, intervals give {want}")
        finally:
            con.close()

    def _decode_matches(self, oid: int, out: str) -> None:
        cols = [*GROUP_VARS, "start", "text_bytes"]
        pts = ds.dataset(f"{out}/points_1d", format="parquet").to_table(columns=cols)
        dec = decode_segments(self.spark.read.parquet(f"{out}/segments"),
                              GROUP_VARS, "start", "text_bytes").toArrow()
        key = lambda t: sorted(zip(*(t.column(c).to_pylist() for c in cols)),  # noqa: E731
                               key=lambda row: tuple((x is None, x) for x in row))
        a, b = key(pts), key(dec)
        self.run.check(oid, a == b, f"decode_segments gives {len(b)} points that differ "
                                    f"from the {len(a)} finalized 1d points")

    # ------------------------------------------------------------ passes
    def _finalize_and_encode(self, out: str):
        r = self.run
        fin = r.op("tiers.finalize", lambda: finalize_tier(self.spark, out, "1d")
                   .write.parquet(f"{out}/points_1d"))

        def encode():
            pts = self.spark.read.parquet(f"{out}/points_1d").select(
                *GROUP_VARS, "start", "text_bytes")
            encode_segments(pts, GROUP_VARS, "start", "text_bytes", SEGMENT_WIDTH) \
                .write.parquet(f"{out}/segments")

        return fin, r.op("gorilla.encode_segments", encode)

    def _pass(self, out: str, decode: bool) -> dict:
        r = self.run
        oid, rep, t_roll = r.op("jobs.run_rollup", lambda: run_rollup(
            self.spark, self.pages, out_root=out, n_buckets=N_BUCKETS))
        if rep:
            self._conserved(oid, out, self.expect["full"], "full pass")
        (_, _, t_fin), (oid_e, _, t_enc) = self._finalize_and_encode(out)
        if decode and oid_e not in r.failed:
            self._decode_matches(oid_e, out)
        points = rep["total_points"] if rep else 0
        full_s = t_roll + t_fin + t_enc
        tiers = {f"points_{t}": v["points"] for t, v in rep["tiers"].items()} if rep else {}
        return {"work_per_s": points / full_s, "side_s": t_fin + t_enc, "pass_s": full_s,
                "points_per_s": points / full_s, "rollup_s": t_roll, "publish_s": t_fin + t_enc,
                "points": points, **tiers}

    def warmup(self) -> None:
        """The pass on a small input of its own: JIT and code generation,
        not work. It runs alongside the input generation."""
        warm = self._pages(self.size["warm_pages"], self.run.seed + 1, "warm_pages")
        out = self.run.fresh("warm_out")
        self.run.op("jobs.run_rollup", lambda: run_rollup(
            self.spark, warm, out_root=out, n_buckets=N_BUCKETS))
        self._finalize_and_encode(out)

    def timed_pass(self, i: int) -> dict:
        return self._pass(self.run.fresh("out"), i == 0)

    # ------------------------------------------------------------ traced
    def _decomposed(self, pages, out: str, pre: str) -> dict:
        """run_rollup's steps called one public function at a time, each
        forced and spanned: intervals → fingerprint/plan → per-tier state →
        partitioned write → manifest."""
        r, sp = self.run, self.spark
        xpath = r.fresh(f"x_{pre}")
        r.op(pre + "sources.observation_intervals", lambda: ckpt.with_bucket(
            observation_intervals(pages, unit=1), "url", N_BUCKETS).write.parquet(xpath))
        x = sp.read.parquet(xpath)

        def plan():
            fps = ckpt.fingerprint_partitions(x).cache()
            todo, _ = ckpt.plan_resume(fps, ckpt.read_manifest(sp, out), tier="input")
            return fps, todo

        fps, todo = r.op(pre + "checkpoint.fingerprint", plan)[1]
        xs = x.filter(F.col("p").isin(todo)) if todo else x.limit(0)
        points = {}
        for tier in TIERS:
            def build(tier=tier):
                st = rollup_from_raw(xs, TIER_WIDTHS[tier], VALUE_VARS,
                                     [*GROUP_VARS, "p"]).persist()
                return st, st.count()

            st, points[tier] = r.op(f"{pre}tiers.rollup_from_raw_{tier}", build)[1]
            r.op(pre + "checkpoint.write_partitioned", lambda: ckpt.write_partitioned(
                st, os.path.join(out, f"tier={tier}"), ("p",)))
            st.unpersist()
        new = fps.select(
            F.lit("input").alias("tier"), "p",
            F.col("fingerprint").alias("input_fingerprint"),
            F.col("rows").alias("input_rows"),
            F.lit(None).cast("long").alias("output_rows"),
            F.lit(None).cast("long").alias("output_checksum"),
        )

        def manifest():
            old = ckpt.read_manifest(sp, out)
            keep = old.join(new.select(F.col("tier").alias("t2"), F.col("p").alias("p2")),
                            (old["tier"] == F.col("t2")) & (old["p"] == F.col("p2")),
                            "left_anti")
            ckpt.write_manifest(keep.unionByName(new), out)

        oid = r.op(pre + "checkpoint.manifest_write", manifest)[0]
        fps.unpersist()
        return {"oid": oid, "intervals": parquet_rows(xpath), "points": points, "todo": todo}

    def traced_pass(self) -> tuple[dict, float]:
        r = self.run
        pages2, self.changed = self._with_revisits(self.pages, self.size["changed_urls"], "revisits")
        self.expect["resume"] = self._expected(pages2)
        out = r.fresh("traced_out")
        full = self._decomposed(self.pages, out, "")
        self._conserved(full["oid"], out, self.expect["full"], "traced full pass")
        tier_bytes = sum(dir_bytes(os.path.join(out, f"tier={t}")) for t in TIERS)
        self._finalize_and_encode(out)
        seg = ds.dataset(f"{out}/segments", format="parquet").to_table(
            columns=["n_points", "blob"]).to_pydict()
        res = self._decomposed(pages2, out, "resume.")
        r.check(res["oid"], res["todo"] == self.changed,
                f"resume planned buckets {res['todo']}, changed {self.changed}")
        self._conserved(res["oid"], out, self.expect["resume"], "traced resume pass")
        sp = r.spans
        n_points = sum(full["points"].values())
        m = {
            "sources.observation_intervals_s": sp["sources.observation_intervals"],
            "sources.intervals_out": full["intervals"],
            "tiers.finalize_s": sp["tiers.finalize"],
            "checkpoint.fingerprint_s": sp["checkpoint.fingerprint"],
            "checkpoint.write_partitioned_s": sp["checkpoint.write_partitioned"],
            "checkpoint.manifest_write_s": sp["checkpoint.manifest_write"],
            "checkpoint.resume_s": sum(v for k, v in sp.items() if k.startswith("resume.")),
            "checkpoint.resume_fingerprint_s": sp["resume.checkpoint.fingerprint"],
            "checkpoint.buckets_recomputed": len(res["todo"]),
            "checkpoint.buckets_total": N_BUCKETS,
            "checkpoint.bytes_per_point": tier_bytes / n_points,
            "gorilla.encode_segments_s": sp["gorilla.encode_segments"],
            "gorilla.segments": len(seg["blob"]),
            "gorilla.bytes_per_point": sum(map(len, seg["blob"])) / sum(seg["n_points"]),
        }
        for tier in TIERS:
            m[f"tiers.rollup_from_raw_{tier}_s"] = sp[f"tiers.rollup_from_raw_{tier}"]
            m[f"tiers.points_{tier}"] = full["points"][tier]
        # comparable with an ordinary pass: the resume is not in one
        pass_s = sum(v for k, v in sp.items() if not k.startswith("resume."))
        return m, pass_s

"""One benchmark run in a fresh Python + JVM (started by ``run.py``).

Set-up (session start, then input generation and the oracle the checks
compare against, alongside a warm-up pass on a small input of its own) is
timed as ``setup_s``. Untraced: timed passes until ``--seconds`` have
elapsed, each metric the median over passes. Traced (event log on): an
ordinary pass, then one pass with every public call spanned and each
layer forced, folded per span afterwards, then a second ordinary pass as
its baseline. The result is the last stdout line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import harness
import eventlog
import wl_queries
import wl_rollup

WORKLOADS = {
    "rollup": (wl_rollup.Rollup, wl_rollup.SIZES,
               lambda s: s if s in wl_rollup.EVENT_SPANS else None),
    "interval_queries": (wl_queries.IntervalQueries, wl_queries.SIZES, wl_queries.span_group),
}

#: spans that run Arrow/pandas UDFs; only these report Python-worker time
PYTHON_SPANS = ("gorilla.encode_segments",)


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _medians(passes: list[dict]) -> dict:
    keys = [k for k, v in passes[0].items() if isinstance(v, (int, float))]
    return {k: statistics.median(p[k] for p in passes) for k in keys}


def _event_figures(log_dir: str, group_of) -> dict:
    return {
        f"{group}.{name}": v
        for group, figs in eventlog.fold(log_dir, group_of).items()
        for name, v in figs.items()
        if name != "python_worker_ms" or group in PYTHON_SPANS
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    cls, sizes, group_of = WORKLOADS[a.workload]
    event_log = os.path.join(a.work, "eventlog") if a.trace else None

    t0 = time.perf_counter()
    spark = harness.start_spark(a.work, event_log)
    session_s = time.perf_counter() - t0
    run = harness.Run(spark, a.work, a.seed, traced=False)
    wl = cls(run, sizes["smoke" if a.smoke else "full"])
    # the warm-up runs on its own small input while the real input and the
    # checks' oracle are built; set-up ends when both are done
    t = time.perf_counter()
    with ThreadPoolExecutor(1) as ex:
        warm = ex.submit(_timed, wl.warmup)
        t1 = time.perf_counter()
        inputs = wl.setup()
        input_s = time.perf_counter() - t1
        oracle_s = _timed(wl.oracle)
        warm_s = warm.result()
    prep_s = time.perf_counter() - t

    out = {"setup_s": session_s + prep_s,
           "setup": {"session_s": session_s, "inputs_s": input_s, "oracle_s": oracle_s,
                     "warmup_s": warm_s, "inputs_oracle_warmup_s": prep_s}}
    if a.trace:
        # the first pass warms the JVM for the traced one; the overhead
        # baseline is the workload's own pass, unspanned, run after it
        wl.timed_pass(0)
        run.traced = True
        out["layers"], out["pass_s"] = wl.traced_pass()
        run.traced = False
        out["composed_pass_s"] = wl.timed_pass(1)["pass_s"]
    else:
        passes = []
        t = time.perf_counter()
        while not passes or time.perf_counter() - t < a.seconds:
            passes.append(wl.timed_pass(len(passes)))
        out["passes"] = len(passes)
        out["pass_s_each"] = [p["pass_s"] for p in passes]
        out["measured_s"] = time.perf_counter() - t
        out.update(_medians(passes))
    out["peak_rss_mb"] = harness.peak_rss_mb(harness.jvm_pid(spark))
    conf = spark.sparkContext.getConf()
    out["stamps"] = {
        "nproc": harness.nproc(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": conf.get("spark.master"),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
        "seed": a.seed,
        "smoke": a.smoke,
        "inputs": inputs,
    }
    harness.stop_spark(spark)
    if a.trace:
        out["layers"].update(_event_figures(event_log, group_of))
    out["attempted"] = run.attempted
    out["failed"] = len(run.failed)
    out["errors"] = run.errors[:20]
    print(json.dumps(out, default=str), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

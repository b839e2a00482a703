"""Fold a Spark event log into per-span stage figures.

The benchmark tags every Spark job with its span name through
``SparkContext.setJobDescription``; the log's ``SparkListenerJobStart``
records carry that description and the ids of the job's stages, and each
``SparkListenerTaskEnd`` record carries one task's metrics. Needs the
log written uncompressed and non-rolling (see ``harness.start_spark``).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

#: SQL metric that times Arrow/pandas UDF evaluation inside a task
_PY_RUN = "time to run Python workers"


def _task_figures(ev: dict) -> tuple[dict, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    info = ev["Task Info"]
    py = sum(
        float(a.get("Update") or 0)
        for a in info.get("Accumulables", []) if a.get("Name") == _PY_RUN
    )
    f = {
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "executor_cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
        "python_worker_ms": py,
    }
    return f, float(info["Finish Time"] - info["Launch Time"])


def fold(log_dir: str, group_of) -> dict[str, dict[str, float]]:
    """``{group: {figure: value}}`` over every task of every job that ran
    under a span; ``group_of(span)`` names the span's group, or None to
    leave the span out. Figures: shuffle read/write and spill bytes,
    executor CPU ms and Python-worker ms summed over tasks, and the max
    and median task wall ms."""
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_span: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = {}
    task_ms: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get("spark.job.description")
                group = group_of(span) if span else None
                if group:
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = group
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                if span is None:
                    continue
                figs, ms = _task_figures(ev)
                acc = sums.setdefault(span, dict.fromkeys(figs, 0.0))
                for k, v in figs.items():
                    acc[k] += v
                task_ms.setdefault(span, []).append(ms)
    for span, acc in sums.items():
        acc["max_task_ms"] = max(task_ms[span])
        acc["median_task_ms"] = float(statistics.median(task_ms[span]))
    return sums

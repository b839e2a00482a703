"""Repository benchmark: one workload, one seed, one fresh Python + JVM.

    python3 perfbench/run.py --workload rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
of ``BENCHMARK.json``; ``--trace 1`` turns the Spark event log on, runs one
ordinary pass and one traced pass (each layer forced and spanned), and
prints the per-layer metrics with the tracing overhead. ``--smoke``
shrinks every input for the self-test. The last stdout line is the
result; the line before it is the full report (run stamps, set-up
breakdown, every workload-specific figure).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rollup", "interval_queries")
#: every run ends within the benchmark contract's 180 s
DEADLINE_S = 170.0


def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in process group ``pgid``."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + 10
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _child(args, work: str, trace: int, seconds: float, deadline: float) -> dict:
    """Run child.py in its own process group and return its result."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # every JVM (launcher and driver) keeps its temp files in the work dir
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"])),
    })
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(trace),
           "--work", work] + (["--smoke"] if args.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError(f"{args.workload} (trace={trace}) ran past the deadline")
    finally:
        _stop_group(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"{args.workload} (trace={trace}) exited {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "intervalaverage_spark")):
        print(f"perfbench: no intervalaverage_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.trace:
            res = _child(args, work, 1, 0, deadline)
            layers = dict(res["layers"])
            layers["trace.composed_pass_s"] = res["composed_pass_s"]
            layers["trace.traced_pass_s"] = res["pass_s"]
            layers["trace.overhead_s"] = res["pass_s"] - res["composed_pass_s"]
            layers["session.jvm_peak_rss_mb"] = res["peak_rss_mb"]
            runs = [res]
            # layers this workload never enters did no work: 0, not absent
            metrics = {m["name"]: _metric(layers.get(m["name"], 0.0), m["unit"])
                       for m in spec["per_layer"]}
            unknown = sorted(set(layers) - set(metrics))
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        else:
            res = _child(args, work, 0, args.seconds, deadline)
            runs = [res]
            metrics = {m["name"]: _metric(res[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(json.dumps({"workload": args.workload, "runs": runs}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

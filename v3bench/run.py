#!/usr/bin/env python3
"""Run one workload of the v3 benchmark and print its result.

    python3 v3bench/run.py --workload pool_session --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds (see build.py).
The JVM generates its inputs from --seed, sets up, runs whole rounds of
the workload's fixed operation list for --seconds, checks every answer
and reports. Before and after the JVM this script reads /proc/loadavg and
times a fixed CPU calibration loop; a run whose calibration drifts by
more than CONTENDED_DRIFT is marked contended.

Output: a `report` JSON line (all figures, sample counts, contention),
then, as the last line, {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exit code 0 only when the run completed and every answer was right.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pool_session", "fleet_scan", "lake_ingest", "corpus_curation")
CONTENDED_DRIFT = 0.25  # relative change of the calibration loop's time
JVM_TIMEOUT_S = 165

def calibrate():
    """Best of five timings of a fixed integer loop, in ms, and the load."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200000):
            acc = (acc + i * i) % 1000003
        best = min(best, time.perf_counter() - t0)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"calib_ms": round(best * 1e3, 3), "loadavg": load}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        print(f"[v3bench] build failed: {e}", file=sys.stderr)
        return 2

    before = calibrate()
    work = build.OUT / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.OUT / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    spans = build.OUT / "traces" / f"{a.workload}-seed{a.seed}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.trace:
        args += ["--spans", str(spans)]
    cmd = build.java_command(args, work)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_HOME", None)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(f"[v3bench] timed out after {JVM_TIMEOUT_S}s; log: {log_path}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 1
    after = calibrate()
    shutil.rmtree(work, ignore_errors=True)

    report = result = None
    for line in out.splitlines():
        if line.startswith("V3BENCH_REPORT "):
            report = json.loads(line.split(" ", 1)[1])
        elif line.startswith("V3BENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"[v3bench] JVM exited with {proc.returncode}; log: {log_path}", file=sys.stderr)
        return 1

    drift = abs(after["calib_ms"] - before["calib_ms"]) / min(after["calib_ms"], before["calib_ms"])
    report["contention"] = {"before": before, "after": after, "calib_drift": round(drift, 4),
                            "bound": CONTENDED_DRIFT, "contended": drift > CONTENDED_DRIFT}
    if a.trace:
        report["spans_file"] = str(spans.relative_to(build.ROOT))
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (``gen.py``), runs the
workload on Spark in a child process (``workload.py``), samples the peak
RSS of that process tree from ``/proc``, checks the outputs, and prints as
its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer ones.  The line before it is a detail record
(load average, nproc, every pass, set-up times, problems found).

Everything it writes goes under ``.perfbench/`` in the checkout and is
removed at exit.  Run it from a checkout of the repository; elsewhere it
exits with code 2.
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

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_captured", "registry_regimes")
CHILD_TIMEOUT_S = 170.0
SAMPLE_EVERY_S = 0.5  # reading smaps_rollup walks page tables; keep it rare


def group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            if os.getpgid(int(pid)) == pgid:
                return True
        except OSError:
            continue
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of the child's process group and wait until it
    has gone (the JVM and Python workers are grandchildren)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            if not group_alive(pgid):
                return
            time.sleep(0.1)


def run_child(cmd, env) -> tuple:
    """Run cmd in its own process group, sampling its tree's RSS."""
    proc = subprocess.Popen(cmd, env=env, start_new_session=True, stdout=sys.stderr)
    peak = 0
    deadline = time.time() + CHILD_TIMEOUT_S
    try:
        while proc.poll() is None:
            peak = max(peak, probe.tree_pss_bytes(proc.pid))
            if time.time() > deadline:
                raise TimeoutError(f"{cmd[1]} ran over {CHILD_TIMEOUT_S}s")
            time.sleep(SAMPLE_EVERY_S)
    finally:
        if proc.poll() is None:
            stop_group(proc.pid)
            proc.wait()
        else:
            stop_group(proc.pid)
    return proc.returncode, peak


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: run one workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not (os.path.isdir(os.path.join(ROOT, "kafka_error_handling_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: no kafka_error_handling_spark package next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    try:
        gen = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--out", data],
            env=env, stdout=sys.stderr, timeout=120,
        )
        if gen.returncode != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            return 1
        result_path = os.path.join(work, "result.json")
        load_start, cpu_start = os.getloadavg(), probe.host_cpu_ticks()
        env["PERFBENCH_T0"] = repr(time.time())
        code, peak = run_child(
            [sys.executable, os.path.join(HERE, "workload.py"), "--workload", args.workload,
             "--data", data, "--work", work, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--result", result_path],
            env,
        )
        load_end, steal = os.getloadavg(), probe.steal_share(cpu_start, probe.host_cpu_ticks())
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: workload exited with code {code}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    except (subprocess.TimeoutExpired, TimeoutError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    peak_mb = peak / 2**20
    if args.trace:
        layer = res["per_layer"]
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        not_run = [n for n in names if n not in layer]
    else:
        e2e = dict(res["metrics"], peak_rss_mb=peak_mb)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        not_run = []
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": len(os.sched_getaffinity(0)), "load_avg_start": load_start,
        "load_avg_end": load_end, "steal_share": steal, "peak_rss_mb": peak_mb,
        "warmup_s": res["warmup_s"], "passes_s": res["passes_s"],
        "passes_cpu_s": res["passes_cpu_s"],
        "problems": res["problems"], "layers_not_run": not_run,
    }
    for key in ("span_self_s", "trace_detail", "spans"):
        if key in res:
            detail[key] = res[key]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

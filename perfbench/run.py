"""Benchmark launcher.

    python3 perfbench/run.py --workload sql_analyst --seed 1 --seconds 10 --trace 0

Starts ``loop.py`` in a hermetic environment (CPU count, driver memory,
worker ``PYTHONPATH``, and a fresh temp, Spark-local and warehouse
directory under ``.perfbench/`` that is deleted at exit), waits for it and
every process it started, and prints one JSON object as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (Spark's event log switched on through
``PYSPARK_SUBMIT_ARGS``).  The line before it holds host-noise diagnostics,
which are recorded, never used to normalise or discard a run.
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
sys.path.insert(0, ROOT)

import procfs  # noqa: E402
from bench import _foreign_jvms  # noqa: E402
from loop import expected_outputs  # noqa: E402
from workloads import SETUP_LAYERS, WORKLOADS  # noqa: E402
TIMEOUT_S = 160  # with the 10 s grace below, a run ends within 180 s
# Spark's own default.  With 4g, G1's adaptive heap sizing left the JVM's
# peak RSS anywhere between 1.0 and 2.6 GB on identical code.
DRIVER_MEMORY = "1g"

UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "ok_rate": "ratio"}


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    return "bytes" if field.endswith("_bytes") else "count"


def hermetic_env(run_dir: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    dirs = {k: os.path.join(run_dir, k) for k in
            ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # The JVM's own temp files (native libraries, artifact directories)
    # and its perf-data file would otherwise land in /tmp.  The JIT stops
    # at C1: with C2 the timed passes were still on the warm-up curve
    # (pass walls falling by a quarter from the first timed pass to the
    # third) and C2's compiler threads took about a third of their CPU.
    # The serial collector sizes the heap from live data alone; G1 sizes
    # it from pause times, which follow host speed, and sql_analyst's peak
    # RSS spread 13% on identical code (1-2% with the serial collector).
    submit = ("--conf \"spark.driver.extraJavaOptions="
              f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
              "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC\" pyspark-shell")
    if trace:
        submit = ("--conf spark.eventLog.enabled=true "
                  "--conf spark.eventLog.compress=false "
                  "--conf spark.eventLog.rolling.enabled=false "
                  f"--conf spark.eventLog.dir=file://{dirs['eventlog']} "
                  + submit)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": ROOT,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "PYSPARK_SUBMIT_ARGS": submit,
    })
    return env


def wait_tree(child: subprocess.Popen, deadline: float) -> None:
    """Wait for ``child`` and every process below it; whatever is still
    running at ``deadline``, or after the child has gone, is killed."""
    seen: set[int] = set()
    while child.poll() is None and time.time() < deadline:
        seen.update(p.pid for p in procfs.tree(child.pid))
        time.sleep(0.5)
    if child.poll() is None:
        seen.update(p.pid for p in procfs.tree(child.pid))
        child.kill()
    child.wait()
    grace = time.time() + 10
    while True:
        alive = [pid for pid in seen - {child.pid}
                 if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        if time.time() > grace:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            grace = float("inf")
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    expected_outputs(WORKLOADS[args.workload]["queries"])

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    spans_path = os.path.join(
        base, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    out_path = os.path.join(run_dir, "result.json")
    noise = {"nproc": len(os.sched_getaffinity(0)),
             "mem_total_mb": round(procfs.mem_total_mb()),
             "foreign_jvms": _foreign_jvms(),
             "loadavg_start": procfs.loadavg()}
    steal0 = procfs.steal_s()
    try:
        env = hermetic_env(run_dir, bool(args.trace))
        cmd = [sys.executable, os.path.join(HERE, "loop.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--eventlog-dir", os.path.join(run_dir, "eventlog"),
               "--spans", spans_path, "--out", out_path]
        start = time.time()
        # the loop's own output and Spark's go to stderr: stdout carries
        # only the two JSON lines below
        child = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr)
        wait_tree(child, start + TIMEOUT_S)
        if child.returncode != 0 or not os.path.exists(out_path):
            print(f"perfbench: loop exited with {child.returncode}",
                  file=sys.stderr)
            return 1
        with open(out_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    noise.update(steal_s=round(procfs.steal_s() - steal0, 2),
                 loadavg_end=procfs.loadavg())

    if args.trace:
        metrics = dict(res["per_layer"])
        metrics[SETUP_LAYERS[0]] = res["get_spark_s"]
        metrics[SETUP_LAYERS[1]] = res["load_all_s"]
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in metrics.items()}
    else:
        values = {
            "setup_s": res["setup_cpu_s"],
            "cpu_s": res["cpu_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_rate": 1 - res["failed"] / res["attempted"],
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    print(json.dumps({"diagnostics": {
        **noise, "setup_wall_s": res["setup_end"] - start,
        "get_spark_s": res["get_spark_s"], "load_all_s": res["load_all_s"],
        "pass_s": res["pass_s"], "pass_walls": res["pass_walls"],
        "rss_by_comm": res["rss_by_comm"],
        "error_rate": res["failed"] / res["attempted"],
        "failed_queries": res["failed_queries"]}}))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

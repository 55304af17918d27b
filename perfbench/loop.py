"""The measured process: one Spark session driving one workload as a closed
loop.  ``run.py`` starts it with a hermetic environment and reads the JSON
it writes to ``--out``; it is not meant to be started by hand.

Phases: set-up (``get_spark``, ``load_all``, then one untimed check pass
that compares every output with its DuckDB mirror and doubles as the
warm-up pass), then a fixed number of timed passes sized by ``--seconds``.
Each call is timed in two parts: *build* calls the registered query function,
*exec* writes every output column through Spark's ``noop`` sink.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import statistics
import sys
import time
import traceback

import eventlog
import procfs
from bench import free_new_rdds
from workloads import (QUERY_LAYERS, WORKLOADS, layer_of, pass_order,
                       timed_passes)

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(os.path.dirname(HERE), ".perfbench", "expected")


class Spans:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, parent: int | None, start: float,
            end: float) -> int:
        self.items.append({"id": len(self.items), "parent": parent,
                           "name": name, "start": start, "end": end})
        return len(self.items) - 1


def release(spark, before: set) -> None:
    """Drop cached frames and every RDD persisted since ``before``;
    ``clearCache`` alone leaves localCheckpoint blocks behind."""
    spark.catalog.clearCache()
    free_new_rdds(spark, before)


class Loop:
    def __init__(self, spark, queries, layers, trace: bool,
                 spans: Spans) -> None:
        self.spark = spark
        self.queries = queries
        self.layers = layers
        self.trace = trace
        self.spans = spans
        self.calls: list[dict] = []  # one record per timed call
        self.failed: list[str] = []
        self.jvm_pid = next((p.pid for p in procfs.tree(os.getpid())
                             if p.comm == "java"), None)

    def _snapshot(self) -> dict[str, float]:
        """CPU of the whole process tree; traced runs add the Python-worker
        CPU below the JVM and the JVM's disk writes."""
        procs = procfs.tree(os.getpid())
        snap = {"cpu_s": procfs.cpu_s(procs)}
        if self.trace and self.jvm_pid is not None:
            snap["pyworker_cpu_s"] = procfs.python_cpu_s(
                [p for p in procs if p.pid != os.getpid()])
            snap["disk_write_bytes"] = procfs.write_bytes(self.jvm_pid)
        return snap

    def call(self, name: str, tag: str, parent: int) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(tag, tag)
        before = set(sc._jsc.getPersistentRDDs().keySet())
        snap = self._snapshot()
        start = time.time()
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, FIXTURES)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:  # a failing query is counted, the loop goes on
            traceback.print_exc()
            self.failed.append(name)
            return
        finally:
            end = time.time()
            release(self.spark, before)
        span = self.spans.add(f"{self.layers[name]}:{name}", parent,
                              start, end)
        self.spans.add("build", span, start, start + t1 - t0)
        self.spans.add("exec", span, start + t1 - t0, start + t2 - t0)
        rec = {"pass": tag.split("/")[0], "query": name, "tag": tag,
               "layer": self.layers[name], "start_ms": start * 1e3,
               "end_ms": end * 1e3, "build_s": t1 - t0, "exec_s": t2 - t1,
               "wall_s": t2 - t0}
        rec.update({k: v - snap[k] for k, v in self._snapshot().items()})
        self.calls.append(rec)

    def run_pass(self, order: list[str], label: str, parent: int) -> None:
        span = self.spans.add(label, parent, time.time(), 0.0)
        for name in order:
            self.call(name, f"{label}/{name}", span)
        self.spans.items[span]["end"] = time.time()


def expected_outputs(names) -> dict[str, str]:
    """The result of each query's DuckDB mirror (``oracle_sql()``) over the
    fixtures, as a Parquet file under ``.perfbench/expected/`` named by a
    hash of the mirror's SQL, so a changed mirror gets a new file.  The
    launcher computes them once per checkout, outside the measured process:
    the curation mirror alone takes 7 s of wall time and 13 s of CPU."""
    import __spark_entry__
    from tests.oracle_harness import duckdb_connect

    oracles = __spark_entry__.oracle_sql()
    os.makedirs(EXPECTED, exist_ok=True)
    con = None
    paths = {}
    for name in names:
        sql = oracles[name].strip().rstrip(";")
        digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
        paths[name] = os.path.join(EXPECTED, f"{name}-{digest}.parquet")
        if not os.path.exists(paths[name]):
            con = con or duckdb_connect(FIXTURES)
            con.execute(f"COPY ({sql}\n) TO '{paths[name]}.tmp' (FORMAT PARQUET)")
            os.replace(f"{paths[name]}.tmp", paths[name])
    return paths


def check_outputs(spark, queries, layers, order: list[str], spans: Spans,
                  parent: int) -> list[str]:
    """Names whose output differs from its DuckDB mirror over the same
    fixtures, under the oracle harness's comparison rules."""
    import duckdb

    from tests.oracle_harness import compare

    expected = expected_outputs(order)
    con = duckdb.connect()
    spark.sparkContext.setJobGroup("check", "check")
    bad = []
    for name in order:
        before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        start = time.time()
        try:
            result = compare(name, queries[name](spark, FIXTURES), con,
                             f"SELECT * FROM read_parquet('{expected[name]}')")
        except Exception:  # a failing query is counted, the check goes on
            traceback.print_exc()
            bad.append(name)
            continue
        finally:
            release(spark, before)
            spans.add(f"{layers[name]}:{name}", parent, start, time.time())
        if not result.ok:
            print(f"check failed: {name}: {result.detail}", file=sys.stderr)
            bad.append(name)
    return bad


def median_per_query(calls: list[dict], field: str) -> float:
    """The sum over queries of each query's median ``field`` across the
    timed passes: one pass's worth, with every query at its typical time,
    so a call that stalls in one pass does not move it."""
    by_query: dict[str, list[float]] = {}
    for c in calls:
        by_query.setdefault(c["query"], []).append(c[field])
    return sum(statistics.median(v) for v in by_query.values())


def per_layer(calls: list[dict], counters: dict[str, dict]) -> dict[str, float]:
    """Per-layer metrics: each layer's total within one timed pass, as the
    median over the timed passes."""
    fields = ["build_s", "exec_s", "pyworker_cpu_s", "disk_write_bytes"]
    passes = sorted({c["pass"] for c in calls})
    out: dict[str, float] = {}
    for layer in QUERY_LAYERS:
        mine = [c for c in calls if c["layer"] == layer]
        rows = {"calls": [sum(1 for c in mine if c["pass"] == p)
                          for p in passes]}
        for f in fields:
            rows[f] = [sum(c.get(f, 0) for c in mine if c["pass"] == p)
                       for p in passes]
        for f in eventlog.COUNTERS:
            rows[f] = [sum(counters.get(c["tag"], {}).get(f, 0)
                           for c in mine if c["pass"] == p) for p in passes]
        for f, values in rows.items():
            out[f"{layer}.{f}"] = statistics.median(values) if values else 0
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--eventlog-dir")
    ap.add_argument("--spans", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    spans = Spans()
    run_span = spans.add(f"run:{args.workload}", None, time.time(), 0.0)
    setup_start = time.time()
    setup_span = spans.add("setup", run_span, setup_start, 0.0)

    import __spark_entry__
    from big_data_project_spark import io
    from big_data_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    spans.add("session.get_spark", setup_span, setup_start,
              setup_start + get_spark_s)
    t0 = time.perf_counter()
    io.load_all(spark, FIXTURES)
    load_all_s = time.perf_counter() - t0
    spans.add("io.load_all", setup_span, setup_start + get_spark_s,
              setup_start + get_spark_s + load_all_s)

    entry = __spark_entry__.queries()
    queries = {n: entry[n] for n in wl["queries"]}
    layers = {n: layer_of(fn) for n, fn in queries.items()}
    # The check pass is untimed and doubles as the warm-up pass: it pays
    # code generation, first-use costs and most of the JIT compilation.
    check_span = spans.add("check", setup_span, time.time(), 0.0)
    bad = check_outputs(spark, queries, layers,
                        pass_order(wl["queries"], args.seed, 0), spans,
                        check_span)
    spans.items[check_span]["end"] = time.time()
    setup_end = time.time()
    setup_cpu_s = procfs.cpu_s(procfs.tree(os.getpid()))
    spans.items[setup_span]["end"] = setup_end

    loop = Loop(spark, queries, layers, bool(args.trace), spans)
    passes = timed_passes(args.workload, args.seconds)
    for n in range(1, passes + 1):
        loop.run_pass(pass_order(wl["queries"], args.seed, n), f"pass{n}",
                      run_span)
    tree = procfs.tree(os.getpid())
    peak_rss_mb = procfs.hwm_mb([p.pid for p in tree])
    rss_by_comm = {c: procfs.hwm_mb([p.pid for p in tree if p.comm == c])
                   for c in {p.comm for p in tree}}
    spark.stop()
    spans.items[run_span]["end"] = time.time()

    counters: dict[str, dict] = {}
    if args.trace:
        windows = [(c["tag"], c["start_ms"], c["end_ms"]) for c in loop.calls]
        logs = glob.glob(os.path.join(args.eventlog_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        with open(logs[0]) as fh:
            counters = eventlog.reduce_log(fh, windows)

    result = {
        "setup_end": setup_end,
        "setup_cpu_s": setup_cpu_s,
        # every call counts: the check pass and the timed passes
        "attempted": (1 + passes) * len(wl["queries"]),
        "failed": len(loop.failed) + len(bad),
        "failed_queries": sorted(set(loop.failed) | set(bad)),
        "pass_s": median_per_query(loop.calls, "wall_s"),
        "cpu_s": median_per_query(loop.calls, "cpu_s"),
        "peak_rss_mb": peak_rss_mb,
        "rss_by_comm": rss_by_comm,
        "pass_walls": [sum(c["wall_s"] for c in loop.calls
                           if c["pass"] == f"pass{n}")
                       for n in range(1, passes + 1)],
        "get_spark_s": get_spark_s,
        "load_all_s": load_all_s,
        "per_layer": per_layer(loop.calls, counters) if args.trace else {},
    }
    with open(args.spans, "w") as fh:
        json.dump(spans.items, fh)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

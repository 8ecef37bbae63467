#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  One Python process drives Spark
``local[<cpus>]`` in a closed loop with one client: each operation starts
after the previous one finished.  A run

1. generates its inputs from ``--seed`` into a fresh directory under
   ``.perfbench_runs/`` (also the run's TMPDIR, Spark local dir and JVM
   temp dir), removed again at exit;
2. builds the workload's state ``rounds`` times from nothing (``setup_s`` is
   the median round), then runs a fixed number of untimed warm-up cycles;
3. starts groups of cycles for ``--seconds`` seconds (a started group runs
   to its end), checking every operation's output against an expectation
   computed without the engine.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's module functions (see spans.py), traces every other group and
prints the per-layer metrics.  The last stdout line is the result JSON; the
line before it holds diagnostics (``perfbench/diff.py`` reads both).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import metrics as MX
from spans import (Tracer, install_layer_wrappers, process_tree_cpu_s,
                   self_times)
from workloads import WORKLOADS

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "cycle_p50_s": "s",
    "headline_total_s": "s",
}
# layers whose self time the traced run reports (as "<layer>_s")
LAYER_TIMES = [
    "catalog.load_table", "catalog.sql_build", "metadata.refresh",
    "metadata.commit", "manifests.read_list", "manifests.read_manifest",
    "manifests.write", "scan.plan_files", "scan.to_df_self",
    "deletes.apply", "stats.collect_file_stats", "table.append_spark",
    "table.delete_where", "row_delta.upsert", "maintenance.expire",
    "maintenance.remove_dangling", "queries.build", "spark.exec", "other",
]
LAYER_COUNTS = [
    "manifests.manifests_read", "manifests.entries_read",
    "manifests.cache_hits", "manifests.written", "scan.files_planned",
    "scan.delete_files_matched", "stats.files_footered",
    "metadata.commit_calls", "metadata.commit_retries",
    "spark.jobs", "spark.stages", "spark.tasks",
]
HIGHER_IS_BETTER = {"manifests.cache_hits", "trace.coverage"}


def per_layer_spec(headline: list) -> list:
    """[(name, unit)] of every per-layer metric, in output order."""
    return ([(f"{t}_s", "s") for t in LAYER_TIMES]
            + [(c, "count") for c in LAYER_COUNTS]
            + [(f"query.{q}.exec_s", "s") for q in headline]
            + [("scan.read_s", "s"), ("commit_p50_s", "s"),
               ("storage.bytes_written_per_user_byte", "ratio"),
               ("storage.metadata_bytes", "bytes"),
               ("storage.live_files", "count"), ("table.snapshots", "count"),
               ("driver.cpu_s", "s"), ("jvm.cpu_s", "s"),
               ("host.calib_s", "s"), ("host.calib_end_s", "s"),
               ("trace.overhead_ratio", "ratio"),
               ("trace.coverage", "ratio")])


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed phase (> 0)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not args.seconds > 0:
        ap.error("--seconds must be > 0")
    return args


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "linkedin_iceberg_spark",
                                       "__init__.py")) and \
        os.path.isfile(os.path.join(ROOT, "bench.py"))


def isolate(run_dir: str) -> None:
    """Point every temp/scratch location of Python, Spark and the JVM into
    ``run_dir`` (set before pyspark starts the JVM)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    import tempfile
    tempfile.tempdir = None


def calibrate() -> float:
    """Median time of a fixed pure-Python loop: a host-speed diagnostic,
    never used to normalise anything."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


class Runner:
    def __init__(self, spark, workload, tracer):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.ops = []            # every timed Op
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.traced = []         # per traced cycle: layer/count figures
        self.untraced = set()    # timed cycles run without tracing

    def account(self, c, kind: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append({"cycle": c, "kind": kind})
            print(f"# FAILED {c} {kind}", file=sys.stderr)

    def run_cycle(self, c: int, traced: bool) -> list:
        spec = self.wl.cycle_ops(c)
        sc = self.spark.sparkContext
        cpu0 = (time.process_time(), process_tree_cpu_s()) if traced \
            else None
        groups = []
        records = []
        self.tracer.enabled = traced
        for i, (kind, role, fn) in enumerate(spec):
            if traced:
                group = f"perfbench-{c}-{i}"
                sc.setJobGroup(group, kind)
                groups.append((kind, group))
            t0 = time.perf_counter()
            try:
                ok = bool(fn())
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            t1 = time.perf_counter()
            self.account(c, kind, ok)
            records.append(MX.Op(c, kind, role, t0, t1, ok))
        self.tracer.enabled = False
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect_trace(c, records, groups, cpu0)
        return records

    def _collect_trace(self, c, records, groups, cpu0):
        cpu1 = (time.process_time(), process_tree_cpu_s())
        spans, counts = self.tracer.take()
        if not records:
            return
        t0, t1 = records[0].start, records[-1].end
        selft = self_times(spans, t0, t1)
        spark_kind = spark_counts(self.spark, groups)
        for key in ("jobs", "stages", "tasks"):
            counts[f"spark.{key}"] = sum(v[key] for v in spark_kind.values())
        exec_by_kind = {}
        for op in records:
            exec_by_kind[op.kind] = sum(
                s.end - s.start for s in spans
                if s.name == "spark.exec" and op.start <= s.start <= op.end)
        self.traced.append({
            "cycle": c, "wall": t1 - t0, "self": selft, "counts": counts,
            "spark_by_kind": spark_kind, "exec_by_kind": exec_by_kind,
            "driver_cpu": cpu1[0] - cpu0[0], "tree_cpu": cpu1[1] - cpu0[1],
        })


def spark_counts(spark, groups: list) -> dict:
    """Jobs, stages and tasks per operation kind from statusTracker(), one
    job group per operation."""
    sc = spark.sparkContext
    try:  # let the status listener catch up with the finished jobs
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.05)
    st = sc.statusTracker()
    out: dict = {}
    for kind, group in groups:
        agg = out.setdefault(kind, {"jobs": 0, "stages": 0, "tasks": 0})
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            agg["jobs"] += 1
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    agg["stages"] += 1
                    agg["tasks"] += si.numTasks
    return out


def run(args, run_dir: str) -> tuple:
    sys.path.insert(0, ROOT)
    calib_start = calibrate()
    load_start = os.getloadavg()[0]
    tracer = Tracer()
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    wl = WORKLOADS[args.workload](tracer, args.seed, work)
    pool = ThreadPoolExecutor(1)
    prep = pool.submit(wl.prepare)   # overlaps JVM start
    from linkedin_iceberg_spark.session import get_spark
    spark = get_spark("perfbench")
    try:
        prep.result()
        t_up = time.perf_counter() - T_PROCESS
        wl.spark = spark
        if args.trace:
            install_layer_wrappers(tracer)
        runner = Runner(spark, wl, tracer)
        rounds = []
        for r in range(wl.rounds):
            t = time.perf_counter()
            checked = wl.setup_round(r) or []
            rounds.append(time.perf_counter() - t)
            for kind, ok in checked:
                runner.account(f"setup{r}", kind, ok)
        for c in range(wl.warm_cycles):
            if c == wl.warm_cycles - wl.group:
                # one untimed group separates this planning pass (and the
                # manifests it caches) from the timed phase; it is read at
                # the same point of a group as the last state
                first_state = wl.state()
            runner.run_cycle(c, traced=False)
        t_timed = time.perf_counter()
        setup_total = t_timed - T_PROCESS
        c, sizes, written, user = wl.warm_cycles, wl.file_sizes(), 0, 0
        # closed loop: a group of cycles starts only before the deadline and
        # always runs to its end, so every timed group is complete
        while time.perf_counter() < t_timed + args.seconds or \
                (c - wl.warm_cycles) % wl.group:
            traced = bool(args.trace) and \
                (c - wl.warm_cycles) // wl.group % 2 == 0
            runner.ops += runner.run_cycle(c, traced)
            if not traced:
                runner.untraced.add(c)
            prev, sizes = sizes, wl.file_sizes()
            written += sum(sz for p, sz in sizes.items() if prev.get(p) != sz)
            user += wl.cycle_user_bytes
            c += 1
        last_state = wl.state()
        calib_end = calibrate()
        e2e = MX.end_to_end(runner.ops)
        e2e["setup_s"] = statistics.median(rounds)
        diag = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "cpus": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "load_avg_1m_start": load_start,
            "load_avg_1m_end": os.getloadavg()[0],
            "host.calib_s": calib_start, "host.calib_end_s": calib_end,
            "startup_s": t_up, "setup_rounds_s": rounds,
            "setup_total_s": setup_total,
            "warm_cycles": wl.warm_cycles, "group": wl.group,
            "cycles": e2e["cycles"],
            "cycle_walls_s": e2e["cycle_walls_s"],
            "cycle_tail_s": e2e["cycle_tail"], "trend": e2e["trend"],
            "commit_p50_s": e2e["commit_p50_s"],
            "read_p50_s": e2e["read_p50_s"],
            "kind_p50_s": e2e["kind_p50_s"],
            "failures": runner.failures[:20],
            "state_first": first_state, "state_last": last_state,
        }
        if args.trace:
            metrics = per_layer(runner, wl, last_state, written, user,
                                calib_start, calib_end)
            diag["spark_by_kind"] = _median_by_kind(runner.traced)
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        result = {"correct": runner.failed == 0,
                  "attempted": runner.attempted, "failed": runner.failed,
                  "metrics": metrics}
        return diag, result
    finally:
        pool.shutdown()
        stop_spark(spark)


def _median_by_kind(traced: list) -> dict:
    kinds: dict = {}
    for cyc in traced:
        for kind, v in cyc["spark_by_kind"].items():
            for key, n in v.items():
                kinds.setdefault(kind, {}).setdefault(key, []).append(n)
    return {k: {key: statistics.median(ns) for key, ns in v.items()}
            for k, v in kinds.items()}


def per_layer(runner, wl, last_state, written, user, calib_start,
              calib_end) -> dict:
    """Per-layer figures from the traced cycles: self times are means per
    cycle (so they add up to the mean cycle wall), counts are medians per
    cycle (so they repeat exactly run to run).  A layer or query the
    workload never reaches reads 0."""
    import bench
    cyc = runner.traced
    n = len(cyc)
    v = {}
    for layer in LAYER_TIMES:
        v[f"{layer}_s"] = sum(t["self"].get(layer, 0.0) for t in cyc) / n
    for name in LAYER_COUNTS:
        v[name] = statistics.median(t["counts"].get(name, 0) for t in cyc)
    for q in bench.HEADLINE:
        v[f"query.{q}.exec_s"] = sum(t["exec_by_kind"].get(q, 0.0)
                                     for t in cyc) / n
    traced_c = {t["cycle"] for t in cyc}
    ops = [o for o in runner.ops if o.cycle in traced_c]
    by_cycle = MX.cycles(ops).values()
    v["scan.read_s"] = MX.median(
        o.seconds for c in by_cycle for o in c if o.kind == "read") or 0.0
    v["commit_p50_s"] = MX.median(
        MX.role_time(c, "commit") for c in by_cycle
        if any(o.role == "commit" for o in c)) or 0.0
    v["storage.bytes_written_per_user_byte"] = written / user if user \
        else 0.0
    v["storage.metadata_bytes"] = last_state.get("metadata_bytes", 0)
    v["storage.live_files"] = last_state.get("live_files", 0)
    v["table.snapshots"] = last_state.get("snapshots", 0)
    v["driver.cpu_s"] = statistics.median(t["driver_cpu"] for t in cyc)
    v["jvm.cpu_s"] = statistics.median(t["tree_cpu"] for t in cyc)
    v["host.calib_s"], v["host.calib_end_s"] = calib_start, calib_end
    # tracing overhead: kind-median sums of traced over untraced cycles
    tr = MX.kind_medians(ops)
    un = MX.kind_medians([o for o in runner.ops
                          if o.cycle in runner.untraced])
    common = sorted(set(tr) & set(un))
    v["trace.overhead_ratio"] = sum(tr[k] for k in common) / \
        sum(un[k] for k in common) if common else 0.0
    v["trace.coverage"] = 1.0 - v["other_s"] / (
        sum(t["wall"] for t in cyc) / n)
    return {name: {"value": v[name], "unit": unit}
            for name, unit in per_layer_spec(bench.HEADLINE)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: linkedin_iceberg_spark/ and bench.py must sit next "
              "to perfbench/ (run from the repository root)", file=sys.stderr)
        return 2
    # a TERM still stops Spark and removes the run directory (finally:)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(run_dir)
    try:
        diag, result = run(args, run_dir)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

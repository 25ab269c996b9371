#!/usr/bin/env python3
"""Benchmark driver: one workload, one fresh Spark driver process.

    python3 perfbench/run.py --workload crystal_db --seed 1 --seconds 20 --trace 0

Run from the repository root. The process brings up ``get_spark()`` on
``local[$(nproc)]`` with ``SPARK_GRAFT_CPUS=$(nproc)``, generates the
workload's inputs from ``--seed`` and then runs, with a single client in a
closed loop over the workload's op sequence:

1. the cold pass (fresh JVM), reported as ``cold_pass_cpu_s``. It is also the
   correctness gate: after each op, untimed, the op's output is checked. A
   failed check or a raising op stops the run: the last line then reports
   ``"correct": false`` and the exit code is 1;
2. timed passes until ``--seconds`` of wall time have been measured, never
   fewer than ``MIN_TIMED_PASSES``. There is no separate warm-up pass:
   NOTES.md gives the evidence and the time budget behind that choice.

Each timing is taken twice: as wall time and as CPU time of the driver's
process tree. The end-to-end metrics are the CPU times; the wall times are
printed on the ``wall`` line.

Every line but the last is for people: the metrics by name with units, the
host stamp and the per-pass series. The last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (and
the spans are written to ``.perfbench_traces/``). All scratch files live in
``.perfbench_work/`` under the current directory and are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402
from spans import JvmBeans, Tracer  # noqa: E402

MIN_TIMED_PASSES = 2
SETUP_REPEATS = 3      # input generation is repeated; its median counts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# End-to-end timings are CPU seconds of the driver's process tree (driver
# JVM, Python driver, Python workers): on a shared host the wall times of the
# same work move by tens of percent with the neighbours' load, CPU time does
# not (NOTES.md, "Why CPU time"). The wall times are printed beside them.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_geomean_cpu_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, for all workloads. A
    workload reports 0 for a layer it does not exercise."""
    from workloads import LLM_QUERIES, OPERATOR_FAMILY

    units = {"session.start_s": "s", "session.jit_s": "s", "session.gc_s": "s",
             "trace.pass_s": "s", "trace.pass_cpu_s": "s"}
    for q in LLM_QUERIES:
        units.update({
            f"surface.{q}.construct_s": "s", f"surface.{q}.action_s": "s",
            f"surface.{q}.jobs": "count", f"surface.{q}.stages": "count",
            f"surface.{q}.tasks": "count", f"runtime.{q}.released_rdds": "count",
        })
    for fam in sorted(set(OPERATOR_FAMILY.values())):
        units[f"operators.{fam}_s"] = "s"
    for s in gen.SOURCES:
        units[f"sources.{s}.run_s"] = "s"
    for m in ("create", "read", "update", "delete", "normalize"):
        units[f"db.{m}_s"] = "s"
    units.update({"db.jobs": "count", "db.bytes_written_per_live": "ratio", "db.files": "count"})
    return units


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree(roots) -> dict[int, float]:
    """CPU seconds (user + system, reaped children included) of each live
    process in the trees under ``roots``, by pid. One scan of /proc links
    every process to its parent, so a process whose parent thread exits
    mid-scan is still found."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(") ", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(f) for f in fields[11:15]) / CLK_TCK  # utime stime cutime cstime
    tree = {p for p in roots if p in cpu}
    grown = True
    while grown:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grown = bool(kids)
    return {p: cpu[p] for p in tree}


def tree_cpu_s(roots) -> float:
    """CPU seconds of the processes under ``roots`` so far. Time a runnable
    thread spent waiting for one of this machine's cores is not in it."""
    return sum(process_tree(roots).values())


def host_steal_s() -> float:
    """CPU time the hypervisor took from this machine's CPUs, all summed."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def start_session(work: str):
    """Engine session with get_spark() defaults; only scratch locations are
    pointed into the work dir so the run writes nowhere else (the JVMs keep
    their performance counters in memory instead of a file under /tmp)."""
    from crystal_parquet_database_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    return get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def prespawn_python_workers(spark, n: int) -> None:
    """Start the Python worker pool before any timed op (a cluster pays this
    at executor start), one pass-through batch per task slot."""

    def passthrough(it):
        return it

    spark.range(0, n, 1, n).mapInPandas(passthrough, "id long").write.format(
        "noop").mode("overwrite").save()


def run_pass(wl, ops, spark, tracer, beans, pass_id: int, check: bool = False) -> dict:
    """One pass over the op sequence; returns its timings, each both as wall
    time and as CPU time of the driver's process tree (``tree_cpu_s``). With
    ``check``, each op's output is checked right after the op; the checks
    are left out of every timing, ``pass_s`` included. An op that raises
    ends the pass and is recorded as a failed check."""
    from crystal_parquet_database_spark.runtime import release_all_session_blocks

    pids = [os.getpid(), beans.pid]
    wl.reset()
    jit0, gc0, steal0 = beans.jit_s(), beans.gc_s(), host_steal_s()
    cpu0 = tree_cpu_s(pids)
    t0 = time.perf_counter()
    check_s = check_cpu_s = 0.0
    out = {"id": pass_id, "ops": {}, "op_cpu": {}, "construct": {}, "action": {},
           "released": {}, "checks": []}

    def checked(fn, *args):
        nonlocal check_s, check_cpu_s
        t1, c1 = time.perf_counter(), tree_cpu_s(pids)
        try:
            out["checks"] += fn(*args)
        except Exception as e:
            out["checks"].append((args[0].name if args else "final",
                                  False, f"{type(e).__name__}: {e}"))
        check_s += time.perf_counter() - t1
        check_cpu_s += tree_cpu_s(pids) - c1

    with tracer.span("pass", pass_id):
        for op in ops:
            c_op = tree_cpu_s(pids)
            try:
                with tracer.span(op.name, pass_id, job_group=True) as span:
                    with tracer.span("construct", pass_id) as c:
                        res = op.run()
                    with tracer.span("action", pass_id) as a:
                        if res is not None:
                            res.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a raising op is a failed op, not a crash
                out["checks"].append((op.name, False, f"{type(e).__name__}: {e}"))
                break
            out["op_cpu"][op.name] = tree_cpu_s(pids) - c_op
            out["ops"][op.name] = span["end"] - span["start"]
            out["construct"][op.name] = c["end"] - c["start"]
            out["action"][op.name] = a["end"] - a["start"]
            if tracer.enabled and op.writes:
                wl.note_write()
            if check:
                checked(wl.check, op, res)
            del res
            out["released"][op.name] = release_all_session_blocks(spark)
            gc.collect()
        if check and len(out["ops"]) == len(ops):
            checked(wl.final_checks)
    out["pass_s"] = time.perf_counter() - t0 - check_s
    out["cpu_s"] = tree_cpu_s(pids) - cpu0 - check_cpu_s
    out["check_s"] = check_s
    out["steal_s"] = host_steal_s() - steal0
    out["jit_s"] = beans.jit_s() - jit0
    out["gc_s"] = beans.gc_s() - gc0
    if tracer.enabled:
        tracer.count_jobs()
        out["db"] = wl.pass_counters()
    return out


def layer_metrics(wl, ops, timed, tracer, session_s) -> dict[str, float]:
    """Per-layer metrics from the traced run's timed passes (medians over
    passes of per-pass values)."""
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    med = statistics.median
    m["session.start_s"] = session_s
    m["session.jit_s"] = med([p["jit_s"] for p in timed])
    m["session.gc_s"] = med([p["gc_s"] for p in timed])
    m["trace.pass_s"] = med([p["pass_s"] for p in timed])
    m["trace.pass_cpu_s"] = med([p["cpu_s"] for p in timed])
    timed_ids = {p["id"] for p in timed}
    op_spans = [s for s in tracer.spans if s["pass"] in timed_ids and "group" in s]
    for op in ops:
        if f"surface.{op.name}.construct_s" in m:
            m[f"surface.{op.name}.construct_s"] = med([p["construct"][op.name] for p in timed])
            m[f"surface.{op.name}.action_s"] = med([p["action"][op.name] for p in timed])
            m[f"runtime.{op.name}.released_rdds"] = med([p["released"][op.name] for p in timed])
            spans = [s for s in op_spans if s["name"] == op.name]
            for k in ("jobs", "stages", "tasks"):
                m[f"surface.{op.name}.{k}"] = med([s[k] for s in spans])
    for layer in {op.layer for op in ops}:
        m[layer] = med([sum(p["ops"][op.name] for op in ops if op.layer == layer) for p in timed])
    db_jobs = {}
    for s in op_spans:
        if s["name"].startswith("db."):
            db_jobs[s["pass"]] = db_jobs.get(s["pass"], 0) + s["jobs"]
    if db_jobs:
        m["db.jobs"] = med(list(db_jobs.values()))
        m["db.bytes_written_per_live"] = med([p["db"]["bytes_written_per_live"] for p in timed])
        m["db.files"] = med([p["db"]["files"] for p in timed])
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    load1 = os.getloadavg()[0]
    if not os.path.isdir(os.path.join(REPO, "crystal_parquet_database_spark")):
        print(f"perfbench: no engine package under {REPO}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0 + (t0 - T_PROCESS_START)
        beans = JvmBeans(spark)
        pids = [os.getpid(), beans.pid]
        t0 = time.perf_counter()
        prespawn_python_workers(spark, cpus)
        prespawn_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        gen_times, gen_cpu = [], []
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.perf_counter(), tree_cpu_s(pids)
            wl.make_inputs()
            gen_times.append(time.perf_counter() - t0)
            gen_cpu.append(tree_cpu_s(pids) - c0)
        setup_wall_s = session_s + prespawn_s + statistics.median(gen_times)
        setup_cpu_s = tree_cpu_s(pids) - sum(gen_cpu) + statistics.median(gen_cpu)

        tracer = Tracer(spark, bool(args.trace))
        ops = wl.ops()
        cold = run_pass(wl, ops, spark, tracer, beans, 1, check=True)
        passes = [cold]
        while not any(not ok for p in passes for _, ok, _ in p["checks"]) and (
            len(passes) <= MIN_TIMED_PASSES  # the cold pass plus MIN_TIMED_PASSES
            or sum(p["pass_s"] for p in passes[1:]) < args.seconds
        ):
            passes.append(run_pass(wl, ops, spark, tracer, beans, len(passes) + 1))
        timed = passes[1:]

        # an op that failed its check counts as failed in every pass; a
        # whole-dataset check that failed counts one failed op per pass
        failed_checks = [c for p in passes for c in p["checks"] if not c[1]]
        failed_ops = {c[0] for c in failed_checks}
        attempted = len(ops) * len(passes)
        failed = sum(1 for op in ops if op.name in failed_ops) * len(passes)
        if failed_checks and not failed:
            failed = len(passes)
        print(f"ops_failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted} ops)")
        if failed_checks:
            for name, _, msg in failed_checks:
                print(f"FAILED {name}: {msg}")
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                              "metrics": {}}))
            return 1

        op_lat = [v for p in timed for v in p["ops"].values()]

        def op_geomean(key):
            return statistics.median([stats.geomean(list(p[key].values())) for p in timed])

        e2e = {
            "setup_s": setup_cpu_s,
            "cold_pass_cpu_s": cold["cpu_s"],
            "pass_cpu_s": statistics.median([p["cpu_s"] for p in timed]),
            "op_geomean_cpu_s": op_geomean("op_cpu"),
            "peak_rss_mb": vm_hwm_mb(beans.pid) + vm_hwm_mb("self"),
        }
        wall = {
            "setup_wall_s": setup_wall_s,
            "cold_pass_s": cold["pass_s"],
            "pass_s": statistics.median([p["pass_s"] for p in timed]),
            "op_geomean_s": op_geomean("ops"),
        }
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "load1_at_start": load1, "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "passes": {"cold_and_gate": 1, "timed": len(timed)},
        }
        phases = {"session_s": session_s, "prespawn_s": prespawn_s, "gen_s": gen_times,
                  "gate_s": cold["check_s"], "elapsed_s": time.perf_counter() - T_PROCESS_START}
        print("host " + json.dumps(stamp))
        print("phases " + json.dumps({k: [round(x, 3) for x in v] if isinstance(v, list)
                                      else round(v, 3) for k, v in phases.items()}))
        print("series " + json.dumps({
            "pass_s": [round(p["pass_s"], 4) for p in passes],
            "jit_s": [round(p["jit_s"], 4) for p in passes],
            "gc_s": [round(p["gc_s"], 4) for p in passes],
            "cpu_s": [round(p["cpu_s"], 2) for p in passes],
            "host_steal_s": [round(p["steal_s"], 2) for p in passes],
        }))
        print("op_cpu_s " + json.dumps([{k: round(v, 3) for k, v in p["op_cpu"].items()}
                                        for p in passes]))
        p90, beyond = stats.percentile(op_lat, 90)
        for k, v in e2e.items():
            print(f"{k} {v:.4f} {END_TO_END[k]}")
        print("wall " + " ".join(f"{k} {v:.4f} s" for k, v in wall.items()))
        print(f"op samples n={len(op_lat)} (pooled p90 {p90:.4f} s has {beyond} beyond it)")
        if args.trace:
            metrics = layer_metrics(wl, ops, timed, tracer, session_s)
            trace_dir = os.path.join(os.getcwd(), ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, stamp)
            for k, v in metrics.items():
                print(f"{k} {v['value']:.4f} {v['unit']}")
            print(f"spans written to {path}; tracing overhead = trace.pass_cpu_s "
                  "(trace.pass_s) minus pass_cpu_s (pass_s) of an untraced run of the "
                  "same workload")
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": True, "attempted": attempted,
                          "failed": 0, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1][:1] != "Z"
    except FileNotFoundError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then wait for the driver JVM and every process it
    started (the Python worker daemon and its workers) to exit."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = []
    if proc is not None:
        children = [p for p in process_tree([proc.pid]) if p != proc.pid]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children := [c for c in children if alive(c)]:
        if time.monotonic() > deadline:
            for c in children:
                try:
                    os.kill(c, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())

"""Flow benchmark for labelmain_spark: one closed-loop client drives one
workload for ``--seconds`` and prints one JSON result line.

    python3 flowbench/run.py --workload label_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` times every op with tracing
off and reports the end-to-end metrics; ``--trace 1`` alternates traced
and untraced ops and reports the per-layer metrics (see
``flowbench/metrics.py``). Each run works in its own directory under
``.flowbench/`` and removes it at exit; the run record and the spans of
a traced run are kept in ``.flowbench/records/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Warm up until an op is no more than 20% faster than the fastest before
# it (op time stops falling), with at least 2 and at most 4 warm-up ops.
WARM_MIN, WARM_MAX, WARM_FLAT = 2, 4, 0.8
# Driver JVM settings, a measured configuration rather than the
# library's default. A run's JVM lives about a minute: with the C2
# compiler, op time kept falling for ~50 s and settled at a different
# level in each process, while C1 alone settles after the first op.
# The heap is committed and touched at start: page faults on a growing
# heap otherwise land in the ops and spread op CPU time across runs
# 2.5x as wide (IQR/median 0.25 against 0.10 on corpus_refine).
DRIVER_MEM = "2g"
JVM_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"


def _isolate(run_dir: str) -> None:
    """Per-run scratch space; CPU count pinned to the CPUs this process may use."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_retained_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection, plus its
    non-heap memory (metaspace, code cache): the library's retained
    state, independent of how far the collector let garbage grow."""
    spark._jvm.java.lang.System.gc()
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


def _steal_s() -> float:
    """CPU time the hypervisor has stolen so far, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(pid: int) -> float:
    """CPU time of ``pid`` and every live descendant, including reaped
    children; steal time is not in it."""
    total, todo = 0.0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # exited since it was listed
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it exits when the
    pipe to its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".flowbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    _isolate(run_dir)
    sys.path.insert(0, ROOT)
    try:
        result, record, tracer = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec_dir = os.path.join(out_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    print(json.dumps(result))
    return 0


def _run(args, run_dir: str):
    from flowbench import metrics
    from flowbench.flows import FLOWS
    from flowbench.trace import Tracer
    from labelmain_spark.session import build_session, release_caches

    if args.workload not in FLOWS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(FLOWS)}")
    t0 = time.time()
    spark = build_session(
        app_name=f"flowbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} {JVM_OPTS}"},
    )
    tracer = Tracer(spark, enabled=bool(args.trace))
    session_s = time.time() - t0
    # The Python driver's own memory: the library and its imports, read
    # before any input generation or DuckDB twin runs in this process.
    py_mb = _vm_hwm_mb(os.getpid())
    try:
        flow = FLOWS[args.workload](spark, tracer, os.path.join(run_dir, "data"), args.seed)

        t = time.perf_counter()
        flow.prepare()
        prepare_s = time.perf_counter() - t
        tracer.collect()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        def one_op(i: int, warm: bool) -> tuple[float, dict, dict]:
            inp = flow.land(i, warm=warm)
            tracer.op = i
            cpu0 = _tree_cpu_s(jvm_pid) + time.process_time()
            t = time.perf_counter()
            with tracer.span("op"):
                rec = flow.run(i, inp)
                with tracer.span("session.release"):
                    release_caches(spark)
            dt = time.perf_counter() - t
            rec["cpu_s"] = _tree_cpu_s(jvm_pid) + time.process_time() - cpu0
            tracer.collect()
            return dt, inp, rec

        def timed_op(i: int) -> tuple[float, dict, dict]:
            """One timed op; an exception fails the op, not the run."""
            t = time.perf_counter()
            try:
                return one_op(i, False)
            except Exception as e:
                print(f"op {i} raised {e!r}", file=sys.stderr)
                dt = time.perf_counter() - t
                return dt, {}, {"i": i, "error": repr(e), "records": 0, "written": 0,
                                 "cpu_s": 0.0}

        traced = tracer.enabled
        tracer.enabled = False
        warm_times: list[float] = []
        while len(warm_times) < WARM_MAX:
            warm_times.append(one_op(-1 - len(warm_times), True)[0])
            if len(warm_times) >= WARM_MIN and warm_times[-1] >= WARM_FLAT * min(warm_times[:-1]):
                break
        # Start the window from a collected heap: otherwise the first
        # old-generation cycle lands in whichever timed op fills the heap.
        spark._jvm.java.lang.System.gc()
        setup_s = time.time() - T_PROCESS

        ops, failed, measured, check_s = [], 0, 0.0, 0.0
        steal0 = _steal_s()
        i = 0
        while measured < args.seconds:
            tracer.enabled = traced and i % 2 == 0
            dt, inp, rec = timed_op(i)
            measured += dt
            rec.update(seconds=dt, traced=tracer.enabled, input_bytes=inp.get("input_bytes", 0),
                       cached_bytes=_cached_bytes(spark))
            t = time.perf_counter()
            try:
                rec["ok"] = ("error" not in rec and bool(flow.check(rec))
                             and rec["cached_bytes"] == 0)
            except Exception as e:  # a crashed check is a failed op, reported
                print(f"check of op {i} raised {e!r}", file=sys.stderr)
                rec["ok"] = False
            check_s += time.perf_counter() - t
            failed += not rec["ok"]
            ops.append(rec)
            i += 1
        tracer.enabled = traced
        steal_s = _steal_s() - steal0
        retained_mb = _jvm_retained_mb(spark) + py_mb
    finally:
        _stop(spark)

    run = metrics.RunFacts(
        workload=args.workload, ops=ops, setup_s=setup_s, session_s=session_s,
        retained_mb=retained_mb,
    )
    e2e = metrics.end_to_end(run)
    layer = metrics.per_layer(run, tracer) if args.trace else {}
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": layer if args.trace else e2e,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "session_s": session_s, "prepare_s": prepare_s, "check_s": check_s, "steal_s": steal_s,
        "wall_s": time.time() - T_PROCESS,
        "warm_times": warm_times, "drift": metrics.drift([r["seconds"] for r in ops]),
        "op_seconds": [r["seconds"] for r in ops], "op_cpu_s": [r["cpu_s"] for r in ops],
        "end_to_end": e2e, "wall": metrics.wall(ops), "per_layer": layer,
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "op_counts": metrics.op_counts(run, tracer) if args.trace else [],
    }
    return result, record, tracer


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the medallion engine: one workload per fresh process.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run makes the workload's seeded inputs,
starts the session, runs the workload's fixed untimed warm-up -- its own
set-up, then, for ``medallion_daily`` and ``table_ops``, one untimed pass of
the same op mix (``setup_s`` is process start to session ready plus the
warm-up, input generation excluded) -- then runs one timed pass of fixed
work in a closed loop with one client, checks the outputs of every op,
warm or timed, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

Each workload's pass is sized to take about ``--seconds`` on a 4-core
host; the pass is the same work whatever its length, so that two versions
of the code are timed on the same ops.  ``--trace 0`` prints the
end-to-end metrics (:data:`END_TO_END`).
``--trace 1`` runs three passes -- traced, untraced, traced -- and prints
the per-layer metrics (:data:`PER_LAYER`) of the first, which is the pass
an untraced run times, plus the tracing overhead (the third pass's wall
time minus the second's).  Full detail -- per-op records, the op count,
spans, self times and the host state -- goes to
``.perfbench_work/results/<workload>-seed<N>-trace<T>.json``.

Every file the run writes (inputs, tables, Spark scratch, temp files)
lives under ``.perfbench_work/`` in the current directory, and the run
directory is removed at exit.  The session runs ``local[<nproc>]`` with
``nproc`` shuffle partitions and a 2 GB driver heap.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "docker_airflow_spark_minio_spark"
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
}

#: Registry categories of the ``registry_read`` entries.
FAMILIES = ("aggregation", "curation", "dedup", "etl", "graph", "join", "similarity",
            "sketch", "text", "udtf", "window")
PER_LAYER = {
    **{f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")},
    **{f"spark.{k}": "s" for k in ("job_busy_s", "executor_run_s", "executor_cpu_s", "gc_s")},
    **{f"spark.{k}": "B" for k in ("input_bytes", "output_bytes", "shuffle_read_bytes",
                                   "shuffle_write_bytes", "spill_bytes")},
    "driver_s": "s",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "B", "python.bytes_received": "B",
    "session.start_s": "s", "session.warmup_s": "s",
    "rest.bronze_s": "s", "rest.pages": "count", "rest.bronze_rows": "count",
    "jobs.silver_s": "s", "jobs.silver_read_s": "s", "jobs.silver_write_s": "s",
    "jobs.gold_s": "s",
    "snapshots.commits": "count", "snapshots.commit_s": "s",
    "snapshots.jobs_per_commit": "count", "snapshots.files_per_commit": "count",
    "snapshots.bytes_per_commit": "B", "snapshots.merge_s": "s", "snapshots.delete_s": "s",
    "snapshots.update_s": "s", "snapshots.compact_s": "s",
    "snapshots.compact_bytes_rewritten": "B", "snapshots.read_s": "s",
    "snapshots.plan_s": "s", "snapshots.files_skipped_frac": "ratio",
    "snapshots.live_files": "count",
    "sql.query_s": "s", "sql.files_skipped_frac": "ratio",
    "stream.batches": "count", "stream.rows": "count", "stream.batch_s": "s",
    "stream.lifecycle_s": "s",
    "workloads.load_tables_s": "s", "cache.hits": "count", "cache.misses": "count",
    "cache.build_s": "s", "cache.pinned_rdds": "count",
    **{f"family.{f}_s": "s" for f in FAMILIES},
    "pipeline.rows_per_s": "1/s", "table.write_p50_s": "s", "table.read_p50_s": "s",
    "stream.catchup_p50_s": "s", "store.space_amp": "ratio", "trace.overhead_s": "s",
}


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system) used so far by process ``root`` and
    its live descendants -- the JVM and the Python workers under the
    driver -- including descendants that have exited and been reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm) ": state ppid ... utime stime cutime cstime
        rest = data[data.rindex(")") + 2:].split()
        procs[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            ticks += procs[pid][1]
            stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs, from ``/proc/stat``: the contention a noisy run can be judged by."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def heap_live_mb(spark) -> float:
    """JVM heap in use after full collections: what the run holds on the
    driver heap (cached blocks, broadcasts, cached plans, the status
    store), whatever size the collector let the heap grow to."""
    import gc

    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # each round drops the Python side's handles on JVM objects and lets the
    # context cleaner unpersist, in the background, what no DataFrame
    # references any more; a fixed number of rounds, because a round that
    # frees nothing may only have come before the cleaner's work
    for _ in range(3):
        gc.collect()
        mem.gc()
        time.sleep(0.3)
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def host_state(seed: int) -> dict:
    import platform

    import pyspark

    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": [float(x) for x in load],
            "spark": pyspark.__version__, "python": platform.python_version(), "seed": seed}


def isolate(work_dir: str) -> None:
    """Point every temp and scratch location at ``work_dir`` and let the
    Python workers import the package."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    for p in (HERE, ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work_dir: str, nproc: int):
    from docker_airflow_spark_minio_spark.session import get_spark_session

    tmp = os.path.join(work_dir, "tmp")
    return get_spark_session(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a heap committed and touched at start makes the driver's resident
            # memory the heap cap plus everything off the heap, rather than
            # however far the collector happened to grow the heap in this run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # keep every job, stage and SQL execution of a run in the
            # status store the traced run reads back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_jvm() -> None:
    """Stop the session's JVM (and with it the Python workers) and wait
    for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- did not exit: kill it
            proc.kill()
            proc.wait()


def family_seconds(ops: list[dict]) -> dict[str, float]:
    """Seconds per registry category, for ops that are registry entries."""
    from docker_airflow_spark_minio_spark.workloads import REGISTRY

    out: dict[str, float] = {}
    for o in ops:
        if o["class"] in REGISTRY:
            key = f"family.{REGISTRY[o['class']].category}_s"
            out[key] = out.get(key, 0.0) + o["seconds"]
    return out


def run_ops(wl, spark, k: int, tracer) -> list[dict]:
    """Run pass ``k`` in a closed loop; each op is timed alone and
    checked after its timer stops.  Failures never abort the pass."""
    wl.tracer = tracer
    recs = []
    for op_id, cls, run, check in wl.ops(spark, k):
        rec = {"op": op_id, "class": cls, "pass": k, "ok": True}
        with tracer.op(op_id, cls):
            t0 = time.perf_counter()
            try:
                out = run()
            except Exception as exc:  # noqa: BLE001 -- counted, never fatal
                out, rec["ok"], rec["error"] = None, False, repr(exc)[:500]
            rec["seconds"] = time.perf_counter() - t0
        if rec["ok"] and check is not None:
            try:
                check(out)
            except Exception as exc:  # noqa: BLE001 -- a failed check is a failed op
                rec["ok"], rec["error"] = False, repr(exc)[:500]
        recs.append(rec)
    return recs


def traced_pass(wl, spark, k: int, tracer) -> list[dict]:
    tracer.install()
    try:
        return run_ops(wl, spark, k, tracer)
    finally:
        tracer.uninstall()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    isolate(work_dir)

    from bench_workloads import WORKLOADS
    from tracing import NULL_TRACER, Tracer

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = host_state(args.seed)
    steal0 = cpu_steal_s()
    nproc = host["nproc"]
    wl = WORKLOADS[args.workload](args.seed, work_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        spark = start_session(work_dir, nproc)
        session_s = time.perf_counter() - T_PROCESS - prepare_s
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warm = [o for k in range(-wl.WARM_PASSES, 0) for o in run_ops(wl, spark, k, NULL_TRACER)]
        warmup_s = time.perf_counter() - t0

        passes: list[list[dict]] = []
        if args.trace:
            # pass 0 is the pass untraced runs time, so its split is the one
            # reported; passes 1 (untraced) and 2 (traced) are equally warm,
            # and their difference is the tracing overhead
            tracer = Tracer(spark)
            passes.append(traced_pass(wl, spark, 0, tracer))
            cpu0 = tree_cpu_s(os.getpid())
            passes.append(run_ops(wl, spark, 1, NULL_TRACER))
            cpu_s = tree_cpu_s(os.getpid()) - cpu0
            passes.append(traced_pass(wl, spark, 2, Tracer(spark)))
        else:
            cpu0 = tree_cpu_s(os.getpid())
            passes.append(run_ops(wl, spark, 0, NULL_TRACER))
            cpu_s = tree_cpu_s(os.getpid()) - cpu0
        heap_mb = heap_live_mb(spark)
        # the warm passes' ops are checked and counted like the timed ones
        ops = warm + [o for ps in passes for o in ps]
        try:
            bad = wl.check(spark)
        except Exception:  # noqa: BLE001 -- a check that cannot run fails every op
            import traceback

            traceback.print_exc()
            bad = {o["op"] for o in ops}
        for o in ops:
            if o["op"] in bad and o["ok"]:
                o["ok"], o["error"] = False, "output check failed"
        failed = sum(not o["ok"] for o in ops)

        walls = [sum(o["seconds"] for o in ps) for ps in passes]
        untraced = passes[1] if args.trace else passes[0]
        jvm_pid = spark.sparkContext._gateway.proc.pid
        e2e = {
            "setup_s": session_s + warmup_s,
            "wall_s": sum(o["seconds"] for o in untraced),
            "cpu_s": cpu_s,
            "op_p50_s": statistics.median(o["seconds"] for o in untraced),
            "peak_rss_mb": (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_pid)) / 1024,
            "heap_live_mb": heap_mb,
        }
        summary = wl.summary(spark, untraced)
        host["steal_s"] = cpu_steal_s() - steal0
        detail = {"workload": args.workload, "host": host, "seconds": args.seconds,
                  "trace": args.trace, "prepare_s": prepare_s, "session_s": session_s,
                  "warmup_s": warmup_s, "pass_walls": walls,
                  "n_ops": len(ops), "n_passes": len(passes), "ops": ops,
                  "end_to_end": e2e, "summary": summary}
        if args.trace:
            traced = passes[0]
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(tracer.layer_metrics())
            layers.update(summary)
            layers.update(family_seconds(traced))
            layers["session.start_s"] = session_s
            layers["session.warmup_s"] = warmup_s
            layers["sql.query_s"] = sum(o["seconds"] for o in traced if o["class"] == "sql_read")
            stream_wall = sum(o["seconds"] for o in traced if o["class"] == "stream_tail")
            layers["stream.lifecycle_s"] = stream_wall - layers["stream.batch_s"]
            layers["trace.overhead_s"] = walls[2] - walls[1]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            detail.update(per_layer=layers, traced_ops=tracer.ops, spans=tracer.spans,
                          self_times=tracer.self_times())
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
        out = os.path.join(work_root, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

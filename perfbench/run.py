"""Benchmark command for the repository.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout. One run:

1. set-up (``setup_s``): generate the workload's inputs from the seed, start
   the session from ``varda_spark.session.get_spark`` with
   ``SPARK_GRAFT_CPUS`` set to half the CPUs this process may use, run the
   workload's untimed warm-up passes, if it has any, and then the
   correctness check: outputs collected and compared with a reference;
   whichever comes first pays for the cold JVM;
2. passes of the workload, closed loop from one client, until ``--seconds``
   have elapsed and the workload's minimum pass count is reached (a started
   pass always finishes);
3. prints a detail line, then the result line, as the last line of stdout.

With ``--trace 0`` the result holds the end-to-end metrics of untraced
passes. With ``--trace 1`` passes interleave untraced and traced, and the
result holds the per-layer metrics of the traced ones plus the tracing
overhead (traced minus untraced median pass wall); the spans and the
per-plan-node table go to ``.perfbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.spark_status import PYTHON_TIME_METRICS  # noqa: E402
from perfbench.trace import self_time, summarize  # noqa: E402

# Shuffle bytes are not among these: on the lifecycle the same seed writes
# about 275 KB or 385 KB from run to run, more than a bound can hold. The
# detail line and shuffle.write_bytes carry them.
END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "pass_cpu_s": "s",
}
API_CALLS = (
    "create_sample", "import_variation", "import_coverage",
    "activate_sample", "frequency", "annotate",
)
# Plan-node types reported by name; every type's full metrics go to the
# trace file. The time metric is the node's own busy time where it has one.
PLAN_ROWS = (
    "Scan", "Filter", "HashAggregate", "Exchange", "BroadcastExchange",
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "Generate",
    "MapInPandas", "FlatMapGroupsInPandas",
)
PLAN_TIME = {
    "Scan": ("scan time",),
    "HashAggregate": ("time in aggregation build",),
    "Exchange": ("shuffle write time",),
    "BroadcastExchange": ("time to collect", "time to build", "time to broadcast"),
    "ShuffledHashJoin": ("time to build hash map",),
    "Sort": ("sort time",),
    "WholeStageCodegen": ("duration",),
    "MapInPandas": ("time to run Python workers",),
    "FlatMapGroupsInPandas": ("time to run Python workers",),
}
ROWS_METRIC = {"Exchange": "shuffle records written"}


def per_layer_units() -> dict[str, str]:
    units = {
        "catalog.build_s": "s", "catalog.build_jobs": "count",
        "catalog.execute_s": "s", "catalog.execute_jobs": "count",
        "session.persisted_rdds": "count", "session.cached_bytes": "B",
        "session.peak_rss_mb": "MB", "session.live_heap_mb": "MB",
    }
    for call in API_CALLS:
        units[f"api.{call}_s"] = "s"
        units[f"api.{call}_jobs"] = "count"
    units["api.import_variation_tail_s"] = "s"
    units.update({
        "sources.files_written": "count", "sources.write_bytes": "B",
        "sources.stored_bytes_per_input_byte": "ratio",
        "sources.input_bytes": "B", "sources.input_rows": "count", "sources.scan_s": "s",
        "operators.python_s": "s", "operators.python_bytes_sent": "B",
        "operators.python_bytes_returned": "B",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.cpu_s": "s", "spark.run_s": "s", "spark.gc_s": "s",
        "spark.task_overhead_s": "s", "spark.failed_tasks": "count",
        "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
        "spill.memory_bytes": "B", "spill.disk_bytes": "B",
    })
    for t in PLAN_ROWS:
        units[f"plan.{t}.rows_out"] = "count"
    for t in PLAN_TIME:
        units[f"plan.{t}.time_s"] = "s"
    units["trace.unattributed_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Half the CPUs: the driver JVM's planner, JIT compiler and GC threads
    # and the Python workers use the rest. With a task thread per CPU, 5-7
    # threads were runnable on 4 CPUs and pass walls measured the scheduler.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # a pass reads its jobs back from the store after it ends, so
        # nothing of the run may be evicted before then
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    retains (status store, cached plans and blocks, persisted RDDs)."""
    import gc

    gc.collect()  # drop Python's handles on JVM objects first
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def pass_counters(reader, tracer, root, mark: int, traced: bool) -> dict:
    """Status-store counters of one pass, plus per-layer ones when traced."""
    spans = tracer.subtree(root)
    groups = {sp.group for sp in spans}
    jobs = reader.jobs(groups)
    stage_ids = {sid for js in jobs.values() for j in js for sid in j["stageIds"]}
    stages = reader.stages(stage_ids, with_tasks=traced)
    ran = [s for s in stages.values() if s["status"] == "COMPLETE"]
    out = {
        "cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in ran),
    }
    if not traced:
        return out

    execs = reader.executions(mark, groups)
    m: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
    for sp in spans[1:]:
        base = sp.name.removeprefix("catalog.").removeprefix("api.")
        prefix = "catalog" if sp.name.startswith("catalog.") else "api"
        m[f"{prefix}.{base}_s"] += sp.duration
        m[f"{prefix}.{base}_jobs"] += len(jobs.get(sp.group, ()))
        if sp.name == "api.import_variation" and execs.get(sp.group):
            last = max(execs[sp.group], key=lambda e: e["executionId"])
            m["api.import_variation_tail_s"] += (last["completionTime"] - last["submissionTime"]) / 1e3
    m["spark.jobs"] = sum(len(js) for js in jobs.values())
    m["spark.stages"] = len(ran)
    for s in ran:
        m["spark.tasks"] += s["numCompleteTasks"]
        m["spark.failed_tasks"] += s["numFailedTasks"]
        m["spark.cpu_s"] += s["executorCpuTime"] / 1e9
        m["spark.run_s"] += s["executorRunTime"] / 1e3
        m["spark.gc_s"] += s["jvmGcTime"] / 1e3
        m["shuffle.write_bytes"] += s["shuffleWriteBytes"]
        m["shuffle.read_bytes"] += s["shuffleReadBytes"]
        m["shuffle.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        m["spill.memory_bytes"] += s["memoryBytesSpilled"]
        m["spill.disk_bytes"] += s["diskBytesSpilled"]
        m["sources.input_bytes"] += s["inputBytes"]
        m["sources.input_rows"] += s["inputRecords"]
        m["sources.write_bytes"] += s["outputBytes"]
        for task in s["tasks"]:
            if task.get("duration") is not None and task.get("taskMetrics"):
                m["spark.task_overhead_s"] += (task["duration"] - task["taskMetrics"]["executorRunTime"]) / 1e3

    nodes: dict[str, dict[str, float]] = {}
    for ex in (e for es in execs.values() for e in es):
        for node in ex["nodes"]:
            acc = nodes.setdefault(node["type"], {})
            for k, v in node["metrics"].items():
                acc[k] = acc.get(k, 0.0) + v
    for t, acc in nodes.items():
        if t in PLAN_ROWS:
            m[f"plan.{t}.rows_out"] = acc.get(ROWS_METRIC.get(t, "number of output rows"), 0.0)
        if t in PLAN_TIME:
            m[f"plan.{t}.time_s"] = sum(acc.get(k, 0.0) for k in PLAN_TIME[t])
        m["operators.python_bytes_sent"] += acc.get("data sent to Python workers", 0.0)
        m["operators.python_bytes_returned"] += acc.get("data returned from Python workers", 0.0)
        m["operators.python_s"] += sum(acc.get(k, 0.0) for k in PYTHON_TIME_METRICS)
        m["sources.files_written"] += acc.get("number of written files", 0.0)
    m["sources.scan_s"] = m["plan.Scan.time_s"]
    m["session.persisted_rdds"], m["session.cached_bytes"] = reader.session_state()
    children = [sp for sp in spans if sp.parent == root.id]
    m["trace.unattributed_s"] = self_time(root, children)
    out["layers"] = m
    out["plan_nodes"] = nodes
    return out


def run_one(wl, spark, tracer, reader, i: int, traced: bool) -> dict:
    """One pass under a root span. A pass that raises still counts: it is one
    failed operation, and its wall and counters are kept."""
    tracer.detail = traced
    mark = reader.execution_mark()
    with tracer.span("pass") as root:
        try:
            res = wl.run_pass(spark, tracer, i)
        except Exception:
            traceback.print_exc()
            res = {"attempted": 1, "failed": 1}
    rec = {**res, "i": i, "wall_s": root.duration, "traced": traced}
    rec.update(wl.after_pass(rec))
    rec.update(pass_counters(reader, tracer, root, mark, traced))
    if traced:
        rec["layers"]["sources.stored_bytes_per_input_byte"] = rec.get("stored_bytes_per_input_byte", 0.0)
    return rec


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench.spark_status import StatusReader
    from perfbench.trace import Tracer
    from varda_spark.session import get_spark

    t0 = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed)
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        reader = StatusReader(spark)
        tracer = Tracer(spark.sparkContext, detail=False)
        attempted = failed = 0
        for i in range(wl.warm_passes):
            rec = run_one(wl, spark, tracer, reader, -1 - i, False)
            attempted += rec["attempted"]
            failed += rec["failed"]
        # The check runs before the timed passes: it warms the JVM further.
        try:
            with tracer.span("check"):
                checked, wrong = wl.check(spark, tracer)
        except Exception:
            traceback.print_exc()
            checked, wrong = 1, 1
        attempted += checked
        failed += wrong
        setup_s = time.perf_counter() - t0

        passes = []
        t_start = time.perf_counter()
        # Traced runs interleave traced (T) and untraced (U) passes as
        # T U U T ..., so passes still speeding up as the JIT warms weigh on
        # both sides of the tracing overhead alike.
        min_passes = max(4, wl.min_passes) if args.trace else wl.min_passes
        while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and len(passes) % 4 in (0, 3)
            rec = run_one(wl, spark, tracer, reader, len(passes), traced)
            attempted += rec["attempted"]
            failed += rec["failed"]
            passes.append(rec)
        rss = peak_rss_mb(spark)
        live = live_heap_mb(spark)
    finally:
        stop_session(spark)

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    walls = [p["wall_s"] for p in untraced]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "pass_walls_s": [p["wall_s"] for p in passes],
        "peak_rss_mb": rss,
        "live_heap_mb": live,
        "failed_op_ratio": failed / attempted,
        "pass_wall_s": summarize(walls),
        "pass_cpu_s": summarize([p["cpu_s"] for p in untraced]),
        "shuffle_bytes": summarize([p["shuffle_bytes"] for p in untraced]),
    }
    if isinstance(wl, workloads.Lifecycle):
        detail["import_s"] = summarize([t for p in untraced for t in p.get("import_s", ())])
        detail["annotate_s"] = summarize([p["annotate_s"] for p in untraced if "annotate_s" in p])
        detail["stored_bytes_per_input_byte"] = statistics.median(
            p["stored_bytes_per_input_byte"] for p in untraced)
    if args.trace:
        layers = {
            k: statistics.median(p["layers"][k] for p in traced) for k in per_layer_units()
        }
        layers["session.peak_rss_mb"] = rss
        layers["session.live_heap_mb"] = live
        layers["trace.overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced) - statistics.median(walls)
        )
        detail["trace_overhead_s"] = layers["trace.overhead_s"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
        detail["trace_file"] = write_trace(args, tracer, traced)
    else:
        values = {
            "setup_s": setup_s,
            "pass_wall_s": statistics.median(walls),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in untraced),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return detail, result


def write_trace(args, tracer, traced_passes) -> str:
    """Spans and per-plan-node-type totals of the traced passes, as JSON."""
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    by_name: dict[str, list[float]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            name = f"{sp.name}[{sp.attrs['key']}]" if "key" in sp.attrs else sp.name
            by_name.setdefault(name, []).append(sp.duration)
    with open(path, "w") as fh:
        json.dump({
            "spans": [vars(sp) for sp in tracer.spans],
            "span_latency_s": {k: summarize(v) for k, v in by_name.items()},
            "passes": [{"wall_s": p["wall_s"], "layers": p["layers"], "plan_nodes": p["plan_nodes"]}
                       for p in traced_passes],
        }, fh, indent=1, default=str)
    return os.path.relpath(path, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work)
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(detail), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

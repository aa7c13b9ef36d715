"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it carries diagnostics: the core count
N, the ``query.floor_s`` overhead floor, the latency samples and any
check failures. Traced runs also write their spans to
``.bench_work/spans/<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.bench_work/`` in the current
directory; the run's own work directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402
from perfbench.trace import NullTracer, Tracer, covered  # noqa: E402

PKG = "data_ingestion_from_multiple_directories_linux_spark"
#: ``--seconds`` at which a workload runs its ``ops`` operations
BASE_SECONDS = 20
DRIVER_MEM = "2g"
FLOOR_REPS = 5

#: traced metrics: (name, span name, statistic); statistic "self" sums
#: self time per op, "wall" sums inclusive time per op, "count" counts
#: spans per op, an attribute name sums that attribute per op
SPAN_METRICS = (
    ("json_dir.discover_s", "json_dir.discover", "self"),
    ("json_dir.files_listed", "json_dir.discover", "files_listed"),
    ("engine.select_work_s", "engine.select_work", "self"),
    ("engine.read_cleanse_s", "engine.read_cleanse", "self"),
    ("engine.purge_s", "engine.purge", "self"),
    ("engine.audit_s", "engine.audit", "self"),
    ("engine.files_selected", "engine.select_work", "files_selected"),
    ("engine.rows_valid", "engine.run", "rows_valid"),
    ("engine.rows_quarantined", "engine.run", "rows_quarantined"),
    ("table_store.append_s", "table_store.append", "self"),
    ("table_store.overwrite_s", "table_store.overwrite", "self"),
    ("catalog.load_table_s", "catalog.load_table", "wall"),
    ("catalog.load_table_calls", "catalog.load_table", "count"),
    ("query.build_s", "query.build", "wall"),
    ("query.exec_s", "query.exec", "wall"),
    ("stream.bm25_s", "stream.bm25", "wall"),
    ("stream.countmin_s", "stream.countmin", "wall"),
    ("stream.compact_s", "stream.compact", "wall"),
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "input_bytes", "failed_tasks",
)
WRITE_SPANS = ("table_store.append", "table_store.overwrite", "engine.audit")


def cores() -> int:
    """Cores this process may run on (``env -u OMP_NUM_THREADS nproc``)."""
    return len(os.sched_getaffinity(0))


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: how fast the host ran this
    process around the measured window, for telling a slow host from a
    slow program when runs disagree."""
    t = time.perf_counter()
    sum(i * i for i in range(10**6))
    return time.perf_counter() - t


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pid(spark) -> int:
    """The driver JVM: the gateway's launched process, or its java child."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        if b"java" in f.read().split(b"\0")[0]:
            return pid
    for task in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{task}/children") as f:
            for child in f.read().split():
                return int(child)
    return pid


def run_ops(wl, n: int, tracer) -> tuple[list[float], int, int, list[str]]:
    """The timed closed loop. Returns (latency samples of the operations
    that succeeded, attempted, failed, error messages). An operation
    fails when it raises or when its output check reports a mismatch;
    a failed operation contributes no latency sample. The end-of-run
    read-back check counts as one more attempted operation."""
    samples, errors, failed = [], [], 0
    for i in range(n):
        t0 = time.perf_counter()
        try:
            with tracer.span("op", i=i):
                out = wl.op(i)
            dt = time.perf_counter() - t0
            errs = wl.check_op(i, out)
        except Exception as e:  # an operation failure is a result, not a crash
            errs = [f"op {i}: {type(e).__name__}: {e}"[:500]]
            traceback.print_exc(file=sys.stderr)
        if errs:
            failed += 1
            errors += errs
        else:
            samples.append(dt)
        wl.after_op()
    try:
        errs = wl.check_end()
    except Exception as e:
        errs = [f"end check: {type(e).__name__}: {e}"[:500]]
        traceback.print_exc(file=sys.stderr)
    if errs:
        failed += 1
        errors += errs
    return samples, n + 1, failed, errors


def layer_metrics(tracer: Tracer, wl, n_cpu: int, floor_s: float, samples: list[float]) -> dict:
    from perfbench.trace import self_times

    selfs = self_times(tracer.spans)
    roots = [s for s in tracer.spans if s.name == "op"]
    n = max(1, len(roots))
    in_ops = [s for r in roots for s in tracer.subtree(r)]
    by_name: dict[str, list] = {}
    for s in in_ops:
        by_name.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}
    named = {s.name: s for s in tracer.spans}
    out["session.get_spark_s"] = named["session.get_spark"].wall
    out["session.warmup_s"] = named["session.warmup"].wall
    for metric, span, stat in SPAN_METRICS:
        ss = by_name.get(span, [])
        if stat == "self":
            v = sum(selfs[s.sid] for s in ss)
        elif stat == "wall":
            v = sum(s.wall for s in ss)
        elif stat == "count":
            v = len(ss)
        else:
            v = sum(s.attrs.get(stat, 0) for s in ss)
        out[metric] = v / n
    out["json_dir.read_tasks"] = sum(
        s.attrs["first_job"][1] for s in by_name.get("engine.read_cleanse", []) if "first_job" in s.attrs
    ) / n
    writes = [s for name in WRITE_SPANS for s in by_name.get(name, [])]
    written = sum(s.attrs.get("bytes_written", 0) for s in writes)
    out["table_store.bytes_written"] = written / n
    out["table_store.files_written"] = sum(s.attrs.get("files_written", 0) for s in writes) / n
    out["table_store.write_amp"] = written / wl.input_bytes if wl.input_bytes else 0.0
    snap = wl.snapshot()
    out["table_store.live_files"] = snap.get("table_store.live_files", 0)
    out["stream.partial_files"] = snap.get("stream.partial_files", 0)
    out["query.floor_s"] = floor_s
    for k in SPARK_COUNTERS:
        out[f"spark.{k}"] = sum(s.spark.get(k, 0) for s in in_ops) / n
    op_wall = sum(r.wall for r in roots)
    out["spark.core_busy"] = out["spark.task_run_s"] * n / (op_wall * n_cpu) if op_wall else 0.0
    out["trace.op_p50_s"] = statistics.median(samples) if samples else 0.0
    # self time plus the union of child time must rebuild each span's wall
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    out["trace.self_check_s"] = max(
        abs(selfs[s.sid] + covered(kids.get(s.sid, []), s.t0, s.t1) - s.wall) for s in tracer.spans
    )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=BASE_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)) or not os.path.isfile(
        os.path.join(root, "__spark_entry__.py")
    ):
        print(f"perfbench: run from the repository root ({PKG}/ not found here)", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    n_cpu = cores()
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM the launch starts keeps its files in the work directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(n_cpu),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    if root not in sys.path:
        sys.path.insert(0, root)
    spark = None
    try:
        tracer = Tracer() if args.trace else NullTracer()
        if args.trace:
            from perfbench import trace as trace_mod

        from data_ingestion_from_multiple_directories_linux_spark.session import get_spark

        with tracer.span("session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                cpus=n_cpu,
                extra_conf={
                    "spark.driver.memory": DRIVER_MEM,
                    "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            import __spark_entry__  # noqa: F401  (registers every operator module)
        if args.trace:
            tracer.spark = spark
            trace_mod.install(tracer)

        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        with tracer.span("session.warmup"):
            wl.warmup()
        setup_s = since_process_start() - prepare_s

        floors = []
        for _ in range(FLOOR_REPS):
            t = time.perf_counter()
            spark.range(1).write.format("noop").mode("overwrite").save()
            floors.append(time.perf_counter() - t)
        floor_s = statistics.median(floors)

        n_ops = max(1, round(wl.ops * args.seconds / BASE_SECONDS))
        probe_s = host_probe_s()
        t = time.perf_counter()
        samples, attempted, failed, errors = run_ops(wl, n_ops, tracer)
        window_s = time.perf_counter() - t
        probe_s = (probe_s + host_probe_s()) / 2

        rss_mb = (peak_rss_mb(jvm_pid(spark)), peak_rss_mb(os.getpid()))
        wl.diag["rss_jvm_python_mb"] = [round(x, 1) for x in rss_mb]
        if args.trace:
            from perfbench import statusstore

            tracer.attribute_jobs(statusstore.read_jobs(spark))
            metrics = layer_metrics(tracer, wl, n_cpu, floor_s, samples)
            metrics["memory.peak_rss_mb"] = sum(rss_mb)
            spans_dir = os.path.join(bench_dir, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(samples) if samples else 0.0,
                "op_tail_s": stats.tail(samples) if samples else 0.0,
            }
        diag = {
            "workload": args.workload, "seed": args.seed, "cores": n_cpu,
            "query.floor_s": round(floor_s, 4), "ops": n_ops, "window_s": round(window_s, 3),
            "host_probe_s": round(probe_s, 4),
            "samples_s": [round(x, 4) for x in samples],
            "tail_percentile": round(stats.tail_percentile(len(samples)), 1),
            "failed_ratio": failed / attempted, "errors": errors[:10], **wl.diag,
        }
        print(json.dumps(diag), flush=True)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its
    stdin closes) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None or gw.proc is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _unit(metric: str) -> str:
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric.endswith("bytes_written"):
        return "bytes"
    if metric in ("spark.core_busy", "table_store.write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

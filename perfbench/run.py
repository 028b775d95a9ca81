"""Benchmark command: one seeded workload per run, through the program's
public entry points, with its outputs checked.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Workloads: ``etl_batch``, ``stream_ingest``, ``query_mix`` (README.md).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics from spans recorded
around the layer calls. The line before it names each workload's
headline metrics in the program's own terms. The full record (host
facts, samples, spans) goes to ``perfbench/results/``. Exits non-zero
if any operation failed or produced a wrong output.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
DRIVER_MEM = "4g"  # the program's 16g default exceeds small hosts' RAM
MAX_CPUS = 4
PROBE_ITERS = 100_000
STOP_GRACE_S = 30.0  # for the JVM to run its shutdown hooks before it is killed
PR_SET_CHILD_SUBREAPER = 36


def _since_process_start() -> float:
    """Seconds since this process started, from its ``/proc`` start time."""
    from perfbench.workloads import proc_stat

    start_ticks = int(proc_stat("/proc/self/stat")[1][19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM, a child of this process."""
    from perfbench.workloads import process_tree

    me = os.getpid()
    for pid, (name, fields) in process_tree().items():
        if name == "java" and int(fields[1]) == me:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            return int(status["VmHWM"].split()[0]) / 1024.0
    raise RuntimeError("driver JVM not found among this process's children")


def _host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "host_ram_gib": round(mem_kb / 2**20, 2),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_batch", "stream_ingest", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep Spark's and the JVM's scratch files inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(MAX_CPUS, len(os.sched_getaffinity(0)))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    # Orphaned descendants (the Python workers of a JVM that has exited)
    # become this process's children, so it can wait for them too.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    try:
        return _run(args, run_id, work)
    finally:
        _stop_children()
        shutil.rmtree(work, ignore_errors=True)


def _stop_children() -> None:
    """Stop the driver JVM and every process under it, and wait until each
    has ended. ``spark.stop()`` leaves the JVM running: it exits when its
    stdin closes, and would otherwise still be running its shutdown hooks
    (and then be left unreaped) after this process has exited."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    if gateway is not None:
        gateway.proc.stdin.close()
    deadline = time.monotonic() + STOP_GRACE_S
    sent = None
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, and orphans are reparented here
        if pid:
            continue
        late = time.monotonic() - deadline
        sig = signal.SIGKILL if late > 5.0 else signal.SIGTERM if late > 0 else None
        if sig is not None and sig != sent:
            from perfbench.workloads import process_tree

            for child in set(process_tree()) - {os.getpid()}:
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def _run(args, run_id: str, work: str) -> int:
    from bench import _proc_stat_ticks, cpu_probe_seconds, steal_pct_since

    from etl_sample_spark import get_spark
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Context

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = _since_process_start()
    spark.sparkContext.setLogLevel("ERROR")

    host = _host_facts()
    probe_before = cpu_probe_seconds(PROBE_ITERS)
    ticks = _proc_stat_ticks()
    tracer = Tracer(spark, run_id) if args.trace else None
    ctx = Context(spark, args.seed, args.seconds, work, tracer)
    try:
        res = WORKLOADS[args.workload](ctx)
        rss_mb = _jvm_peak_rss_mb()
    finally:
        if tracer is not None:
            tracer.unpatch()
        spark.stop()
    steal = steal_pct_since(ticks)
    probe_after = cpu_probe_seconds(PROBE_ITERS)

    # Wall-clock headline metrics follow hypervisor steal on a shared
    # host, and peak RSS follows GC timing, far more than CPU time does
    # (README.md): they are printed on the summary line and in the
    # record, and the contract line carries these.
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_item": (res["cpu_s_per_item"], "s"),
    }
    summary = {
        "setup_s": (setup_s, "s"),
        **res["summary"],
        "ops_failed_frac": (res["failed"] / res["attempted"], "ratio"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_id": run_id,
        "host": {**host, "cpu_probe_s": {"before": probe_before, "after": probe_after}, "steal_pct": steal},
        "unit_s": res["unit_s"],
        "summary": summary,
        "end_to_end": end_to_end,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "errors": res["errors"],
        "ops": res["ops"],
        "detail": res["detail"],
    }
    if tracer is not None:
        layers = {name: 0.0 for name in PER_LAYER}  # layers this workload never calls stay 0
        layers.update(res.get("layers", {}))
        layers.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.jvm_peak_rss_mb": rss_mb,
                "host.cpu_probe_s": min(probe_before, probe_after),
                "host.steal_pct": steal if steal is not None else 0.0,
                "trace.unit_s": res["traced_unit_s"],
                "trace.overhead_s": res["traced_unit_s"] - res["unit_s"],
            }
        )
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER.items()}
        record.update(layers=metrics, spans=tracer.dump())
    else:
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in end_to_end.items()}

    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for err in res["errors"][:20]:
        print(f"[perfbench] {args.workload}: {err}", file=sys.stderr)
    print(
        f"{args.workload}: "
        + "; ".join(f"{k} = {v:.6g} {u}" for k, (v, u) in summary.items())
        + f"; attempted = {res['attempted']}; failed = {res['failed']}"
    )
    ok = res["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0 if ok else 1


# Every per-layer metric, in BENCHMARK.json order, with its unit. Time
# and count metrics are per operation: per pipeline call (etl_batch), per
# micro-batch (stream_ingest) or per pass over the mix (query_mix).
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.tasks_per_doc": "count",
    "pipeline.route_files_s": "s",
    "pipeline.self_s": "s",
    "pipeline.useful_job_frac": "ratio",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "normalize.build_s": "s",
    "normalize.tables": "count",
    "sinks.write_s": "s",
    "sinks.write_jobs": "count",
    "sinks.count_jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.docs_per_batch_p50": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.overhead_s_p50": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.backlog_files_end": "count",
    "gen.late_max_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "plans.execute_tasks": "count",
    "plans.shuffle_bytes": "bytes",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.embedding_neardup_clusters.build_s": "s",
    "plans.embedding_neardup_clusters.build_jobs": "count",
    "plans.embedding_neardup_clusters.execute_s": "s",
    "plans.similarity_pq_adc_top10.build_s": "s",
    "plans.similarity_pq_adc_top10.build_jobs": "count",
    "plans.similarity_pq_adc_top10.execute_s": "s",
    "catalog.table_calls": "count",
    "catalog.table_s": "s",
    "host.cpu_probe_s": "s",
    "host.steal_pct": "%",
    "trace.unit_s": "s",
    "trace.overhead_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())

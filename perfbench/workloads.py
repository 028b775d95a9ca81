"""The three workloads. Each drives the program only through its public
entry points and returns the same record shape:

- ``ops``: seconds of each measured operation (a pipeline call, a
  streamed file's send-to-commit latency, or a query);
- ``cpu_s_per_item``: CPU seconds of the process tree per measured item
  (document, query or streamed file);
- ``attempted`` / ``failed``: every operation of the run, warm-up
  included; an operation fails if it raised or its output was wrong;
- ``unit_s``: the workload's headline wall time (the median call, the
  pass, or the p50 latency);
- ``summary``: the workload's headline metrics under their own names;
- ``layers`` and ``traced_unit_s``: filled only when a tracer is given.

Warm-up: the first operations of a run execute in a cold JVM and run
slower (JIT, class loading, codegen). Each workload runs them untimed,
checks their outputs, and reports their times next to the measured ones
so the levelling-off is visible in every result.

Traced runs: after the warm-up, a traced run measures the same
operations untraced and then traced, in the same JVM. ``traced_unit_s -
unit_s`` is what tracing costs, plus the run's noise and the warm-up
still going on. The per-layer metrics come from the traced operations
only.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

import duckdb

from perfbench import gen
from perfbench.spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

BATCH_DOCS = 48
BATCH_WARMUP_CALLS = 1

STREAM_RATE = 40.0  # files/s (README.md explains the choice)
STREAM_MIN_FILES = 200  # per measured window, so that p95 has ten samples beyond it
STREAM_WARM_FILES = 4  # placed before the stream starts: its cold first batch
STREAM_SETTLE_S = 1.0  # open loop before the measured window opens
STREAM_TIMEOUT_S = 90.0

# A slice of bench.py's headline mix plus the two build-dominated
# queries; the whole 32-query mix takes about 45 s per warm pass here,
# which does not fit the run budget (README.md).
QUERY_MIX = (
    "q9_product_profit",
    "skewjoin_revenue_by_priority",
    "win_top3_orders_per_customer",
    "embedding_neardup_clusters",
    "similarity_pq_adc_top10",
)
BUILD_TARGETS = ("embedding_neardup_clusters", "similarity_pq_adc_top10")


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory inside the checkout, removed afterwards
    tracer: Tracer | None


def proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def process_tree() -> dict[int, tuple[str, list[str]]]:
    """This process and its descendants (the driver JVM and the Python
    workers it forks): pid -> ``proc_stat`` of each."""
    stats = {}
    for pid in os.listdir("/proc"):
        st = proc_stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is not None:
            stats[int(pid)] = st
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid]
            todo.extend(c for c, (_name, fields) in stats.items() if int(fields[1]) == pid)
    return tree


def cpu_sample() -> float:
    """CPU seconds used so far by the process tree, from ``/proc``. Time
    the hypervisor steals is not counted, so on a shared host this moves
    less between runs than wall time does."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _name, fields in process_tree().values())
    return ticks / os.sysconf("SC_CLK_TCK")  # utime stime cutime cstime


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _parquet_rows(con, directory: str) -> int:
    files = glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


def _parquet_files_bytes(paths: list[str]) -> tuple[int, int]:
    n = size = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, fn))
    return n, size


def _check_tables(con, out_dir: str, expected: dict[str, int], reported: dict[str, int] | None) -> list[str]:
    """Tables whose row count, read back with DuckDB, differs from
    ``expected``, or whose count the program ``reported`` differs."""
    bad = []
    names = (set(expected) | set(reported or {})) - {"__quarantined"}
    for name in sorted(names):
        want = expected.get(name, 0)
        got = _parquet_rows(con, os.path.join(out_dir, name))
        said = want if reported is None else reported.get(name, 0)
        if got != want or said != want:
            bad.append(f"{name}: expected {want} rows, wrote {got}, reported {said}")
    return bad


def _tree(tracer: Tracer, roots) -> list:
    return [s for r in roots for s in (r, *tracer.descendants(r))]


def _sum(spans, name: str, attr: str = "seconds") -> float:
    picked = [s for s in spans if s.name == name]
    if attr == "jobs":
        return sum(len(s.jobs) for s in picked)
    return sum(getattr(s, attr) for s in picked)


def _patch_sinks(tracer: Tracer, spark) -> None:
    """Writer and count calls, attributed to the sink layer."""
    tracer.patch(type(spark.range(1).write), "parquet", "sinks.write")
    tracer.patch(type(spark.range(1)), "count", "sinks.count")


# --- etl_batch -----------------------------------------------------------


def etl_batch(ctx: Context) -> dict:
    from etl_sample_spark import pipeline

    spark, tracer = ctx.spark, ctx.tracer
    docs = gen.batch_corpus(ctx.seed, BATCH_DOCS)
    src = os.path.join(ctx.work, "in")
    gen.write_docs(docs, src)
    expected = gen.expected_rows(docs)
    if tracer is not None:
        tracer.patch(pipeline, "route_files", "pipeline.route_files")
        tracer.patch(pipeline, "read_form", "sources.read")
        tracer.patch(pipeline, "quarantine_corrupt", "sources.read")
        tracer.patch(pipeline, "normalize", "normalize.build")
        _patch_sinks(tracer, spark)

    con = duckdb.connect()
    warm, measured, traced_s, roots, errors = [], [], [], [], []
    cpu_s = 0.0
    failed = files_written = bytes_written = 0
    t_measure = None
    call = 0
    while True:
        is_warm = call < BATCH_WARMUP_CALLS
        # A traced run alternates untraced and traced measured calls.
        traced = tracer is not None and not is_warm and (call - BATCH_WARMUP_CALLS) % 2 == 1
        if tracer is not None:
            tracer.enabled = traced
        if not is_warm and t_measure is None:
            t_measure = time.perf_counter()
        out = os.path.join(ctx.work, f"out{call}")
        dead = os.path.join(ctx.work, f"dead{call}")
        call += 1
        c0 = cpu_sample()
        t0 = time.perf_counter()
        try:
            with _span(tracer, "pipeline.call") as root:
                counts = pipeline.run_batch_pipeline(spark, src, parquet_out=out, dead_letter_dir=dead)
            dt = time.perf_counter() - t0
            if not is_warm and not traced:
                cpu_s += cpu_sample() - c0
            bad = _check_tables(con, out, expected, counts)
            dead_rows = _parquet_rows(con, dead)
            if not dead_rows == counts.get("__quarantined") == expected["__quarantined"]:
                bad.append(f"quarantined: expected {expected['__quarantined']}, wrote {dead_rows}")
        except Exception as ex:  # a failing call is counted, not fatal
            dt, bad = time.perf_counter() - t0, [f"raised {type(ex).__name__}: {ex}"[:500]]
        failed += bool(bad)
        errors.extend(bad)
        (warm if is_warm else traced_s if traced else measured).append(dt)
        if traced and root is not None:
            tracer.resolve_jobs()
            roots.append(root)
            n, b = _parquet_files_bytes([out, dead])
            files_written += n
            bytes_written += b
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)
        if not is_warm and time.perf_counter() - t_measure >= ctx.seconds and (tracer is None or traced):
            break

    call_s = _median(measured)
    res = {
        "ops": measured,
        "attempted": call,
        "failed": failed,
        "errors": errors,
        "unit_s": call_s,
        "cpu_s_per_item": cpu_s / (BATCH_DOCS * len(measured)),
        "summary": {"batch_docs_per_s": (BATCH_DOCS / call_s, "docs/s")},
        "detail": {"docs": BATCH_DOCS, "warmup_call_s": warm, "measured_call_s": measured, "traced_call_s": traced_s},
    }
    if tracer is not None:
        res["traced_unit_s"] = _median(traced_s)
    if tracer is not None and roots:
        k = len(roots)
        spans = _tree(tracer, roots)
        jobs = sum(len(s.jobs) for s in spans) / k
        tasks = sum(s.tasks for s in spans) / k
        write_jobs = _sum(spans, "sinks.write", "jobs") / k
        res["layers"] = {
            "pipeline.jobs": jobs,
            "pipeline.stages": sum(s.stages for s in spans) / k,
            "pipeline.tasks": tasks,
            "pipeline.tasks_per_doc": tasks / BATCH_DOCS,
            "pipeline.route_files_s": _sum(spans, "pipeline.route_files") / k,
            "pipeline.self_s": sum(tracer.self_seconds(r) for r in roots) / k,
            "pipeline.useful_job_frac": write_jobs / jobs if jobs else 0.0,
            "sources.read_s": _sum(spans, "sources.read") / k,
            "sources.read_jobs": _sum(spans, "sources.read", "jobs") / k,
            "normalize.build_s": _sum(spans, "normalize.build") / k,
            "normalize.tables": len(set(expected) - {"__quarantined"}),
            "sinks.write_s": _sum(spans, "sinks.write") / k,
            "sinks.write_jobs": write_jobs,
            "sinks.count_jobs": _sum(spans, "sinks.count", "jobs") / k,
            "sinks.files_written": files_written / k,
            "sinks.bytes_written": bytes_written / k,
        }
    return res


# --- stream_ingest -------------------------------------------------------


def _checkpoint_batches(ckpt: str) -> tuple[dict[str, list[int]], dict[int, float], dict[int, float]]:
    """From the checkpoint logs: file name -> batch ids that listed it
    (``sources/0``), batch id -> time the batch took its files
    (``offsets``), and batch id -> commit time (``commits``)."""
    listed: dict[str, list[int]] = {}
    seen: set[tuple[str, int]] = set()
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue  # the version header
                entry = json.loads(line)
                key = (os.path.basename(entry["path"]), entry["batchId"])
                if key not in seen:  # .compact files repeat earlier entries
                    seen.add(key)
                    listed.setdefault(key[0], []).append(key[1])

    def _mtimes(log: str) -> dict[int, float]:
        return {
            int(os.path.basename(p)): os.stat(p).st_mtime
            for p in glob.glob(os.path.join(ckpt, log, "*"))
            if os.path.basename(p).isdigit()
        }

    return listed, _mtimes("offsets"), _mtimes("commits")


class _Generator(threading.Thread):
    """Open-loop sender: writes each file at its due time, whatever the
    stream is doing, through a rename so no file is read half-written."""

    def __init__(self, schedule, stage: str, src: str):
        super().__init__(daemon=True)
        self.schedule, self.stage, self.src = schedule, stage, src
        self.t0 = 0.0  # wall-clock start; due times are offsets from it
        self.sent: list[tuple[float, float, gen.Doc]] = []  # (due, sent, doc)
        self.stopped = False
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for due, doc in self.schedule:
                wait = self.t0 + due - time.time()
                if wait > 0:
                    time.sleep(wait)
                if self.stopped:
                    return
                tmp = os.path.join(self.stage, doc.name)
                with open(tmp, "w") as f:
                    f.write(doc.text)
                os.rename(tmp, os.path.join(self.src, doc.name))
                self.sent.append((self.t0 + due, time.time(), doc))
        except BaseException as ex:  # reported by the workload
            self.error = ex


def _wait(cond, timeout: float, query) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline and query.exception() is None and not cond():
        time.sleep(0.05)


def stream_ingest(ctx: Context) -> dict:
    from etl_sample_spark import schemas
    from etl_sample_spark.forms import combined_form_specs
    from etl_sample_spark.streaming import ingest

    spark, tracer = ctx.spark, ctx.tracer
    src, stage = os.path.join(ctx.work, "src"), os.path.join(ctx.work, "stage")
    out, dead = os.path.join(ctx.work, "out"), os.path.join(ctx.work, "dead")
    ckpt = os.path.join(ctx.work, "ckpt")
    os.makedirs(stage)
    if tracer is not None:
        tracer.enabled = False
        tracer.patch(ingest, "normalize", "normalize.build")
        _patch_sinks(tracer, spark)

    sink = ingest.foreach_batch_normalize(combined_form_specs(), out, dead_letter_dir=dead)
    if tracer is not None:
        inner = sink

        def sink(batch_df, batch_id):
            with tracer.span("streaming.batch"):
                inner(batch_df, batch_id)

    # The warm-up files are placed before the stream starts and taken by
    # its cold first batch. Then each open loop sends the settle files and
    # a measured window, and drains before the next loop starts. A traced
    # run sends an untraced loop and then a traced one, so that both see
    # the same batch pattern.
    n_settle = round(STREAM_RATE * STREAM_SETTLE_S)
    n_loop = n_settle + max(STREAM_MIN_FILES, round(STREAM_RATE * ctx.seconds))
    n_loops = 1 if tracer is None else 2
    schedule = gen.stream_schedule(ctx.seed, STREAM_WARM_FILES + n_loops * n_loop, STREAM_RATE)
    warm_docs = [d for _due, d in schedule[:STREAM_WARM_FILES]]
    loops = []  # each loop's files, due from the loop's own start
    for k in range(n_loops):
        part = schedule[STREAM_WARM_FILES + k * n_loop : STREAM_WARM_FILES + (k + 1) * n_loop]
        loops.append([(due - part[0][0], d) for due, d in part])
    gen.write_docs(warm_docs, src)

    def committed(names) -> bool:
        listed, _taken, commits = _checkpoint_batches(ckpt)
        return all(any(b in commits for b in listed.get(n, [])) for n in names)

    docs = ingest.stream_documents(spark, src, schemas.COMBINED_SCHEMA, corrupt_col="_corrupt_record")
    query = docs.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    t_start = time.time()
    senders: list[_Generator] = []
    loop_cpu_s = []  # CPU from a loop's first send until all its files committed
    try:
        _wait(lambda: committed([d.name for d in warm_docs]), STREAM_TIMEOUT_S, query)
        t_warm = time.time() - t_start
        for k, live in enumerate(loops):
            if tracer is not None:
                tracer.enabled = k == 1  # the stream is idle between loops
            sender = _Generator(live, stage, src)
            senders.append(sender)
            c0 = cpu_sample()
            sender.t0 = time.time()
            sender.start()
            sender.join(timeout=len(live) / STREAM_RATE + STREAM_TIMEOUT_S)
            _wait(lambda: committed([d.name for _due, _sent, d in sender.sent]), STREAM_TIMEOUT_S, query)
            loop_cpu_s.append(cpu_sample() - c0)
        # The last batch posts its progress just after its commit.
        n_commits = len(_checkpoint_batches(ckpt)[2])
        _wait(lambda: len(query.recentProgress) >= n_commits, 10.0, query)
        progress = list(query.recentProgress)
    finally:
        for sender in senders:
            sender.stopped = True
        query.stop()
        for sender in senders:
            sender.join(timeout=10)

    listed, taken, commits = _checkpoint_batches(ckpt)
    errors = []
    if query.exception() is not None:
        errors.append(f"stream raised {query.exception()}"[:500])
    for sender in senders:
        if sender.error is not None:
            errors.append(f"generator raised {sender.error!r}")
    sent = [s for sender in senders for s in sender.sent]
    if len(sent) != n_loops * n_loop:
        errors.append(f"sent {len(sent)} of {n_loops * n_loop} files")
    sent_docs = warm_docs + [d for _due, _sent, d in sent]
    batch_of = {}
    for doc in sent_docs:
        batches = [b for b in listed.get(doc.name, []) if b in commits]
        if len(batches) != 1:
            errors.append(f"{doc.name} committed in batches {batches}")
        else:
            batch_of[doc.name] = batches[0]
    bad_files = len(sent_docs) - len(batch_of)
    # Each loop's measured window: its files after the settle ones.
    latencies = [
        [commits[batch_of[d.name]] - due for due, _sent, d in sender.sent[n_settle:] if d.name in batch_of]
        for sender in senders
    ]
    late = [sent_at - due for due, sent_at, _d in sent]
    con = duckdb.connect()
    expected = gen.expected_rows(sent_docs)
    bad = _check_tables(con, out, expected, None)
    dead_rows = _parquet_rows(con, dead)
    if dead_rows != expected["__quarantined"]:
        bad.append(f"quarantined: expected {expected['__quarantined']}, wrote {dead_rows}")
    master = glob.glob(os.path.join(out, "master_table", "**", "*.parquet"), recursive=True)
    if master:
        n, distinct = con.execute(
            "SELECT count(*), count(DISTINCT SalesforceID) FROM read_parquet(?)", [master]
        ).fetchone()
        if n != distinct:
            bad.append(f"master_table holds {n - distinct} duplicate documents")
    errors.extend(bad)
    attempted = len(sent_docs)
    failed = attempted if bad else min(attempted, bad_files)
    if any(len(lat) < STREAM_MIN_FILES for lat in latencies):
        errors.append(f"measured windows hold {[len(lat) for lat in latencies]} files (need {STREAM_MIN_FILES})")
        failed = attempted

    p50 = _median(latencies[0])
    p95 = quantile(latencies[0], 0.95)
    res = {
        "ops": latencies[0],
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:50],
        "unit_s": p50,
        "cpu_s_per_item": loop_cpu_s[0] / n_loop,
        "summary": {
            "stream_latency_p50_s": (p50, "s"),
            "stream_latency_p95_s": (p95, "s"),
        },
        "detail": {
            "rate_files_per_s": STREAM_RATE,
            "files_sent": attempted,
            "files_per_window": [len(lat) for lat in latencies],
            "latency_p50_s_per_window": [_median(lat) for lat in latencies],
            "warmup_first_batch_s": t_warm,
            "gen_late_max_s": max(late, default=0.0),
            "batches": _batch_rows(progress),
        },
    }
    if tracer is not None:
        tracer.resolve_jobs()
        traced = senders[-1]
        window = {batch_of[d.name] for _due, _sent, d in traced.sent[n_settle:] if d.name in batch_of}
        rows = [p for p in _batch_rows(progress) if p["batch"] in window]
        group_jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
        batch_spans = [s for s in tracer.spans if s.name == "streaming.batch"]
        spans = _tree(tracer, batch_spans)
        k = max(1, len(batch_spans))
        n_files, n_bytes = _parquet_files_bytes([out, dead])
        # Files waiting in the source directory when the traced window
        # closed: sent by then, but taken by no batch that had started.
        w_end = traced.t0 + loops[-1][-1][0] + 1.0 / STREAM_RATE
        backlog = sum(
            1 for _due, sent_at, d in traced.sent
            if sent_at < w_end and not any(taken.get(b, math.inf) <= w_end for b in listed.get(d.name, []))
        )
        res["traced_unit_s"] = _median(latencies[-1])
        res["layers"] = {
            "normalize.build_s": _sum(spans, "normalize.build") / k,
            "normalize.tables": len(set(expected) - {"__quarantined"}),
            "sinks.write_s": _sum(spans, "sinks.write") / k,
            "sinks.files_written": n_files / max(1, len(progress)),
            "sinks.bytes_written": n_bytes / max(1, len(progress)),
            "streaming.batches": len(rows),
            "streaming.docs_per_batch_p50": _median([r["rows"] for r in rows]),
            "streaming.trigger_s_p50": _median([r["trigger_s"] for r in rows]),
            "streaming.add_batch_s_p50": _median([r["add_batch_s"] for r in rows]),
            "streaming.overhead_s_p50": _median([r["trigger_s"] - r["add_batch_s"] for r in rows]),
            "streaming.jobs_per_batch": len(group_jobs) / max(1, len(progress)),
            "streaming.backlog_files_end": backlog,
            "gen.late_max_s": max(late, default=0.0),
        }
    return res


def _batch_rows(progress) -> list[dict]:
    rows = []
    for p in progress:
        p = p if isinstance(p, dict) else json.loads(p.json)
        d = p.get("durationMs", {})
        rows.append(
            {
                "batch": p["batchId"],
                "rows": p.get("numInputRows", 0),
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
            }
        )
    return rows


def quantile(xs, q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


# --- query_mix -----------------------------------------------------------


class _Oracles(threading.Thread):
    """Runs every query's DuckDB oracle (``REGISTRY[q].oracle``) over the
    same files. It runs beside the untimed warm-up pass, because one
    oracle alone takes seconds, and is joined before anything is timed."""

    def __init__(self, names):
        super().__init__(daemon=True)
        self.names = names
        self.results: dict[str, tuple | Exception | None] = {}

    def run(self) -> None:
        from etl_sample_spark.plans import REGISTRY

        con = duckdb.connect()
        con.execute("SET threads = 1")
        for t in sorted(os.listdir(DATA_DIR)):
            if t.endswith(".parquet"):
                con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(DATA_DIR, t)}')")
        for name in self.names:
            oracle = REGISTRY[name].oracle
            try:
                rel = con.sql(oracle) if oracle is not None else None
                self.results[name] = None if rel is None else (list(rel.columns), rel.types, rel.fetchall())
            except Exception as ex:  # reported as that query's mismatch
                self.results[name] = ex


def _oracle_mismatch(oracle, df, rows) -> str | None:
    """The driver simulator's comparison: columns, type categories, row
    count and order-insensitive normalized values."""
    import driver_sim as sim

    if oracle is None:
        return None
    if isinstance(oracle, Exception):
        return f"oracle raised {oracle!r}"[:500]
    dcols, dtypes, drows = oracle
    if sorted(df.columns) != sorted(dcols):
        return f"columns {sorted(df.columns)} != {sorted(dcols)}"
    scat = {f.name: sim.spark_cat(f.dataType) for f in df.schema.fields}
    dcat = {c: sim.duck_cat(t) for c, t in zip(dcols, dtypes)}
    if any(scat[c] != dcat.get(c) for c in scat):
        return f"type categories {scat} != {dcat}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if sim.canon(df.columns, rows) != sim.canon(dcols, drows):
        return "values differ from the oracle"
    return None


def query_mix(ctx: Context) -> dict:
    from etl_sample_spark import catalog
    from etl_sample_spark.plans import REGISTRY
    from etl_sample_spark.plans.inspect import shuffle_bytes_written

    spark, tracer = ctx.spark, ctx.tracer
    order = list(QUERY_MIX)
    random.Random(f"mix-{ctx.seed}").shuffle(order)
    oracles = _Oracles(order)
    oracles.start()

    # Warm-up pass, which is also the correctness pass: each query's rows
    # are collected, untimed, and compared with its oracle below.
    errors, failed_names, shuffle = [], set(), {}
    warm_s, collected = {}, {}
    for name in order:
        t0 = time.perf_counter()
        try:
            df = REGISTRY[name].spark(spark, DATA_DIR)
            collected[name] = (df, [tuple(r) for r in df.collect()])
            if tracer is not None:
                shuffle[name] = shuffle_bytes_written(df, execute=False)
        except Exception as ex:  # a failing query is counted, not fatal
            failed_names.add(name)
            errors.append(f"{name}: raised {type(ex).__name__}: {ex}"[:500])
        warm_s[name] = time.perf_counter() - t0
    oracles.join()
    for name, (df, rows) in collected.items():
        why = _oracle_mismatch(oracles.results.get(name), df, rows)
        if why:
            failed_names.add(name)
            errors.append(f"{name}: {why}")

    if tracer is not None:
        tracer.patch(catalog, "table", "catalog.table")
    passes: list[dict[str, float]] = []
    traced_passes: list[dict[str, float]] = []
    attempted = len(order)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    roots = []
    cpu_s = 0.0
    t_measure = time.perf_counter()
    while True:
        # A traced run alternates untraced and traced passes.
        traced = tracer is not None and len(passes) > len(traced_passes)
        if tracer is not None:
            tracer.enabled = traced
        per = {}
        for name in order:
            attempted += 1
            df = None
            c0 = cpu_sample()
            t0 = time.perf_counter()
            try:
                with _span(tracer, "plans.query") as root:
                    with _span(tracer, "plans.build"):
                        df = REGISTRY[name].spark(spark, DATA_DIR)
                    with _span(tracer, "plans.execute"):
                        df.write.format("noop").mode("overwrite").save()
                per[name] = time.perf_counter() - t0
                if not traced:
                    cpu_s += cpu_sample() - c0
            except Exception as ex:  # a failing query is counted, not fatal
                per[name] = time.perf_counter() - t0
                failed_names.add(name)
                errors.append(f"{name}: raised {type(ex).__name__}: {ex}"[:500])
            if traced and root is not None:
                root.query = name
                roots.append(root)
            if traced and df is not None:
                tracer.resolve_jobs()
                # Catalyst phases of this DataFrame: planning it again
                # here, untimed, fills its own QueryExecution's tracker.
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                it = qe.tracker().phases().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() in phases:
                        phases[kv._1()] += kv._2().durationMs()
        (traced_passes if traced else passes).append(per)
        if time.perf_counter() - t_measure >= ctx.seconds and len(traced_passes) == (tracer is not None) * len(passes):
            break

    # With more than one pass, each query keeps its fastest: the work is
    # fixed, so noise on a shared host can only add time.
    per_query = {q: min(p[q] for p in passes) for q in order}
    pass_s = sum(per_query.values())
    geomean = math.exp(statistics.fmean(math.log(v) for v in per_query.values()))
    n_passes = len(passes) + len(traced_passes)
    failed = sum(1 for n in order if n in failed_names) * (1 + n_passes)
    res = {
        "ops": list(per_query.values()),
        "attempted": attempted,
        "failed": min(failed, attempted),
        "errors": errors,
        "unit_s": pass_s,
        "cpu_s_per_item": cpu_s / (len(order) * len(passes)),
        "summary": {"query_mix_s": (pass_s, "s"), "query_geomean_s": (geomean, "s")},
        "detail": {
            "order": order,
            "passes": len(passes),
            "traced_passes": len(traced_passes),
            "warmup_query_s": warm_s,
            "measured_query_s": per_query,
        },
    }
    if tracer is not None:
        k = len(traced_passes)
        spans = _tree(tracer, roots)
        res["traced_unit_s"] = sum(min(p[q] for p in traced_passes) for q in order)
        layers = {
            "plans.build_s": _sum(spans, "plans.build") / k,
            "plans.build_jobs": _sum(spans, "plans.build", "jobs") / k,
            "plans.execute_s": _sum(spans, "plans.execute") / k,
            "plans.execute_jobs": _sum(spans, "plans.execute", "jobs") / k,
            "plans.execute_tasks": _sum(spans, "plans.execute", "tasks") / k,
            "plans.shuffle_bytes": sum(shuffle.values()),
            "plans.analysis_ms": phases["analysis"] / k,
            "plans.optimization_ms": phases["optimization"] / k,
            "plans.planning_ms": phases["planning"] / k,
            "catalog.table_calls": len([s for s in spans if s.name == "catalog.table"]) / k,
            "catalog.table_s": _sum(spans, "catalog.table") / k,
        }
        for target in BUILD_TARGETS:
            tspans = _tree(tracer, [r for r in roots if r.query == target])
            layers[f"plans.{target}.build_s"] = _sum(tspans, "plans.build") / k
            layers[f"plans.{target}.build_jobs"] = _sum(tspans, "plans.build", "jobs") / k
            layers[f"plans.{target}.execute_s"] = _sum(tspans, "plans.execute") / k
        res["layers"] = layers
    return res


WORKLOADS = {"etl_batch": etl_batch, "stream_ingest": stream_ingest, "query_mix": query_mix}

"""The benchmark's two workloads: stream_ingest and batch_queries.

Each workload is one closed-loop client in one process.  It drives the
program only through its public entry points:

- stream_ingest: `streaming.topology.run_topology` over seeded JSON-lines
  files (gen.write_stream_files), drained with AvailableNow and
  maxFilesPerTrigger=1.
- batch_queries: `registry.QUERIES`, each forced with a `noop` write, over
  the batch tables (gen.write_tables), in three families: iot (including
  the serving API's registered twins) and relational, which are bound by
  driver-side work, and corpus, which is bound by the executor.

A workload returns an `Outcome`: ops attempted and failed, its two gated
speed figures, its own named figures and, in a traced run, the per-layer
figures.  Correctness checks run outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import gen
from spans import ProgressCollector, Tracer, median, read_event_log, spark_layers, sum_groups, tail, tree_cpu_s

from real_time_iot_data_engineering_pipeline_spark.streaming import pipeline

PKG = pipeline.__name__.split(".")[0]
BATCH_SF = 0.1

# The batch queries, by family.  The family is decided by the fixture tables
# a query loads: events -> iot, TPC-H tables -> relational, documents or
# embeddings -> corpus.  The set takes, from bench.HEADLINE, ROADMAP's
# over-baseline rows and the rows direction B touches, what fits the run
# budget; perfbench/BASELINE.md lists what was left out and why.
BATCH_SET = {
    "q_mart_daily_sql": "iot",
    "q_rolling_7d": "iot",
    "q_topk_per_group": "iot",
    "q_quality_ratios": "iot",
    "q_serve_latest": "iot",
    "q_serve_analytics": "iot",
    "q_join_broadcast": "relational",
    "q_join_anti": "relational",
    "q_part_supplier_count": "relational",
    "q_embed_outliers": "corpus",
    "q_embed_knn_lsh": "corpus",
    "q_source_cap": "corpus",
    "q_text_stats": "corpus",
}
FAMILIES = ("iot", "relational", "corpus")
RUNS_PER_QUERY = 2
WARMUP_QUERY = "q_incremental_scan"  # set-up's warm-up: a short events scan outside the set
WORKLOADS = ("stream_ingest", "batch_queries")


def seconds_of(interval: str) -> int:
    """'1 minute' -> 60."""
    n, unit = interval.split()
    return int(n) * {"second": 1, "minute": 60, "hour": 3600}[unit.rstrip("s")]


# Main-query micro-batch time at the parent commit on a 4-core host; sizes
# the drain so that it lasts about --seconds.
STREAM_BATCH_S = 2.0
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
WATERMARK_S = seconds_of(pipeline.WATERMARK_DELAY)
WINDOW_S = seconds_of(pipeline.WINDOW_DURATION)
LATE_FILTER_LAG = 2  # batch N drops rows at or below the watermark after batch N-2

# The calibration probe: a small aggregation with a shuffle, planned,
# compiled and scheduled like a short query (about 0.15 s on an idle 4-core
# host).  It runs before and after the measured window and is recorded in
# the detail only; no figure is divided by it.
PROBE_ROWS = 1_000_000
PROBES = 4

# Public functions of the layers that queries reach through module-level
# names; the traced run wraps each where a package module binds it.
TRACED_FUNCTIONS = (
    ("sources", "load_table"),
    ("serving", "sensors_latest_frame"),
    ("serving", "sensor_analytics_frame"),
)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    work_per_s: float = 0.0  # input rows (stream) or queries (batch) per second
    op_p50_s: float = 0.0  # median micro-batch (stream) or query (batch) time
    cpu_s_per_op: float = 0.0  # process-tree CPU time per micro-batch or per query
    detail: dict = field(default_factory=dict)  # named figures: name -> (value, unit), and samples
    layers: dict = field(default_factory=dict)  # per-layer figures (traced)
    primary: float = 0.0  # figure compared between the untraced and traced halves


class Bench:
    """Session lifecycle and run-wide state of one benchmark process."""

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.spark = None
        self.builds = 0
        self.progress = ProgressCollector()
        self.event_log_dir: str | None = None
        self.probes: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def build(self, event_log: bool = False) -> None:
        """(Re)build the session.  The first build launches the JVM; later
        ones reuse it, as a long-lived Spark application would."""
        from real_time_iot_data_engineering_pipeline_spark.session import build_session

        self.stop()
        self.builds += 1
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            self.event_log_dir = self.path(f"eventlog-{self.builds}")
            os.makedirs(self.event_log_dir)
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"  # zstandard is not installed
        self.spark = build_session(app_name=f"perfbench-{self.builds}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.progress)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def probe(self) -> None:
        """Time the calibration job, outside the measured window."""
        self.spark.sparkContext.setJobGroup("probe", "calibration job")
        t0 = time.perf_counter()
        self.spark.range(0, PROBE_ROWS, numPartitions=4).selectExpr("id % 97 AS k", "id").groupBy(
            "k"
        ).sum("id").collect()
        self.probes.append(time.perf_counter() - t0)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_and_fold_event_log(self) -> dict:
        """Stop the traced session, which flushes its event log, and fold it."""
        self.stop()
        return read_event_log(self.event_log_dir)


# ---------------------------------------------------------------------------
# Tracing hooks: spans around the calls into each layer's public functions


@contextmanager
def instrumented(tracer: Tracer):
    """For the duration, record a span around every call of
    TRACED_FUNCTIONS (as bound in every package module) and of
    `KeyedParquetSink.upsert`, and count the sink's write retries."""
    from importlib import import_module

    from real_time_iot_data_engineering_pipeline_spark import sinks
    from real_time_iot_data_engineering_pipeline_spark.sinks import retry

    restore = []
    for layer, name in TRACED_FUNCTIONS:
        original = getattr(import_module(f"{PKG}.{layer}"), name)
        traced = tracer.wrap(f"{layer}.{name}", original)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PKG) and getattr(m, name, None) is original:
                setattr(m, name, traced)
                restore.append((m, name, original))
    original_retry = retry.with_retry

    def counting_retry(fn, *args, **kwargs):
        attempts = original_retry(fn, *args, **kwargs)
        tracer.count("sinks.retries", attempts - 1)
        return attempts

    restore += [
        (sinks.KeyedParquetSink, "upsert", sinks.KeyedParquetSink.upsert),
        (retry, "with_retry", original_retry),
    ]
    sinks.KeyedParquetSink.upsert = tracer.wrap("sinks.upsert", sinks.KeyedParquetSink.upsert)
    retry.with_retry = counting_retry
    try:
        yield
    finally:
        for owner, name, original in restore:
            setattr(owner, name, original)


def empty_layers() -> dict[str, float]:
    """Every per-layer figure at zero: a layer the workload does not reach
    reports no work."""
    return {name: 0.0 for name, _, _ in PER_LAYER}


def common_layers(tracer: Tracer, folded: dict, groups, per: float) -> dict[str, float]:
    """Span and event-log figures shared by both workloads, divided by `per`
    (measured passes or drains)."""
    loads = tracer.totals("sources.load_table")
    out = {"sources.load_table_calls": len(loads) / per, "sources.load_table_s": sum(loads) / per}
    out.update(spark_layers(folded, groups, per))
    self_t = tracer.self_times()
    for layer in LAYERS:
        out[f"{layer}.self_s"] = sum(v for k, v in self_t.items() if k.split(".")[0] == layer) / per
    upserts = tracer.totals("sinks.upsert")
    out["sinks.upsert_calls"] = len(upserts) / per
    out["sinks.upsert_s"] = median(upserts)
    out["sinks.retries"] = tracer.counts.get("sinks.retries", 0.0) / per
    return out


# ---------------------------------------------------------------------------
# stream_ingest


def simulate_stream(truth: gen.StreamTruth):
    """Expected aggregates of the topology's main path, from the generator's
    ground truth: valid readings, duplicates removed, and rows at or below
    the late-event watermark (LATE_FILTER_LAG batches back) dropped.  Returns
    ({(user, window_start_s): (count, sum, min, max, event_type)}, dropped)."""
    aggs: dict[tuple[int, int], list] = {}
    wm_after: list[int | None] = []
    max_ts = None
    dropped = 0
    for n, rows in enumerate(truth.valid):
        late_wm = wm_after[n - LATE_FILTER_LAG] if n >= LATE_FILTER_LAG else None
        for user, _eid, ts_ms, value, etype in rows:
            if late_wm is not None and ts_ms <= late_wm:
                dropped += 1
                continue
            key = (user, (ts_ms // 1000) // WINDOW_S * WINDOW_S)
            a = aggs.get(key)
            if a is None:
                aggs[key] = [1, value, value, value, etype]
            else:
                a[0] += 1
                a[1] += value
                a[2] = min(a[2], value)
                a[3] = max(a[3], value)
        if rows:
            batch_max = max(r[2] for r in rows)
            max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
        wm_after.append(None if max_ts is None else max_ts - WATERMARK_S * 1000)
    return {k: tuple(v) for k, v in aggs.items()}, dropped


def check_stream(res, truth: gen.StreamTruth, main: list[dict]) -> list[str]:
    """Compare the drain's outputs with the generator's ground truth."""
    from pyspark.sql import functions as F

    def close(a: float, b: float) -> bool:
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))

    problems = []
    dlq = res.read_dlq().count()
    if dlq != truth.invalid:
        problems.append(f"dlq rows {dlq} != injected invalid {truth.invalid}")
    expected, dropped = simulate_stream(truth)
    reported = sum(
        op.get("numRowsDroppedByWatermark", 0) for p in main for op in p.get("stateOperators", ())
    )
    if reported != dropped:
        problems.append(f"numRowsDroppedByWatermark {reported} != recomputed {dropped}")
    rows = res.aggregates.read().select(
        "user_id", F.col("window_start").cast("long").alias("ws"), "count",
        "sum_value", "min_value", "max_value", "avg_value", "event_type",
    ).collect()
    got = {(r.user_id, r.ws): r for r in rows}
    if set(got) != set(expected):
        problems.append(f"aggregate keys differ: {len(set(got) ^ set(expected))} keys")
    bad = sum(
        1
        for key, (cnt, s, lo, hi, etype) in expected.items()
        if key in got
        and not (
            got[key]["count"] == cnt and got[key].min_value == lo and got[key].max_value == hi
            and got[key].event_type == etype and close(got[key].sum_value, s)
            and close(got[key].avg_value, s / cnt)
        )
    )
    if bad:
        problems.append(f"{bad} aggregate rows differ from the recomputation")
    if sum(r["count"] for r in rows) + reported != sum(len(v) for v in truth.valid):
        problems.append("valid rows != aggregated + dropped by watermark")
    return problems


def progress_start(p: dict) -> float:
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def stream_ingest(b: Bench, seconds: float, tracer: Tracer | None, half: int) -> Outcome:
    """Drain about `seconds` worth of trigger files through the topology.
    Each half of a run drains its own slice of the seed's stream."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology

    n_files = 1 + max(3, math.ceil(seconds / STREAM_BATCH_S))
    src, out = b.path(f"stream-src-{half}"), b.path(f"stream-out-{half}")
    truth = gen.write_stream_files(src, b.seed, n_files, first=5_000 * half)
    b.progress.clear()
    with instrumented(tracer) if tracer is not None else nullcontext():
        if tracer is not None:
            tracer.op = f"drain-{half}"
        with tracer.span("streaming.run_topology") if tracer is not None else nullcontext():
            res = run_topology(b.spark, src, out)
    end = time.time()
    b.progress.wait_for("topology-main", n_files - 1)
    b.progress.wait_for("topology-dlq", n_files - 1)
    main = [p for p in b.progress.batches("topology-main") if p["numInputRows"] > 0]
    dlq = [p for p in b.progress.batches("topology-dlq") if p["numInputRows"] > 0]
    first_end = progress_start(main[0]) + main[0]["durationMs"]["triggerExecution"] / 1e3
    rest = main[1:]
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in rest]
    problems = check_stream(res, truth, main)
    for p in problems:
        print(f"perfbench: stream check: {p}", file=sys.stderr)

    o = Outcome(attempted=len(main), failed=len(main) if problems else 0)
    o.work_per_s = sum(p["numInputRows"] for p in rest) / (end - first_end)
    o.op_p50_s = o.primary = median(batch_s)
    o.cpu_s_per_op = (main[-1]["cpu_s"] - main[0]["cpu_s"]) / len(rest)
    tail_v, tail_p, tail_n = tail(batch_s)
    o.detail = {
        "stream_rows_per_s": (o.work_per_s, "1/s"),
        "stream_batch_p50_s": (o.op_p50_s, "s"),
        "stream_batch_tail_s": (tail_v, "s"),
        "stream_batch_tail_percentile": tail_p,
        "stream_batches_measured": tail_n,
        "stream_files": n_files,
        "stream_input_rows": truth.rows,
        "injected": truth.counts,
        "problems": problems,
    }
    if tracer is not None:
        current = res.aggregates._current()
        table_rows = res.aggregates.read().count()
        files = sum(1 for _, _, ns in os.walk(current) for n in ns if n.endswith(".parquet"))
        folded = b.stop_and_fold_event_log()
        layers = common_layers(tracer, folded, {p["runId"] for p in main + dlq}, 1.0)
        layers["streaming.first_batch_s"] = main[0]["durationMs"]["triggerExecution"] / 1e3
        for qname, prog in (("main", rest), ("dlq", dlq[1:])):
            for ph in STREAM_PHASES:
                layers[f"streaming.{qname}.{ph}_s"] = median(p["durationMs"].get(ph, 0) / 1e3 for p in prog)
        last_ops = main[-1].get("stateOperators", ())
        layers["streaming.jobs_per_batch"] = sum_groups(folded, {p["runId"] for p in main})["jobs"] / len(main)
        layers["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in last_ops)
        layers["streaming.state_mem_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in last_ops)
        layers["streaming.rows_dropped_by_watermark"] = sum(
            op.get("numRowsDroppedByWatermark", 0) for p in main for op in p.get("stateOperators", ())
        )
        layers["streaming.valid_frac"] = sum(len(v) for v in truth.valid) / truth.rows
        layers["streaming.batch_p50_s"] = median(batch_s)
        layers["streaming.batch_tail_s"] = tail_v
        layers["streaming.rows_per_s"] = o.work_per_s
        layers["sinks.table_rows"] = table_rows
        layers["sinks.version_files"] = files
        o.layers = layers
    return o


def stream_warmup(b: Bench) -> None:
    """Start and stop the topology's queries over an empty source: the
    per-deploy query start-up, without a micro-batch (the drain's first
    batch is the cold one, and is reported on its own)."""
    from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology

    src = b.path(f"stream-src-warm-{b.builds}")
    os.makedirs(src)
    run_topology(b.spark, src, b.path(f"stream-out-warm-{b.builds}"))


# ---------------------------------------------------------------------------
# batch_queries


def batch_correctness(b: Bench, fixture: str) -> tuple[set[str], dict[str, float]]:
    """Run each query once, collected, against its DuckDB oracle (row count
    and order-insensitive values); this also warms every query up.  Returns
    the names that failed and each query's time, oracle included."""
    from real_time_iot_data_engineering_pipeline_spark import registry
    from tests.oracle_utils import compare, duck_connection

    con = duck_connection(fixture)
    con.execute("SET memory_limit = '2GB'")  # the oracle runs inside this process
    failed, took = set(), {}
    for name in BATCH_SET:
        t0 = time.perf_counter()
        try:
            got = registry.QUERIES[name](b.spark, fixture).toPandas()
            problems = compare(got, con.execute(registry.ORACLES[name]).fetchdf())
        except Exception as exc:  # a query that raises is a failed op, reported
            problems = [repr(exc)]
        took[name] = time.perf_counter() - t0
        if problems:
            print(f"perfbench: {name} does not match its oracle: {problems[0][:300]}", file=sys.stderr)
            failed.add(name)
    con.close()
    return failed, took


def traced_query(tracer: Tracer, sc, op: str, fn, spark, fixture: str) -> float:
    """Build, plan and execute one query, each step under its own job group
    and span; returns the analysis + optimization + planning time read from
    the QueryExecution tracker."""
    tracer.op = op
    sc.setJobGroup(f"{op}:build", op)
    with tracer.span("queries.build"):
        df = fn(spark, fixture)
    sc.setJobGroup(f"{op}:plan", op)
    with tracer.span("spark.plan"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    phases = qe.tracker().phases()
    plan = 0.0
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            p = phases.apply(k)
            plan += (p.endTimeMs() - p.startTimeMs()) / 1e3
    sc.setJobGroup(f"{op}:exec", op)
    with tracer.span("spark.exec"):
        df.write.format("noop").mode("overwrite").save()
    return plan


def batch_queries(b: Bench, seconds: float, tracer: Tracer | None, half: int,
                  fixture: str, failed_names: set[str]) -> Outcome:
    """Run the set in seeded orders, one permutation after another, until
    `seconds` have passed and every query has run at least RUNS_PER_QUERY
    times."""
    from real_time_iot_data_engineering_pipeline_spark import registry

    queries = BATCH_SET
    sc = b.spark.sparkContext
    samples: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    ops: list[tuple[str, str]] = []  # (op id, query)
    failed_ops = set()  # raised, or the query failed its oracle check
    plan_s: list[float] = []
    t_start = time.perf_counter()
    rng = random.Random(b.seed * 1000 + half)
    with instrumented(tracer) if tracer is not None else nullcontext():
        def done() -> bool:
            return (time.perf_counter() - t_start >= seconds
                    and all(len(samples[n]) >= RUNS_PER_QUERY for n in queries))

        while not done():
            order = list(queries)
            rng.shuffle(order)
            for name in order:
                if done():
                    break
                fn = registry.QUERIES[name]
                op = f"h{half}n{len(ops)}.{name}"
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    if tracer is None:
                        fn(b.spark, fixture).write.format("noop").mode("overwrite").save()
                    else:
                        plan_s.append(traced_query(tracer, sc, op, fn, b.spark, fixture))
                except Exception as exc:  # counted as a failed op, and reported
                    print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
                    failed_ops.add(op)
                samples[name].append(time.perf_counter() - t0)
                cpu[name].append(tree_cpu_s() - c0)
                ops.append((op, name))
                if name in failed_names:
                    failed_ops.add(op)

    # Figures of one balanced pass, each query at its fastest run, so that
    # which queries the time-boxed loop happened to repeat does not weigh
    # in, and a query's run slowed by the host is set aside (as bench.py's
    # min-of-2).
    per_query = {n: min(samples[n]) for n in queries}
    fam = {f: sum(t for n, t in per_query.items() if queries[n] == f) for f in FAMILIES}
    o = Outcome(attempted=len(ops), failed=len(failed_ops))
    o.primary = sum(per_query.values())
    o.work_per_s = len(queries) / o.primary
    o.op_p50_s = median(per_query.values())
    o.cpu_s_per_op = sum(min(cpu[n]) for n in queries) / len(queries)
    o.detail = {
        "batch_pass_s": (o.primary, "s"),
        **{f"batch_{f}_s": (t, "s") for f, t in fam.items()},
        "per_query_s": per_query,
        "per_query_runs": {n: len(samples[n]) for n in queries},
        "oracle_mismatches": sorted(failed_names),
    }
    if tracer is not None:
        folded = b.stop_and_fold_event_log()
        passes = len(ops) / len(queries)
        groups = [f"{op}:{step}" for op, _ in ops for step in ("build", "plan", "exec")]
        layers = common_layers(tracer, folded, groups, passes)
        layers["queries.build_s"] = sum(tracer.totals("queries.build")) / passes
        layers["spark.plan_s"] = sum(plan_s) / passes
        layers["spark.exec_s"] = sum(tracer.totals("spark.exec")) / passes
        family_of = {op: queries[name] for op, name in ops}
        for f in fam:
            for span, figure in (("queries.build", "queries.build_s"), ("spark.exec", "spark.exec_s")):
                layers[f"{figure}.{f}"] = sum(
                    s.end - s.start for s in tracer.spans if s.name == span and family_of[s.op] == f
                ) / passes
            layers[f"spark.task_cpu_s.{f}"] = sum_groups(
                folded, [f"{op}:exec" for op, name in ops if queries[name] == f]
            )["task_cpu_s"] / passes
        o.layers = layers
        o.detail["per_query_exec"] = {
            n: spark_layers(folded, [f"{op}:{s}" for op, q in ops if q == n for s in ("build", "plan", "exec")],
                            len(samples[n]))
            for n in queries
        }
    return o


def batch_warmup(b: Bench, fixture: str) -> None:
    from real_time_iot_data_engineering_pipeline_spark import registry

    registry.QUERIES[WARMUP_QUERY](b.spark, fixture).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Per-layer figures printed by a traced run: (name, unit, better).  Counts
# and seconds are per measured pass of a batch workload's queries or per
# drain (stream_ingest); _p50 figures are medians over ops.

LAYERS = ("sources", "queries", "serving", "spark", "streaming", "sinks")
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("sources.load_table_calls", "count", "lower"),
    ("sources.load_table_s", "s", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.eager_jobs", "count", "lower"),
    *((f"queries.build_s.{f}", "s", "lower") for f in FAMILIES),
    ("spark.plan_s", "s", "lower"),
    ("spark.exec_s", "s", "lower"),
    *((f"spark.exec_s.{f}", "s", "lower") for f in FAMILIES),
    *((f"spark.task_cpu_s.{f}", "s", "lower") for f in FAMILIES),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_records", "count", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("streaming.first_batch_s", "s", "lower"),
    *((f"streaming.{q}.{ph}_s", "s", "lower") for q in ("main", "dlq") for ph in STREAM_PHASES),
    ("streaming.jobs_per_batch", "count", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_bytes", "B", "lower"),
    ("streaming.rows_dropped_by_watermark", "count", "lower"),
    ("streaming.valid_frac", "frac", "higher"),
    ("streaming.batch_p50_s", "s", "lower"),
    ("streaming.batch_tail_s", "s", "lower"),
    ("streaming.rows_per_s", "1/s", "higher"),
    ("sinks.upsert_s", "s", "lower"),
    ("sinks.upsert_calls", "count", "lower"),
    ("sinks.table_rows", "count", "lower"),
    ("sinks.version_files", "count", "lower"),
    ("sinks.retries", "count", "lower"),
    *((f"{layer}.self_s", "s", "lower") for layer in LAYERS),
    ("trace.overhead_frac", "frac", "lower"),
)

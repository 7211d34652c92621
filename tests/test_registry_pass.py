"""One registry pass: every registered query is built and run once at the
test fixture and once on a xK replica of it (scripts/make_scale_fixture.py),
and the registry-wide checks read those runs instead of rebuilding.

Per query and leg the pass records three work counters, counting the jobs
a query launches while its DataFrame is built:

- `rows`: rows returned;
- `shuffle_records`: shuffle records written by the leg's jobs;
- `largest_operator`: the largest "number of output rows" of any SQL
  operator the leg ran.

For fixed fixtures and pinned partitioning these do not depend on host
speed, so the scale guard below cannot flip on host drift.  The fixture
leg also keeps the executed plan (taken before the run), the schema and
the result frame: test_oracle_parity.py compares the frames against DuckDB
and checks the schemas.  A query that raises is recorded with its error
and fails only its own parity test.
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import traceback
import uuid
from dataclasses import dataclass, field

import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from real_time_iot_data_engineering_pipeline_spark import registry
from real_time_iot_data_engineering_pipeline_spark.queries import text

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from make_scale_fixture import replicate  # noqa: E402

registry.load_all()

K = 10
# A counter that stays below FLOOR on the replica is too small to read a
# growth rate from (one returned row, a handful of shuffle records).
FLOOR = 1_000
LINEAR_BOUND = 2 * K
SUPERLINEAR_BOUND = 2 * K * K
# Known super-linear queries, each with its algorithmic reason.  An entry
# must still read above LINEAR_BOUND, so fixing a query forces its removal.
SUPERLINEAR = {
    "q_embed_near_dup": "fixed 12-bit SRP band keys: random corpus x corpus "
    "bucket collisions grow as N^2 / 2^12",
    "q_semantic_decontaminate": "fixed 12-bit SRP band keys and an eval "
    "split that is a fixed share of the corpus: collisions grow as N^2 / 2^12",
    "q_embed_dedup_incremental": "fixed 12-bit SRP band keys: delta x store "
    "collisions grow as N^2 / 2^12",
    "q_semantic_dedup": "the largest operator is the N x k seed assignment, "
    "and k = ceil(N / PER_CLUSTER) grows with N",
}
COUNTERS = ("rows", "shuffle_records", "largest_operator")


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def _shuffle_records(sc, group: str) -> int:
    store = sc._jsc.sc().statusStore()
    stages = {
        int(s)
        for job in sc.statusTracker().getJobIdsForGroup(group)
        for s in store.job(job).stageIds().mkString(",").split(",")
        if s
    }
    total = 0
    for s in stages:
        try:
            total += store.lastStageAttempt(s).shuffleWriteRecords()
        except Py4JJavaError as e:
            # Past spark.ui.retainedStages the store evicts skipped stages
            # first (they have no completion time); they wrote nothing.
            if "NoSuchElementException" not in str(e):
                raise
    return total


def _largest_operator(spark, store, after: int) -> int:
    """Largest "number of output rows" over the SQL executions with an id
    above `after`.  Each execution is serialized to a file by Jackson:
    a py4j reply larger than ~8 KB stalls ~40 ms on a delayed TCP ACK."""
    jvm = spark._jvm
    scala_module = getattr(jvm, "com.fasterxml.jackson.module.scala.DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        getattr(scala_module, "MODULE$")
    )
    largest = 0
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "execution.json")
        for eid in range(after + 1, _last_execution_id(store) + 1):
            execution = store.execution(eid)
            if execution.isEmpty():
                continue
            mapper.writeValue(jvm.java.io.File(path), execution.get())
            with open(path) as f:
                data = json.load(f)
            values = data["metricValues"] or {}
            for m in data["metrics"]:
                value = values.get(str(m["accumulatorId"]))
                if m["name"] == "number of output rows" and value is not None:
                    largest = max(largest, int(value.replace(",", "")))
    return largest


def measure(spark, build) -> tuple[pd.DataFrame, dict[str, int]]:
    """Build `build()`'s DataFrame and collect it with toPandas(); return
    the frame and the counters of every job and SQL execution that took."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    group = f"registry-pass-{uuid.uuid4().hex}"
    after = _last_execution_id(store)
    sc.setJobGroup(group, group)
    try:
        frame = build().toPandas()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return frame, {
        "rows": len(frame),
        "shuffle_records": _shuffle_records(sc, group),
        "largest_operator": _largest_operator(spark, store, after),
    }


def growth(base: dict[str, int], scaled: dict[str, int]) -> dict[str, float]:
    """scaled / base for every counter that reaches FLOOR on the replica."""
    return {
        c: scaled[c] / base[c] if base[c] else math.inf
        for c in COUNTERS
        if scaled[c] >= FLOOR
    }


@dataclass
class Run:
    plan: str = ""
    schema: StructType | None = None
    frame: pd.DataFrame | None = None
    base: dict[str, int] = field(default_factory=dict)
    scaled: dict[str, int] = field(default_factory=dict)
    error: str | None = None
    scaled_error: str | None = None


@dataclass
class RegistryPass:
    runs: dict[str, Run]
    cache_empty: bool


def run_registry_pass(spark, sf_dir: str, scratch: str) -> RegistryPass:
    replica = os.path.join(scratch, f"x{K}")
    replicate(sf_dir, replica, K)
    # Path-keyed caches fill on a fixture's first call: the incremental
    # stores (text._fixture_store) and q_knn_classify's eval broadcast.
    # Fill them on both legs first so that neither leg counts the fill.
    for d in (sf_dir, replica):
        text.cc_standing_store(spark, d)
        text.cc_band_store(spark, d)
        registry.QUERIES["q_knn_classify"](spark, d)
    runs = {}
    for name, fn in registry.QUERIES.items():
        run = runs[name] = Run()

        def build(fn=fn, run=run):
            df = fn(spark, sf_dir)
            run.plan = df._jdf.queryExecution().executedPlan().toString()
            run.schema = df.schema
            return df

        try:
            run.frame, run.base = measure(spark, build)
        except Exception:
            run.error = traceback.format_exc()
            continue
        try:
            _, run.scaled = measure(spark, lambda fn=fn: fn(spark, replica))
        except Exception:
            run.scaled_error = traceback.format_exc()
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return RegistryPass(runs, cache_empty)


def test_no_query_grows_superlinearly(registry_pass):
    """Every counter that reaches FLOOR on the xK replica grows at most
    2K; a SUPERLINEAR entry grows more than 2K and at most 2K^2."""
    assert list(registry_pass.runs) == list(registry.QUERIES)
    assert set(SUPERLINEAR) <= set(registry.QUERIES), "stale SUPERLINEAR entry"
    problems = []
    for name, run in registry_pass.runs.items():
        if run.error:  # fails its own parity test
            continue
        if run.scaled_error:
            problems.append(f"{name}: x{K} leg raised\n{run.scaled_error}")
            continue
        g = growth(run.base, run.scaled)
        worst = max(g.values(), default=0.0)
        detail = f"{name}: {run.base} -> {run.scaled}"
        if name not in SUPERLINEAR:
            if worst > LINEAR_BOUND:
                problems.append(f"super-linear {detail}")
        elif worst <= LINEAR_BOUND:
            problems.append(f"now linear, drop its SUPERLINEAR entry: {detail}")
        elif worst > SUPERLINEAR_BOUND:
            problems.append(f"beyond {SUPERLINEAR_BOUND}x: {detail}")
    assert not problems, "\n".join(problems)


def _self_join_mod3(spark, n: int):
    a = spark.range(n)
    b = spark.range(n).withColumnRenamed("id", "j")
    return a.join(b, F.col("id") % 3 == F.col("j") % 3).groupBy().count()


def test_growth_flags_a_quadratic_operator_only(spark):
    """A self-join on id % 3 returns one row and shuffles linearly, but its
    join emits ~n^2/3 rows; a groupBy's counters grow at most linearly."""
    (_, b), (_, s) = (
        measure(spark, lambda n=n: _self_join_mod3(spark, n))
        for n in (1_000, 1_000 * K)
    )
    assert (b["largest_operator"], s["rows"]) == (333_334, 1)
    assert set(growth(b, s)) == {"largest_operator"}
    assert growth(b, s)["largest_operator"] > LINEAR_BOUND

    (_, b), (_, s) = (
        measure(spark, lambda n=n: spark.range(n).groupBy(F.col("id") % 100).count())
        for n in (1_000, 1_000 * K)
    )
    assert growth(b, s) == {"largest_operator": K}


def test_pass_leaves_no_cached_data(registry_pass):
    """Queries materialize with an eager localCheckpoint, whose blocks go
    with the plan; a bare persist() outlives the query and lets later
    calls in the session read its blocks instead of doing the work."""
    assert registry_pass.cache_empty


def test_repeat_call_does_the_same_work(spark, sf_dir):
    """A second call of a query does the same work as the first: nothing
    it materialized survives it.  The cache is emptied first so that the
    first call cannot read blocks an earlier test left behind."""
    spark.catalog.clearCache()
    q = registry.QUERIES["q_semantic_dedup"]
    (_, first), (_, second) = (measure(spark, lambda: q(spark, sf_dir)) for _ in range(2))
    for c in ("rows", "largest_operator"):
        assert first[c] == second[c], (c, first, second)


def test_no_cartesian_or_unbroadcast_nlj_anywhere(registry_pass):
    """No registered query's physical plan may contain a CartesianProduct
    or a non-broadcast nested-loop join: the two shapes that turn a working
    sf0.01 query into an unrunnable 100 TB one."""
    offenders = []
    for name, run in registry_pass.runs.items():
        if "CartesianProduct" in run.plan:
            offenders.append(f"{name}: CartesianProduct")
        for line in run.plan.splitlines():
            if "NestedLoopJoin" in line and "BroadcastNestedLoopJoin" not in line:
                offenders.append(f"{name}: {line.strip()[:120]}")
    assert not offenders, offenders

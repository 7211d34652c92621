"""The entry-point contract: `__spark_entry__.py`, loaded by file path the
way an external harness loads it, exposes exactly the registry."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry

ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
ORACLE_UTILS = Path(__file__).resolve().parent / "oracle_utils.py"

# The queries whose Python workers run a function of the package
# (mapInPandas over a module-level body).
WORKER_QUERIES = (
    "q_misra_gries",
    "q_ttl_dedup",
    "q_multimodal_features",
    "q_multimodal_framesample",
    "q_multimodal_resize",
)

# A driver's session as an external harness builds it: Spark's default ANSI,
# a non-UTC zone, no build_session, and the entry file loaded by path, so
# the repo reaches the driver's sys.path through that file alone.  Prints
# {query: compare problems, or the error it raised} as JSON.
DRIVER_LEG = """
import importlib.util, json, sys
from pyspark.sql import SparkSession

def load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod

entry_path, oracle_utils_path, sf_dir, *names = sys.argv[1:]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.ui.enabled", "false").getOrCreate())
entry = load("__spark_entry__", entry_path)
ou = load("oracle_utils", oracle_utils_path)
con = ou.duck_connection(sf_dir)
queries, oracles = entry.queries(), entry.oracle_sql()
problems = {}
for name in names:
    try:
        got = queries[name](spark, sf_dir).toPandas()
        problems[name] = ou.compare(got, con.execute(oracles[name]).fetchdf())[:3]
    except Exception as exc:
        problems[name] = [str(exc).strip().splitlines()[-1][:300]]
spark.stop()
print(json.dumps(problems))
"""


@pytest.fixture(scope="module")
def entry_module():
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_contract_matches_registry(entry_module):
    assert set(entry_module.queries()) == set(registry.QUERIES)
    assert set(entry_module.oracle_sql()) == set(registry.ORACLES)
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_load_all_keeps_registration_order(entry_module):
    queries, oracles = list(registry.QUERIES), list(registry.ORACLES)
    registry.load_all()
    assert list(registry.QUERIES) == queries
    assert list(registry.ORACLES) == oracles


def test_fresh_load_lists_queries_in_module_order():
    # In a fresh interpreter, as a harness runs it, load_all is the first
    # importer, so queries() follows _QUERY_MODULES.  (Inside pytest other
    # test modules import query modules first, so only a subprocess shows it.)
    script = (
        "import importlib.util, json\n"
        f"spec = importlib.util.spec_from_file_location('e', {str(ENTRY)!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "print(json.dumps([f.__module__ for f in m.queries().values()]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, check=True
    ).stdout
    pkg = registry.__name__.rsplit(".", 1)[0]
    rank = {f"{pkg}.{m}": i for i, m in enumerate(registry._QUERY_MODULES)}
    modules = [rank[m] for m in json.loads(out.splitlines()[-1])]
    assert len(modules) == len(registry.QUERIES)
    assert modules == sorted(modules), "queries() is not in module order"


def test_entry_returns_rows(entry_module, spark):
    assert entry_module.entry(spark).count() > 0


def test_worker_queries_run_from_any_working_directory(sf_dir, tmp_path):
    """A driver running from outside the repo: every query whose Python
    worker runs a package function still matches its DuckDB oracle.  The
    worker cannot import the package there, so the function must travel
    by value (registry.load_all)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    run = subprocess.run(
        [sys.executable, "-c", DRIVER_LEG, str(ENTRY), str(ORACLE_UTILS), sf_dir, *WORKER_QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    problems = json.loads(run.stdout.splitlines()[-1])
    assert sorted(problems) == sorted(WORKER_QUERIES)
    assert {name: p for name, p in problems.items() if p} == {}


# A driver that puts the repo on its own sys.path (no PYTHONPATH) and runs
# the topology with a stateful branch from another directory.  Prints
# {"sample": rows read back} as JSON, or {"error": the last line raised}.
STREAM_LEG = """
import json, os, sys
repo, src, out = sys.argv[1:]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession
from real_time_iot_data_engineering_pipeline_spark.streaming.topology import run_topology
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
os.makedirs(src)
with open(os.path.join(src, "f1.json"), "w") as f:
    for i in range(5):
        f.write(json.dumps({"event_id": i, "ts": f"2024-01-19 10:00:0{i}", "user_id": 1,
                            "event_type": "click", "value": 2.0, "props": '{"k": 1}'}) + "\\n")
try:
    result = run_topology(spark, src, out, with_sampler=True)
    print(json.dumps({"sample": result.read("sample").count()}))
except Exception as exc:
    print(json.dumps({"error": str(exc).strip().splitlines()[-1][:300]}))
spark.stop()
"""


def test_stateful_stream_branches_run_from_any_working_directory(tmp_path):
    """A driver outside the repo that imports the package from its own
    sys.path: the sampler's applyInPandasWithState fold reaches the Python
    worker by value, because importing the package registers it for
    pickling by value, with no registry.load_all in the process."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    run = subprocess.run(
        [sys.executable, "-c", STREAM_LEG, str(ENTRY.parent), str(tmp_path / "src"),
         str(tmp_path / "out")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert json.loads(run.stdout.splitlines()[-1]) == {"sample": 5}

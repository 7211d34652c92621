"""The entry-point contract: `__spark_entry__.py`, loaded by file path the
way an external harness loads it, exposes exactly the registry."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry

ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


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

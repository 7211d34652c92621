"""Every registered query with an oracle must hash-match DuckDB on the same
fixtures — the local twin of the driver's CORRECTNESS gate.

Run at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
to reproduce the driver's exact scale.
"""

from __future__ import annotations

import pytest

from real_time_iot_data_engineering_pipeline_spark import registry
from .oracle_utils import compare, duck_connection

registry.load_all()

_WITH_ORACLE = sorted(registry.ORACLES)
_ROWS_ONLY = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(registry_pass, duck, name):
    run = registry_pass.runs[name]
    assert run.error is None, f"{name} raised:\n{run.error}"
    ddf = duck.execute(registry.ORACLES[name]).fetchdf()
    problems = compare(run.frame, ddf)
    assert not problems, f"{name}: " + " | ".join(problems)


# Both queries switch to a cluster-scale bucketed plan above a size
# threshold, so fixture sizes bypass it; force it here so BOTH paths stay
# oracle-exact.  q_token_budget_pack's bucketed running sum is two-phase;
# integer token sums make it bit-identical, not merely ULP-close.
@pytest.mark.parametrize("name", ["q_rank_per_group", "q_token_budget_pack"])
def test_bucketed_scale_path_parity(spark, sf_dir, duck, monkeypatch, name):
    monkeypatch.setenv("SPARK_GRAFT_SCALE_SWITCH_BYTES", "0")
    sdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.execute(registry.ORACLES[name]).fetchdf()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}[bucketed]: " + " | ".join(problems)


def test_rows_only_queries_run(registry_pass):
    """Queries without an oracle must still produce a non-trivial result,
    not merely avoid throwing.  Currently EVERY registered query is
    oracle-checked, so the loop is vacuously green — written this way
    (not parametrized) so an empty set reads as a pass on the stronger
    invariant instead of a perpetual pytest skip."""
    for name in _ROWS_ONLY:
        run = registry_pass.runs[name]
        assert run.error is None, f"{name} raised:\n{run.error}"
        assert len(run.schema.fields) > 0, name
        assert run.base["rows"] > 0, name


def test_registered_query_schemas_are_atomic(registry_pass):
    """The driver's canonicalizer pandas-sorts and hashes the result frame;
    a top-level array/map/struct column is unhashable there and errors the
    row (q_quality_ensemble, round-7 correctness run).  Guard the whole class:
    every registered query must return only atomic top-level columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = [
        f"{name}.{f.name}:{f.dataType.simpleString()}"
        for name, run in registry_pass.runs.items()
        if run.schema is not None
        for f in run.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not offenders, (
        "non-atomic top-level result columns (serialize with array_join or "
        f"to_json before returning): {offenders}"
    )

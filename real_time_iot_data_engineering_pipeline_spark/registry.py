"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus DuckDB oracle SQL.

Every operator from SURVEY.md §2 with a query id registers here; the driver
(and tests/test_oracle_parity.py) compares each Spark result against its
oracle at sf=0.01 on row count + schema + order-insensitive value hash.

Column-name contract: every computed column is aliased identically in the
Spark query and the oracle SQL (the driver sorts columns by name before
hashing).  Float aggregates are rounded (typically 4 dp) on BOTH sides so
summation-order differences between engines can't flip the hash.

`QUERIES` and `ORACLES` keep registration order; nothing reorders them.
`load_all` imports the query modules in `_QUERY_MODULES` order.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "queries.core",
    "queries.validation",
    "queries.iot",
    "queries.analytics",
    "queries.joins",
    "queries.dedup",
    "queries.incremental",
    "queries.text",
    "queries.similarity",
    "queries.multimodal",
    "queries.marts",
    "queries.windows",
    "queries.prep",
    "queries.curation",
    "queries.report",
    "queries.sketches",
    "queries.temporal",
    "queries.behavior",
    "queries.relational",
    "queries.ranking",
    "queries.corpus",
    "queries.serve",
    "queries.linkage",
    "queries.mining",
    "queries.lexical",
    "queries.stateful_twins",
    "queries.summaries",
    "queries.manifest",
    "queries.embedding_ops",
    "queries.quality",
    "queries.setjoin",
)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; oracle=None means rows-only check (non-SQL-expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module (idempotent)."""
    pkg = __name__.rsplit(".", 1)[0]
    for mod in _QUERY_MODULES:
        import_module(f"{pkg}.{mod}")

"""functions/vectors.py against an independent reference.

Every embedding query and its DuckDB oracle build their vector math from
the same kernel, so a kernel bug would show in both engines at once and
oracle parity could not see it.  Here each Spark form and each DuckDB form
must equal a numpy left fold (p0 + p1 + ... over doubles), bit for bit, on
hostile rows: a zero vector, +-float32-max, mixed signs over a wide
dynamic range (where any change in the order of additions changes the
sum) and subnormals.  Both engines read the same array<float> parquet
file, the way the queries read `embeddings`.
"""

from __future__ import annotations

import itertools

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_iot_data_engineering_pipeline_spark.functions.vectors import (
    DIM,
    as_double_duck,
    as_double_spark,
    dot_duck,
    dot_spark,
    norm_duck,
    norm_spark,
    sqdist_duck,
    sqdist_spark,
    sqnorm_duck,
    sqnorm_spark,
    sum_duck,
    sum_spark,
)

BLOCKS = [(DIM, 0), (DIM // 2, 0), (DIM // 4, DIM // 2)]  # (n, off)


def _hostile_rows() -> list[np.ndarray]:
    i = np.arange(DIM)
    fmax = np.finfo(np.float32).max
    tiny = np.float32(np.finfo(np.float32).smallest_subnormal)
    rng = np.random.default_rng(7)
    wide = rng.normal(size=DIM) * 10.0 ** rng.uniform(-30, 30, size=DIM)
    mixed = wide.copy()
    mixed[::7] = fmax
    mixed[3::11] = -tiny * 5
    return [
        np.zeros(DIM),
        np.where(i % 2 == 0, fmax, -fmax),
        np.full(DIM, -fmax),
        wide,
        np.where(i % 3 == 0, -1.0, 1.0) * (i + 1) * tiny,
        mixed,
    ]


ROWS = [r.astype(np.float32) for r in _hostile_rows()]
PAIRS = list(itertools.product(range(len(ROWS)), repeat=2))


def _fold(terms) -> float:
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return float(acc)


def _expected(a32: np.ndarray, b32: np.ndarray, n: int, off: int) -> dict:
    a = a32.astype(np.float64)[off : off + n]
    b = b32.astype(np.float64)[off : off + n]
    sqnorm = _fold(a * a)
    return {
        "dot": _fold(a * b),
        "sqdist": _fold((a - b) * (a - b)),
        "sqnorm": sqnorm,
        "norm": float(np.sqrt(sqnorm)),
        "sqnorm_cast": sqnorm,
        "norm_cast": float(np.sqrt(sqnorm)),
        "sum": _fold(a),
        "block": [float(x) for x in a],
        "full": [float(x) for x in a32.astype(np.float64)],
    }


def _bits(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_bits(x) for x in v]
    return float(v).hex()


@pytest.fixture(scope="module")
def vec_parquet(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("vectors") / "pairs.parquet")
    f32 = pa.list_(pa.float32())
    table = pa.table(
        {
            "id": pa.array(range(len(PAIRS)), pa.int64()),
            "a": pa.array([ROWS[i].tolist() for i, _ in PAIRS], f32),
            "b": pa.array([ROWS[j].tolist() for _, j in PAIRS], f32),
        }
    )
    pq.write_table(table, path)
    return path


def _spark_rows(spark, path: str, n: int, off: int) -> list[dict]:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(
        "id",
        "a",
        F.expr(as_double_spark("a")).alias("ad"),
        F.expr(as_double_spark("b")).alias("bd"),
    )
    exprs = {
        "dot": dot_spark("ad", "bd", n, off),
        "sqdist": sqdist_spark("ad", "bd", n, off),
        "sqnorm": sqnorm_spark("ad", n, off),
        "norm": norm_spark("ad", n, off),
        "sqnorm_cast": sqnorm_spark("a", n, off, cast=True),
        "norm_cast": norm_spark("a", n, off, cast=True),
        "sum": sum_spark("ad", n, off),
        "block": as_double_spark("a", n, off),
        "full": "ad",
    }
    rows = (
        df.select("id", *[F.expr(e).alias(k) for k, e in exprs.items()])
        .orderBy("id")
        .collect()
    )
    return [r.asDict() for r in rows]


def _duck_rows(path: str, n: int, off: int) -> list[dict]:
    exprs = {
        "dot": dot_duck("ad", "bd", n, off),
        "sqdist": sqdist_duck("ad", "bd", n, off),
        "sqnorm": sqnorm_duck("ad", n, off),
        "norm": norm_duck("ad", n, off),
        "sqnorm_cast": sqnorm_duck("a", n, off, cast=True),
        "norm_cast": norm_duck("a", n, off, cast=True),
        "sum": sum_duck("ad", n, off),
        "block": as_double_duck("a", n, off),
        "full": "ad",
    }
    sql = (
        "SELECT id, "
        + ", ".join(f"{e} AS {k}" for k, e in exprs.items())
        + f" FROM (SELECT id, a, {as_double_duck('a')} AS ad,"
        f" {as_double_duck('b')} AS bd FROM read_parquet('{path}'))"
        " ORDER BY id"
    )
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchdf().to_dict("records")
    finally:
        con.close()


def _check(got: list[dict], n: int, off: int, engine: str) -> None:
    assert len(got) == len(PAIRS)
    bad = []
    for row, (i, j) in zip(got, PAIRS):
        want = _expected(ROWS[i], ROWS[j], n, off)
        for k, v in want.items():
            if _bits(row[k]) != _bits(v):
                bad.append((engine, (n, off), (i, j), k, row[k], v))
    assert not bad, bad[:5]


@pytest.mark.parametrize("n,off", BLOCKS)
def test_spark_forms_equal_the_left_fold(spark, vec_parquet, n, off):
    _check(_spark_rows(spark, vec_parquet, n, off), n, off, "spark")


@pytest.mark.parametrize("n,off", BLOCKS)
def test_duckdb_forms_equal_the_left_fold(vec_parquet, n, off):
    _check(_duck_rows(vec_parquet, n, off), n, off, "duckdb")


def test_the_wide_row_is_order_sensitive():
    """The reference pins the order only if the data can tell orders
    apart: on the wide-range rows the left fold and the reversed fold must
    differ."""
    a = ROWS[3].astype(np.float64)
    p = a * ROWS[5].astype(np.float64)
    assert _fold(p) != _fold(p[::-1]) or _fold(a * a) != _fold((a * a)[::-1])

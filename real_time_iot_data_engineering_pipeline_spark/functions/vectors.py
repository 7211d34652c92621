"""Embedding vector kernel: the float->double cast, dot product, squared
distance, squared norm, norm and element sum over the `embeddings` arrays,
each as a Spark SQL expression and its DuckDB twin.

Every embedding query and its oracle build their vector math here, because
hash parity needs both engines to add the same doubles in the same order:
each sum reads elements off .. off+n-1 and adds them left to right,
p[off] + p[off+1] + ... .  The floats are cast to double BEFORE any
product, so both engines multiply identical doubles.  `n` and `off` select
a block (HALF_DIM prefixes, PQ sub-blocks); the defaults cover the whole
DIM-vector.

- **Spark** forms are unrolled sums of literal-index reads (0-based),
  compiled into whole-stage code.  An aggregate(zip_with(...)) fold would
  evaluate its lambdas per element outside codegen, and r12 measured that
  interpreted fold as the dominant cost of the embedding family.  The
  unrolled sum performs that fold's additions in its order; as it has no
  0.0 seed, a sum of all -0.0 terms stays -0.0.  Its price is method
  size: a 64-term dot compiles to an 11,667-byte method, and splitting
  the sum into 16-term chunks or chained withColumn steps does not shrink
  it, because Catalyst collapses and inlines them all (ROADMAP direction
  B).
- **DuckDB** forms fold list_transform(generate_series(...)), 1-based,
  with list_reduce: the same unseeded left fold.  list_sum adds in the
  same order but seeds at +0.0, which turns a sum of all -0.0 terms into
  +0.0 where Spark keeps -0.0.

tests/test_vectors.py holds every form to a numpy left fold, bit for bit,
on hostile rows: a bug here would show in both engines at once, where
oracle parity cannot see it.
"""

from __future__ import annotations

DIM = 64  # embeddings fixture dimension


def _el_spark(v: str, i: int, cast: bool) -> str:
    return f"cast({v}[{i}] AS double)" if cast else f"{v}[{i}]"


def _el_duck(v: str, cast: bool) -> str:
    return f"{v}[i]::DOUBLE" if cast else f"{v}[i]"


def _fold_spark(term, n: int, off: int) -> str:
    return "(" + " + ".join(term(i) for i in range(off, off + n)) + ")"


def _fold_duck(term: str, n: int, off: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series({off + 1}, {off + n}), "
        f"i -> {term}), (acc, p) -> acc + p)"
    )


def as_double_spark(v: str, n: int | None = None, off: int = 0) -> str:
    """`v` (array<float>) as array<double>: one transform over the whole
    array, or with `n` an array(...) of n literal-index casts from `off`.
    The transform is faster than cast(v AS array<double>): q_embed_knn at
    sf0.1 took 1.20-1.36 s against 1.50-1.60 s (4 interleaved pairs on a
    4-vCPU host)."""
    if n is None:
        return f"transform({v}, x -> cast(x AS double))"
    casts = ", ".join(_el_spark(v, i, True) for i in range(off, off + n))
    return f"array({casts})"


def as_double_duck(v: str, n: int | None = None, off: int = 0) -> str:
    if n is None:
        return f"list_transform({v}, x -> x::DOUBLE)"
    return (
        f"list_transform(generate_series({off + 1}, {off + n}), "
        f"i -> {_el_duck(v, True)})"
    )


def dot_spark(a: str, b: str, n: int = DIM, off: int = 0) -> str:
    return _fold_spark(lambda i: f"{a}[{i}] * {b}[{i}]", n, off)


def dot_duck(a: str, b: str, n: int = DIM, off: int = 0) -> str:
    return _fold_duck(f"{a}[i] * {b}[i]", n, off)


def sqdist_spark(a: str, b: str, n: int = DIM, off: int = 0) -> str:
    return _fold_spark(
        lambda i: f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])", n, off
    )


def sqdist_duck(a: str, b: str, n: int = DIM, off: int = 0) -> str:
    return _fold_duck(f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])", n, off)


def sqnorm_spark(v: str, n: int = DIM, off: int = 0, cast: bool = False) -> str:
    """cast=True reads `v` as array<float> and casts each element at the
    read, so a norm needs no double copy of the array."""
    return _fold_spark(
        lambda i: f"{_el_spark(v, i, cast)} * {_el_spark(v, i, cast)}", n, off
    )


def sqnorm_duck(v: str, n: int = DIM, off: int = 0, cast: bool = False) -> str:
    return _fold_duck(f"{_el_duck(v, cast)} * {_el_duck(v, cast)}", n, off)


def norm_spark(v: str, n: int = DIM, off: int = 0, cast: bool = False) -> str:
    return f"sqrt({sqnorm_spark(v, n, off, cast)})"


def norm_duck(v: str, n: int = DIM, off: int = 0, cast: bool = False) -> str:
    return f"sqrt({sqnorm_duck(v, n, off, cast)})"


def sum_spark(v: str, n: int = DIM, off: int = 0) -> str:
    return _fold_spark(lambda i: f"{v}[{i}]", n, off)


def sum_duck(v: str, n: int = DIM, off: int = 0) -> str:
    return _fold_duck(f"{v}[i]", n, off)

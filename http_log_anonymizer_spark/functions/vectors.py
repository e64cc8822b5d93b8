"""Vector column functions for similarity search over
``array<float>`` embedding columns.

All operations are Catalyst higher-order functions (zip_with/aggregate)
evaluated in whole-stage codegen — no Python, no UDFs. Elements are cast
to double before arithmetic so results are bit-identical to the DuckDB
oracle's explicit-double formulation (and stable under reordering-free
left folds).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision."""
    prods = F.zip_with(_d(a), _d(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB SQL mirror of :func:`dot` (index-order left fold via
    list_sum over generate_series, double precision)."""
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def norm_column(vec_col: Column | str) -> Column:
    """Materializable norm — same as :func:`norm`, exported for the
    two-projection unit-vector pattern (compute norm in one projection,
    divide in the next; embedding norm() inside a transform lambda
    re-evaluates it per element — Catalyst does not CSE through
    lambdas)."""
    return norm(vec_col)


def unit_from(vec_col: Column | str, norm_col: Column | str) -> Column:
    """Unit vector given a pre-materialized norm column.

    The norm is referenced through ``greatest(n, n)`` — an exact
    identity (same value, same NULL/NaN behavior) that makes the
    reference count 2, which stops CollapseProject from inlining the
    norm's aggregate fold INTO the transform lambda (r10, guide §2.2:
    the two-projection defense was being collapsed away, so the 64-term
    norm fold re-ran per element — 64x per row — in every similarity
    query; measured ~11 s of the sf1 embed_neardup_gemm build).
    CollapseProject inlines non-cheap producer expressions only when
    referenced once; plans verified to keep the norm in its own
    projection. ``norm_col`` must therefore be a materialized column
    (alias in a previous select), never an inline aggregate — passing
    an expression would evaluate the fold twice per element."""
    n = _c(norm_col)
    return F.transform(_d(vec_col), lambda x: x / F.greatest(n, n))


def unit_cte_sql(src: str = "embeddings") -> str:
    """DuckDB CTE pair ``_n, unit`` building the unit-vector table from
    any (vec_id, embedding, ...) source — ``src`` lets rotated /
    derived corpora (e.g. the OPQ pre-rotation's ``rotemb``) reuse the
    same normalization text."""
    return f"""
_n AS (
  SELECT *, sqrt(list_sum(list_transform(embedding,
      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM {src} WHERE embedding IS NOT NULL
),
unit AS (
  SELECT * EXCLUDE (nrm),
         list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue
  FROM _n
)
"""


UNIT_CTE_SQL = unit_cte_sql()

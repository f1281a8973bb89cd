"""Vector column expressions over ``array<float>`` embedding columns.

Design: per-row sequential folds in DOUBLE. float32×float32 products are
exactly representable as doubles (24+24 mantissa bits < 53), and both this
engine (F.aggregate) and the DuckDB oracle (list_sum) fold lists
left-to-right, so dot products / norms / cosines are bit-identical across
engines — verified empirically over the fixture embeddings.

Everything stays inside whole-stage codegen (no Python, no UDF); at 100 TB
the cost is the scan plus O(dim) arithmetic per row. For very high dims or
hot inner loops, a vectorized Pandas-UDF (numpy dot over Arrow batches) is
the drop-in acceleration — see operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


# Spark-dialect SQL twins of the Column builders above, for generated-
# ``selectExpr`` call sites (the ``_staged_shingles`` doctrine): each
# fold built through the Column API costs dozens of py4j round trips
# per call site — one SQL string parses JVM-side to the IDENTICAL tree
# (same lambdas, same 0.0D double seed, same casts), so results stay
# bit-for-bit. The ``sql_*`` builders above remain the DuckDB-dialect
# oracle twins.


def spark_sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def spark_sql_norm_sq(a: str) -> str:
    return (
        f"aggregate(transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def spark_sql_l2_norm(a: str) -> str:
    return f"sqrt({spark_sql_norm_sq(a)})"


def norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_norm_sq(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def l2_norm(a: Column) -> Column:
    return F.sqrt(norm_sq(a))


def sql_l2_norm(a: str) -> str:
    return f"sqrt({sql_norm_sq(a)})"


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity. Pass precomputed norms where the plan reuses them
    (kNN joins precompute per-side norms once instead of per pair)."""
    na = norm_a if norm_a is not None else l2_norm(a)
    nb = norm_b if norm_b is not None else l2_norm(b)
    return dot(a, b) / (na * nb)

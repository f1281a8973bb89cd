"""Distributed synthetic sales-data generator (SURVEY.md §2.1 S9).

Value distributions match the reference generator
(/root/reference/dags/src/generator.py:16-35): uuid-shaped unique ids,
uniform timestamps over 2024, ``CUST-1000..9999``, ``PROD-100..999``,
quantity 1–20, ``amount = U(10,500) × quantity`` rounded to 2dp.

Spark-first differences from the reference's row-loop:
- ``spark.range(n)`` + column expressions — generation parallelizes
  across the cluster and scales to billions of rows (the reference
  builds a Python list on one core).
- Deterministic under a seed: every random column derives from
  ``sha2(seed || id)`` bits, so the same (n, seed) produces the same
  dataset on any cluster size/partitioning — the reference's
  ``random.random()`` cannot do that. ``sale_id`` is a seeded
  UUIDv4-format string rather than ``F.uuid()`` for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

SECONDS_2024 = 31_622_400  # 2024-01-01 .. 2025-01-01 (leap year)


def _u(seed: int, salt: str, lo: float, hi: float):
    """Uniform double in [lo, hi) derived deterministically from the row id:
    the first 13 hex chars (52 bits — exact in a double) of
    sha2(seed#salt#id)."""
    h = F.sha2(F.concat_ws("#", F.lit(str(seed)), F.lit(salt), F.col("id")), 256)
    frac = F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(
        float(16**13)
    )
    return F.lit(lo) + frac * F.lit(hi - lo)


def _randint(seed: int, salt: str, lo: int, hi: int):
    """Uniform int in [lo, hi] (inclusive, randint parity)."""
    return F.floor(_u(seed, salt, lo, hi + 1)).cast("int")


def _uuid4_like(seed: int):
    """Deterministic UUIDv4-format string from the row id."""
    h = F.sha2(F.concat_ws("#", F.lit(str(seed)), F.lit("uuid"), F.col("id")), 256)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("a"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def generate_sales_data(
    spark: SparkSession, n: int = 1000, seed: int = 42, num_partitions: int | None = None
) -> DataFrame:
    """n synthetic sales rows with the reference's distributions,
    deterministic under (n, seed) regardless of parallelism."""
    base = (
        spark.range(0, n, numPartitions=num_partitions)
        if num_partitions
        else spark.range(n)
    )
    qty = _randint(seed, "qty", 1, 20)
    sale_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2024-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss")
        + _randint(seed, "date", 0, SECONDS_2024).cast("long")
    )
    return base.select(
        _uuid4_like(seed).alias("sale_id"),
        F.date_format(sale_ts, "yyyy-MM-dd HH:mm:ss").alias("sale_date"),
        F.concat(F.lit("CUST-"), _randint(seed, "cust", 1000, 9999)).alias("customer_id"),
        F.concat(F.lit("PROD-"), _randint(seed, "prod", 100, 999)).alias("product_id"),
        qty.alias("quantity"),
        F.round(_u(seed, "amt", 10.0, 500.0) * qty, 2).alias("amount"),
    )

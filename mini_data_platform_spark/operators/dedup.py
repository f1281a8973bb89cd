"""Keyed deduplication operators (SURVEY.md §2.3, D1-D2).

The reference dedups by sorting on ``sale_date`` then keeping the last
duplicate per ``sale_id`` (processor.py:74-77) — i.e. an argmax per key
where a NULL date *wins* (pandas NaT sorts last, keep="last").

Spark-first design: a driver-wide global sort (D1) followed by a dedup
would shuffle the full dataset twice; instead the sort+dedup pair fuses
into ONE window argmax — a single hash shuffle on the key, partial-agg
friendly, AQE-skew-splittable. For 100 TB the key-partitioned window is
the only shuffle this operator performs.

Tie-breaking: pandas's "last in stable input order" is not reproducible in
a distributed engine, so the engine adds an explicit ``_ingest_order``
tiebreaker (monotonically_increasing_id at read time preserves file/row
order within partitions) — documented deviation, deterministic results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

INGEST_ORDER_COL = "_ingest_order"


def with_ingest_order(df: DataFrame) -> DataFrame:
    """Attach a monotonic per-row id used as the dedup tiebreaker. Within a
    partition the id is consecutive, and partition ids are ordered by input
    split order, so it reproduces "input order" for single-file reads."""
    return df.withColumn(INGEST_ORDER_COL, F.monotonically_increasing_id())


def dedup_keep_latest(
    df: DataFrame,
    keys: Sequence[str] = ("sale_id",),
    order_col: str = "sale_date",
    null_wins: bool = True,
    precedence_cols: Sequence[str] = (),
) -> DataFrame:
    """D1+D2 fused — per key keep the row with the greatest ``order_col``.

    ``null_wins=True`` reproduces the reference's NaT-sorts-last semantics
    (processor.py:74-77): a NULL date beats any real date. Ties break on
    ``_ingest_order`` (greatest wins = pandas keep="last") when present.

    ``precedence_cols`` sort BEFORE ``order_col`` (descending): the batch
    runner passes the file rank here so one multi-file job reproduces the
    reference's sequential per-file upserts (a later file's row wins over
    any earlier file's row for the same key, regardless of dates).
    """
    direction = F.col(order_col).desc_nulls_first() if null_wins else F.col(order_col).desc_nulls_last()
    ordering = [F.col(c).desc() for c in precedence_cols]
    ordering.append(direction)
    if INGEST_ORDER_COL in df.columns:
        ordering.append(F.col(INGEST_ORDER_COL).desc())
    w = Window.partitionBy(*keys).orderBy(*ordering)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if INGEST_ORDER_COL in out.columns:
        out = out.drop(INGEST_ORDER_COL)
    return out

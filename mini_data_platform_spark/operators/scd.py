"""Type-2 slowly-changing-dimension history DERIVED from a merge table.

A keyed merge table (operators/mergetable.py) already stores every
version of every key in its commit log — the Kimball SCD2 artifact
(one row per key VERSION with a validity interval) is a pure READ-time
derivation over it, not a second write path to keep consistent:

    valid_from = the version's batch number (``_seq``)
    valid_to   = the NEXT change to that key (upsert or delete),
                 NULL while current          — half-open [from, to)

so ``table_read(as_of=k)`` ≡ the history filtered to
``valid_from <= k < coalesce(valid_to, +inf)`` — the equivalence that
makes the derivation testable without a second source of truth.
Deletes CLOSE the previous interval and open none; a later re-insert
opens a fresh one. Compaction folds history away, so ``scd2_history``
refuses tables compacted past batch 1 rather than serving silently
truncated intervals (the same vacuum-vs-time-travel trade the as-of
reads state).

``scd2_enrich`` is the point-in-time (event-time-correct) join that is
the reason SCD2 exists: attach to each fact row the dimension version
valid AT the fact's epoch — the feature-store "no time-travel leakage"
join. It rides ``asof_join`` (operators/asof.py): one union + one
window pass per key, O((facts + versions) log) per partition, never an
interval-explosion join; the validity upper bound is checked AFTER the
as-of pick (the picked version is the latest with ``valid_from <= at``;
its ``valid_to <= at`` happens exactly when the key's interval was
closed by a delete before the fact's epoch — those facts drop on
``how="inner"`` and keep NULL payloads on ``how="left"``).

No reference counterpart (the reference keeps only latest-wins state,
db.py:22-67); this is the standard lakehouse dimension-history pattern
(Kimball SCD Type 2; Delta CDF + windowed lead) on plain parquet.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mini_data_platform_spark.operators.asof import asof_join
from mini_data_platform_spark.operators.mergetable import (
    _recover_meta,
    table_changes,
)

_OP, _SEQ = "_op", "_seq"


def scd2_history(
    spark: SparkSession,
    table_dir: str,
    as_of: int | None = None,
) -> DataFrame:
    """One row per key VERSION: key cols + data cols + ``valid_from`` /
    ``valid_to`` (long batch numbers; ``valid_to`` NULL while current,
    half-open ``[valid_from, valid_to)``). Scale: ONE shuffle (window
    by key ordered by ``_seq`` — per-batch key-uniqueness makes that a
    total order per key); the log is read once, deletes contribute
    interval bounds and no output rows."""
    meta = _recover_meta(table_dir)
    if meta.get("compacted_through", 0) > 0:
        raise ValueError(
            "history before batch "
            f"{meta['compacted_through']} was folded by compaction; "
            "SCD2 intervals would be silently wrong"
        )
    keys = list(meta["keys"])
    log = table_changes(spark, table_dir, since=0, as_of=as_of)
    w = Window.partitionBy(*keys).orderBy(F.col(_SEQ).asc())
    # segment i carries _seq = i for BATCH i+1 — intervals use batch
    # numbers so they line up with table_read(as_of=...)
    return (
        log.withColumn("valid_to", F.lead(_SEQ).over(w) + F.lit(1))
        .where(F.col(_OP) != "d")
        .select(
            *keys,
            *meta["columns"],
            (F.col(_SEQ) + F.lit(1)).alias("valid_from"),
            "valid_to",
        )
    )


def scd2_enrich(
    facts: DataFrame,
    history: DataFrame,
    on: Sequence[str],
    at_col: str,
    how: str = "inner",
) -> DataFrame:
    """Point-in-time enrich: each fact row gains the dimension version
    valid at its ``at_col`` epoch (``valid_from <= at < valid_to``).
    ``how="inner"`` drops facts with no valid version (key unknown or
    deleted at that epoch); ``how="left"`` keeps them with NULL
    dimension columns. Fact columns must not collide with the
    history's data columns (rename first — same contract as the join
    view)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    on = list(on)
    dim_cols = [
        c for c in history.columns
        if c not in on and c not in ("valid_from", "valid_to")
    ]
    clash = sorted(set(dim_cols) & set(facts.columns))
    if clash:
        raise ValueError(
            f"dimension columns {clash} exist on the fact side; rename"
        )
    out = asof_join(
        facts, history, on,
        left_ts=at_col, right_ts="valid_from",
        right_cols=[*dim_cols, "valid_to"], how="left",
    )
    # the as-of pick is the latest version OPENED at or before the
    # epoch; it is the valid one unless a delete closed it earlier
    ok = F.col("valid_from").isNotNull() & (
        F.col("valid_to").isNull() | (F.col(at_col) < F.col("valid_to"))
    )
    if how == "inner":
        return out.where(ok).drop("valid_from", "valid_to")
    nulled = [
        F.when(ok, F.col(c)).otherwise(F.lit(None)).alias(c)
        for c in dim_cols
    ]
    keep = [c for c in out.columns
            if c not in dim_cols and c not in ("valid_from", "valid_to")]
    return out.select(*keep, *nulled)

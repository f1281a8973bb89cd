"""Streaming maintenance of IVM views: exactly-once keyed aggregates.

``foreachBatch`` is Spark's transactional escape hatch for sinks without
native streaming support — but it is only AT-LEAST-ONCE: a crashed
micro-batch is replayed under the SAME epoch id. The IVM store
(operators/ivm.py) turns that into exactly-once for free, because
``view_increment`` is idempotent per batch id:

- first attempt committed, replay arrives  → batch id already in the
  commit log, no-op;
- first attempt crashed before the meta swap → orphan segment dir,
  replay overwrites it and commits once.

So ``epoch-{epoch_id}`` as the batch id is the whole protocol — the
same idempotence contract the keyed JDBC upsert (sinks/upsert.py) uses
for the reference pipeline's restart safety, applied to aggregate
state. This closes the loop with the batch side: a view bootstrapped
from historical facts (``view_build``) keeps itself current from the
stream, and the serving read (``view_read``) is identical either way —
the batch/streaming unification the near-dup bridge
(streaming/neardup.py) established for dedup state, here for KPIs.

Scale: each micro-batch costs one partial aggregate of the batch
(O(micro-batch), map-side combined) + one segment write; nothing reads
or rewrites the view on the hot path (delta mode). Run
``compact_view`` periodically from a maintenance job to fold the
segment log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from mini_data_platform_spark.operators.ivm import view_increment


def checkpoint_key(checkpoint_dir: str) -> str:
    """The checkpoint's identity in commit-log batch ids
    (``epoch-{key}-{epoch_id}``), shared by the view and histogram
    streams."""
    import hashlib

    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]


def maintain_view_stream(
    facts: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    changes: bool = False,
) -> StreamingQuery:
    """Keep the (already-built) view at ``view_dir`` current from the
    streaming ``facts`` frame. Exactly-once under micro-batch replays —
    the commit-log batch id is ``{checkpoint-identity}-{epoch_id}``, so
    a replay of the SAME checkpoint's epoch no-ops while a NEW
    checkpoint (whose epoch counter restarts at 0) gets a fresh id
    space and its batches land. The one unsupported move is wiping a
    checkpoint dir but reusing its exact path: the restarted epoch 0
    collides with the old epoch 0 and is swallowed — migrate to a fresh
    checkpoint path instead (cheap; the view itself carries the state).
    ``available_now=True`` drains what's there and stops (the
    one-shot/batch-parity mode).

    ``changes=True`` treats the stream as a CDC feed — rows tagged
    ``_op`` = ±1 fold through :func:`~...ivm.view_apply_changes`
    (retraction algebra; the view's measures must all retract) — the
    streaming half of maintaining KPIs over a keyed-upsert pipeline:
    the upsert sink's delete-old/insert-new change rows flow here."""
    from mini_data_platform_spark.operators.ivm import view_apply_changes

    ckpt_key = checkpoint_key(checkpoint_dir)
    fold = view_apply_changes if changes else view_increment

    def process(batch: DataFrame, epoch_id: int) -> None:
        fold(batch, view_dir, batch_id=f"epoch-{ckpt_key}-{epoch_id}")

    writer = (
        facts.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def maintain_histogram_stream(
    facts: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    changes: bool = False,
) -> StreamingQuery:
    """:func:`maintain_view_stream` for HISTOGRAM views
    (``ivm.histogram_view_build``): each micro-batch is bucketized with
    the view's frozen width and folded as bin-count deltas — streaming
    p95 dashboards with the same exactly-once epoch-id protocol, and
    with ``changes=True`` a CDC stream RETRACTS (bin counts form a
    group), which no streaming quantile sketch offers. Serve with
    ``ivm.quantile_view_read`` — identical whether the view was fed by
    batch increments, this stream, or both."""
    from mini_data_platform_spark.operators.ivm import (
        histogram_view_apply_changes,
        histogram_view_increment,
    )

    ckpt_key = checkpoint_key(checkpoint_dir)
    fold = (
        histogram_view_apply_changes if changes else histogram_view_increment
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        fold(batch, view_dir, batch_id=f"epoch-{ckpt_key}-{epoch_id}")

    writer = (
        facts.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

"""Keyed merge table: MERGE INTO / CDC-apply semantics on plain parquet.

The reference maintains keyed state in Postgres via staging+MERGE
(db.py:22-67 — sinks/upsert.py is the Spark twin). That works while the
keyed table fits an OLTP store; a 100 TB lakehouse needs the SAME
latest-wins-per-key semantics on object storage. This module is that
primitive — the Delta ``MERGE INTO`` / Hudi merge-on-read table — built
on the segment-store commit log it shares with operators/incremental.py
and operators/ivm.py (per-batch parquet segment dirs committed through
operators/occlog.py):

- ``table_apply`` appends a batch of ``_op``-tagged rows (``'u'``
  upsert / ``'d'`` delete) as ONE O(batch) segment write — the table is
  never read or rewritten on the write path (the Hudi MOR log-file
  shape). ``batch_id`` replay protection upgrades at-least-once
  orchestrators to exactly-once, same as the IVM views.
- ``table_read`` resolves latest-wins per key at read time with ONE
  aggregate: ``max_by(payload_struct, _seq)`` — a declarative aggregate
  with partial merge, so each scan task combines map-side (a key
  appears at most once per segment; the shuffle carries at most
  #segments rows per key, never the fact history) and no window/sort is
  involved. Delete winners (tombstones) drop at serve.
- ``table_changes`` exposes the committed log itself as a CDC feed
  (batches ``since+1 .. as_of``) — the table is both a merge sink and a
  change source, which is what lets downstream IVM views
  (``view_apply_changes``) chain off it.
- ``compact_table`` folds the log to one resolved segment (winners
  keep their original ``_seq`` so later appends still order correctly);
  tombstones are DROPPED at compaction — nothing older remains that
  they could mask. Records ``compacted_through``: older as-of reads
  raise (the Delta/Iceberg vacuum-vs-time-travel trade, stated).
- Time travel: ``as_of=k`` reads the state after the first ``k``
  committed batches — a segment-list prefix, zero data copies
  (``occlog.meta_as_of``).

Determinism: each batch must be key-unique (validated by default with
one O(batch) aggregate) — the winner per key is then totally ordered by
``_seq`` alone, so any run, any partitioning, any engine resolves the
same state; that is what lets a DuckDB CASE/anti-join twin hash-match
the declared query (``orders_merge_table``).

MULTI-WRITER SAFE through the shared ticket log (operators/occlog.py):
concurrent appliers never drop each other's commits; compaction refuses
rather than stomps. Reader caveat: delta appends never invalidate
in-flight readers, but ``compact_table``'s best-effort deletes can — run
compaction in a maintenance window or lean on object-store delayed
deletion.

Scale: writes are O(batch) always. Reads shuffle live segment rows once
(partial-agg combined); keep the log short with ``compact_table``.
This is the standard lakehouse trade — Hudi MOR read amplification
bounded by compaction cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators.resources import (
    attach_plan,
    bounded_rows,
    guarded_broadcast,
    release_plan,
    run_concurrently,
    with_row_bound,
)

_ROWS = "rows"
_OP = "_op"
_SEQ = "_seq"

#: probe sets of at most this many keys are collected and pushed into
#: the scan as IN literals (see table_lookup)
LOOKUP_PUSHDOWN_MAX_KEYS = 1000


def vacuum_table(table_dir: str) -> list[str]:
    """Sweep orphan segment dirs (crashed/lost-race applies, failed
    compaction deletes) — see ``occlog.vacuum``."""
    return occlog.vacuum(table_dir, _apply_record)


# Commits go through the shared ticket log (operators/occlog.py).


def _apply_record(meta: dict, rec: dict) -> dict:
    """Replay one commit record onto a meta snapshot — the ONE place
    record semantics live, used by both the winner (to produce the
    checkpoint it writes) and recovery (to roll a crashed winner's
    ticket forward); a divergence between the two cannot exist."""
    import json

    m = json.loads(json.dumps(meta))  # deep copy
    if rec["type"] == "apply":
        if rec["seq"] != m["n_batches"]:  # ticket order guarantees this
            raise RuntimeError(
                f"commit record seq {rec['seq']} != n_batches "
                f"{m['n_batches']} — corrupted commit log"
            )
        m["segments"][_ROWS] = m["segments"][_ROWS] + [rec["segment"]]
        m["batches"] = m["batches"] + [rec["batch_id"]]
        m["n_batches"] += 1
        ev = rec.get("evolve")
        if ev:
            m["columns"] = list(ev["columns"])
            m["schema"].update(ev["schema_add"])
            m["evolved"] = True
            log = m.setdefault("column_log", [])
            if not log or log[-1] != ev["entry"]:
                log.append(ev["entry"])
    elif rec["type"] == "compact":
        m["segments"][_ROWS] = [rec["segment"]]
        m["compacted_through"] = rec["compacted_through"]
        m.pop("evolved", None)
    else:
        raise RuntimeError(f"unknown commit record type {rec['type']!r}")
    m["version"] = rec["version"] + 1
    return m


def _recover_meta(table_dir: str) -> dict:
    # the kind is checked on the checkpoint, before any ticket replays
    # through this store's record vocabulary
    if occlog._read_meta(table_dir).get("kind") != "mergetable":
        raise ValueError(f"{table_dir} is not a merge table")
    return occlog.recover(table_dir, _apply_record)


#: sentinel prefix for validation guards embedded in the WRITE plan —
#: the executor raises it mid-write, `_write_segment_checked` translates
#: it back to the ValueError the API contract (and tests) promise
_VSENTINEL = "MDP_VALIDATE: "

_VALIDATE_MSG = (
    "merge batch must be key-unique with non-null keys and "
    "_op in {'u','d'} (duplicate keys have no within-batch "
    "order; split conflicting writes into separate batches)"
)


def _validation_guard(keys: list[str]):
    """Boolean Column that is true for any row violating the batch
    contract — key-unique, non-null keys, ``_op`` in {'u','d'} — the
    precondition that makes ``_seq`` a total order per key (module
    docstring). Null keys are rejected too: a null never equals
    anything, so a null-keyed row could neither be updated nor deleted
    — a permanent zombie. NULL-safe op check: isin is NULL for NULL
    ops, and a NULL _op row that won resolution would read as neither
    'u' nor 'd' — every serve filter (_op != 'd') drops it like a
    silent tombstone (same guard as ivm.view_apply_changes).

    Fused into the segment-write plan (guide §1.2 "don't compute
    things twice"): duplicate detection is a count over a key-hash
    window INSIDE the write job, so the batch's upstream plan runs
    ONCE per apply instead of once for a standalone validation
    aggregate and again for the write."""
    from pyspark.sql import Window

    _any_null_key = F.isnull(keys[0])
    for k in keys[1:]:
        _any_null_key = _any_null_key | F.isnull(k)
    badop = ~F.coalesce(F.col(_OP).isin("u", "d"), F.lit(False))
    dup = (
        F.count(F.lit(1)).over(Window.partitionBy(*[F.col(k) for k in keys]))
        > 1
    )
    return dup | badop | _any_null_key


def _guarded(col: F.Column, bad: F.Column, msg: str) -> F.Column:
    """``col``, or a mid-write raise when ``bad`` — the raise rides the
    column so the optimizer cannot prune the check away."""
    return F.when(
        bad, F.raise_error(F.lit(_VSENTINEL + msg)).cast("long")
    ).otherwise(F.lit(0)) + col


def _write_segment_checked(
    df: DataFrame, table_dir: str, seg: str
) -> None:
    """``occlog.write_segment`` with embedded-guard translation: a validation
    raise from inside the write surfaces as the contract ValueError,
    and the partially-written (never-committed) segment dir is swept."""
    import shutil

    try:
        occlog.write_segment(df, table_dir, _ROWS, seg)
    except Exception as exc:  # noqa: BLE001 — translate, clean, re-raise
        shutil.rmtree(
            os.path.join(table_dir, _ROWS, seg), ignore_errors=True
        )
        s = str(exc)
        if _VSENTINEL in s:
            raise ValueError(
                s.split(_VSENTINEL, 1)[1].split("\n")[0].strip()
            ) from None
        raise


def _ddl_types(df: DataFrame, cols: list[str]) -> dict[str, str]:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return {c: by_name[c] for c in cols}


def _conform(batch: DataFrame, meta: dict, evolve: bool) -> DataFrame:
    """Project the batch to the table schema + ``_op``. A batch without
    ``_op`` is all-upserts. An all-DELETE batch may carry keys only —
    missing data columns are filled with typed nulls from the committed
    schema (tombstones never serve their payload). A mixed or upsert
    batch missing data columns is an error, not a silent null-out.

    SCHEMA EVOLUTION: extra data columns are REJECTED by default (a
    misspelled column must not silently vanish); with ``evolve=True``
    they are appended to the table schema — the new columns commit in
    the same atomic meta swap as the segment, pre-evolution segments
    serve typed NULLs for them at read (``_read_rows`` unions by name),
    and a type change on an EXISTING column is always refused (silently
    divergent parquet segments would poison every later read)."""
    missing_keys = [k for k in meta["keys"] if k not in batch.columns]
    if missing_keys:
        raise ValueError(f"batch is missing key columns {missing_keys}")
    cols = set(batch.columns)
    if _OP not in cols:
        batch = batch.withColumn(_OP, F.lit("u"))
        cols.add(_OP)
    known = set(meta["keys"]) | set(meta["columns"]) | {_OP}
    batch_types = {
        f.name: f.dataType.simpleString() for f in batch.schema.fields
    }
    clash = [
        c for c in (cols & known) - {_OP}
        if batch_types[c] != meta["schema"][c]
    ]
    if clash:
        raise ValueError(
            f"column type mismatch vs table schema: "
            f"{[(c, batch_types[c], meta['schema'][c]) for c in clash]} "
            "(cast the batch before applying; in-place type changes "
            "are not supported)"
        )
    extras = [c for c in batch.columns if c not in known and c != _SEQ]
    if extras:
        if not evolve:
            raise ValueError(
                f"batch carries columns {extras} not in the table "
                "schema; pass evolve=True to add them (or drop them)"
            )
        meta["columns"] = meta["columns"] + extras
        meta["schema"].update({c: batch_types[c] for c in extras})
        meta["evolved"] = True
        # schema history: this column set takes effect at the applying
        # batch's _seq — as-of reads before it serve the OLD shape
        meta.setdefault("column_log", []).append(
            {"seq": meta["n_batches"], "columns": list(meta["columns"])}
        )
    missing = [c for c in meta["columns"] if c not in cols]
    if missing:
        # only all-delete batches may omit data columns. The check is a
        # PER-ROW guard folded into the first null-filled column (no
        # window needed), so it rides the segment write instead of
        # paying a standalone has-upsert probe job; a NULL-op row is
        # neither caught here nor by the old eager probe (its where()
        # dropped NULLs too) — the write-time op guard rejects it.
        msg = (
            f"upsert rows must carry every table column; missing "
            f"{missing} (only all-delete batches may omit data "
            f"columns)"
        )
        first, *rest = missing
        batch = batch.withColumn(
            first,
            F.when(
                F.col(_OP) != "d",
                F.raise_error(F.lit(_VSENTINEL + msg)),
            )
            .otherwise(F.lit(None))
            .cast(meta["schema"][first]),
        )
        for c in rest:
            batch = batch.withColumn(
                c, F.lit(None).cast(meta["schema"][c])
            )
    return batch.select(
        *[F.col(c) for c in meta["keys"]],
        *[F.col(c) for c in meta["columns"]],
        F.col(_OP),
    )


def _read_rows(
    spark: SparkSession,
    table_dir: str,
    meta: dict,
    paths: list[str] | None = None,
) -> DataFrame:
    """Read the committed log (or the explicit ``paths`` subset). An
    evolved table's pre-evolution segments lack the added columns, so
    they are read per-segment and unioned by name (typed NULLs fill
    in); an unevolved log is one multi-path scan (better task packing).
    Compaction rewrites every row under the full schema and clears the
    flag."""
    if paths is None:
        paths = occlog.segment_paths(table_dir, _ROWS, meta)
    if not meta.get("evolved"):
        # committed segments are immutable → the analyzed plan is
        # reusable across the many reads a refresh/apply loop makes of
        # the same log (operators/plancache.py)
        from mini_data_platform_spark.operators.plancache import (
            cached_parquet,
        )

        return cached_parquet(spark, paths)
    out = None
    for p in paths:
        df = spark.read.parquet(p)
        for c in meta["columns"]:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(meta["schema"][c]))
        df = df.select(
            *meta["keys"], *meta["columns"], _OP, _SEQ
        )
        out = df if out is None else out.unionByName(df)
    return out


def table_build(
    df: DataFrame,
    table_dir: str,
    keys: list[str],
    batch_id: str = "batch-0",
    validate: bool = True,
) -> dict:
    """Create the table from its initial key-unique rows (all upserts)."""
    if occlog.exists(table_dir):
        raise ValueError(f"table already exists at {table_dir}")
    reserved = {_OP, _SEQ} & set(df.columns)
    if reserved:
        raise ValueError(f"column names {sorted(reserved)} are reserved")
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"key columns {missing} not in frame")
    data_cols = [c for c in df.columns if c not in keys]
    rows = df.withColumn(_OP, F.lit("u"))
    seq_col = F.lit(0).cast("long")
    if validate:
        # guard folded into _seq: validation and write are ONE job, one
        # pass over the batch (see _validation_guard)
        seq_col = _guarded(seq_col, _validation_guard(keys), _VALIDATE_MSG)
    os.makedirs(table_dir, exist_ok=True)
    _write_segment_checked(
        rows.withColumn(_SEQ, seq_col), table_dir, "seg-0"
    )
    meta = {
        "kind": "mergetable",
        "keys": list(keys),
        "columns": data_cols,
        "schema": _ddl_types(df, list(keys) + data_cols),
        "column_log": [{"seq": 0, "columns": list(data_cols)}],
        "n_batches": 1,
        "batches": [batch_id],
        "segments": {_ROWS: ["seg-0"]},
        "version": 1,
    }
    occlog.write_meta(table_dir, meta)
    return meta


class ConcurrentCommit(RuntimeError):
    """Another writer committed between a caller's snapshot read and
    its apply — the batch was derived from stale state (write skew).
    Re-derive from the current state and retry; ``table_merge_into``
    does this automatically."""


def table_apply(
    batch: DataFrame,
    table_dir: str,
    batch_id: str | None = None,
    validate: bool = True,
    evolve: bool = False,
    expected_version: int | None = None,
) -> dict:
    """MERGE a change batch into the table: rows tagged ``_op`` 'u'
    (insert-or-replace the key's row wholesale) or 'd' (tombstone the
    key). One O(batch) segment write, no table read; replaying an
    already-committed ``batch_id`` is a no-op (retry-safe).
    ``evolve=True`` lets the batch ADD data columns (see
    :func:`_conform`); extra columns are an error otherwise.

    MULTI-WRITER SAFE (operators/occlog.py): concurrent appliers
    serialize through put-if-absent commit tickets — the loser folds
    the winner's commit and retries with the next sequence number
    (re-conforming and re-validating against the possibly-evolved
    schema, rewriting its segment with the new ``_seq``), so no commit
    is ever silently dropped. Two replicas of the SAME batch (equal
    ``batch_id``) resolve to exactly one apply; the replica that loses
    sees its id committed and no-ops.

    ``expected_version``: for batches DERIVED from a table snapshot
    (read-modify-write like MERGE INTO, not blind CDC appends) — the
    apply refuses with :class:`ConcurrentCommit` if any commit landed
    since that version, instead of blindly retrying a batch whose
    derivation is stale (serializable conflict detection, the Delta
    concurrency-level distinction between Append and WriteSerializable)."""
    import json
    import shutil
    import uuid

    for _ in range(occlog.MAX_RETRIES):
        meta = _recover_meta(table_dir)
        # caller-less bids are generated collision-free (multi-writer
        # OCC: two concurrent default-bid writers must not alias each
        # other); replay protection is opt-in via a caller batch_id
        bid = (
            batch_id if batch_id is not None
            else f"batch-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
        )
        if batch_id is not None and bid in meta["batches"]:
            return meta  # replay no-op wins over conflict detection
        if expected_version is not None and meta["version"] != expected_version:
            raise ConcurrentCommit(
                f"table moved from version {expected_version} to "
                f"{meta['version']} since the batch was derived"
            )
        work = json.loads(json.dumps(meta))  # _conform mutates its meta
        rows = _conform(batch, work, evolve)
        seq = meta["n_batches"]
        seq_col = F.lit(seq).cast("long")
        if validate:
            # guard folded into _seq: validation and write are ONE job,
            # one pass over the batch (see _validation_guard)
            seq_col = _guarded(
                seq_col, _validation_guard(meta["keys"]), _VALIDATE_MSG
            )
        seg = f"seg-{seq}-{uuid.uuid4().hex[:8]}"
        _write_segment_checked(
            rows.withColumn(_SEQ, seq_col), table_dir, seg
        )
        rec = {
            "type": "apply",
            "version": meta["version"],
            "seq": seq,
            "segment": seg,
            "batch_id": bid,
        }
        if work["columns"] != meta["columns"]:  # evolved this apply
            new = [c for c in work["columns"] if c not in meta["columns"]]
            rec["evolve"] = {
                "columns": work["columns"],
                "schema_add": {c: work["schema"][c] for c in new},
                "entry": work["column_log"][-1],
            }
        # COMMIT: the ticket makes the segment visible; the checkpoint
        # write after it is a convenience (recovery replays the ticket)
        out = occlog.commit(table_dir, meta, rec, _apply_record)
        if out is not None:
            return out
        # lost the race: drop the orphan segment, fold the winner, retry
        shutil.rmtree(
            os.path.join(table_dir, _ROWS, seg), ignore_errors=True
        )
    raise RuntimeError(
        f"lost the commit race {occlog.MAX_RETRIES} times — writer "
        f"contention on {table_dir} is pathological; serialize the callers"
    )


def table_apply_many(
    batches: list[DataFrame],
    table_dir: str,
    batch_ids: list[str] | None = None,
    validate: bool = True,
) -> dict:
    """Single-writer BULK load: apply several change batches in one
    call, writing every batch's segment CONCURRENTLY (guide §2.6 — the
    write jobs are independent once each batch's ``_seq`` is known,
    which for a bulk load it is: consecutive from the current
    ``n_batches``) and then committing the OCC tickets strictly in
    order. Semantically identical to calling :func:`table_apply` per
    batch in sequence — same segments, same ``_seq`` values, same
    per-batch validation (fused into each write), same commit records —
    pinned by tests/test_mergetable.py's equivalence test.

    Restrictions that keep it a pure fast path: no schema evolution, no
    replay of already-committed batch ids (both raise), and if ANOTHER
    writer commits between the meta read and the ticket sequence the
    bulk load sweeps its UNCOMMITTED segments and raises
    :class:`ConcurrentCommit` (batches whose tickets already won stay
    committed — tickets are durable state) — bulk loading is a
    single-writer operation; concurrent appliers should use
    :func:`table_apply`."""
    import json
    import shutil
    import uuid

    if not batches:
        return _recover_meta(table_dir)
    meta = _recover_meta(table_dir)
    if batch_ids is None:
        batch_ids = [
            f"batch-{meta['n_batches'] + i}-{uuid.uuid4().hex[:8]}"
            for i in range(len(batches))
        ]
    if len(batch_ids) != len(batches):
        raise ValueError("batch_ids must match batches one-to-one")
    replayed = [b for b in batch_ids if b in meta["batches"]]
    if replayed:
        raise ValueError(
            f"batch ids {replayed} already committed — bulk load does "
            "not support replay; use table_apply per batch"
        )
    seq0 = meta["n_batches"]
    work = json.loads(json.dumps(meta))
    conformed = []
    for b in batches:
        rows = _conform(b, json.loads(json.dumps(work)), evolve=False)
        conformed.append(rows)
    segs = [
        f"seg-{seq0 + i}-{uuid.uuid4().hex[:8]}"
        for i in range(len(batches))
    ]

    def _writer(i: int):
        seq_col = F.lit(seq0 + i).cast("long")
        if validate:
            seq_col = _guarded(
                seq_col, _validation_guard(meta["keys"]), _VALIDATE_MSG
            )
        return lambda: _write_segment_checked(
            conformed[i].withColumn(_SEQ, seq_col), table_dir, segs[i]
        )

    committed = 0  # segments with a WON ticket are durable state —
    # cleanup on failure must only sweep the uncommitted tail
    try:
        run_concurrently(*[_writer(i) for i in range(len(batches))])
        out = meta
        for i, (seg, bid) in enumerate(zip(segs, batch_ids)):
            rec = {
                "type": "apply",
                "version": out["version"],
                "seq": seq0 + i,
                "segment": seg,
                "batch_id": bid,
            }
            if not occlog.try_ticket(table_dir, out["version"], rec):
                raise ConcurrentCommit(
                    f"another writer committed version {out['version']} "
                    f"on {table_dir} during a bulk load"
                )
            committed = i + 1
            out = _apply_record(out, rec)
        occlog.checkpoint(table_dir, out)
        return out
    except Exception:
        for seg in segs[committed:]:
            shutil.rmtree(
                os.path.join(table_dir, _ROWS, seg), ignore_errors=True
            )
        raise


def _resolved(
    spark: SparkSession, table_dir: str, meta: dict
) -> DataFrame:
    """Latest-wins winner per key over the committed log, tombstone
    winners included (compaction needs to see them drop; table_read
    filters them). ONE partial-agg-friendly aggregate — max_by of the
    payload struct by ``_seq`` — never a window: a window would sort
    every key group, and its Exchange carries the same rows anyway."""
    keys = meta["keys"]
    payload = F.struct(
        *[F.col(c) for c in meta["columns"]], F.col(_OP), F.col(_SEQ)
    )
    g = (
        _read_rows(spark, table_dir, meta)
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(payload, F.col(_SEQ)).alias("_w"))
    )
    return g.select(
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in meta["columns"]],
        F.col(f"_w.{_OP}").alias(_OP),
        F.col(f"_w.{_SEQ}").alias(_SEQ),
    )


def _with_asof_columns(meta: dict, as_of: int | None) -> dict:
    """Historical reads serve the schema AS OF the snapshot (the
    Delta/Iceberg contract): a column added by a later evolution must
    not appear, even null-filled, in an earlier as-of read. The column
    log records each column set with the ``_seq`` it took effect at;
    ``as_of=k`` covers seqs 0..k-1."""
    if as_of is None or "column_log" not in meta:
        return meta
    entries = [e for e in meta["column_log"] if e["seq"] <= as_of - 1]
    cols = entries[-1]["columns"] if entries else meta["columns"]
    if cols == meta["columns"]:
        return meta
    return {**meta, "columns": cols}


def _is_resolved_log(meta: dict) -> bool:
    """A log that is exactly one ``compact-*`` segment is ALREADY the
    resolved state: key-unique, tombstone-free (compaction drops them).
    Serving it needs no aggregate at all — the scan IS the answer. The
    20M-row local probe put the win at 16.8 s (shuffle resolve) vs
    scan-speed; at real scale this is why compacted tables serve like
    plain parquet while the log between compactions pays merge-on-read
    (the Hudi read-optimized vs real-time view split)."""
    segs = meta["segments"][_ROWS]
    return len(segs) == 1 and segs[0].startswith("compact-")


def table_read(
    spark: SparkSession, table_dir: str, as_of: int | None = None
) -> DataFrame:
    """The table's current (or ``as_of`` historical) state: one row per
    live key, internal columns dropped. A fully-compacted log serves at
    scan speed (no resolve aggregate — see ``_is_resolved_log``);
    historical reads serve the schema AS OF the snapshot
    (``_with_asof_columns``)."""
    meta = occlog.meta_as_of(_recover_meta(table_dir), as_of)
    meta = _with_asof_columns(meta, as_of)
    if _is_resolved_log(meta):
        return _read_rows(spark, table_dir, meta).drop(_OP, _SEQ)
    return (
        _resolved(spark, table_dir, meta)
        .where(F.col(_OP) != "d")
        .drop(_OP, _SEQ)
    )


def table_changes(
    spark: SparkSession,
    table_dir: str,
    since: int = 0,
    as_of: int | None = None,
) -> DataFrame:
    """The committed change log for batches ``since+1 .. as_of`` (the
    CDC read: what a downstream view must apply to catch up from
    snapshot ``since``). Rows carry ``_op`` and ``_seq`` (the batch
    sequence number — ordering metadata for the consumer). History
    folded by compaction is gone: ``since`` older than
    ``compacted_through`` raises rather than silently under-delivering
    changes."""
    meta = occlog.meta_as_of(_recover_meta(table_dir), as_of)
    paths = _changed_paths(table_dir, meta, since)
    if not paths:
        return (
            _read_rows(spark, table_dir, meta)
            .where(F.lit(False))
        )
    return _read_rows(spark, table_dir, meta, paths=paths)


def _changed_paths(table_dir: str, meta: dict, since: int) -> list[str]:
    """Segment paths carrying batches ``since+1 ..`` (within ``meta``'s
    segment list, which the caller has already as-of-prefixed), with the
    :func:`table_changes` bounds checks. Empty = empty window."""
    n = meta["n_batches"]
    if not 0 <= since <= n:
        raise ValueError(f"since must be in [0, {n}], got {since}")
    ct = meta.get("compacted_through", 0)
    if since < ct:
        raise ValueError(
            f"changes before batch {ct} were compacted away; "
            f"since={since} cannot be served completely"
        )
    segs = meta["segments"][_ROWS]
    folded = segs and segs[0].startswith("compact-")
    # with a leading compact-* entry, entry i>0 is batch ct+i; without,
    # entry i is batch i+1's state (seg-i carries _seq=i)
    start = 1 + (since - ct) if folded else since
    return [os.path.join(table_dir, _ROWS, s) for s in segs[start:]]


def table_lookup(
    spark: SparkSession,
    table_dir: str,
    probes: DataFrame,
    as_of: int | None = None,
    n_bound: int | None = None,
) -> DataFrame:
    """Point lookups against the table: the current row for each probed
    key (absent/deleted keys return nothing). The log is filtered to the
    probed keys BEFORE the resolve — a guarded-broadcast semi-join, so
    a serving lookup costs O(probed keys' log rows), never a full
    merge-on-read. Small probe sets (≤ ``LOOKUP_PUSHDOWN_MAX_KEYS``)
    additionally push a per-column ``IN`` literal filter
    into the parquet scan — a NECESSARY superset condition (the
    semi-join keeps exactness for composite keys), but one the scanner
    can answer from file/row-group min-max statistics, so on a
    range-clustered compacted table (``compact_table(order_by=keys)``)
    a point lookup skips almost every file: the poor man's index.
    ``probes`` carries exactly the key columns. The read-only serving
    twin of ``table_read``, same shape as the index lookups
    (incremental.py).

    ``n_bound``: a caller-known upper bound on the distinct probe count
    (e.g. the changed-segment footer rows behind a zset delta). With a
    bound the lookup costs at most ONE driver action — a bounded
    ``collect`` when the bound admits the literal pushdown, NONE at all
    when it doesn't (bound-hinted semi-join only). Without a bound the
    probe count is discovered with a single bounded collect
    (resources.bounded_rows) instead of the old count-then-collect pair
    (guide §1.2: one action where two ran)."""
    meta = _with_asof_columns(
        occlog.meta_as_of(_recover_meta(table_dir), as_of), as_of
    )
    keys = meta["keys"]
    if sorted(probes.columns) != sorted(keys):
        raise ValueError(
            f"probes must carry exactly the key columns {keys}, "
            f"got {probes.columns}"
        )
    pk = probes.distinct()
    vals = None
    attached: list[DataFrame] = []
    if n_bound is not None and n_bound <= LOOKUP_PUSHDOWN_MAX_KEYS:
        vals = pk.collect()  # bounded by n_bound by contract
    elif n_bound is None:
        # one probing action decides the regime AND yields the literals
        vals = bounded_rows(pk, LOOKUP_PUSHDOWN_MAX_KEYS)
    rows = _read_rows(spark, table_dir, meta)
    if vals is not None:
        # bounded driver-side collect (probe-sized, same class as the
        # repo's query-side collects); the isin literals reach the scan
        # as PushedFilters and prune via min-max stats, and the probe
        # side becomes a lineage-free local relation (no persist, no
        # count job)
        if vals:
            for k in keys:
                rows = rows.where(F.col(k).isin([r[k] for r in vals]))
        pk = F.broadcast(spark.createDataFrame(vals, pk.schema))
    elif n_bound is not None:
        # big probe set with a known bound: no driver action at all —
        # the bound drives the broadcast decision, the semi-join the
        # exactness
        pk = guarded_broadcast(pk, n_bound)
    else:
        pk = pk.persist()
        pk = guarded_broadcast(pk, pk.count())
        attached.append(pk)
    rows = rows.join(pk, keys, "left_semi")
    if _is_resolved_log(meta):  # already key-unique and live
        return attach_plan(rows.drop(_OP, _SEQ), *attached)
    payload = F.struct(
        *[F.col(c) for c in meta["columns"]], F.col(_OP)
    )
    g = rows.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(payload, F.col(_SEQ)).alias("_w")
    )
    out = g.where(F.col(f"_w.{_OP}") != "d").select(
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in meta["columns"]],
    )
    return attach_plan(out, *attached)


def table_merge_into(
    spark: SparkSession,
    source: DataFrame,
    table_dir: str,
    when_matched_update: list[str] | None = None,
    when_not_matched_insert: bool = True,
    when_matched_delete: str | None = None,
    batch_id: str | None = None,
    validate: bool = True,
    _retries: int = 8,
) -> dict:
    """Conditional MERGE (the Delta ``MERGE INTO`` clause family)
    compiled onto the log-structured apply. Plain ``table_apply``
    replaces a key's row WHOLESALE; a partial-column update ("set only
    the changed fields, keep the rest") needs the key's CURRENT row —
    which this derives with one candidate-bounded lookup
    (:func:`table_lookup` over the source keys, O(source keys' log
    rows) never O(table)), merges source columns over it, and lands the
    result as one ordinary exactly-once batch. The write path stays
    O(batch); nothing is rewritten in place.

    - ``when_matched_update``: columns to take from the source for keys
      that exist (others keep their current values). ``None`` = replace
      the whole row (the source must then carry every column).
    - ``when_not_matched_insert``: insert source rows whose key is
      absent (the source must carry every column); ``False`` drops them
      (update-only merges).
    - ``when_matched_delete``: SQL boolean expression over the joined
      row (source columns, plus current columns as ``cur_<name>``);
      matched rows satisfying it are tombstoned instead of updated.

    Replay protection, validation, and commit semantics are exactly
    ``table_apply``'s — a retried merge lands once. Because the merge
    batch is DERIVED from a snapshot (read-modify-write), the apply
    carries ``expected_version``: if another writer commits between the
    lookup and the apply, the stale derivation is thrown away and the
    whole merge re-derives from the new state (serializable MERGE, not
    last-writer-wins over a phantom)."""
    meta = _recover_meta(table_dir)
    # replay protection is opt-in via a caller batch_id; a caller-less
    # merge gets a collision-free id from table_apply (multi-writer OCC)
    if batch_id is not None and batch_id in meta["batches"]:
        return meta
    keys = meta["keys"]
    data_cols = meta["columns"]
    if _OP in source.columns:
        raise ValueError(
            "merge sources are untagged (matched/unmatched decides the "
            "op); use table_apply for pre-tagged change batches"
        )
    extras = [
        c for c in source.columns
        if c not in keys and c not in data_cols
    ]
    if extras:
        raise ValueError(
            f"merge source carries columns {extras} not in the table "
            "schema (MERGE never evolves the schema; drop them, or add "
            "the columns first with table_apply(..., evolve=True))"
        )
    need_full = when_matched_update is None or when_not_matched_insert
    missing = [
        c for c in data_cols
        if c not in source.columns and (
            need_full or c in (when_matched_update or [])
        )
    ]
    if missing:
        raise ValueError(
            f"source is missing columns {missing} required by the "
            "merge clauses (full rows are needed unless the merge is "
            "update-only with when_matched_update)"
        )
    if when_matched_update is not None:
        unknown = [c for c in when_matched_update if c not in data_cols]
        if unknown:
            raise ValueError(
                f"when_matched_update names unknown columns {unknown}"
            )
    # hold the RAW lookup result: the persisted-probe attachment does
    # not survive the .select, so releasing the projection would leak
    cur_raw = table_lookup(spark, table_dir, source.select(*keys).distinct())
    cur = cur_raw.select(
        *keys,
        *[F.col(c).alias(f"cur_{c}") for c in data_cols],
        F.lit(True).alias("_matched"),
    )
    joined = source.join(cur, keys, "left")
    matched = F.col("_matched").isNotNull()
    upd = set(
        when_matched_update if when_matched_update is not None
        else data_cols
    )
    payload = [
        F.when(
            matched,
            F.col(c) if c in upd else F.col(f"cur_{c}"),
        ).otherwise(
            F.col(c) if c in source.columns
            else F.lit(None).cast(meta["schema"][c])
        ).alias(c)
        for c in data_cols
    ]
    op = F.when(matched, F.lit("u")).otherwise(
        F.lit("u") if when_not_matched_insert else F.lit(None)
    )
    if when_matched_delete is not None:
        op = F.when(
            matched & F.coalesce(F.expr(when_matched_delete), F.lit(False)),
            F.lit("d"),
        ).otherwise(op)
    batch = (
        joined.select(*keys, *payload, op.alias(_OP))
        .where(F.col(_OP).isNotNull())
    )
    try:
        return table_apply(
            batch, table_dir, batch_id=batch_id, validate=validate,
            expected_version=meta["version"],
        )
    except ConcurrentCommit:
        if _retries <= 0:
            raise
        return table_merge_into(
            spark, source, table_dir,
            when_matched_update=when_matched_update,
            when_not_matched_insert=when_not_matched_insert,
            when_matched_delete=when_matched_delete,
            batch_id=batch_id, validate=validate, _retries=_retries - 1,
        )
    finally:
        release_plan(cur_raw)


def table_changes_zset(
    spark: SparkSession,
    table_dir: str,
    since: int,
    as_of: int | None = None,
) -> DataFrame:
    """The state delta between batch ``since`` and ``as_of`` as a
    Z-SET: displaced pre-image rows tagged ``_op`` = -1, new post-image
    rows tagged +1 — exactly what ``ivm.view_apply_changes`` consumes,
    so a maintained aggregate view chains directly off this table (the
    lakehouse CDF-with-preimages read; Delta calls the two sides
    ``update_preimage``/``update_postimage``).

    The raw change log (:func:`table_changes`) cannot feed an aggregate
    by itself: an upsert row says nothing about the OLD row it
    displaced, and retraction needs that pre-image. Rather than making
    every write pay an O(table) pre-image lookup (which would break the
    O(batch) apply), the pre-images are derived here at READ time,
    candidate-bounded: the log is filtered to the CHANGED keys (a
    guarded-broadcast semi-join — batch-sized in the batch ≪ table
    regime) before either resolve, so the cost is O(log rows of changed
    keys), never O(table). A key whose post-image equals its pre-image
    emits a canceling -1/+1 pair — harmless to any consumer of the
    algebra. ``since``/``as_of`` follow :func:`table_changes` bounds,
    including the compaction boundary.

    ONE log pass, one shuffle (r15): both epochs' winners come out of a
    single aggregate over the candidate-bounded log — ``max_by`` of the
    payload by ``_seq`` for the new state, a second conditional
    ``max_by`` restricted to ``_seq < since`` for the old (``max_by``
    ignores null ordering values, so keys born inside the window yield
    a null pre-image) — then each key explodes into its surviving
    ±1 rows. The previous shape resolved the two epochs independently
    (two semi-joined log scans, two shuffles, a persisted+counted
    changed-key frame = one extra driver action per call); the fused
    aggregate reads the same rows once and needs no persist at all.
    The changed-key broadcast decision uses the changed segments'
    parquet-footer row count (driver-local metadata, no job).

    The returned value carries a ``resources.row_bound`` — a cheap
    upper bound on its row count (2x changed-segment footer rows) that
    downstream candidate-bounded consumers (``joinview._snapshot_for``) use to
    skip their own count jobs. ``resources.release_plan`` stays safe to
    call (nothing is attached)."""
    from mini_data_platform_spark.sinks.compact import dir_parquet_rows

    meta_full = _recover_meta(table_dir)
    meta_new = occlog.meta_as_of(meta_full, as_of)
    paths = _changed_paths(table_dir, meta_new, since)
    keys = meta_full["keys"]
    cols = meta_full["columns"]

    def _shape(df: DataFrame) -> DataFrame:
        return df.select(
            *keys, *[F.col(c) for c in cols]
        ).withColumn(_OP, F.lit(1))

    rows = _read_rows(spark, table_dir, meta_new)
    if not paths:  # empty window: empty zset in the output shape
        return _shape(rows.where(F.lit(False)))
    payload = F.struct(*[F.col(c) for c in cols], F.col(_OP))
    bound = sum(dir_parquet_rows(p) for p in paths)
    if since == 0:
        # no old state and every key is a changed key: the zset IS the
        # resolved new state, +1-tagged — no semi-join needed
        g = rows.groupBy(*[F.col(k) for k in keys]).agg(
            F.max_by(payload, F.col(_SEQ)).alias("_w")
        )
        out = g.where(F.col(f"_w.{_OP}") != "d").select(
            *keys,
            *[F.col(f"_w.{c}").alias(c) for c in cols],
        ).withColumn(_OP, F.lit(1))
        return with_row_bound(out, bound)
    ck = _read_rows(spark, table_dir, meta_new, paths=paths).select(
        *keys
    ).distinct()
    rows = rows.join(guarded_broadcast(ck, bound), keys, "left_semi")
    is_old = F.col(_SEQ) < F.lit(since)
    g = rows.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(payload, F.col(_SEQ)).alias("_n"),
        F.max_by(
            F.when(is_old, payload), F.when(is_old, F.col(_SEQ))
        ).alias("_o"),
    )

    def _emit(w: str, op: int) -> F.Column:
        return F.struct(
            *[F.col(f"{w}.{c}").alias(c) for c in cols],
            F.lit(op).alias(_OP),
        )

    cand = F.filter(
        F.array(
            F.when(
                F.col("_o").isNotNull()
                & (F.col(f"_o.{_OP}") != "d"),
                _emit("_o", -1),
            ),
            F.when(F.col(f"_n.{_OP}") != "d", _emit("_n", 1)),
        ),
        lambda x: x.isNotNull(),
    )
    out = g.select(*keys, F.explode(cand).alias("_e")).select(
        *keys,
        *[F.col(f"_e.{c}").alias(c) for c in cols],
        F.col(f"_e.{_OP}").alias(_OP),
    )
    return with_row_bound(out, 2 * bound)


def compact_table(
    spark: SparkSession,
    table_dir: str,
    order_by: list[str] | None = None,
) -> dict:
    """Fold the segment log into one resolved ``compact-N`` segment:
    winners keep their original ``_seq`` (later appends still order
    after them), tombstone winners are dropped (no older segment
    remains for them to mask). Committed by one meta swap; superseded
    dirs removed best-effort after (crash-safe: readers see either the
    old log or the new, never a mix). Records the time-travel boundary
    ``compacted_through``.

    ``order_by`` (typically the keys) RANGE-CLUSTERS the rewrite:
    ``repartitionByRange`` + ``sortWithinPartitions`` gives every output
    file a disjoint value range, so each file's parquet min/max
    statistics become an index — a pushed key predicate
    (``table_lookup``'s literal pushdown) skips whole files and row
    groups at scan time. One extra range shuffle per compaction buys
    index-like point reads until the next one — the Delta OPTIMIZE
    ZORDER trade."""
    import math
    import shutil

    from mini_data_platform_spark.sinks.compact import (
        DEFAULT_TARGET_BYTES,
        dir_parquet_stats,
    )

    meta = _recover_meta(table_dir)
    old_segs = meta["segments"][_ROWS]
    if len(old_segs) == 1 and old_segs[0].startswith("compact-"):
        return meta
    paths = occlog.segment_paths(table_dir, _ROWS, meta)
    total = sum(dir_parquet_stats(p)[1] for p in paths)
    new_seg = f"compact-{meta['n_batches']}"
    live = _resolved(spark, table_dir, meta).where(
        F.col(_OP) != "d"
    ).persist()
    try:
        # size output files by the RESOLVED state, not the raw log:
        # after heavy update/delete churn the live rows are a fraction
        # of the log bytes, and log-based sizing would re-fragment the
        # small-files problem compaction exists to fix. Log row counts
        # come from parquet footers (driver-local metadata, no Spark
        # job — r15, was one count job per segment) + one count of the
        # already-persisted live frame.
        from mini_data_platform_spark.sinks.compact import (
            dir_parquet_rows,
        )

        n_log = sum(dir_parquet_rows(p) for p in paths)
        n_live = live.count()
        live_bytes = total * (n_live / n_log) if n_log else 0
        want = max(1, math.ceil(live_bytes / DEFAULT_TARGET_BYTES))
        if order_by:
            clustered = live.repartitionByRange(
                want, *order_by
            ).sortWithinPartitions(*order_by)
        else:
            clustered = live.repartition(want)
        occlog.write_segment(clustered, table_dir, _ROWS, new_seg)
    finally:
        live.unpersist(False)
    # COMMIT through the OCC ticket: if an apply landed between our
    # read and here, the ticket loses — raise (the rewrite is stale, a
    # re-run folds the new batch), never stomp a concurrent commit.
    rec = {
        "type": "compact",
        "version": meta["version"],
        "segment": new_seg,
        "compacted_through": meta["n_batches"],
    }
    # the rewrite carries the full current schema: the record clears
    # the per-segment union-by-name read flag
    meta = occlog.commit(table_dir, meta, rec, _apply_record)
    if meta is None:
        shutil.rmtree(
            os.path.join(table_dir, _ROWS, new_seg), ignore_errors=True
        )
        raise RuntimeError(
            f"a commit landed on {table_dir} during compaction; re-run"
        )
    for seg in old_segs:
        if seg != new_seg:
            shutil.rmtree(
                os.path.join(table_dir, _ROWS, seg), ignore_errors=True
            )
    return meta

"""The commit log every segment store shares — merge tables
(operators/mergetable.py), maintained IVM views (operators/ivm.py) and
the dedup indexes (operators/incremental.py). This module is the one
place that knows how such a store commits; each store passes in only
its record vocabulary (``apply_record``: replay one commit record onto
a meta snapshot) and keeps its own retry loop, because what a ticket
loser does differs on purpose (an index recomputes against the new
snapshot, a view re-commits its partial, a merge table re-conforms its
batch).

Protocol — the Delta Lake log (Armbrust et al., VLDB 2020) reduced to
plain POSIX:

- The COMMIT LOG is the sequence of records ``_commits/<version>.json``.
  A writer commits version v by atomically creating that file
  (``os.link`` of a fully-written temp file — creation is put-if-absent
  AND the content is complete when it appears; on object storage
  substitute the store's conditional put). First writer wins; the loser
  recovers the advanced state and retries, at most ``MAX_RETRIES``
  times. To win v a writer must have folded every record < v, so
  commit sequence numbers are gapless and unique, and a compaction
  whose ticket loses refuses rather than stomps.
- The store's ``meta.json`` is a CHECKPOINT of that log. ``recover``
  reads it and replays every ticket it has not absorbed (idempotently —
  a record replays to the same meta), so a winner crashing between its
  ticket and its checkpoint write loses nothing. Every reader and
  writer goes through ``recover``. Its checkpoint write is best-effort:
  a consumer with read-only access to the store still reads, and the
  next writer absorbs the replay. ``checkpoint`` never writes an older
  version over a newer one; the residual check-then-replace race is
  harmless because the tickets are the source of truth.
- Data lives in per-commit segment dirs under ``<store>/<table>/``
  with WRITER-UNIQUE names, written BEFORE the ticket: racing writers
  never collide on a path, a committed record always points at
  fully-written data, and a loser's dirs are invisible orphans that
  ``vacuum`` sweeps. ``meta['segments']`` maps each table to its
  committed, append-ordered segment list, so time travel
  (``meta_as_of``) is a list prefix.
- Records are tiny and retained: they ARE the log.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

_COMMITS = "_commits"
_META = "meta.json"

#: commit attempts before a writer gives up. A writer loses only when
#: another writer committed first, so this is the number of concurrent
#: committers one commit tolerates before the contention is called
#: pathological.
MAX_RETRIES = 32

ApplyRecord = Callable[[dict, dict], dict]


def exists(store_dir: str) -> bool:
    """True iff ``store_dir`` already holds a store's checkpoint."""
    return os.path.exists(os.path.join(store_dir, _META))


def _read_meta(store_dir: str) -> dict:
    with open(os.path.join(store_dir, _META), encoding="utf-8") as f:
        return json.load(f)


def write_meta(store_dir: str, meta: dict) -> None:
    """Atomically replace the checkpoint — unguarded, for a store's
    build (which creates it) and its single-writer build-time edits.
    Concurrent committers checkpoint through here too, so each write
    has its own temp file: with a shared one, the second ``os.replace``
    finds it gone."""
    tmp = os.path.join(store_dir, f".{_META}-{os.getpid()}-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(store_dir, _META))


def _version(meta: dict) -> int:
    # stores from before the ticket log have no ``version``: every
    # commit was a meta swap, so their version is their batch count
    return meta.get("version", meta["n_batches"])


def checkpoint(store_dir: str, meta: dict) -> None:
    """Write ``meta`` as the checkpoint unless a newer one has landed."""
    if _version(_read_meta(store_dir)) <= meta["version"]:
        write_meta(store_dir, meta)


def _ticket_path(store_dir: str, version: int) -> str:
    return os.path.join(store_dir, _COMMITS, f"{version:012d}.json")


def try_ticket(store_dir: str, version: int, record: dict) -> bool:
    """Atomically publish ``record`` as commit ``version``. True iff
    this writer won (the ticket file did not exist)."""
    cdir = os.path.join(store_dir, _COMMITS)
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, f".tmp-{os.getpid()}-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(record, f)
    try:
        os.link(tmp, _ticket_path(store_dir, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def recover(store_dir: str, apply_record: ApplyRecord) -> dict:
    """The store's current state: the checkpoint with every unabsorbed
    ticket rolled forward, then a best-effort checkpoint of the result."""
    meta = _read_meta(store_dir)
    meta["version"] = v0 = _version(meta)
    while os.path.exists(path := _ticket_path(store_dir, meta["version"])):
        with open(path, encoding="utf-8") as f:
            meta = apply_record(meta, json.load(f))
    if meta["version"] != v0:
        try:
            checkpoint(store_dir, meta)
        except OSError:
            pass  # read-only consumer: the tickets stay authoritative
    return meta


def commit(
    store_dir: str, meta: dict, rec: dict, apply_record: ApplyRecord
) -> dict | None:
    """Try to commit ``rec`` as version ``meta['version']``: on a win,
    apply it, checkpoint and return the advanced meta; on a lost race
    return None (the caller recovers and retries its own way)."""
    rec = dict(rec, version=meta["version"])
    if not try_ticket(store_dir, meta["version"], rec):
        return None
    out = apply_record(meta, rec)
    checkpoint(store_dir, out)
    return out


def segment_paths(store_dir: str, table: str, meta: dict) -> list[str]:
    """Paths of ``table``'s COMMITTED segments — dirs on disk that the
    log does not name are invisible."""
    return [os.path.join(store_dir, table, s) for s in meta["segments"][table]]


def write_segment(df: DataFrame, store_dir: str, table: str, seg: str) -> None:
    """Write one segment dir. OVERWRITE on purpose: a retry that reuses
    a crashed writer's name must replace its orphan wholesale."""
    df.write.mode("overwrite").parquet(os.path.join(store_dir, table, seg))


def _seg_no(seg: str) -> int:
    """The commit batch number a segment name carries right after its
    kind prefix (``batch-7``, ``del-7``, ``seg-7-<token>`` → 7)."""
    return int(seg.split("-", 2)[1])


def meta_as_of(meta: dict, as_of: int | None) -> dict:
    """TIME TRAVEL: ``meta`` restricted to the state after the first
    ``as_of`` committed batches. Every segment name carries the batch
    it was committed at, and at most one leading ``compact-*`` entry
    folds every batch before ``meta['compacted_through']``, so an as-of
    state is a name filter on each table's list — no data copies, and
    tables whose logs are sparse in batch numbers (tombstones exist only
    for delete batches) travel correctly. History folded by compaction
    is gone: an older ``as_of`` raises (the Delta/Iceberg
    vacuum-vs-time-travel trade, made explicit)."""
    if as_of is None:
        return meta
    n = meta["n_batches"]
    if not 1 <= as_of <= n:
        raise ValueError(f"as_of must be in [1, {n}], got {as_of}")
    if as_of == n:
        return meta
    ct = meta.get("compacted_through", 0)
    if as_of < ct:
        raise ValueError(
            f"history before batch {ct} was compacted away; "
            f"as_of={as_of} is not reconstructible"
        )
    out = dict(meta)
    out["segments"] = {}
    for t, segs in meta["segments"].items():
        if segs and segs[0].startswith("compact-") and ct == 0:
            # compacted before ``compacted_through`` was recorded: the
            # fold boundary is unknown, so refuse rather than guess
            raise ValueError(
                f"{t!r} was compacted without a recorded boundary; "
                "history is not reconstructible (re-run compaction with "
                "this version to record it)"
            )
        out["segments"][t] = [
            s for s in segs if s.startswith("compact-") or _seg_no(s) < as_of
        ]
    out["n_batches"] = as_of
    return out


def vacuum(store_dir: str, apply_record: ApplyRecord) -> list[str]:
    """Delete ORPHAN segment dirs — leftovers of crashed or
    ticket-losing writers and of failed best-effort deletes. Tickets
    are rolled forward first (with the store's own ``apply_record``),
    so a ticketed segment whose checkpoint never landed is committed
    state and is kept. No reader sees an orphan, so removal never
    changes a result. Do not vacuum while a writer is mid-commit, or
    its not-yet-committed segments get swept. Returns the removed
    paths."""
    meta = recover(store_dir, apply_record)
    removed: list[str] = []
    for table, segs in meta["segments"].items():
        tdir = os.path.join(store_dir, table)
        if not os.path.isdir(tdir):
            continue
        for name in sorted(set(os.listdir(tdir)) - set(segs)):
            p = os.path.join(tdir, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    return removed

"""Incremental dedup indexes — a new batch against the existing corpus,
without recomputing the corpus.

The batch pipeline (operators/dedup_fuzzy.near_dup_pairs) re-shingles
and re-signs the WHOLE corpus on every run. A production training corpus
ingests in batches: deduping batch N+1 against N batches of history must
not re-read 100 TB of settled text. This module is the batch/restartable
twin of streaming/neardup.py's TTL state (round-6 verdict item 1): the
bucket table IS the index — persist it once, join each new batch against
it. Build offline, look up online: the serving split of incremental
top-k similarity search (EDBT 2020).

THE KIND TABLE. Three index kinds share one layout and one protocol, and
``_KINDS`` is the one place they differ. Each entry names its segment
tables, its batch projection, its pairs plan and its build segments:

- near-dup (MinHash LSH; checkpoints carry no ``kind``): tables
  ``buckets`` (id, band_id, band_key) and ``docs`` (id, text, _shh);
  batches project to (id, text); ``_neardup_batch_pairs`` returns the
  verified (id_a, id_b, jaccard) pairs.
- exact (``kind: exact``): table ``hashes`` (content_hash, id); batches
  project to (content_hash, id); ``_exact_batch_resolved`` returns
  (id, content_hash, dup_of) per new doc.
- embedding (``kind: embdup``): tables ``ebuckets`` (id, bucket) and
  ``evecs`` (id, vec, nrm); batches project to (id, vec, nrm);
  ``_embdup_batch_pairs`` returns the verified (id_a, id_b, cos_sim)
  pairs.

The nine public ``<kind>_index_{build,increment,lookup}`` functions are
thin calls into ``_build``, ``_increment`` and ``_lookup``; every
kind-specific operation checks the checkpoint's kind first and raises
``ValueError`` on another kind.

Index layout under ``index_dir`` (parquet + one JSON checkpoint):

- the checkpoint (operators/occlog.py) — the kind's frozen parameters
  (LSH hyperparameters, hyperplanes, id/text/vector column names),
  running doc/batch counts, and the COMMIT LOG: ``segments`` maps each
  table to its committed per-batch subdirectories. Readers only ever
  read committed segments, which is what makes commits atomic on plain
  parquet. Signatures from different parameters are incomparable, so
  every operation reads its parameters from here, never from arguments
  — an index can only ever be queried the way it was built.
- ``<table>/batch-N-<token>/`` — one segment per table per committed
  batch (``batch-0`` from the build, ``compact-N-<token>`` after
  compaction).
- ``pairs/batch-N-<token>/`` — each increment's result, written before
  its commit and returned as a parquet read, so an increment's result
  is durable, re-readable after restart, and never reads its own batch
  from the corpus side.

THE PROTOCOL, once for every kind:

- build: project the corpus, write each table's ``batch-0`` segment and
  count the docs (independent actions, overlapped from driver threads),
  then write the checkpoint. A directory that already holds an index is
  refused.
- increment: recover the checkpoint (``occlog.recover`` rolls crashed
  winners' tickets forward) and check the kind. A ``batch_id`` already
  in the log is a replay: serve that batch's materialized pairs and
  commit nothing — the ivm/mergetable exactly-once contract, which lets
  a foreachBatch stream drive the index under Spark's at-least-once
  micro-batch replays (callers that never pass ids keep the original
  semantics). Otherwise project and count the batch once, and per
  attempt plan it against the recovered snapshot, write the result and
  the batch's segments concurrently under writer-unique names, and
  commit one ``increment`` record. A ticket loser RECOMPUTES against the
  new snapshot — re-committing its stale result would drop
  (loser-batch × winner-batch) pairs — at most ``occlog.MAX_RETRIES``
  times; its dirs are orphans ``vacuum_index`` sweeps.
- lookup: the same plan against the checkpoint, or its ``as_of`` prefix
  (``occlog.meta_as_of``: reproduce yesterday's decision), committing
  nothing — idempotent, and never in conflict with a committing writer.
  ``small_batch=True`` (near-dup and embedding) is the latency contract:
  the caller declares the batch and its candidates broadcast-sized, the
  guard-count jobs are dropped, and a driver-side point probe replaces
  the distributed candidate joins; any cap overflow degrades to the
  distributed path, never an unbounded collect.

Scale shape of one near-dup increment (new batch b against corpus C; the
embedding kind has the same shape over hyperplane buckets):

- signature + band keys for b only — one scan of b, no touch of C;
- new-vs-corpus candidates: ``buckets ⋈ b_bands`` on (band_id,
  band_key) — b's band-key frame is broadcast and the corpus-sized side
  streams map-side with ZERO shuffle of the index. The broadcast is
  GUARDED: above ``resources.BROADCAST_MAX_ROWS`` the hint is dropped
  and the planner degrades to a shuffle join instead of OOM-ing the
  driver (round-7 verdict item 1); the same guard covers the
  candidate-id semi-join frames;
- new-vs-new candidates: the LSH self-join within b;
- verification: exact shingle Jaccard over candidate docs only, from
  the shingle-hash sets (``_shh``) the docs segments carry — the text
  column is pruned from the scan and settled text is never re-shingled.
  Docs segments without ``_shh`` (written before it existed) are
  refused with a ``ValueError``: rebuild such an index.

Correctness contract (the driver-level equivalence oracle,
plans/llm.doc_neardup_incremental): for any split of a corpus into
batches, the union of every increment's pairs plus the within-batch-1
pairs equals the full-corpus ``near_dup_pairs`` recompute EXACTLY —
pair-for-pair, jaccard-for-jaccard. Pairs partition cleanly because
every pair has a unique earliest-batch member: (old,old) pairs come from
earlier rounds, (new,old) from the corpus join, (new,new) from the self
join. Dedup POLICY (survivors, clusters) stays downstream of the pairs,
exactly as in the batch pipeline — which is what makes the equivalence
exact rather than "incremental-flavored" (greedy drop-on-match would
diverge from full-recompute clustering on chains that span batches).
With a finite ``max_bucket`` the equivalence narrows to SNAPSHOT
semantics: each increment's drop decision uses the occupancy as of THAT
increment (old + this batch — the same total a capped recompute of the
then-current corpus sees), but pairs already emitted by earlier
increments are never retracted when a later batch pushes a bucket over
the cap, so the multi-batch union tracks a capped recompute of each
snapshot, not one capped recompute of the final corpus.

Deletion (takedown propagation): ``index_delete`` retracts a doc-id
set from any of the three index kinds by committing a TOMBSTONE segment
(``tombstones/del-N``) in the same log — one atomic meta swap, O(delete
set) written, nothing rewritten. Every corpus-side read goes through
``_read_live`` (committed segments anti-joined against committed
tombstones, guarded-broadcast), so lookups, increments, hot-bucket
occupancy counts, and ``neardup_index_pairs`` all behave as if the
index had been built on the remaining corpus — the equivalence the
declared query ``doc_neardup_delete`` proves against a recompute
oracle. The logical delete is immediate; the PHYSICAL purge (the
GDPR/takedown erasure step — tombstoned text actually leaving disk)
happens at ``compact_index``, which rewrites every table through the
live filter and then drops the tombstones. Two documented limits: a
deleted id is terminal (tombstones hide every segment's rows for that
id, so re-adding it would stay hidden — use a fresh id), and pairs
already materialized under ``pairs/`` are immutable history (the index
stops SERVING the doc; artifacts already handed to consumers are theirs
to re-derive). Deletes and compactions commit through the same ticket
log; compaction refuses a lost race (raises; re-run).

No reference-repo counterpart (the reference ingests files, it has no
similarity ops); part of the §2.8 LLM-pipeline extension surface.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable
from functools import partial, reduce
from operator import and_
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from mini_data_platform_spark.operators.dedup_fuzzy import (
    _staged_shingles,
    jaccard_pairs_from_hashes,
    lsh_band_keys,
    minhash_signature_columns,
    minhash_signatures_from,
    shingle_hash_sets,
)
from mini_data_platform_spark.operators import occlog, resources
from mini_data_platform_spark.operators.resources import (
    attach_plan,
    bounded_rows,
    guarded_broadcast,
    run_concurrently,
)

_BUCKETS = "buckets"
_DOCS = "docs"
_HASHES = "hashes"
_EBUCKETS = "ebuckets"
_EVECS = "evecs"
_PAIRS = "pairs"
_TOMBSTONES = "tombstones"
#: docs-table column holding each doc's distinct shingle-HASH set
#: (dedup_fuzzy.shingle_hash_sets) — written at build/increment commit
#: so lookups verify Jaccard from 8-byte hashes with the text column
#: pruned from the scan (round-9 verdict item 2)
_SHH = "_shh"

#: candidate-doc ceiling for the ZERO-SHUFFLE verify plan
#: (jaccard_pairs_from_hashes small_pairs=True): unlike the 2M-row id
#: broadcast cap, these frames carry shingle-hash ARRAYS (~KBs per
#: doc), so the bound is docs × array bytes, not rows — 20k docs ×
#: ~3 KB ≈ 60 MB worst case, safely under the driver budget. Above it
#: verification degrades to the ordinary shuffle joins.
_VERIFY_BROADCAST_MAX_DOCS = 20_000


def _verify_max_docs() -> int:
    """The zero-shuffle verify ceiling, never above the broadcast cap."""
    return min(_VERIFY_BROADCAST_MAX_DOCS, resources.BROADCAST_MAX_ROWS)


#: Candidate-pair rows admissible as a driver-side literal frame: each
#: row is two ids (~32 B), so the cap is a few MB collected/broadcast —
#: DISTINCT from the id cap below because LSH pairs fan out quadratically
#: within hot buckets (sf0.1 emb serve: 27.8k pairs over 2.2k ids, which
#: the id-bounded regime has always admitted).
_VERIFY_BROADCAST_MAX_PAIRS = 200_000


def _pairs_local(cands: DataFrame) -> tuple[list, list] | None:
    """Materialize the (declared-)bounded candidate PAIR frame to a
    driver-side (rows, distinct-sorted-ids) pair, or ``None`` when it
    overflows the pair or the id cap (a mis-declared small batch) so the
    caller degrades to the guarded semi-join instead of an unbounded
    collect.

    Why a literal list and not a broadcast semi-join: the serve paths'
    candidate frame carries the WHOLE candidate-generation lineage
    (LSH banding, bucket joins, distincts), and a broadcast build
    against it embeds that lineage into every frame that references the
    filtered result — the round-11 plan defect, where the
    twice-referenced verify frame compiled to a 76-exchange serve plan
    against the ≤4-exchange zero-shuffle contract
    (tests/test_plan_quality.py small_batch gate). A literal pair frame
    plus an InSet id filter are lineage-free, the filter pushes into
    the parquet candidate scan, and the one bounded collect is the ONLY
    action before the verify job — collecting PAIRS directly off the
    persisted cands frame (rather than a derived distinct-id frame, the
    first round-12 cut) saves a per-lookup union+distinct shuffle job,
    and handing the literal pairs back to the scorer keeps the
    candidate lineage out of the verify plan entirely."""
    rows = bounded_rows(cands, _VERIFY_BROADCAST_MAX_PAIRS)
    if rows is None:
        return None
    ids = sorted({r[0] for r in rows} | {r[1] for r in rows})
    if len(ids) > _VERIFY_BROADCAST_MAX_DOCS:
        return None
    return rows, ids


def _isin_filter(ids: list, col: str = "id"):
    """``<col> IN (<ids>)`` as a pushable In predicate; empty candidate
    sets filter everything (``isin([])`` is not valid Spark).

    Built as ONE SQL expression string on purpose: ``Column.isin(ids)``
    creates a py4j literal per element — ~4 ms of driver↔JVM round trip
    EACH, measured 4.8 s of the serve wall at 1k candidate ids (the
    round-12 latency profile's top entry) — while the parser folds the
    same thousand-element list in one call, microseconds JVM-side."""
    if not ids:
        return F.lit(False)

    def fmt(v):
        if isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{esc}'"
        return str(v)

    quoted = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({', '.join(fmt(v) for v in ids)})")


#: Corpus-side bucket entries a serving probe may pull to the driver:
#: the probe scan is already In-filtered to the batch's band keys, so
#: this only trips on pathological hot buckets — which the candidate
#: caps would reject anyway; overflowing degrades to the distributed
#: candidate join, never an unbounded collect.
_PROBE_MAX_ENTRIES = 200_000

#: Distinct bucket keys a probe will push as one In predicate (a
#: single parsed array — 32k strings is ~1 MB of plan, fine); past
#: this the batch is no point lookup: skip the probe entirely.
_PROBE_MAX_KEYS = 32_000


def _literal_pairs_frame(spark: SparkSession, pairs: list, id_type):
    """Driver pairs → an (id_a, id_b) DataFrame of ``id_type`` ids via
    the Arrow path: pandas-backed ``createDataFrame`` serializes one
    Arrow batch instead of a py4j pickle per row — at the embedding
    serve's ~28k candidate pairs the row path alone cost ~0.4 s of
    lookup wall. Falls back to the plain row path when the pandas
    conversion rejects the id type."""
    schema = T.StructType(
        [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    )
    rows = [tuple(p) for p in pairs]
    if rows:
        try:
            import pandas as pd

            pdf = pd.DataFrame(rows, columns=["id_a", "id_b"])
            return spark.createDataFrame(pdf, schema)
        except Exception:  # noqa: BLE001 — fall back to the row path
            pass
    return spark.createDataFrame(rows, schema)


def _local_bucket_pairs(
    new_rows: list,
    old_rows: list,
    max_bucket: int | None,
    max_pairs: int,
    max_ids: int,
) -> tuple[list, list] | None:
    """DRIVER-side candidate-pair generation for the declared-small
    serving probe: ``new_rows``/``old_rows`` are (id, bucket_key)
    tuples — the batch's band keys and the In-probed corpus bucket
    entries. Emits exactly the pairs the distributed form produces:
    new-vs-corpus (id != id, (least, greatest)) ∪ new-vs-new (a < b)
    over buckets surviving the hot-bucket cap (old occupancy + new
    occupancy ≤ ``max_bucket``; occupancies counted per touched bucket,
    the same current-corpus semantics as the distributed count
    aggregate), set-deduped. Returns (sorted pairs, sorted distinct
    ids) or ``None`` when either cap overflows — the caller then falls
    back to the distributed candidate join. Python ``<`` on the ids
    matches Spark's least/greatest for the integral and string id
    types an index carries (UTF-8 byte order ≡ code-point order)."""
    from collections import defaultdict

    new_by: dict = defaultdict(list)
    old_by: dict = defaultdict(list)
    for i, k in new_rows:
        new_by[k].append(i)
    for i, k in old_rows:
        old_by[k].append(i)
    pairs: set = set()
    for k, news in new_by.items():
        olds = old_by.get(k, ())
        if max_bucket is not None and len(olds) + len(news) > max_bucket:
            continue
        for n in news:
            for o in olds:
                if o != n:
                    pairs.add((o, n) if o < n else (n, o))
            if len(pairs) > max_pairs:
                return None
        for x in range(len(news)):
            a = news[x]
            for y in range(x + 1, len(news)):
                b = news[y]
                if a != b:
                    pairs.add((a, b) if a < b else (b, a))
        if len(pairs) > max_pairs:
            return None
    ids = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    if len(ids) > max_ids:
        return None
    return sorted(pairs), ids


def vacuum_index(index_dir: str) -> list[str]:
    """Sweep orphan segment dirs (``occlog.vacuum``), then the index's
    own ``pairs/``: committed outputs (``meta['pairs_segs']`` values,
    plus every legacy ``batch=N``/``snapshot=N`` dir) are immutable
    results and stay; OCC-era token-named dirs NOT in the committed map
    are a ticket loser's stale results (computed against a superseded
    snapshot — wrong to serve, not merely redundant) and are swept.
    Returns the removed paths."""
    import shutil

    removed = occlog.vacuum(index_dir, _apply_record)
    pdir = os.path.join(index_dir, _PAIRS)
    if os.path.isdir(pdir):
        committed_pairs = set(
            _recover_meta(index_dir).get("pairs_segs", {}).values()
        )
        for name in sorted(os.listdir(pdir)):
            p = os.path.join(pdir, name)
            if (
                os.path.isdir(p)
                and "=" not in name  # legacy batch=N / snapshot=N stay
                and name not in committed_pairs
            ):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
    return removed


def index_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """The LIVE indexed corpus — (id, text) for a near-dup index,
    (content_hash, id) for an exact index, (id, vec, nrm) for an
    embedding index — read from the committed segments minus
    tombstones. This IS the settled corpus in an incremental pipeline:
    downstream stages (survivor projection, curation output) read it
    from here instead of re-scanning and re-gating the raw sources."""
    meta = _recover_meta(index_dir)
    live = _read_live(spark, index_dir, _kind_of(meta, index_dir).corpus, meta)
    # the shingle-hash column is verification state internal to the
    # index (lookup plumbing), not part of the settled-corpus contract
    return live.drop(_SHH) if _SHH in live.columns else live


def _read_table(
    spark: SparkSession, index_dir: str, table: str, meta: dict
) -> DataFrame:
    return spark.read.parquet(*occlog.segment_paths(index_dir, table, meta))


def _read_live(
    spark: SparkSession, index_dir: str, table: str, meta: dict
) -> DataFrame:
    """``_read_table`` minus tombstoned ids — the LIVE corpus view every
    lookup/increment/pairs read uses. With no committed tombstones this
    is ``_read_table`` verbatim (zero plan overhead for the common
    never-deleted index); otherwise one anti-join against the tombstone
    id set, guarded-broadcast on the running delete count (a takedown
    set is tiny next to the corpus; a bulk purge past the threshold
    degrades to a shuffle anti-join instead of OOM-ing the driver).
    The analyzed plan is memoized on the committed segment and
    tombstone paths (operators/plancache.py), so a serving loop pays
    listing and analysis once per commit."""
    from mini_data_platform_spark.operators.plancache import cached_plan

    paths = occlog.segment_paths(index_dir, table, meta) + [
        os.path.join(index_dir, _TOMBSTONES, s)
        for s in meta["segments"].get(_TOMBSTONES, [])
    ]
    return cached_plan(
        spark,
        paths,
        lambda: _build_live(spark, index_dir, table, meta),
        tag=("live", os.path.abspath(index_dir), meta.get("n_deleted", 0)),
    )


def _live_tombstones(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame | None:
    """The live tombstoned-id frame: every ``del-N`` segment read as ONE
    multi-dir scan + distinct, or ``None`` when the table has no
    segments. A ``rev-N`` (revival) segment is refused: this engine no
    longer writes revivals, and reading one as a takedown would hide a
    doc its writer made live again."""
    segs = meta["segments"].get(_TOMBSTONES, [])
    if not segs:
        return None
    revived = [s for s in segs if s.startswith("rev-")]
    if revived:
        raise RuntimeError(
            f"index at {index_dir} holds revival tombstone segments "
            f"{revived}, which this version cannot read; rebuild the "
            "index (or compact it with the version that wrote them)"
        )
    return (
        spark.read.parquet(
            *[os.path.join(index_dir, _TOMBSTONES, s) for s in segs]
        )
        .select("id")
        .distinct()
    )


def _build_live(
    spark: SparkSession, index_dir: str, table: str, meta: dict
) -> DataFrame:
    df = _read_table(spark, index_dir, table, meta)
    tombs = _live_tombstones(spark, index_dir, meta)
    if tombs is None:
        return df
    return df.join(
        guarded_broadcast(tombs, meta.get("n_deleted", 0)), "id", "left_anti"
    )


def _replayed_batch(meta: dict, batch_id: str | None) -> int | None:
    """Replay protection (opt-in, the ivm/mergetable contract): when the
    caller supplies a ``batch_id`` that is already in the commit log,
    return the batch NUMBER it committed as — the caller serves that
    batch's already-materialized ``pairs/batch=N`` instead of
    double-committing. ``meta['batches']`` maps batch_id → batch_no
    (absent on pre-protocol indexes and for callers that never pass
    ids — both keep the original at-most-once-caller semantics)."""
    if batch_id is None:
        return None
    no = meta.get("batches", {}).get(batch_id)
    return int(no) if no is not None else None


def _record_batch_id(meta: dict, batch_id: str | None, batch_no: int) -> None:
    if batch_id is not None:
        meta.setdefault("batches", {})[batch_id] = batch_no


def _pairs_path(index_dir: str, meta: dict, batch_no: int) -> str:
    """The materialized pairs dir of committed batch ``batch_no`` —
    OCC-era batches record their writer-unique dir in
    ``meta['pairs_segs']``; legacy batches used ``batch=<no>``."""
    seg = meta.get("pairs_segs", {}).get(str(batch_no))
    return os.path.join(index_dir, _PAIRS, seg or f"batch={batch_no}")


def _apply_record(meta: dict, rec: dict) -> dict:
    """Replay one commit record onto a meta snapshot — the ONE place
    record semantics live (used by the winner to produce its checkpoint
    and by recovery to roll a crashed winner's ticket forward)."""
    m = json.loads(json.dumps(meta))  # deep copy
    if rec["type"] in ("increment", "delete"):
        if rec["seq"] != m["n_batches"]:  # ticket order guarantees this
            raise RuntimeError(
                f"commit record seq {rec['seq']} != n_batches "
                f"{m['n_batches']} — corrupted commit log"
            )
        if rec["type"] == "increment":
            for table, seg in rec["tables"].items():
                m["segments"].setdefault(table, []).append(seg)
            m["n_docs"] = m["n_docs"] + rec["n_docs_add"]
            if rec.get("pairs_seg"):
                m.setdefault("pairs_segs", {})[str(rec["seq"])] = rec[
                    "pairs_seg"
                ]
        else:
            m["segments"].setdefault(_TOMBSTONES, []).append(rec["segment"])
            m["n_deleted"] = m.get("n_deleted", 0) + rec["n_del"]
        m["n_batches"] += 1
        _record_batch_id(m, rec.get("batch_id"), rec["seq"])
    elif rec["type"] == "compact":
        for table, segs in rec["tables"].items():
            m["segments"][table] = list(segs)
        m["compacted_through"] = rec["compacted_through"]
        if rec.get("clear_tombstones"):
            m["segments"][_TOMBSTONES] = []
            m["n_deleted"] = 0
    else:
        raise RuntimeError(f"unknown commit record type {rec['type']!r}")
    m["version"] = rec["version"] + 1
    return m


def _recover_meta(index_dir: str) -> dict:
    return occlog.recover(index_dir, _apply_record)


def index_delete(
    del_docs: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> dict:
    """Retract a set of doc ids from ANY index kind (near-dup, exact,
    embedding) — the takedown/GDPR path: committing one TOMBSTONE
    segment (``tombstones/del-N``, O(delete set) rows, atomic meta swap)
    makes every subsequent lookup, increment, occupancy count, and
    ``neardup_index_pairs`` behave exactly as if the index had been
    built on the remaining corpus. Nothing is rewritten here — the
    PHYSICAL purge (text leaving disk) happens at the next
    ``compact_index``, which rewrites each table through the live filter
    and drops the tombstones.

    ``del_docs`` needs the index's id column (``meta['id_col']``, or an
    already-normalized ``id``); extra columns are ignored, ids absent
    from the index are harmless no-ops. Time travel composes: an
    ``as_of`` before the delete batch still serves the doc (audit what
    yesterday's dedup saw) until compaction erases the history.

    Two terminal semantics, by design: a deleted id stays deleted (the
    tombstone hides ALL segments' rows for it, including a later re-add
    — re-ingest under a fresh id), and already-materialized ``pairs/``
    outputs are immutable history."""
    ids = None
    try:
        for _ in range(occlog.MAX_RETRIES):
            meta = _recover_meta(index_dir)
            if _replayed_batch(meta, batch_id) is not None:
                return meta
            if ids is None:  # snapshot-independent: compute once
                id_col = meta["id_col"]
                src = id_col if id_col in del_docs.columns else "id"
                ids = (
                    del_docs.select(F.col(src).alias("id"))
                    .distinct()
                    .persist()
                )
                n_del = ids.count()
            seg = f"del-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
            occlog.write_segment(ids, index_dir, _TOMBSTONES, seg)
            committed = occlog.commit(
                index_dir,
                meta,
                {
                    "type": "delete",
                    "seq": meta["n_batches"],
                    "segment": seg,
                    "n_del": n_del,
                    "batch_id": batch_id,
                },
                _apply_record,
            )
            if committed is not None:
                return committed
        raise RuntimeError(
            f"index_delete: lost {occlog.MAX_RETRIES} commit races in a "
            f"row at {index_dir} — pathological contention"
        )
    finally:
        if ids is not None:
            ids.unpersist(False)


# ------------------------------------------------------------ batch plans
#
# One plan per kind. A plan takes the committed corpus of ``meta`` and a
# normalized, persisted ``batch`` with ``n`` rows, or ``n=None``: the
# declared-small serving contract, under which every batch-derived frame
# is broadcast unconditionally and no guard count runs. It returns
# ``(result, segments, pinned)``: the lazy result plan, a thunk giving
# the batch's segment frames by table (what an increment commits; a
# thunk so that lookups do not pay for building them), and the persisted
# frames backing the plan (released after the action, the resources.py
# contract). Plans are pure reads.


def _guard(df: DataFrame, bound: int | None) -> DataFrame:
    """Broadcast-hint a batch-derived frame: unconditionally under the
    declared-small contract (``bound`` None), else through the row
    guard."""
    return F.broadcast(df) if bound is None else guarded_broadcast(df, bound)


def _probe_pairs(
    new_buckets: DataFrame,
    buckets_old: DataFrame,
    n_rows: int | None,
    max_bucket: int | None,
) -> tuple[list, list] | None:
    """DRIVER-SIDE POINT PROBE, shared by the near-dup and embedding
    plans (round-12): ``new_buckets`` is the batch's (id, *bucket key)
    frame and ``buckets_old`` the corpus bucket table of the same shape,
    probed on the key's last column. One bounded collect of the batch's
    bucket rows, ONE pushed-In scan of the corpus table for the touched
    keys, and candidate generation in Python (``_local_bucket_pairs`` —
    identical output to the distributed joins). The serve lookup
    collapses from ~18 jobs to 3 (batch buckets, probe, verify), the
    corpus never shuffles, and the scans prune to the probed keys and
    then to candidate ids. Counted small batches (steady increments)
    qualify too while ``n_rows`` (the batch's bucket-row count; None
    when declared small) is under the entry cap.

    Returns (sorted pairs, sorted ids), or ``None`` when any cap trips
    (a mis-declared batch, a pathological bucket) — the caller then
    takes the distributed candidate join, never an unbounded collect.
    Each collect is ONE limited collect on purpose: a count-before-
    collect variant was tried (round 12) and reverted — the batch's
    key count cannot predict overflow (the corpus side's occupancy
    decides it), so counting first taxes EVERY steady increment one
    extra scan to save a bounded discarded collect in the rare overflow
    case, which precedes a multi-second distributed fallback anyway."""
    if n_rows is not None and n_rows > _PROBE_MAX_ENTRIES:
        return None
    new_rows = bounded_rows(new_buckets, _PROBE_MAX_ENTRIES)
    if new_rows is None:
        return None
    keys = sorted({r[-1] for r in new_rows})
    if len(keys) > _PROBE_MAX_KEYS:
        return None
    old_rows = bounded_rows(
        buckets_old.where(_isin_filter(keys, new_buckets.columns[-1])),
        _PROBE_MAX_ENTRIES,
    )
    if old_rows is None:
        return None
    return _local_bucket_pairs(
        [(r[0], tuple(r[1:])) for r in new_rows],
        [(r[0], tuple(r[1:])) for r in old_rows],
        max_bucket,
        _VERIFY_BROADCAST_MAX_PAIRS,
        _verify_max_docs(),
    )


def _bucket_candidates(
    old: DataFrame, new: DataFrame, keys: list[str], bound: int | None
) -> DataFrame:
    """Distributed candidate pairs (id_a < id_b) for the batch's bucket
    rows ``new`` ((id, *keys)): new-vs-corpus against the corpus bucket
    rows ``old`` — the corpus-sized side streams against the guarded
    broadcast of the batch side, so the index does not shuffle while
    the batch is under the guard (round-7 verdict item 1) — ∪
    new-vs-new, the within-batch self-join of the same rows. Persisted:
    the verify reads it more than once."""
    same = [F.col(f"o.{k}") == F.col(f"n.{k}") for k in keys]
    cross = (
        old.alias("o")
        .join(
            _guard(new, bound).alias("n"),
            reduce(and_, same) & (F.col("o.id") != F.col("n.id")),
        )
        .select(
            F.least(F.col("o.id"), F.col("n.id")).alias("id_a"),
            F.greatest(F.col("o.id"), F.col("n.id")).alias("id_b"),
        )
    )
    within = (
        new.select(F.col("id").alias("id_a"), *keys)
        .join(new.select(F.col("id").alias("id_b"), *keys), keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return cross.unionByName(within).distinct().persist()


def _candidate_semi(
    df: DataFrame, cands: DataFrame, n_cands: int | None
) -> DataFrame:
    """The corpus side of a distributed verify: ``df`` semi-joined to
    the candidate ids, whose frame is guarded-broadcast on its
    ``2·n_cands`` bound (unhinted when ``n_cands`` is None — a
    declared-small batch that overflowed the literal path)."""
    ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    if n_cands is not None:
        ids = guarded_broadcast(ids, 2 * n_cands)
    return df.join(ids, "id", "left_semi")


def _jaccard_verified(
    sets: DataFrame, cands: DataFrame, small: bool, threshold: float
) -> DataFrame:
    """Candidate pairs scored by exact Jaccard over the shingle-hash
    sets ``sets`` ((id, _shh), candidate-bounded), kept at
    ``threshold``. ``small`` selects the zero-shuffle scorer."""
    return (
        jaccard_pairs_from_hashes(
            sets, cands, "id", small_pairs=small, involved_filtered=True
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _corpus_hash_sets(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame:
    """The live corpus's (id, _shh) verification frame — the text column
    is pruned from the scan. Docs segments without the hash-set column
    (written before it existed) are refused: verifying against them
    would need a re-shingle of candidate text, which this version no
    longer does."""
    docs = _read_live(spark, index_dir, _DOCS, meta)
    if _SHH not in docs.columns:
        raise ValueError(
            f"index at {index_dir} has docs segments without shingle-hash "
            f"sets ({_SHH!r}), which this version cannot verify against; "
            "rebuild the index"
        )
    return docs.select("id", _SHH)


def _neardup_batch_pairs(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    batch: DataFrame,
    n: int | None,
) -> tuple[DataFrame, Callable, list[DataFrame]]:
    """Every verified near-dup pair (id_a, id_b, jaccard) involving the
    (id, text) ``batch``: MinHash LSH candidates (new-vs-corpus ∪
    new-vs-new, the hot-bucket cap applied), exact shingle Jaccard from
    hash sets — the corpus side reads its docs segments' ``_shh``
    arrays for candidate ids only. Segments: the batch's band keys and
    its (id, text, _shh) docs."""
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    threshold, max_bucket = meta["threshold"], meta.get("max_bucket")
    h_old = _corpus_hash_sets(spark, index_dir, meta)
    shingled_new = _staged_shingles(
        batch, "id", "text", meta["shingle_n"]
    ).persist()
    if n is None:
        # zero-shuffle projection form of the signature (same hash
        # family, interchangeable output — dedup_fuzzy doctrine): a
        # broadcast-sized batch gains nothing from the explode/min-agg
        # shuffle, and dropping it removes one more stage barrier from
        # the serving path
        sigs_new = minhash_signature_columns(shingled_new, ["id"], num_hashes)
    else:
        sigs_new = minhash_signatures_from(shingled_new, "id", num_hashes)
    bands_new = lsh_band_keys(sigs_new, "id", num_hashes, bands).persist()
    # lsh_band_keys emits exactly one row per (doc, band)
    n_bands = None if n is None else n * bands
    hsets_new = shingle_hash_sets(shingled_new, "id")

    def segments():
        return {_BUCKETS: bands_new, _DOCS: batch.join(hsets_new, "id")}

    buckets_old = _read_live(spark, index_dir, _BUCKETS, meta)
    pinned = [bands_new, shingled_new]

    loc = _probe_pairs(bands_new, buckets_old, n_bands, max_bucket)
    if loc is None:
        bands_eff = bands_new
        if max_bucket is not None:
            # hot-bucket cap with CURRENT-corpus semantics: a bucket's
            # size is its OLD occupancy + the batch's — the same total a
            # capped recompute of the as-of-now corpus sees. Old
            # occupancy is counted only for buckets the batch touches
            # (semi-filter first — cost ∝ matched buckets, never the
            # index), and the count aggregate's shuffle carries one row
            # per matched bucket.
            new_keys = bands_new.select("band_id", "band_key").distinct()
            old_sizes = (
                buckets_old.join(
                    _guard(new_keys, n_bands),
                    ["band_id", "band_key"],
                    "left_semi",
                )
                .groupBy("band_id", "band_key")
                .agg(F.count("*").alias("_n_old"))
            )
            new_sizes = bands_new.groupBy("band_id", "band_key").agg(
                F.count("*").alias("_n_new")
            )
            ok_buckets = (
                new_sizes.join(old_sizes, ["band_id", "band_key"], "left")
                .where(
                    F.coalesce(F.col("_n_old"), F.lit(0)) + F.col("_n_new")
                    <= max_bucket
                )
                .select("band_id", "band_key")
                .persist()
            )
            pinned.append(ok_buckets)
            bands_eff = bands_new.join(
                _guard(ok_buckets, n_bands), ["band_id", "band_key"],
                "left_semi",
            )
        cands = _bucket_candidates(
            buckets_old, bands_eff, ["band_id", "band_key"], n_bands
        )
        pinned.append(cands)
        n_cands = None if n is None else cands.count()
        # the verify ceiling also honors resources.BROADCAST_MAX_ROWS:
        # it is the one "how much may hard-broadcast" cap, and the
        # oversized-batch degradation gate pins that setting it to 0
        # removes every hard hint from the lookup plan
        if n is None or 2 * n_cands <= _verify_max_docs():
            loc = _pairs_local(cands)
    # The corpus side is candidate-bounded in BOTH regimes: under the
    # zero-shuffle scorer its side is broadcast WHOLE (a broadcast hash
    # join never prunes its own build side), so an unfiltered corpus
    # would broadcast every indexed doc (round-10 advice). In the
    # broadcast regime the bound is a LITERAL InSet filter that pushes
    # into the parquet scan and, unlike a broadcast semi-join, embeds
    # no candidate-generation lineage into the twice-referenced verify
    # frame (the round-11 76-exchange plan defect); the scorer gets the
    # literal pair frame too, so the verify is one job.
    if loc is not None:
        cand_pairs, cand_ids = loc
        in_cands = _isin_filter(cand_ids)
        cands_v = _literal_pairs_frame(
            spark, cand_pairs, bands_new.schema["id"].dataType
        )
        # coalesce: the In-filtered union is candidate-sized but
        # inherits batch+corpus partition counts; without it the
        # verify's repeated scans schedule hundreds of near-empty tasks
        sets_all = (
            hsets_new.where(in_cands)
            .unionByName(h_old.where(in_cands))
            .coalesce(8)
        )
    else:
        cands_v = cands
        sets_all = hsets_new.unionByName(
            _candidate_semi(h_old, cands, n_cands)
        )
    # persisted: the scorer references it twice (both pair sides)
    sets_all = sets_all.persist()
    pinned.append(sets_all)
    verified = _jaccard_verified(sets_all, cands_v, loc is not None, threshold)
    return verified, segments, pinned


def _exact_batch_resolved(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    batch: DataFrame,
    n: int,
) -> tuple[DataFrame, Callable, list[DataFrame]]:
    """Per doc of the (content_hash, id) ``batch``: ``dup_of``, the
    smallest indexed-or-batch id sharing its content hash (itself when
    the doc is the first of its content, so survivors are the rows with
    ``dup_of = id``). The corpus side carries hashes and ids, never
    text. Segment: the batch's hashes."""
    old = _read_live(spark, index_dir, _HASHES, meta)
    # min indexed id per hash, but ONLY for hashes present in the batch
    # (semi-filter first: the aggregate shuffles batch-hash rows, not the
    # whole index)
    batch_hashes = batch.select("content_hash").distinct()
    old_min = (
        old.join(
            guarded_broadcast(batch_hashes, n), "content_hash", "left_semi"
        )
        .groupBy("content_hash")
        .agg(F.min("id").alias("_old_min"))
    )
    batch_min = batch.groupBy("content_hash").agg(
        F.min("id").alias("_batch_min")
    )
    resolved = (
        batch.join(guarded_broadcast(old_min, n), "content_hash", "left")
        .join(guarded_broadcast(batch_min, n), "content_hash", "left")
        .select(
            "id",
            "content_hash",
            F.least(
                F.coalesce(F.col("_old_min"), F.col("_batch_min")),
                F.col("_batch_min"),
            ).alias("dup_of"),
        )
    )
    return resolved, lambda: {_HASHES: batch}, []


def _embdup_batch_pairs(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    batch: DataFrame,
    n: int | None,
) -> tuple[DataFrame, Callable, list[DataFrame]]:
    """Every same-bucket pair (id_a, id_b, cos_sim) involving the
    (id, vec, nrm) ``batch`` with exact cosine ≥ the index threshold,
    bucketed with the index's FROZEN planes and verified against
    candidate-bounded corpus vectors. Segments: the batch's buckets and
    its vectors."""
    from mini_data_platform_spark.functions.vectors import cosine
    from mini_data_platform_spark.operators.similarity import lsh_bucket

    bucketed_new = (
        lsh_bucket(batch, meta["planes"], "id", "vec")
        .select("id", "bucket")
        .persist()
    )
    buckets_old = _read_live(spark, index_dir, _EBUCKETS, meta)
    pinned = [bucketed_new]

    loc = _probe_pairs(bucketed_new, buckets_old, n, None)
    if loc is None:
        cands = _bucket_candidates(buckets_old, bucketed_new, ["bucket"], n)
        pinned.append(cands)
        n_cands = None if n is None else cands.count()
        if n is None:
            loc = _pairs_local(cands)
    # candidate-bounded corpus vectors in both regimes, for the reasons
    # the near-dup plan gives: a literal InSet filter when the pairs are
    # driver-sized, else the guarded semi-join
    vecs_old = _read_live(spark, index_dir, _EVECS, meta)
    if loc is not None:
        cand_pairs, cand_ids = loc
        vecs_old = vecs_old.where(_isin_filter(cand_ids))
        cands_v = _literal_pairs_frame(
            spark, cand_pairs, bucketed_new.schema["id"].dataType
        )
    else:
        cands_v = cands
        vecs_old = _candidate_semi(vecs_old, cands, n_cands)
    all_vecs = batch.unionByName(vecs_old)
    va = all_vecs.select(
        F.col("id").alias("id_a"), F.col("vec").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    vb = all_vecs.select(
        F.col("id").alias("id_b"), F.col("vec").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    # a literal candidate frame is cap-bounded by construction
    # (max_ids ≤ _verify_max_docs()), so it earns the hard hint in the
    # counted regime too — the bound guarded_broadcast enforces
    if n is None or loc is not None:
        cands_v, vb = F.broadcast(cands_v), F.broadcast(vb)
    verified = (
        cands_v.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= meta["threshold"])
    )
    return verified, lambda: {_EBUCKETS: bucketed_new, _EVECS: batch}, pinned


# ------------------------------------------------------------ kind table


def _text_batch(df: DataFrame, meta: dict) -> DataFrame:
    return df.select(
        F.col(meta["id_col"]).alias("id"),
        F.col(meta["text_col"]).cast("string").alias("text"),
    )


def _hash_batch(df: DataFrame, meta: dict) -> DataFrame:
    # sha2-256 over the normalized text: the canonicalization of
    # dedup_fuzzy.exact_dedup
    from mini_data_platform_spark.functions.text import normalize_text

    return df.select(
        F.sha2(
            normalize_text(F.col(meta["text_col"]).cast("string")), 256
        ).alias("content_hash"),
        F.col(meta["id_col"]).alias("id"),
    )


def _vec_batch(df: DataFrame, meta: dict) -> DataFrame:
    from mini_data_platform_spark.functions.vectors import l2_norm

    vec = F.col(meta["vec_col"])
    return df.select(
        F.col(meta["id_col"]).alias("id"),
        vec.alias("vec"),
        l2_norm(vec).alias("nrm"),
    )


def _neardup_segments(base: DataFrame, meta: dict):
    shingled = _staged_shingles(
        base, "id", "text", meta["shingle_n"]
    ).persist()
    sigs = minhash_signatures_from(shingled, "id", meta["num_hashes"])
    return {
        _BUCKETS: lsh_band_keys(
            sigs, "id", meta["num_hashes"], meta["bands"]
        ),
        _DOCS: base.join(shingle_hash_sets(shingled, "id"), "id"),
    }, [shingled]


def _exact_segments(base: DataFrame, meta: dict):
    return {_HASHES: base}, []


def _embdup_segments(base: DataFrame, meta: dict):
    from mini_data_platform_spark.operators.similarity import lsh_bucket

    return {
        _EBUCKETS: lsh_bucket(base, meta["planes"], "id", "vec").select(
            "id", "bucket"
        ),
        _EVECS: base,
    }, []


class _Kind(NamedTuple):
    """One index kind (see the module docstring)."""

    name: str  # the public functions' prefix
    tag: str | None  # meta['kind']; near-dup checkpoints carry none
    label: str  # how a kind check names it
    tables: tuple[str, ...]  # segment tables, in commit-record order
    corpus: str  # the table ``index_docs`` serves
    project: Callable  # (df, meta) -> the normalized batch
    plan: Callable  # (spark, index_dir, meta, batch, n) -> see above
    segments: Callable  # (base, meta) -> (build segments, pinned)


_NEARDUP = _Kind(
    "neardup", None, "a near-dup index", (_BUCKETS, _DOCS), _DOCS,
    _text_batch, _neardup_batch_pairs, _neardup_segments,
)
_EXACT = _Kind(
    "exact", "exact", "an exact-dedup index", (_HASHES,), _HASHES,
    _hash_batch, _exact_batch_resolved, _exact_segments,
)
_EMBDUP = _Kind(
    "embdup", "embdup", "an embedding near-dup index", (_EBUCKETS, _EVECS),
    _EVECS, _vec_batch, _embdup_batch_pairs, _embdup_segments,
)
_KINDS = {k.tag: k for k in (_NEARDUP, _EXACT, _EMBDUP)}


def _kind_of(meta: dict, index_dir: str, want: _Kind | None = None) -> _Kind:
    """The index's kind; with ``want``, refuse every other kind."""
    kind = _KINDS.get(meta.get("kind"))
    if kind is None or (want is not None and want is not kind):
        raise ValueError(
            f"{index_dir} is not {want.label if want else 'a dedup index'}"
        )
    return kind


def _build(kind: _Kind, df: DataFrame, index_dir: str, params: dict) -> dict:
    if occlog.exists(index_dir):
        raise ValueError(f"index already exists at {index_dir}")
    os.makedirs(index_dir, exist_ok=True)
    meta = {"kind": kind.tag, **params} if kind.tag else dict(params)
    base = kind.project(df, meta).persist()
    segments, pinned = kind.segments(base, meta)
    # the segment writes and the count are independent actions over the
    # persisted base — overlapped from driver threads (guide §2.6;
    # cached-block locking keeps the shared upstream computed once)
    *_, n_docs = run_concurrently(
        *(
            partial(occlog.write_segment, frame, index_dir, table, "batch-0")
            for table, frame in segments.items()
        ),
        base.count,
    )
    for frame in (*pinned, base):
        frame.unpersist(False)
    meta.update(
        n_docs=n_docs,
        n_batches=1,
        segments={table: ["batch-0"] for table in kind.tables},
    )
    occlog.write_meta(index_dir, meta)
    return meta


def _increment(
    kind: _Kind, new: DataFrame, index_dir: str, batch_id: str | None
) -> DataFrame:
    spark: SparkSession = new.sparkSession
    batch = None
    try:
        for _ in range(occlog.MAX_RETRIES):
            meta = _recover_meta(index_dir)
            _kind_of(meta, index_dir, kind)
            replay = _replayed_batch(meta, batch_id)
            if replay is not None:
                return spark.read.parquet(
                    _pairs_path(index_dir, meta, replay)
                )
            if batch is None:  # snapshot-independent: prepare once
                batch = kind.project(new, meta).persist()
                n_new = batch.count()
            # the plan reads the snapshot's corpus: recompute per attempt
            result, segments, pinned = kind.plan(
                spark, index_dir, meta, batch, n_new
            )
            segments = segments()
            seg = f"batch-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
            out_path = os.path.join(index_dir, _PAIRS, seg)
            # independent materializations over the persisted frames —
            # overlapped from driver threads (guide §2.6)
            run_concurrently(
                lambda: result.write.mode("overwrite").parquet(out_path),
                *(
                    partial(occlog.write_segment, frame, index_dir, table, seg)
                    for table, frame in segments.items()
                ),
            )
            for frame in pinned:
                frame.unpersist(False)
            committed = occlog.commit(
                index_dir,
                meta,
                {
                    "type": "increment",
                    "seq": meta["n_batches"],
                    "tables": {table: seg for table in segments},
                    "pairs_seg": seg,
                    "n_docs_add": n_new,
                    "batch_id": batch_id,
                },
                _apply_record,
            )
            if committed is not None:
                return spark.read.parquet(out_path)
        raise RuntimeError(
            f"{kind.name}_index_increment: lost {occlog.MAX_RETRIES} commit "
            f"races in a row at {index_dir} — pathological contention"
        )
    finally:
        if batch is not None:
            batch.unpersist(False)


def _lookup(
    kind: _Kind,
    new: DataFrame,
    index_dir: str,
    as_of: int | None,
    small_batch: bool,
) -> DataFrame:
    meta = occlog.meta_as_of(_recover_meta(index_dir), as_of)
    _kind_of(meta, index_dir, kind)
    batch = kind.project(new, meta).persist()
    n_new = None if small_batch else batch.count()
    result, _segments, pinned = kind.plan(
        new.sparkSession, index_dir, meta, batch, n_new
    )
    # the caller runs the action on the lazy plan, then releases the
    # pinned frames via resources.release_plan
    return attach_plan(result, batch, *pinned)


# --------------------------------------------------------- public surface


def neardup_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> dict:
    """Create a near-dup (MinHash LSH) index over ``docs`` at
    ``index_dir``, which must not already hold an index. Returns the
    meta dict. Build emits no within-corpus pairs — run
    ``neardup_index_pairs`` (or the batch ``near_dup_pairs``) over the
    initial corpus for those; they are disjoint from every increment's
    output."""
    return _build(
        _NEARDUP,
        docs,
        index_dir,
        {
            "id_col": id_col,
            "text_col": text_col,
            "threshold": threshold,
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_n": shingle_n,
            "max_bucket": max_bucket,
        },
    )


def neardup_index_increment(
    new_docs: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> DataFrame:
    """Dedup a new batch against the indexed corpus and commit it:
    every verified near-dup pair (id_a, id_b, jaccard), id_a < id_b,
    INVOLVING the batch — new-vs-corpus and new-vs-new. With a finite
    ``max_bucket`` the result has snapshot semantics (module docstring).
    New-batch ids must be disjoint from indexed ids."""
    return _increment(_NEARDUP, new_docs, index_dir, batch_id)


def neardup_index_lookup(
    new_docs: DataFrame,
    index_dir: str,
    as_of: int | None = None,
    small_batch: bool = False,
) -> DataFrame:
    """SERVING lookup: the pairs ``neardup_index_increment`` would
    return for ``new_docs``, committing nothing."""
    return _lookup(_NEARDUP, new_docs, index_dir, as_of, small_batch)


def exact_index_build(
    docs: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
) -> dict:
    """Create an EXACT-dedup index (content-hash table) over ``docs`` at
    ``index_dir`` — the cheap first stage every corpus pipeline runs
    before near-dup: a new batch's exact copies of settled text are
    dropped by one hash join, no shingling at all. Corpus text is never
    stored or re-read."""
    return _build(
        _EXACT, docs, index_dir, {"id_col": id_col, "text_col": text_col}
    )


def exact_index_increment(
    new_docs: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> DataFrame:
    """Exact-dedup a new batch against the indexed corpus and commit
    it: (id, content_hash, dup_of) for EVERY new doc, ``dup_of`` the
    smallest indexed-or-batch id sharing its content hash."""
    return _increment(_EXACT, new_docs, index_dir, batch_id)


def exact_index_lookup(
    new_docs: DataFrame,
    index_dir: str,
    as_of: int | None = None,
) -> DataFrame:
    """SERVING lookup: the resolution ``exact_index_increment`` would
    return for ``new_docs``, committing nothing."""
    return _lookup(_EXACT, new_docs, index_dir, as_of, False)


def embdup_index_build(
    vecs: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 4,
    planes: list[list[float]] | None = None,
) -> dict:
    """Create an embedding near-dup index: a hyperplane-LSH bucket per
    vector (operators/similarity.lsh_bucket) plus the vectors, read
    candidate-bounded for exact-cosine verification. The PLANES
    (``planes``, or ``n_planes`` fitted to ``vecs``) are frozen into
    the checkpoint, so every later batch buckets like the corpus did —
    what makes incremental candidates equal full-recompute
    candidates."""
    from mini_data_platform_spark.operators.similarity import (
        planes_from_corpus,
    )

    if planes is None:
        planes = planes_from_corpus(vecs, id_col, vec_col, n_planes)
    return _build(
        _EMBDUP,
        vecs,
        index_dir,
        {
            "id_col": id_col,
            "vec_col": vec_col,
            "threshold": threshold,
            "planes": [[float(x) for x in p] for p in planes],
        },
    )


def embdup_index_increment(
    new_vecs: DataFrame,
    index_dir: str,
    batch_id: str | None = None,
) -> DataFrame:
    """Near-dup a new vector batch against the indexed corpus and commit
    it: every same-bucket pair (id_a, id_b, cos_sim), id_a < id_b,
    involving the batch with exact cosine ≥ the index threshold."""
    return _increment(_EMBDUP, new_vecs, index_dir, batch_id)


def embdup_index_lookup(
    new_vecs: DataFrame,
    index_dir: str,
    as_of: int | None = None,
    small_batch: bool = False,
) -> DataFrame:
    """SERVING lookup: the pairs ``embdup_index_increment`` would
    return for ``new_vecs``, committing nothing."""
    return _lookup(_EMBDUP, new_vecs, index_dir, as_of, small_batch)


def compact_index(spark: SparkSession, index_dir: str) -> dict[str, int]:
    """Compact an incremental index's per-batch segments (every
    increment commits one segment dir; after many batches the
    bucket/doc tables fragment into many dirs of small files — each one
    a scan task and an object-store request). Each table's committed
    segments are read as one frame, rewritten to ~128 MB files in a
    fresh ``compact-N-<token>`` segment, and every rewrite (plus the
    tombstone clear) lands in ONE OCC commit record — a crash at any
    point leaves either the old committed state or the new one, never a
    mix; leftover dirs are invisible to readers. Returns
    {table: n_files_after}. Past increments' materialized ``pairs/``
    outputs are left untouched (immutable results).

    MULTI-WRITER (round-9): compaction serializes against concurrent
    increments via the shared ticket protocol (operators/occlog.py) —
    a ticket loss (an increment committed after compaction's read)
    RAISES rather than stomping the newer state; re-run to compact the
    advanced index. The abandoned compact dirs are vacuumable
    orphans."""
    import math
    import shutil

    from mini_data_platform_spark.sinks.compact import (
        DEFAULT_TARGET_BYTES,
        dir_parquet_stats,
    )

    meta = _recover_meta(index_dir)
    tables = _kind_of(meta, index_dir).tables
    tomb_segs = list(meta["segments"].get(_TOMBSTONES, []))
    out: dict[str, int] = {}
    token = uuid.uuid4().hex[:8]
    rewritten: dict[str, str] = {}
    superseded: dict[str, list[str]] = {}
    for t in tables:
        old_segs = meta["segments"][t]
        paths = occlog.segment_paths(index_dir, t, meta)
        n_files = total = 0
        for p in paths:
            n, b = dir_parquet_stats(p)
            n_files += n
            total += b
        want = max(1, math.ceil(total / DEFAULT_TARGET_BYTES))
        # with tombstones pending, every table MUST rewrite (the purge
        # is the point), so the small-enough-already skip is disabled
        if len(old_segs) == 1 and n_files <= want and not tomb_segs:
            out[t] = n_files
            continue
        new_seg = f"compact-{meta['n_batches']}-{token}"
        # read through the LIVE filter: tombstoned rows are physically
        # dropped here — the erasure step of a takedown (index_delete
        # only hides; this removes the bytes from disk)
        df = _read_live(spark, index_dir, t, meta)
        occlog.write_segment(df.repartition(want), index_dir, t, new_seg)
        rewritten[t] = new_seg
        superseded[t] = [s for s in old_segs if s != new_seg]
    if not rewritten and not tomb_segs:
        return out
    committed = occlog.commit(
        index_dir,
        meta,
        {
            "type": "compact",
            "tables": {t: [seg] for t, seg in rewritten.items()},
            # time-travel boundary: folded batches are no longer
            # reconstructible (occlog.meta_as_of refuses them)
            "compacted_through": meta["n_batches"],
            # tombstones drop in the SAME record as the rewrites they
            # were purged by — never cleared while a table still holds
            # tombstoned rows
            "clear_tombstones": bool(tomb_segs),
        },
        _apply_record,
    )
    if committed is None:
        for t, seg in rewritten.items():
            shutil.rmtree(
                os.path.join(index_dir, t, seg), ignore_errors=True
            )
        raise RuntimeError(
            "compact_index: a concurrent commit landed during "
            "compaction; the rewrite is stale — re-run to compact the "
            "advanced index"
        )
    for t, segs in superseded.items():
        for seg in segs:
            shutil.rmtree(
                os.path.join(index_dir, t, seg), ignore_errors=True
            )
    for t, seg in rewritten.items():
        out[t] = dir_parquet_stats(os.path.join(index_dir, t, seg))[0]
    if tomb_segs:
        for seg in tomb_segs:
            shutil.rmtree(
                os.path.join(index_dir, _TOMBSTONES, seg),
                ignore_errors=True,
            )
    return out



def neardup_index_pairs(
    spark: SparkSession, index_dir: str, as_of: int | None = None
) -> DataFrame:
    """All verified near-dup pairs WITHIN the indexed corpus AS OF NOW,
    computed from the index's own artifacts: candidate pairs from a
    self-join of the persisted band-bucket table (no re-signing of
    anything), then exact-Jaccard verification with candidate-bounded
    doc reads. Honors the index's ``max_bucket`` (full as-of-now
    occupancy — the same filter a capped recompute applies), so with
    ``neardup_index_increment`` this completes the index algebra:
    pairs(corpus as of now) = index_pairs(after build) ∪ every
    increment's pairs — at no point is the corpus re-shingled wholesale.
    (Under a finite cap the union carries each increment's SNAPSHOT
    semantics — see ``neardup_index_increment``.)

    The result is MATERIALIZED to ``pairs/snapshot=N_batches`` and
    returned as a parquet read (the same durability discipline as the
    increments): the returned plan is a stable snapshot — future appends
    cannot leak into it, which is what makes
    ``index_pairs(build) ∪ increment`` safe to compose lazily.

    ``as_of`` restricts to the corpus after that many committed batches
    (the snapshot file is keyed by the as-of batch count, so snapshots
    of different eras coexist)."""
    meta = occlog.meta_as_of(_recover_meta(index_dir), as_of)
    _kind_of(meta, index_dir, _NEARDUP)
    hsets = _corpus_hash_sets(spark, index_dir, meta)
    max_bucket = meta.get("max_bucket")
    buckets = _read_live(spark, index_dir, _BUCKETS, meta)
    if max_bucket is not None:
        sizes = (
            buckets.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .select("band_id", "band_key")
        )
        buckets = buckets.join(sizes, ["band_id", "band_key"], "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .persist()
    )
    n_cands = cands.count()
    # same gate as the batch path: resources.BROADCAST_MAX_ROWS is the
    # ONE hard-broadcast cap — setting it to 0 must strip every hard
    # hint from this plan too (round-10 advice)
    out = _jaccard_verified(
        _candidate_semi(hsets, cands, n_cands),
        cands,
        2 * n_cands <= _verify_max_docs(),
        meta["threshold"],
    )
    snap = os.path.join(
        index_dir, _PAIRS, f"snapshot={meta['n_batches']}"
    )
    out.write.mode("overwrite").parquet(snap)
    cands.unpersist(False)
    return spark.read.parquet(snap)

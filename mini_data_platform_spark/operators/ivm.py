"""Incremental view maintenance (IVM) for keyed aggregates.

The KPI surface (plans/kpi.py — revenue by day/customer, product
performance; reference README.md:132-146) is recomputed from scratch on
every dashboard refresh. At 100 TB the recompute bill is the full fact
scan; the classic fix — maintained materialized views over append-only
facts (Gupta & Mumick, "Maintenance of Materialized Views", IEEE Data
Eng. Bull. 1995) — makes each refresh cost O(delta) instead: aggregate
the NEW rows only and merge into the persisted view.

Restricted, deliberately, to the self-mergeable aggregate algebra —
``sum`` / ``count`` / ``min`` / ``max`` (avg = sum/count at read) plus
``approx_distinct`` (a Datasketches HLL state per key — sketch UNION is
an exact merge, so "distinct users per day" maintains incrementally,
the aggregate exact distinct-count fundamentally cannot: it would need
the full value set per key — which is exactly what
:func:`distinct_view_build` stores when retractable exactness is worth
that state) — whose merge is the same operation on
partial states, so maintenance needs no base-table access at all. ``view_increment`` is append-only;
``view_apply_changes`` additionally accepts CDC-style ±1-tagged change
batches (the Z-set algebra — what a keyed UPSERT emits as
delete-old/insert-new) for views whose measures all retract
(sum/count; min/max do NOT without the base table and are refused).

Storage = per-batch parquet segment dirs under ``<view>/agg/<segment>/``
committed through the shared ticket log (operators/occlog.py), plus
explicit ``batch_id`` replay protection (an already-committed batch id
is a no-op, so an at-least-once orchestrator like the reference's
Airflow retries can call blindly). A view PARTIAL derives from the
delta alone, so a ticket loser re-commits it at the next version
(snapshot mode re-merges); compaction refuses a lost race.
Readers are unrestricted against DELTA increments (appends never touch
existing segments; a reader's lazy plan over its pinned meta stays
valid), but operations that DELETE superseded dirs — ``compact_view``
and snapshot-mode increments — can invalidate an in-flight reader's
plan between its meta read and its action (FileNotFound on collect):
run those in a maintenance window, or on object storage lean on
delayed deletion (the Delta VACUUM retention-period pattern).

Two maintenance shapes, both exact:
- ``mode="delta"`` (default): each increment APPENDS its delta's
  partial aggregate — an O(delta) write with NO view read; serving
  reads merge the segments (merge-on-read), and ``compact_view`` folds
  them back to one segment when the log grows. This is the write path
  that stays O(delta) at any view size — the Druid/Pinot rollup-segment
  shape.
- ``mode="snapshot"``: each increment merges delta + current view and
  rewrites one consolidated segment — reads are single-segment scans,
  writes cost O(view). The read-optimized shape for small dashboard
  views.

Determinism: ``sum`` states are stored as DECIMAL(30,6) (the
plans/_parity.py recipe) — decimal addition is exact and associative,
so ANY segmentation of the facts into batches merges to bit-identical
totals, which is what lets a plain GROUP BY SQL oracle hash-match the
maintained view (tested, and declared as ``kpi_revenue_by_day_ivm``).

Scale: every aggregate here is partial-agg friendly (map-side combine
collapses each input partition to |keys| rows before the shuffle); the
merge-on-read union shuffles only segment rows — view-sized, not
fact-sized.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.plans._parity import DEC

_AGG = "agg"
_KINDS = {"sum", "count", "min", "max", "approx_distinct"}


# Commits go through the shared ticket log (operators/occlog.py).


def _apply_view_record(meta: dict, rec: dict) -> dict:
    import json

    m = json.loads(json.dumps(meta))  # deep copy
    if rec["type"] == "partial":
        if rec["seq"] != m["n_batches"]:
            raise RuntimeError(
                f"view commit record seq {rec['seq']} != n_batches "
                f"{m['n_batches']} — corrupted commit log"
            )
        if m["mode"] == "snapshot":
            m["segments"][_AGG] = [rec["segment"]]
        else:
            m["segments"][_AGG] = m["segments"][_AGG] + [rec["segment"]]
        m["batches"] = m["batches"] + [rec["batch_id"]]
        m["n_batches"] += 1
    elif rec["type"] == "compact":
        m["segments"][_AGG] = [rec["segment"]]
        m["compacted_through"] = rec["compacted_through"]
    else:
        raise RuntimeError(f"unknown view record type {rec['type']!r}")
    m["version"] = rec["version"] + 1
    return m


def _recover_view_meta(view_dir: str) -> dict:
    return occlog.recover(view_dir, _apply_view_record)


def _star_counts(measures: dict[str, tuple[str, str]]) -> list[str]:
    """Names of the count(*) measures — the CDC multiplicity columns."""
    return [
        n for n, (kind, src) in measures.items()
        if kind == "count" and src in (None, "*")
    ]


def _partial_agg(
    df: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Aggregate raw fact rows into one mergeable state row per key.

    Every ``sum`` measure carries a hidden non-null-contribution
    counter ``_nn_<name>``: SQL's SUM over zero non-null values is
    NULL, not 0, and after a retraction removes the last non-null
    contribution the decimal state reads 0.000000 — the counter is what
    lets the serve read restore the correct NULL (tested: delete the
    only non-null amount of a group that keeps a null-amount row)."""
    aggs = []
    for name, (kind, src) in measures.items():
        if kind not in _KINDS:
            raise ValueError(f"unsupported measure kind {kind!r} for {name!r}")
        if kind == "sum":
            aggs.append(F.sum(F.col(src).cast(DEC)).cast(DEC).alias(name))
            aggs.append(F.count(src).alias(f"_nn_{name}"))
        elif kind == "count":
            col = F.count("*") if src in (None, "*") else F.count(src)
            aggs.append(col.alias(name))
        elif kind == "min":
            aggs.append(F.min(src).alias(name))
        elif kind == "max":
            aggs.append(F.max(src).alias(name))
        else:  # approx_distinct: Datasketches HLL state (binary column)
            if src in (None, "*"):
                raise ValueError(
                    f"approx_distinct measure {name!r} needs a column"
                )
            aggs.append(F.hll_sketch_agg(F.col(src)).alias(name))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def _merge_agg(
    df: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Merge partial-state rows (the same key may appear once per
    segment): sum-of-sums, sum-of-counts, min-of-mins, max-of-maxes."""
    aggs = []
    for name, (kind, _src) in measures.items():
        if kind == "sum":
            aggs.append(F.sum(F.col(name)).cast(DEC).alias(name))
            aggs.append(F.sum(F.col(f"_nn_{name}")).alias(f"_nn_{name}"))
        elif kind == "count":
            aggs.append(F.sum(F.col(name)).alias(name))
        elif kind == "min":
            aggs.append(F.min(name).alias(name))
        elif kind == "max":
            aggs.append(F.max(name).alias(name))
        else:  # approx_distinct: sketch union is the exact merge
            aggs.append(F.hll_union_agg(F.col(name)).alias(name))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def view_build(
    df: DataFrame,
    view_dir: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
    mode: str = "delta",
    batch_id: str = "batch-0",
) -> dict:
    """Create a maintained aggregate view over the initial facts ``df``.

    ``measures`` maps output column → ``(kind, source_col)`` with kind in
    sum/count/min/max (count's source may be ``"*"``). Returns meta.
    """
    if mode not in ("delta", "snapshot"):
        raise ValueError(f"unknown mode {mode!r}")
    if occlog.exists(view_dir):
        raise ValueError(f"view already exists at {view_dir}")
    os.makedirs(view_dir, exist_ok=True)
    seg = "seg-0"
    occlog.write_segment(_partial_agg(df, keys, measures), view_dir, _AGG, seg)
    meta = {
        "keys": list(keys),
        "measures": {n: list(m) for n, m in measures.items()},
        "mode": mode,
        "n_batches": 1,
        "batches": [batch_id],
        "segments": {_AGG: [seg]},
    }
    occlog.write_meta(view_dir, meta)
    return meta


def _commit_partial(
    part: DataFrame, view_dir: str, meta: dict, bid: str,
    pre_commit=None,
) -> dict:
    """The ONE commit protocol for every write path (plain increments
    AND change batches — a fix here must not be able to diverge the
    two): write the partial-state segment under a writer-unique name
    (snapshot mode first merges with the current view and reclaims
    zero-multiplicity tombstones, since the snapshot IS the full
    state), then commit via the OCC ticket. A ticket loser retries
    against the recovered state: the PARTIAL derives from the delta
    alone, so delta mode re-commits it verbatim at the next version
    and snapshot mode re-merges — either way both writers' batches
    land (multi-writer, r9). Superseded snapshot copies are deleted
    best-effort AFTER the commit (otherwise each refresh leaks a full
    view copy — maintenance-window caveat in the module docstring)."""
    import uuid

    spark = part.sparkSession
    keys = meta["keys"]
    measures = {n: tuple(m) for n, m in meta["measures"].items()}
    for _ in range(occlog.MAX_RETRIES):
        if bid in meta["batches"]:  # a racer replayed our batch id
            return meta
        seg = f"seg-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
        superseded: list[str] = []
        if meta["mode"] == "snapshot":
            current = _read_segments(spark, view_dir, meta)
            merged = _merge_agg(current.unionByName(part), keys, measures)
            star = _star_counts(measures)
            if star:
                # fully-deleted groups must not be rewritten forever
                merged = merged.filter(F.col(star[0]) > 0)
            occlog.write_segment(merged, view_dir, _AGG, seg)
            superseded = [s for s in meta["segments"][_AGG] if s != seg]
        else:
            occlog.write_segment(part, view_dir, _AGG, seg)
        if pre_commit is not None:
            # post-write validation (metrics observed DURING the write
            # — view_apply_changes' op guard rides the same job); a
            # failure sweeps the never-committed segment and re-raises
            try:
                pre_commit()
            except Exception:
                shutil.rmtree(
                    os.path.join(view_dir, _AGG, seg), ignore_errors=True
                )
                raise
        rec = {
            "type": "partial",
            "version": meta["version"],
            "seq": meta["n_batches"],
            "segment": seg,
            "batch_id": bid,
        }
        out = occlog.commit(view_dir, meta, rec, _apply_view_record)
        if out is not None:
            for s in superseded:
                shutil.rmtree(
                    os.path.join(view_dir, _AGG, s), ignore_errors=True
                )
            return out
        meta = _recover_view_meta(view_dir)  # lost: fold the winner, retry
    raise RuntimeError(
        f"view commit: lost {occlog.MAX_RETRIES} races in a row at "
        f"{view_dir} — pathological contention"
    )


def view_increment(
    delta: DataFrame, view_dir: str, batch_id: str | None = None
) -> dict:
    """Fold an append-only fact delta into the view. O(delta) in delta
    mode (one partial aggregate, zero view reads); O(view + delta) in
    snapshot mode (consolidating rewrite). Replaying an
    already-committed ``batch_id`` is a no-op — retries are safe.
    A caller-less increment (``batch_id=None``) gets a collision-free
    generated id: under multi-writer OCC two concurrent default-bid
    writers must not alias each other's commits, so replay protection
    only applies to caller-supplied ids."""
    meta = _recover_view_meta(view_dir)
    bid = (
        batch_id if batch_id is not None
        else f"batch-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
    )
    if batch_id is not None and bid in meta["batches"]:
        return meta
    keys = meta["keys"]
    measures = {n: tuple(m) for n, m in meta["measures"].items()}
    part = _partial_agg(delta, keys, measures)
    return _commit_partial(part, view_dir, meta, bid)


def _read_segments(
    spark: SparkSession, view_dir: str, meta: dict
) -> DataFrame:
    from mini_data_platform_spark.operators.plancache import cached_parquet

    return cached_parquet(spark, occlog.segment_paths(view_dir, _AGG, meta))


def view_read(
    spark: SparkSession,
    view_dir: str,
    finalize: bool = True,
    as_of: int | None = None,
) -> DataFrame:
    """Serve the view: merge committed segments (a view-sized shuffle,
    never fact-sized; a compacted or snapshot view is one segment and
    the merge collapses to a scan-shaped aggregate). ``finalize`` casts
    decimal sum states back to DOUBLE — the user-facing schema; pass
    False to read raw mergeable states (e.g. to union two views).

    ``as_of`` serves the view as of that many committed batches — free
    in delta mode (segments are per-batch partial states, history is a
    log prefix; see occlog.meta_as_of). Snapshot mode consolidates
    on every increment and therefore keeps no history."""
    meta = _recover_view_meta(view_dir)
    if as_of is not None:
        if meta["mode"] == "snapshot":
            raise ValueError(
                "snapshot-mode views keep no history (each increment "
                "consolidates); build with mode='delta' for time travel"
            )
        meta = occlog.meta_as_of(meta, as_of)
    keys = meta["keys"]
    measures = {n: tuple(m) for n, m in meta["measures"].items()}
    out = _merge_agg(_read_segments(spark, view_dir, meta), keys, measures)
    # CDC multiplicity: a group whose count(*) retracted to zero has
    # been fully deleted and must vanish (a no-op filter for append-only
    # views, where every group's count is >= 1). Views maintained via
    # view_apply_changes should carry a count(*) measure for exactly
    # this reason — without one, fully-deleted groups linger as zeros.
    star = _star_counts(measures)
    if star:
        out = out.filter(F.col(star[0]) > 0)
    if finalize:
        cols = [F.col(k) for k in keys]
        for name, (kind, _src) in measures.items():
            c = F.col(name)
            if kind == "sum":
                # zero non-null contributions => the true SQL SUM is
                # NULL; the decimal state reads 0.000000 after a
                # retraction removed the last value (see _partial_agg)
                cols.append(
                    F.when(F.col(f"_nn_{name}") == 0, F.lit(None))
                    .otherwise(c.cast("double"))
                    .alias(name)
                )
            elif kind == "approx_distinct":
                cols.append(F.hll_sketch_estimate(c).alias(name))
            else:
                cols.append(c)
        out = out.select(*cols)
    return out


def _refuse_unretractable(measures: dict) -> None:
    """Change batches need every measure to retract (states form a
    group) — shared refusal for the single and bulk apply paths."""
    bad = [
        n for n, (kind, _s) in measures.items()
        if kind in ("min", "max", "approx_distinct")
    ]
    if bad:
        raise ValueError(
            f"measures {bad} are min/max/approx_distinct — not "
            "retractable without the base table (HLL registers only "
            "grow); this view cannot accept change batches"
        )


def _changes_partial(changes: DataFrame, keys: list, measures: dict):
    """The signed partial aggregate + post-write op-guard of
    :func:`view_apply_changes`, factored so the bulk fold writes
    byte-identical segments: returns ``(part, check_fn)`` where
    ``part`` carries the observed bad-op metric riding the write job
    and ``check_fn`` raises on a corrupt feed (consult it post-write,
    pre-ticket)."""
    from pyspark.sql import Observation

    if "_op" not in changes.columns:
        raise ValueError("change batches need an _op column (+1/-1)")
    op = F.col("_op").cast("int")
    bad_row = ~F.coalesce(op.isin(1, -1), F.lit(False))
    changes_raw = changes
    obs = Observation()
    changes = changes.observe(
        obs, F.max(F.when(bad_row, 1).otherwise(0)).alias("bad_op")
    )

    def _op_check() -> None:
        try:
            bad = obs.get.get("bad_op") or 0
        except Exception:  # noqa: BLE001 — metric retrieval failed
            # a delta whose plan the optimizer collapsed to an empty
            # LocalRelation yields a schemaless metrics row that the
            # py4j bridge refuses (toPyRow assertion); fall back to the
            # standalone probe job — rare, and correct either way
            bad = changes_raw.filter(bad_row).limit(1).count()
        if bad:
            raise ValueError(
                "_op values must be exactly +1 or -1 (found null/other; "
                "map Debezium-style 'I'/'D' ops before applying)"
            )

    aggs = []
    for name, (kind, src) in measures.items():
        if kind == "sum":
            aggs.append(
                F.sum(op.cast(DEC) * F.col(src).cast(DEC)).cast(DEC).alias(name)
            )
            # signed non-null contributions (see _partial_agg)
            aggs.append(
                F.sum(
                    F.when(F.col(src).isNotNull(), op).otherwise(F.lit(0))
                ).cast("long").alias(f"_nn_{name}")
            )
        else:  # count: signed count of rows (or of non-null src)
            contrib = (
                op
                if src in (None, "*")
                else F.when(F.col(src).isNotNull(), op).otherwise(F.lit(0))
            )
            aggs.append(F.sum(contrib).cast("long").alias(name))
    part = changes.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    return part, _op_check


def view_fold_many(
    view_dir: str,
    deltas=(),
    changes=(),
    batch_ids: list[str] | None = None,
) -> dict:
    """Single-writer BULK fold: apply several append-only fact deltas
    then several ±1-tagged change batches in one call, writing every
    batch's partial-state segment CONCURRENTLY (guide §2.6 — in delta
    mode each partial derives from its batch alone, so the write jobs
    are independent once the ``_seq`` values are known, which for a
    bulk fold they are: consecutive from the current ``n_batches``)
    and committing the OCC tickets strictly in order. Semantically
    identical to calling :func:`view_increment` per delta then
    :func:`view_apply_changes` per change batch — same segments, same
    ``_seq``, same per-batch op-guard (consulted post-write, BEFORE
    that batch's ticket, so a corrupt feed mid-sequence leaves exactly
    the prefix a sequential caller would have committed).

    Restrictions that keep it a pure fast path (the
    ``mergetable.table_apply_many`` contract): delta-mode views only
    (snapshot consolidates per batch — inherently sequential), no
    replay of committed batch ids, and a concurrent writer between the
    meta read and the ticket sequence sweeps the UNCOMMITTED tail and
    raises — won tickets are durable state."""
    from mini_data_platform_spark.operators.resources import (
        run_concurrently,
    )

    deltas = list(deltas)
    changes = list(changes)
    n = len(deltas) + len(changes)
    meta = _recover_view_meta(view_dir)
    if n == 0:
        return meta
    if meta["mode"] != "delta":
        raise ValueError(
            "bulk fold requires a delta-mode view (snapshot mode "
            "consolidates per batch; apply those sequentially)"
        )
    keys = meta["keys"]
    measures = {nm: tuple(m) for nm, m in meta["measures"].items()}
    if changes:
        _refuse_unretractable(measures)
    if batch_ids is None:
        batch_ids = [
            f"batch-{meta['n_batches'] + i}-{uuid.uuid4().hex[:8]}"
            for i in range(n)
        ]
    if len(batch_ids) != n:
        raise ValueError("batch_ids must match deltas+changes one-to-one")
    replayed = [b for b in batch_ids if b in meta["batches"]]
    if replayed:
        raise ValueError(
            f"batch ids {replayed} already committed — bulk fold does "
            "not support replay; use view_increment/view_apply_changes"
        )
    parts: list[DataFrame] = []
    checks: list = []
    for d in deltas:
        parts.append(_partial_agg(d, keys, measures))
        checks.append(None)
    for c in changes:
        part, check = _changes_partial(c, keys, measures)
        parts.append(part)
        checks.append(check)
    seq0 = meta["n_batches"]
    segs = [
        f"seg-{seq0 + i}-{uuid.uuid4().hex[:8]}" for i in range(n)
    ]

    def _writer(i: int):
        return lambda: occlog.write_segment(parts[i], view_dir, _AGG, segs[i])

    committed = 0  # segments with a WON ticket are durable state —
    # cleanup on failure must only sweep the uncommitted tail
    try:
        run_concurrently(*[_writer(i) for i in range(n)])
        out = meta
        for i, (seg, bid) in enumerate(zip(segs, batch_ids)):
            if checks[i] is not None:
                # the op-guard gates THIS batch's ticket exactly as the
                # sequential path does: batches before it stay
                # committed, it and everything after commit nothing
                checks[i]()
            rec = {
                "type": "partial",
                "version": out["version"],
                "seq": seq0 + i,
                "segment": seg,
                "batch_id": bid,
            }
            if not occlog.try_ticket(view_dir, out["version"], rec):
                raise RuntimeError(
                    f"another writer committed version {out['version']} "
                    f"on {view_dir} during a bulk fold — bulk folding "
                    "is single-writer; use view_increment per batch"
                )
            committed = i + 1
            out = _apply_view_record(out, rec)
        occlog.checkpoint(view_dir, out)
        return out
    except Exception:
        for seg in segs[committed:]:
            shutil.rmtree(
                os.path.join(view_dir, _AGG, seg), ignore_errors=True
            )
        raise


def histogram_view_fold_many(
    view_dir: str,
    deltas=(),
    changes=(),
    batch_ids: list[str] | None = None,
) -> dict:
    """Bulk fold for histogram views: bucketize each batch with the
    view's FROZEN width (an index is only ever queried the way it was
    built), then the standard bulk fold."""
    meta = _histogram_meta(view_dir)
    vc, w = meta["histogram_value"], meta["histogram_width"]
    return view_fold_many(
        view_dir,
        deltas=[_bucketize(d, vc, w) for d in deltas],
        changes=[_bucketize(c, vc, w) for c in changes],
        batch_ids=batch_ids,
    )


def view_apply_changes(
    changes: DataFrame, view_dir: str, batch_id: str | None = None
) -> dict:
    """Fold a CHANGE batch — rows tagged ``_op`` = +1 (insert) / -1
    (delete) — into the view: the Z-set/CDC algebra (each measure's
    partial state is the signed sum of its per-row contributions), which
    is what maintaining a view over the reference pipeline's keyed
    UPSERT takes: re-ingesting a sale emits (-1 old row, +1 new row),
    an aggregate-eligible retraction.

    Only ``sum`` and ``count`` measures retract (their states form a
    group: x + (-x) = 0). ``min``/``max`` do NOT — deleting the current
    minimum needs the base table to find the runner-up — so a view with
    min/max measures REFUSES change batches rather than corrupting
    state; keep such views append-only or recompute them.

    Keys whose counts retract to zero are dropped at serve time (a
    fully-deleted group must vanish, not linger as a zero row).
    Same O(delta) segment append, commit, and ``batch_id`` replay
    contract as :func:`view_increment`."""
    meta = _recover_view_meta(view_dir)
    measures = {n: tuple(m) for n, m in meta["measures"].items()}
    _refuse_unretractable(measures)
    # a CDC feed with string ops ('I'/'D'), nulls, or multiplicities
    # outside ±1 would silently corrupt state (cast-to-null drops the
    # row's contribution; ±2 double-counts) — fail loudly instead. The
    # check is an OBSERVED metric riding the partial-agg write job (one
    # pass over the delta instead of a standalone probe job); the
    # commit inspects it post-write, pre-ticket, so a bad feed still
    # commits nothing (the orphan segment is swept). Construction is
    # shared with the bulk fold (_changes_partial) so the two paths
    # cannot diverge.
    # same multi-writer rule as view_increment: caller-less bids are
    # generated collision-free; replay protection is opt-in via batch_id
    bid = (
        batch_id if batch_id is not None
        else f"batch-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
    )
    if batch_id is not None and bid in meta["batches"]:
        return meta
    part, _op_check = _changes_partial(changes, meta["keys"], measures)
    return _commit_partial(part, view_dir, meta, bid, pre_commit=_op_check)


def minmax_view_build(
    df: DataFrame,
    view_dir: str,
    keys: list[str],
    value_col: str,
    mode: str = "delta",
    batch_id: str = "batch-0",
) -> dict:
    """RETRACTABLE min/max — the measure class ``view_apply_changes``
    refuses on plain views, made maintainable by storing the SUPPORT
    multiset instead of the extremum: a view keyed by
    ``keys + [value_col]`` whose one measure is the multiplicity
    ``count(*)``. Deleting the current minimum then just decrements its
    multiplicity row; the new minimum is already in the state (it is
    every surviving value), so the serve read recovers exact min AND
    max with one view-sized aggregate — no base-table access, ever.
    This is how retraction-complete engines (DBSP, Materialize) handle
    MIN/MAX, and the state cost is theirs too: one row per distinct
    (group, value) pair — the price of retraction; append-only views
    should keep plain min/max measures (constant state per group).

    Increments and change batches are the STANDARD view operations
    (``view_increment`` / ``view_apply_changes`` — multiplicity is a
    count, which retracts); fully-retracted values vanish via the
    count(*)-zero rule, which is exactly what removes a deleted
    extremum from the serve aggregate. Null values ride along as a
    (group, NULL) multiplicity row and are ignored by min/max at
    serve — SQL semantics, no special casing."""
    meta = view_build(
        df, view_dir, list(keys) + [value_col], {"_n": ("count", "*")},
        mode=mode, batch_id=batch_id,
    )
    meta["minmax_value"] = value_col
    occlog.write_meta(view_dir, meta)
    return meta


def minmax_view_read(
    spark: SparkSession, view_dir: str, as_of: int | None = None
) -> DataFrame:
    """Serve exact per-group ``min_<value>`` / ``max_<value>`` from a
    support view: merge the multiplicity segments (zero rows vanish),
    then one aggregate over surviving values. Groups whose every value
    retracted produce no row — a fully-deleted group vanishes, matching
    the plain-view contract."""
    meta = _recover_view_meta(view_dir)
    vc = meta.get("minmax_value")
    if not vc:
        raise ValueError(
            f"{view_dir} is not a min/max support view "
            "(build with minmax_view_build)"
        )
    v = view_read(spark, view_dir, finalize=True, as_of=as_of)
    gk = [k for k in meta["keys"] if k != vc]
    out = v.groupBy(*[F.col(k) for k in gk]).agg(
        F.min(vc).alias(f"min_{vc}"),
        F.max(vc).alias(f"max_{vc}"),
        F.count("*").alias("_rows"),
    )
    if not gk:
        # a GLOBAL (keyless) aggregate over an empty input still emits
        # one all-NULL row; a fully-retracted view must vanish instead
        # (and stay distinguishable from a view holding only NULLs,
        # whose _rows is positive)
        out = out.where(F.col("_rows") > 0)
    return out.drop("_rows")


def distinct_view_build(
    df: DataFrame,
    view_dir: str,
    keys: list[str],
    value_col: str,
    mode: str = "delta",
    batch_id: str = "batch-0",
) -> dict:
    """RETRACTABLE exact distinct-count — the measure the module
    docstring says "fundamentally cannot" maintain as an aggregate
    state, made maintainable by the same support-multiset move as
    :func:`minmax_view_build`: the view is keyed by
    ``keys + [value_col]`` with one ``count(*)`` multiplicity measure,
    so the state IS the per-group value set (with multiplicities) and
    every operation is the standard retractable count algebra. This is
    the exact complement of the ``approx_distinct`` measure: HLL
    registers only grow (no retraction, bounded state), the support
    view retracts exactly (state = one row per distinct (group, value)
    — the same price DBSP/Materialize pay for COUNT DISTINCT under
    deletes). "Distinct users per day" stays correct through the
    reference pipeline's keyed UPSERT (delete-old/insert-new) with no
    base-table access.

    Increments and change batches are the STANDARD view operations
    (``view_increment`` / ``view_apply_changes``); a value whose
    multiplicity retracts to zero vanishes from the support and the
    serve count drops — deleting ONE of two rows carrying the same
    value leaves the count unchanged, which is what signed HLL hacks
    get wrong."""
    meta = view_build(
        df, view_dir, list(keys) + [value_col], {"_n": ("count", "*")},
        mode=mode, batch_id=batch_id,
    )
    meta["distinct_value"] = value_col
    occlog.write_meta(view_dir, meta)
    return meta


def distinct_view_read(
    spark: SparkSession, view_dir: str, as_of: int | None = None
) -> DataFrame:
    """Serve exact per-group ``n_distinct_<value>`` from a support
    view: merge the multiplicity segments (zero rows vanish), then
    count surviving non-NULL values — SQL ``COUNT(DISTINCT v)``
    semantics (NULL never counts; a group whose only live rows are
    NULL serves 0; a group whose every row retracted vanishes). The
    serve is one view-sized aggregate — never a fact scan."""
    meta = _recover_view_meta(view_dir)
    vc = meta.get("distinct_value")
    if not vc:
        raise ValueError(
            f"{view_dir} is not a distinct support view "
            "(build with distinct_view_build)"
        )
    v = view_read(spark, view_dir, finalize=True, as_of=as_of)
    gk = [k for k in meta["keys"] if k != vc]
    # rows are distinct (group, value) pairs post-merge, so the distinct
    # count is a plain non-null count — no second DISTINCT needed
    return v.groupBy(*[F.col(k) for k in gk]).agg(
        F.count(vc).alias(f"n_distinct_{vc}")
    )


def histogram_view_build(
    df: DataFrame,
    view_dir: str,
    keys: list[str],
    value_col: str,
    width: float,
    mode: str = "delta",
    batch_id: str = "batch-0",
) -> dict:
    """Maintained APPROXIMATE QUANTILES — the dashboard measure ("p95
    order value per day") that, like distinct-count, cannot maintain
    exactly without per-key value sets. Same support-multiset move as
    ``minmax_view_build``: the state is a HISTOGRAM — the view is keyed
    by ``keys + [_bucket]`` (fixed-width bin ``floor(value/width)``)
    with one multiplicity measure — so increments are the standard
    O(delta) partial count, merge is count addition (exact), and CDC
    change batches RETRACT (counts form a group), giving maintained
    quantiles over upserting sources, which sketch libraries
    (t-digest/KLL) do not offer. The accuracy trade is the bin width
    (error ≤ width within a bin, the classic equi-width histogram
    bound); state is one row per non-empty (group, bin).

    Bin assignment is pure arithmetic (``floor(v/width)`` — no libm),
    and the serve-side interpolation is a fixed rational expression, so
    a SQL twin reproduces the estimates BIT-EXACTLY — the engine-parity
    doctrine (see operators/lm.py) that turns an "approximate" operator
    into an oracle-checkable one: approximate vs the true quantile,
    deterministic vs the histogram. NULL values are excluded at
    bucketize time (SQL quantile semantics)."""
    bucketed = _bucketize(df, value_col, width)
    meta = view_build(
        bucketed, view_dir, list(keys) + ["_bucket"],
        {"_n": ("count", "*")}, mode=mode, batch_id=batch_id,
    )
    meta["histogram_value"] = value_col
    meta["histogram_width"] = float(width)
    occlog.write_meta(view_dir, meta)
    return meta


def _bucketize(df: DataFrame, value_col: str, width: float) -> DataFrame:
    keep = [c for c in df.columns if c != value_col]
    return df.where(F.col(value_col).isNotNull()).select(
        *keep,
        F.floor(F.col(value_col).cast("double") / F.lit(float(width)))
        .cast("long")
        .alias("_bucket"),
    )


def _histogram_meta(view_dir: str) -> dict:
    meta = _recover_view_meta(view_dir)
    if "histogram_value" not in meta:
        raise ValueError(
            f"{view_dir} is not a histogram view "
            "(build with histogram_view_build)"
        )
    return meta


def histogram_view_increment(
    delta: DataFrame, view_dir: str, batch_id: str | None = None
) -> dict:
    """Fold an append-only fact delta into a histogram view: bucketize
    with the view's FROZEN width (an index is only ever queried the way
    it was built), then the standard O(delta) increment."""
    meta = _histogram_meta(view_dir)
    return view_increment(
        _bucketize(delta, meta["histogram_value"], meta["histogram_width"]),
        view_dir,
        batch_id,
    )


def histogram_view_apply_changes(
    changes: DataFrame, view_dir: str, batch_id: str | None = None
) -> dict:
    """Fold a ±1-tagged CDC change batch into a histogram view —
    quantiles over an upserting/deleting source stay maintained because
    the histogram state is counts, which retract. Deleting a row
    decrements its value's bin; a bin at zero vanishes at serve."""
    meta = _histogram_meta(view_dir)
    return view_apply_changes(
        _bucketize(changes, meta["histogram_value"], meta["histogram_width"]),
        view_dir,
        batch_id,
    )


def quantile_view_read(
    spark: SparkSession,
    view_dir: str,
    quantiles: dict[str, float],
    as_of: int | None = None,
) -> DataFrame:
    """Serve quantile estimates from a histogram view: merge the
    segments (view-sized), one ordered window per group for cumulative
    counts, then for each requested quantile pick the bin containing
    rank ``q·N`` and interpolate linearly within it —
    ``bucket·width + width·(q·N − cum_before)/n``. Everything after the
    merge is view-sized and deterministic (fixed IEEE expression, no
    libm), so the estimates hash-match a SQL twin.

    ``quantiles`` maps output column name → q in (0, 1]. Groups whose
    every bin retracted vanish (the count(*)-zero rule)."""
    from pyspark.sql.window import Window

    meta = _histogram_meta(view_dir)
    width = float(meta["histogram_width"])
    for name, q in quantiles.items():
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile {name}={q} outside (0, 1]")
    v = view_read(spark, view_dir, finalize=True, as_of=as_of)
    gk = [k for k in meta["keys"] if k != "_bucket"]
    w_cum = (
        Window.partitionBy(*[F.col(k) for k in gk])
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*[F.col(k) for k in gk])
    base = v.select(
        *gk,
        "_bucket",
        "_n",
        F.sum("_n").over(w_cum).alias("_cum"),
        F.sum("_n").over(w_all).alias("_tot"),
    )
    aggs = []
    for name, q in quantiles.items():
        target = F.lit(float(q)) * F.col("_tot").cast("double")
        cum_before = (F.col("_cum") - F.col("_n")).cast("double")
        # exactly one bin per group satisfies this: the first whose
        # cumulative count reaches the target rank
        cond = (F.col("_cum").cast("double") >= target) & (
            cum_before < target
        )
        est = F.col("_bucket").cast("double") * F.lit(width) + F.lit(
            width
        ) * ((target - cum_before) / F.col("_n").cast("double"))
        aggs.append(F.max(F.when(cond, est)).alias(name))
    aggs.append(F.count("*").alias("_rows"))
    out = base.groupBy(*[F.col(k) for k in gk]).agg(*aggs)
    if not gk:
        # keyless aggregate over an empty (fully-retracted) view must
        # vanish, not emit one all-NULL row — same edge as minmax
        out = out.where(F.col("_rows") > 0)
    return out.drop("_rows")


def view_topk(
    spark: SparkSession,
    view_dir: str,
    order_col: str,
    k: int,
    as_of: int | None = None,
) -> DataFrame:
    """Serve the top-k view rows by a measure — the "top 10 customers
    by revenue" dashboard read over a MAINTAINED view: the ranking
    needs only the view state (every group's total is already there),
    so the refresh stays O(delta) on the write side and the serve is a
    view-sized TakeOrderedAndProject (no global sort — Spark keeps k
    rows per partition and merges). Ties break on the key columns for
    determinism."""
    meta = _recover_view_meta(view_dir)
    v = view_read(spark, view_dir, finalize=True, as_of=as_of)
    order = [F.col(order_col).desc()] + [
        F.col(kk).asc() for kk in meta["keys"]
    ]
    return v.orderBy(*order).limit(k)


def compact_view(spark: SparkSession, view_dir: str) -> dict:
    """Fold a delta-mode view's segment log back to one segment: read
    the union, merge, write a ``compact-N-<token>`` segment, commit via
    the OCC ticket, then best-effort delete the superseded dirs (a
    crash before the deletes leaves readable garbage, never a wrong
    view). Like ``compact_index``, a lost ticket (a concurrent
    increment landed after the read) RAISES rather than stomping the
    newer state — re-run to compact the advanced view."""
    import uuid

    meta = _recover_view_meta(view_dir)
    keys = meta["keys"]
    measures = {n: tuple(m) for n, m in meta["measures"].items()}
    old = list(meta["segments"][_AGG])
    merged = _merge_agg(_read_segments(spark, view_dir, meta), keys, measures)
    seg = f"compact-{meta['n_batches']}-{uuid.uuid4().hex[:8]}"
    occlog.write_segment(merged, view_dir, _AGG, seg)
    rec = {
        "type": "compact",
        "version": meta["version"],
        "segment": seg,
        # time-travel boundary, same as compact_index
        "compacted_through": meta["n_batches"],
    }
    meta = occlog.commit(view_dir, meta, rec, _apply_view_record)
    if meta is None:
        shutil.rmtree(os.path.join(view_dir, _AGG, seg), ignore_errors=True)
        raise RuntimeError(
            "compact_view: a concurrent commit landed during "
            "compaction; the rewrite is stale — re-run to compact the "
            "advanced view"
        )
    for s in old:
        if s != seg:
            shutil.rmtree(os.path.join(view_dir, _AGG, s), ignore_errors=True)
    return meta


def vacuum_view(view_dir: str) -> list[str]:
    """Delete orphan (uncommitted) segment dirs — ``occlog.vacuum``."""
    return occlog.vacuum(view_dir, _apply_view_record)

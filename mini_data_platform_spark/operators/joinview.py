"""Incrementally-maintained JOIN views: the delta of an equi-join.

The IVM module (operators/ivm.py) maintains aggregates over ONE change
feed; real dashboards aggregate over a JOIN — revenue by market segment
is ``orders ⋈ customer`` first. Recomputing the join per refresh is the
full two-table scan; the classic incremental algebra (Blakeley et al.
SIGMOD'86; the DBSP/Materialize bilinear-operator rule) gives the join's
delta from the sides' deltas and ONE historical snapshot each:

    A₁ ⋈ B₁ − A₀ ⋈ B₀  =  dA ⋈ B₀  ∪  A₁ ⋈ dB

(expand ``A₁ = A₀ + dA``: the cross-term ``dA ⋈ dB`` folds into the
second term — two joins, not three). Weights multiply: a Z-set row of
weight ±1 joined against a state row (weight +1) keeps its weight, so
the output is itself a ±1 Z-set that feeds ``ivm.view_apply_changes``
directly. Both inputs are merge tables (operators/mergetable.py), which
provide exactly the two primitives the algebra needs: the ±1 change
feed (``table_changes_zset``) and zero-copy historical snapshots
(``as_of`` = a segment-list prefix).

Scale: the snapshot sides are CANDIDATE-BOUNDED, never full scans when
avoidable. ``B₀`` is only consulted for dA's join-key values: when the
join columns ARE the snapshot side's table keys (the fact→dim shape),
that is a ``table_lookup`` — O(probed keys' log rows) with the IN-literal
scan pushdown; otherwise the state resolve is paid once and semi-joined
to the delta's key values (guarded broadcast). A fact table compacted
with ``compact_table(order_by=on)`` keeps even the non-key side
scan-prunable (``_is_resolved_log`` serves the scan directly, so the
semi-join's filter reaches parquet footer stats). The delta sides are
batch-sized by construction.

``join_view_build`` / ``join_view_refresh`` close the loop: a maintained
aggregate view over the join output whose refresh cursor is DERIVED from
the last committed ``join-l0-l1-r0-r1`` batch id — the apply and the
cursor advance are one commit record, so a crashed refresh retries
into the replay guard, exactly-once with no separate cursor state.
Measures are restricted to the retractable algebra (sum/count), the same
contract ``view_apply_changes`` enforces; min/max over a join composes
via ``ivm.minmax_view_build`` on the same Z-set.

No reference counterpart (the reference recomputes every KPI per run,
README.md:132-146); this is the lakehouse chain fact stream → keyed
tables → maintained JOIN aggregate, end-to-end on plain parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators.mergetable import (
    _recover_meta,
    table_changes_zset,
    table_lookup,
    table_read,
)
from mini_data_platform_spark.operators.resources import (
    attach_plan,
    carry_plan,
    guarded_broadcast,
    release_plan,
    row_bound,
)

_OP = "_op"


def _snapshot_for(
    spark: SparkSession,
    table_dir: str,
    meta: dict,
    on: list[str],
    delta: DataFrame,
    as_of: int,
) -> DataFrame:
    """The state of ``table_dir`` as of batch ``as_of``, restricted to
    the join-key values present in ``delta`` — the candidate bound that
    keeps a refresh O(delta), not O(table). Key-joins go through
    ``table_lookup`` (log filtered BEFORE the resolve + IN-literal scan
    pushdown); non-key joins pay the resolve once, then semi-join.

    The zset deltas carry a ``row_bound`` (changed-segment footer rows
    — mergetable.table_changes_zset); the bound replaces the probe
    ``count()`` driver action on both paths (r15)."""
    probes = delta.select(*on).distinct()
    bound = row_bound(delta)
    if list(meta["keys"]) == list(on):
        # table_lookup hints/bounds the probe frame itself and attaches
        # anything it persists to the returned plan
        return table_lookup(
            spark, table_dir, probes, as_of=as_of, n_bound=bound
        )
    if bound is not None:
        # probed once below — no persist, no count: the footer bound
        # drives the broadcast decision
        state = table_read(spark, table_dir, as_of=as_of).join(
            guarded_broadcast(probes, bound), on, "left_semi"
        )
        return state
    probes = guarded_broadcast(probes.persist(), probes.count())
    state = table_read(spark, table_dir, as_of=as_of).join(
        probes, on, "left_semi"
    )
    return attach_plan(state, probes)


def join_changes_zset(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    on: list[str],
    since_left: int,
    since_right: int,
    as_of_left: int | None = None,
    as_of_right: int | None = None,
) -> DataFrame:
    """The Z-set delta of ``left ⋈ right`` (inner equi-join on ``on``)
    between the snapshot pair (``since_left``, ``since_right``) and
    (``as_of_left``, ``as_of_right``) (defaults: current). Output
    columns: ``on`` + both sides' data columns + ``_op`` (±1), exactly
    what ``ivm.view_apply_changes`` consumes. Either side's delta may
    be empty (a one-sided refresh); both empty yields an empty frame.

    ``dA ⋈ B₀`` uses the right side AS OF ``since_right`` — rows the
    left delta joined against BEFORE this window's right-side changes
    (those changes re-enter via the second term, which sees the full
    ``A₁``); swapping the snapshot epochs double-counts the cross term.
    Columns outside ``on`` must be disjoint across the sides.

    The returned plan carries persisted probe/changed-key frames —
    ``release_plan`` after the consuming action (operator contract)."""
    lmeta, rmeta = _recover_meta(left_dir), _recover_meta(right_dir)
    n_l, n_r = lmeta["n_batches"], rmeta["n_batches"]
    as_of_left = n_l if as_of_left is None else as_of_left
    as_of_right = n_r if as_of_right is None else as_of_right
    for name, since, as_of, n in (
        ("left", since_left, as_of_left, n_l),
        ("right", since_right, as_of_right, n_r),
    ):
        if not 0 <= since <= as_of <= n:
            raise ValueError(
                f"{name} window must satisfy 0 <= since <= as_of <= "
                f"{n}, got since={since} as_of={as_of}"
            )
    lcols = [c for c in [*lmeta["keys"], *lmeta["columns"]] if c not in on]
    rcols = [c for c in [*rmeta["keys"], *rmeta["columns"]] if c not in on]
    for side, meta in (("left", lmeta), ("right", rmeta)):
        missing = [
            c for c in on if c not in {*meta["keys"], *meta["columns"]}
        ]
        if missing:
            raise ValueError(f"join columns {missing} not on {side} side")
    clash = sorted(set(lcols) & set(rcols))
    if clash:
        raise ValueError(
            f"non-join columns {clash} exist on both sides; rename first"
        )
    out_cols = [*on, *lcols, *rcols, _OP]

    terms: list[DataFrame] = []
    carried: list[DataFrame] = []  # plans whose attachments propagate
    persisted: list[DataFrame] = []  # frames THIS call persisted
    # dA ⋈ B₀ — needs a right-side snapshot, which exists only past
    # batch 0 (since_right == 0 means B₀ is empty: the term vanishes)
    if since_left < as_of_left and since_right > 0:
        da = table_changes_zset(
            spark, left_dir, since_left, as_of=as_of_left
        )
        da = da.persist()
        b0 = _snapshot_for(
            spark, right_dir, rmeta, on, da, as_of=since_right
        )
        terms.append(da.join(b0, on).select(*out_cols))
        carried.extend([da, b0])
        persisted.append(da)
    # A₁ ⋈ dB — the full new left state, so the cross term is included
    if since_right < as_of_right:
        db = table_changes_zset(
            spark, right_dir, since_right, as_of=as_of_right
        )
        db = db.persist()
        a1 = _snapshot_for(
            spark, left_dir, lmeta, on, db, as_of=as_of_left
        )
        terms.append(a1.join(db, on).select(*out_cols))
        carried.extend([db, a1])
        persisted.append(db)
    if not terms:
        empty = (
            table_read(spark, left_dir, as_of=max(as_of_left, 1))
            .join(table_read(spark, right_dir, as_of=max(as_of_right, 1)), on)
            .withColumn(_OP, F.lit(1))
            .select(*out_cols)
            .where(F.lit(False))
        )
        return empty
    out = terms[0] if len(terms) == 1 else terms[0].unionByName(terms[1])
    out = carry_plan(out, *carried)
    return attach_plan(out, *persisted)


_JOIN_BID = "join-{}-{}-{}-{}"


def join_view_build(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    on: list[str],
    view_dir: str,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> dict:
    """Create a maintained aggregate view over ``left ⋈ right``. The
    view starts EMPTY with cursors at (0, 0); the first
    ``join_view_refresh`` bootstraps it through the same delta path
    every later refresh takes (since=0 makes the whole join one +1
    Z-set) — one code path, no separate initial-load logic. Measures
    must retract (sum/count), checked here so a bad view fails at build
    time, not first refresh."""
    from mini_data_platform_spark.operators.ivm import view_build

    bad = [n for n, (kind, _s) in measures.items() if kind not in
           ("sum", "count")]
    if bad:
        raise ValueError(
            f"measures {bad} are not retractable (sum/count only); "
            "compose min/max via ivm.minmax_view_build on the same zset"
        )
    empty = join_changes_zset(
        spark, left_dir, right_dir, on,
        _recover_meta(left_dir)["n_batches"],
        _recover_meta(right_dir)["n_batches"],
    ).drop(_OP)
    meta = view_build(empty, view_dir, keys, measures)
    meta["join_source"] = {
        "left": left_dir, "right": right_dir, "on": list(on)
    }
    occlog.write_meta(view_dir, meta)
    return meta


def _cursors(meta: dict) -> tuple[int, int]:
    """Refresh cursors DERIVED from the last committed join batch id —
    the id encodes its window, so the apply and the cursor advance are
    the same commit record (a crashed refresh retries into the
    replay guard; nothing can double-apply or skip)."""
    last = next(
        (b for b in reversed(meta["batches"]) if b.startswith("join-")),
        None,
    )
    if last is None:
        return 0, 0
    _, _l0, l1, _r0, r1 = last.split("-")
    return int(l1), int(r1)


def join_view_refresh(spark: SparkSession, view_dir: str) -> dict:
    """Catch the view up to both tables' current batches: compute the
    join delta since the last committed window and fold it in as one
    change batch. A no-op when neither table advanced. O(delta +
    candidate log rows), never a base-table rescan."""
    from mini_data_platform_spark.operators.ivm import (
        _recover_view_meta,
        view_apply_changes,
    )

    meta = _recover_view_meta(view_dir)
    src = meta.get("join_source")
    if not src:
        raise ValueError(f"{view_dir} is not a join view")
    l0, r0 = _cursors(meta)
    n_l = _recover_meta(src["left"])["n_batches"]
    n_r = _recover_meta(src["right"])["n_batches"]
    if (l0, r0) == (n_l, n_r):
        return meta
    zset = join_changes_zset(
        spark, src["left"], src["right"], src["on"], l0, r0,
        as_of_left=n_l, as_of_right=n_r,
    )
    zset = zset.persist()
    try:
        out = view_apply_changes(
            zset, view_dir, batch_id=_JOIN_BID.format(l0, n_l, r0, n_r)
        )
    finally:
        zset.unpersist(False)
        release_plan(zset)
    return out

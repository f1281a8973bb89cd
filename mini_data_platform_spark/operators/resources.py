"""Driver-size decisions, and the lifetime of what a lazy plan holds.

DRIVER-SIZE CONTRACT. An operator that runs small inputs on the driver
(or in one task) decides with ``bounded_rows`` (one collect that is the
data, or ``None`` on overflow), a ``row_bound`` its producer recorded,
or ``guarded_broadcast``. Each cap is a module constant read at call
time; a cap of 0 forces the distributed path. Cap: fast path; overflow.

- ``bpe.DRIVER_MAX_WORDS`` (20k): merge loop and vocabulary
  segmentation on the driver; the distributed loop / JVM merge fold.
- ``pagerank.DRIVER_MAX_EDGES`` (2M): numpy iterations over one Arrow
  collect; distributed join + aggregate rounds.
- ``graph.LOCAL_CC_MAX_EDGES`` (2M): single-task union-find whose
  result carries ``row_bound`` = 2 x edges; label propagation, no bound.
- ``mergetable.LOOKUP_PUSHDOWN_MAX_KEYS`` (1,000): probe keys pushed
  into the scan as IN literals; a guarded semi-join.
- ``incremental._PROBE_MAX_ENTRIES``, ``_VERIFY_BROADCAST_MAX_PAIRS``
  (200k): serve point probes, literal pair frame; distributed joins.
- ``BROADCAST_MAX_ROWS`` (2M): ``guarded_broadcast`` hints; no hint,
  so the planner picks a shuffle join.
- ``runner.ONE_TASK_MAX_ROWS`` (150k): an ingest batch's row bound from
  its listing (parquet footer rows, CSV/JSON bytes; none if compressed
  or ORC): one-task dedup, its bound rides to the sink, which skips the
  cache and ``guarded_broadcast``s the keys; a shuffled dedup.

PLAN LIFETIME. Spark has no "unpersist when this plan has executed"
hook: an operator like ``near_dup_pairs`` persists its shared
shingle/candidate frames so the returned plan computes them once, but
the operator returns before any action runs, so it can never unpersist
them itself. Left alone, every invocation pins blocks in executor
storage until LRU eviction — harmless on a laptop fixture, real memory
pressure on a long-lived 1000-executor session. A query that builds a
scratch index its plan reads leaks disk the same way.

The contract here: an operator ATTACHES the frames it persisted and the
scratch directories its plan reads to the plan it returns
(``attach_plan``); whoever runs the action calls ``release_plan``
afterwards. Operators that consume their input EAGERLY
(``connected_components`` materializes the pair graph at call time) call
``release_plan`` on their *input* themselves — by the time they return,
the input plan has executed and its cached frames are dead.

Releasing a frame is correctness-neutral: it recomputes on the next
action. ``unpersist(blocking=False)`` keeps the release off the critical
path. A released directory is deleted, so its plan cannot run again.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, functions as F

_ATTR = "_mdp_persisted_frames"
_BOUND_ATTR = "_mdp_row_bound"

#: Row count above which ``guarded_broadcast`` drops the hint. 2M rows
#: of (id, band_id, band_key) is ~100 MB serialized: comfortably within
#: a production driver, far above any "batch ≪ corpus" serving frame.
BROADCAST_MAX_ROWS = 2_000_000


def bounded_rows(df: DataFrame, cap: int, arrow: bool = False):
    """The rows of ``df.limit(cap + 1)`` (a list of Rows, or with
    ``arrow=True`` a ``pyarrow.Table``: ``toArrow`` ignores the session's
    Arrow conf), or ``None`` when ``df`` has more than ``cap`` rows.
    ``cap <= 0`` returns ``None`` without running a job."""
    if cap <= 0:
        return None
    head = df.limit(cap + 1)
    rows = head.toArrow() if arrow else head.collect()
    return rows if len(rows) <= cap else None


def with_row_bound(df: DataFrame, n: int) -> DataFrame:
    """Record ``n`` as an upper bound on ``df``'s row count. Like the
    attached frames, the bound does not survive a transformation: a
    derived frame has no bound until one is recorded on it."""
    setattr(df, _BOUND_ATTR, n)
    return df


def row_bound(df: DataFrame) -> int | None:
    """The bound ``with_row_bound`` recorded on ``df``, else ``None``."""
    return getattr(df, _BOUND_ATTR, None)


def listed_bytes(paths: list[str]) -> int | None:
    """The summed size of local ``paths``; ``None`` if one is remote or
    unreadable. No job."""
    urls = [urlparse(p) for p in paths]
    if any(u.scheme not in ("", "file") for u in urls):
        return None
    try:
        return sum(os.path.getsize(u.path) for u in urls)
    except OSError:
        return None


def guarded_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """``F.broadcast(df)`` only when ``n_rows`` (a cheaply-known upper
    bound on its row count) is at most ``BROADCAST_MAX_ROWS``; otherwise
    ``df`` unhinted, so a huge frame degrades to a shuffle join instead
    of a driver OOM."""
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df


def attach_plan(out: DataFrame, *held: DataFrame | str) -> DataFrame:
    """Record what ``out`` holds on its behalf — frames persisted for
    it, or scratch directory paths its plan reads — so a downstream
    ``release_plan`` can free them. Items already attached (operator
    composition) are kept."""
    items: list = list(getattr(out, _ATTR, []))
    items.extend(held)
    setattr(out, _ATTR, items)
    return out


def carry_plan(out: DataFrame, *sources: DataFrame) -> DataFrame:
    """Propagate attached frames and directories from ``sources`` onto
    ``out`` — for plan functions that wrap an operator's output in
    further projections (the attribute does not survive DataFrame
    transformations)."""
    items: list = []
    for s in sources:
        items.extend(getattr(s, _ATTR, []))
    return attach_plan(out, *items) if items else out


def release_plan(df: DataFrame | None) -> int:
    """Unpersist every frame and delete every directory attached to
    ``df``; returns how many were released. Safe to call on any
    DataFrame (no-op without attachments) and idempotent (the
    attachment list is cleared)."""
    if df is None:
        return 0
    items = getattr(df, _ATTR, None)
    if not items:
        return 0
    n = 0
    for item in items:
        try:
            if isinstance(item, str):
                shutil.rmtree(item, ignore_errors=True)
            else:
                item.unpersist(False)
            n += 1
        except Exception:  # noqa: BLE001 — cleanup is advisory
            pass
    setattr(df, _ATTR, [])
    return n


def run_concurrently(*thunks):
    """Run independent Spark-action chains from driver threads (the
    optimization-guide §2.6 overlap: while one chain's last stragglers
    drain, the next chain's tasks back-fill the freed cores, and the
    chains' driver-side planning/py4j gaps overlap each other's executor
    work). Only for chains with NO ordering dependency — e.g. building
    two different merge tables, or maintaining two views off one shared
    (persisted) change feed. Results come back in ``thunks`` order; the
    first exception propagates after all threads finish."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]

"""Round-15: attribute orders_join_view / orders_merge_view wall time to
the CDC primitives (validate, segment write, zset, lookup, view apply)
by wrapping them with wall-clock accumulators. Run AFTER the coalesce
experiment's session is gone (fresh process)."""

from __future__ import annotations

import collections
import functools
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

ACC: dict[str, list] = collections.defaultdict(lambda: [0.0, 0])
STACK: list[str] = []


def wrap(mod, name: str):
    fn = getattr(mod, name)

    @functools.wraps(fn)
    def inner(*a, **kw):
        label = f"{mod.__name__.split('.')[-1]}.{name}"
        STACK.append(label)
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            dt = time.perf_counter() - t0
            STACK.pop()
            # only attribute to the OUTERMOST wrapped frame of this name
            # chain; nested wrapped calls still record themselves, so
            # report shows both inclusive views
            ACC[label][0] += dt
            ACC[label][1] += 1

    setattr(mod, name, inner)


def main() -> None:
    from mini_data_platform_spark.session import get_spark
    from mini_data_platform_spark.operators import (
        ivm,
        joinview as jv,
        mergetable as mt,
        occlog,
    )

    for name in ("_conform", "table_apply",
                 "table_build", "table_changes_zset", "table_lookup",
                 "table_read"):
        wrap(mt, name)
    for name in ("write_segment",):
        wrap(occlog, name)
    for name in ("view_apply_changes", "view_build", "view_read"):
        wrap(ivm, name)
    for name in ("join_changes_zset", "join_view_refresh",
                 "join_view_build", "_snapshot_for"):
        wrap(jv, name)
    # mergetable/kpi captured the originals at import time for some
    # names — re-point the cross-module references
    mt.table_changes_zset = mt.table_changes_zset
    jv.table_changes_zset = mt.table_changes_zset
    jv.table_lookup = mt.table_lookup
    jv.table_read = mt.table_read

    spark = get_spark("opt_profile_cdc")
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # warmup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for qname in sys.argv[1:] or ["orders_join_view"]:
        ACC.clear()
        t0 = time.perf_counter()
        df = queries[qname](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        print(f"\n=== {qname}: {wall:.3f}s total")
        for label, (sec, n) in sorted(ACC.items(), key=lambda kv: -kv[1][0]):
            print(f"  {sec:7.3f}s  n={n:3d}  {label}")
    spark.stop()


if __name__ == "__main__":
    main()

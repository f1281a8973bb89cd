"""FULL-SUITE one-order-of-magnitude probe (round-9 verdict item 4).

tools/probe_scale.py probes six hand-picked heavy queries at 10×; this
runs the ENTIRE ``queries()`` surface once at the same 10×-sf0.1
replica scale (see probe_scale.build_probe_dir — ids shifted per copy,
document tokens per-copy-suffixed so text-similarity workloads scale
exactly 10×). Constants that hide at sf0.1 (interpreted-HOF
projections, literal-tree planning, driver loops) surface here as
super-linear walls.

Coverage caveat, stated loudly (the no-silent-caps rule): the replica
builder scales documents/orders/lineitem/customer 10× but COPIES
embeddings/events/part/supplier/region/nation verbatim — so the emb_*
family and pure-events queries run at 1× data here and their walls
measure session overhead, not scale. The deliberate quadratic twins
(emb_near_dups_exact and friends) are probed for scale separately via
their own SURVEY §6 notes; scaling them 10× would measure the
documented O(n²) by design, not a plan defect.

Usage:
  python tools/probe_full.py [--skip-build] [--out FILE]

Writes one JSON object {query: wall_s} plus totals to --out (default
/tmp/mdp_probe_full.json) and prints a SURVEY-pastable summary: total,
top-10 walls, and the wall ratio vs the given baseline detail file
(--baseline BENCH_DETAIL_r*.json, default the latest).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_scale import PROBE_DIR, build_probe_dir  # noqa: E402


def _session(label: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "32g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .appName(label)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _partsupp_pagerank_autoscale(spark, sf_dir):
    """10× probe twin of partsupp_pagerank. The declared query PINS
    scale=SCALE (1e12) because its DuckDB oracle folds that literal into
    the chained-CTE arithmetic; at the probe's ~210k nodes the pin
    overflows 64-bit mass BY DESIGN (100·N·scale ≥ 2⁶³), so the probe
    runs the operator's documented auto-scale path (pagerank_fixed
    scale=None, which picks the largest safe power of 10 from the actual
    node count — round-8 verdict item 7) and records the wall under this
    twin's own name instead of an error (round-11 verdict item 6)."""
    from pyspark.sql import functions as F

    from mini_data_platform_spark.operators.pagerank import pagerank_fixed
    from mini_data_platform_spark.plans.analytics import load_table

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.lit(1_000_000_000) + F.col("l_suppkey")).cast("long").alias("dst"),
    ).distinct()
    return pagerank_fixed(edges, "src", "dst", iterations=6, scale=None)


def _neardup_point_lookups(spark, sf_dir: str, n_docs: int = 25):
    """A TRUE point-lookup batch (``n_docs`` mutated docs, not the
    bench's 10%-of-corpus batch) against the same cached near-dup
    index — the serving contract's actual request shape. The declared
    doc_neardup_serve's 10× steady takes the guarded distributed path
    because its batch scales WITH the corpus (documented in SURVEY §6);
    this block shows the fixed-size request stays on the 3-job point
    probe at 10× corpus. Returns (first_touch_s, [steady_s ×3])."""
    from pyspark.sql import functions as F

    from mini_data_platform_spark.operators.incremental import (
        neardup_index_lookup,
    )
    from mini_data_platform_spark.operators.resources import release_plan
    from mini_data_platform_spark.plans import llm

    docs = llm.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    t = llm.TX.tokens(F.col("text"))
    batch = llm._spread(
        docs.orderBy("doc_id").limit(n_docs).select(
            (F.col("doc_id") + 90_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(t, 2, F.size(t) - 1)).alias("text"),
        )
    )
    index_dir = llm._cached_index(
        sf_dir,
        f"nd|{llm.JACCARD_THRESHOLD}|{llm.NUM_HASHES}|{llm.BANDS}|"
        f"{llm.SHINGLE_N}",
        lambda d: (_ for _ in ()).throw(
            RuntimeError("index must already be cached by the serve pass")
        ),
    )
    walls = []
    for _ in range(4):  # first is the cold per-process plan, rest steady
        t0 = time.perf_counter()
        df = neardup_index_lookup(batch, index_dir, small_batch=True)
        df.write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 2))
        release_plan(df)
    return walls[0], walls[1:]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--serve-only", action="store_true",
                    help="run only the serve first-touch/steady/point "
                         "blocks and MERGE them into --out")
    ap.add_argument("--out", default="/tmp/mdp_probe_full.json")
    ap.add_argument("--baseline", default=None)
    args = ap.parse_args()

    if not args.skip_build:
        spark = _session("probe-build")
        print("building 10x probe dir ...", flush=True)
        build_probe_dir(spark)
        spark.stop()

    # the probe measures the PRODUCTION shape of approx percentiles:
    # constant-size GK sketches (1e4 ≈ 0.01% rank error), not the
    # oracle's exact-rank accuracy=1e6 whose map-side buffers grow with
    # the group and went super-linear at 10x in round 12 (27.2 s vs the
    # exact sort's 8.3 s). Identical plan — only the literal changes.
    os.environ.setdefault("MDP_PCTL_ACCURACY", "10000")
    print(
        "note: MDP_PCTL_ACCURACY="
        + os.environ["MDP_PCTL_ACCURACY"]
        + " (production sketch accuracy; oracles run exact-rank 1e6)",
        flush=True,
    )

    spark = _session("probe-full")
    import __spark_entry__ as entry_mod

    from mini_data_platform_spark.operators.resources import release_plan

    queries = dict(entry_mod.queries())
    if "partsupp_pagerank" in queries:
        # named substitution, not an error (see the twin's docstring)
        del queries["partsupp_pagerank"]
        queries["partsupp_pagerank_autoscale"] = _partsupp_pagerank_autoscale
        print(
            "note: partsupp_pagerank pins scale=1e12 for its oracle and "
            "overflows by design at 10x nodes; probing the auto-scale "
            "twin partsupp_pagerank_autoscale instead",
            flush=True,
        )
    # warmup, mirroring bench.py: JVM, python workers, serve caches,
    # and (r15) the fixtures' OS PAGE CACHE — with --skip-build the
    # probe dir may be stone cold (the r15 first attempt read every
    # query 1.5-2.5x high purely on cold parquet reads; bench.py
    # adopted the same raw-byte pre-touch in r10 for the same reason)
    import glob as _glob

    for path in _glob.glob(os.path.join(PROBE_DIR, "*.parquet")):
        paths = (
            _glob.glob(os.path.join(path, "*")) if os.path.isdir(path)
            else [path]
        )
        for p in paths:
            if os.path.isfile(p):
                with open(p, "rb") as fh:
                    while fh.read(1 << 22):
                        pass
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F

    (
        spark.range(64)
        .withColumn("g", F.col("id") % 8)
        .groupBy("g")
        .applyInPandas(lambda pdf: pdf, "id long, g long")
        .write.format("noop").mode("overwrite").save()
    )
    first_touch: dict[str, float] = {}
    for name, fn in queries.items():
        if not name.endswith("_serve"):
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, PROBE_DIR)
            df.write.format("noop").mode("overwrite").save()
            first_touch[name] = round(time.perf_counter() - t0, 2)
            release_plan(df)
        except Exception as exc:  # noqa: BLE001 — timed loop reports it
            print(f"  warmup {name} failed: {exc}", file=sys.stderr)

    # steady-state serving at 10x (round-12 verdict item 8): the
    # first_touch pass above pays the one-time 10x index builds, so a
    # second timed pass measures the latency CONTRACT itself — the
    # number a serving loop sees at this scale. Median of 3, mirroring
    # bench.py's serve_steady.
    import statistics

    serve_steady: dict[str, float] = {}
    for name, fn in queries.items():
        if not name.endswith("_serve") or name not in first_touch:
            continue
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            try:
                df = fn(spark, PROBE_DIR)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 — first_touch already reported
                break
            finally:
                try:
                    release_plan(df)
                except Exception:  # noqa: BLE001
                    pass
        if runs:
            serve_steady[name] = round(statistics.median(runs), 2)

    # fixed-size point-lookup request at 10x corpus — the serving
    # contract's actual request shape (the declared doc_neardup_serve
    # batch scales WITH the corpus and trips the probe cap by design)
    serve_point: dict[str, object] = {}
    try:
        first, steadies = _neardup_point_lookups(spark, PROBE_DIR)
        serve_point["doc_neardup_point25"] = {
            "first": first,
            "steady_median": round(statistics.median(steadies), 2),
            "steady_runs": steadies,
        }
        print(f"  point-lookup (25 docs) steady: "
              f"{serve_point['doc_neardup_point25']}", flush=True)
    except Exception as exc:  # noqa: BLE001 — advisory block
        serve_point["err"] = f"{type(exc).__name__}: {exc}"[:200]

    if args.serve_only:
        spark.stop()
        merged = {}
        if os.path.exists(args.out):
            with open(args.out, encoding="utf-8") as fh:
                merged = json.load(fh)
        merged["serve_first_touch"] = first_touch
        merged["serve_steady"] = serve_steady
        merged["serve_point"] = serve_point
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(merged, fh, indent=1, sort_keys=True)
        print(f"merged serve blocks into {args.out}")
        return

    walls: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, PROBE_DIR)
            df.write.format("noop").mode("overwrite").save()
            walls[name] = round(time.perf_counter() - t0, 2)
            print(f"  {name}: {walls[name]}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"  {name} FAILED: {errors[name]}", flush=True)
        finally:
            try:
                release_plan(df)
            except Exception:  # noqa: BLE001
                pass
    spark.stop()

    base_path = args.baseline
    if base_path is None:
        stamped = sorted(
            (int(m.group(1)), fn)
            for fn in os.listdir(REPO)
            if (m := re.match(r"BENCH_DETAIL_r(\d+)\.json$", fn))
        )
        base_path = os.path.join(REPO, stamped[-1][1]) if stamped else None
    base = {}
    if base_path and os.path.exists(base_path):
        with open(base_path, encoding="utf-8") as fh:
            base = json.load(fh).get("queries", {})

    out = {
        "sf": "10x-sf0.1 replicas (docs/orders/lineitem/customer scaled; "
              "embeddings/events copied 1x)",
        "total_s": round(sum(walls.values()), 1),
        "n_queries": len(walls),
        "n_errors": len(errors),
        "errors": errors,
        "walls": walls,
        "serve_first_touch": first_touch,
        # post-build steady-state serve latencies at 10x (median of 3)
        # — scale evidence for the serving latency contract (r12 item 8)
        "serve_steady": serve_steady,
        # fixed-size point-lookup request at 10x corpus (3-job probe)
        "serve_point": serve_point,
        "baseline": os.path.basename(base_path) if base_path else None,
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    print(f"\nTOTAL: {out['total_s']}s over {len(walls)} queries, "
          f"{len(errors)} errors")
    print("\nTop-10 walls (vs sf0.1 baseline where recorded):")
    print("| query | 10x wall | sf0.1 wall | ratio |")
    print("|---|---|---|---|")
    for name, w in sorted(walls.items(), key=lambda kv: -kv[1])[:10]:
        b = base.get(name)
        ratio = f"{w / b:.1f}x" if b else "—"
        print(f"| {name} | {w}s | {b if b is not None else '—'}s | {ratio} |")
    sup = [
        (n, w, base[n])
        for n, w in walls.items()
        if base.get(n) and w / base[n] > 12 and w - base[n] > 2
    ]
    print(f"\nqueries >12x sf0.1 wall (super-linear suspects): "
          f"{sorted(sup, key=lambda t: -t[1]) or 'none'}")


if __name__ == "__main__":
    main()

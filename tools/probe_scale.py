"""One-order-of-magnitude scale probe for the heavy query family
(round-8 verdict item 6).

The driver's correctness/bench gates run at sf0.01/sf0.1 only; the
100 TB design claims deserve at least one 10× datapoint. This probe
builds a 10×-sf0.1 dataset (~6M lineitem / 1.5M orders / 50k docs — the
sf1 shape) as TEN DISJOINT REPLICAS of the sf0.1 fixtures:

- ids shift by copy·10⁶ so joins, change waves, and near-dup batches
  stay within their replica;
- document TOKENS carry a per-copy suffix, so shingles/suffix classes
  never match across replicas — the near-dup and suffix-array workloads
  scale exactly 10× instead of exploding quadratically on cross-copy
  text equality.

A query whose plan is healthy should scale ~linearly (10×±overheads) in
wall time and shuffle bytes; superlinear growth is the scale-killer
signal. Writes results to SURVEY-pastable markdown on stdout.

Usage: python tools/probe_scale.py [--skip-build]
Probe data lands in /tmp/mdp_sfprobe10 (NOT under /root/testdata).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_DIR = "/tmp/mdp_sfprobe10"
BASE = "/root/testdata/sf0.1"
COPIES = 10
EVENTLOG = "/tmp/mdp_probe_eventlog"

QUERIES = [
    "doc_neardup_incremental",
    "doc_neardup_serve",
    "orders_join_view",
    "orders_join_view_serve",
    "partsupp_pagerank_auto",
    "doc_longest_repeat",
]


def _pagerank_auto(spark, sf_dir):
    """partsupp_pagerank with AUTO mass scale: the declared query pins
    SCALE because its oracle folds that literal, and at 210k nodes the
    pinned value trips the overflow guard BY DESIGN — the operator's
    scale story is the auto-pick (r8 verdict item 7)."""
    from pyspark.sql import functions as F

    from mini_data_platform_spark.catalog import load_table
    from mini_data_platform_spark.operators.pagerank import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.lit(1_000_000_000) + F.col("l_suppkey")).cast("long").alias(
            "dst"
        ),
    ).distinct()
    return pagerank_fixed(edges, "src", "dst", iterations=6)


def build_probe_dir(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(PROBE_DIR, exist_ok=True)

    def shifted_union(name, build_copy):
        out = os.path.join(PROBE_DIR, f"{name}.parquet")
        if os.path.exists(out):
            return
        base = spark.read.parquet(os.path.join(BASE, f"{name}.parquet"))
        parts = [build_copy(base, k) for k in range(COPIES)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(out)

    off = 1_000_000

    shifted_union(
        "documents",
        lambda df, k: df.select(
            (F.col("doc_id") + k * off).alias("doc_id"),
            # per-copy token suffix: shingles never match across copies
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.trim("text"), " +"),
                    lambda w: F.concat(w, F.lit(f"_c{k}")),
                ),
            ).alias("text"),
            *[c for c in df.columns if c not in ("doc_id", "text")],
        ),
    )
    shifted_union(
        "orders",
        lambda df, k: df.select(
            (F.col("o_orderkey") + k * off).alias("o_orderkey"),
            (F.col("o_custkey") + k * off).alias("o_custkey"),
            *[c for c in df.columns
              if c not in ("o_orderkey", "o_custkey")],
        ),
    )
    shifted_union(
        "customer",
        lambda df, k: df.select(
            (F.col("c_custkey") + k * off).alias("c_custkey"),
            *[c for c in df.columns if c != "c_custkey"],
        ),
    )
    shifted_union(
        "lineitem",
        lambda df, k: df.select(
            (F.col("l_orderkey") + k * off).alias("l_orderkey"),
            (F.col("l_partkey") + k * off).alias("l_partkey"),
            (F.col("l_suppkey") + k * off).alias("l_suppkey"),
            *[c for c in df.columns
              if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
        ),
    )
    # remaining tables: copy verbatim (probed queries don't scale them)
    import shutil

    for name in ("region", "nation", "part", "supplier", "events",
                 "embeddings"):
        out = os.path.join(PROBE_DIR, f"{name}.parquet")
        if not os.path.exists(out):
            shutil.copy(os.path.join(BASE, f"{name}.parquet"), out)


def shuffle_bytes_between(log_dir, t0, t1) -> int:
    total = 0
    for name in os.listdir(log_dir):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                info = ev.get("Task Info", {})
                if not t0 * 1000 <= info.get("Finish Time", 0) <= t1 * 1000:
                    continue
                m = ev.get("Task Metrics") or {}
                sw = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                total += sw
    return total


def run_scale(sf_dir: str, label: str) -> dict:
    os.makedirs(EVENTLOG, exist_ok=True)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "32g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVENTLOG)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .appName(f"probe-{label}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    queries = dict(entry_mod.queries())
    queries["partsupp_pagerank_auto"] = _pagerank_auto
    out = {}
    for name in QUERIES:
        fn = queries[name]
        # serve queries: warm the cached artifact first (offline build)
        if name.endswith("_serve"):
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        t1 = time.time()
        out[name] = {"wall_s": round(t1 - t0, 2), "t0": t0, "t1": t1}
        print(f"  {label} {name}: {out[name]['wall_s']}s", flush=True)
    spark.stop()
    time.sleep(2)  # let the event log flush
    for name, rec in out.items():
        rec["shuffle_mb"] = round(
            shuffle_bytes_between(EVENTLOG, rec["t0"], rec["t1"]) / 2**20, 1
        )
        del rec["t0"], rec["t1"]
    import shutil

    shutil.rmtree(EVENTLOG, ignore_errors=True)
    return out


def main():
    if "--skip-build" not in sys.argv:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        print("building probe dir ...", flush=True)
        build_probe_dir(spark)
        spark.stop()
    base = run_scale(BASE, "sf0.1")
    big = run_scale(PROBE_DIR, "sf1~")
    print("\n| query | sf0.1 wall | sf1~ wall | wall ratio "
          "| sf0.1 shuffle | sf1~ shuffle | shuffle ratio |")
    print("|---|---|---|---|---|---|---|")
    for name in QUERIES:
        b, g = base[name], big[name]
        wr = g["wall_s"] / max(b["wall_s"], 0.01)
        sr = (
            g["shuffle_mb"] / b["shuffle_mb"]
            if b["shuffle_mb"] else float("nan")
        )
        print(
            f"| {name} | {b['wall_s']}s | {g['wall_s']}s | {wr:.1f}x "
            f"| {b['shuffle_mb']} MB | {g['shuffle_mb']} MB "
            f"| {sr:.1f}x |"
        )
    print(json.dumps({"base": base, "big": big}))


if __name__ == "__main__":
    main()

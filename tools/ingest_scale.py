"""Ingest-throughput scale probe (round-13; makes the SURVEY §6
ingest-scale numbers reproducible instead of prose).

bench.py's ingest block measures the end-to-end batch pipeline
(validate → clean/coerce → dedup → keyed parquet upsert → finalize
moves) at a fixed 100k rows / 8 files — a window short enough that
fixed per-run costs (validation round-trips, upsert planning, JVM
job-submission latency) dominate. This tool runs the SAME
``bench.bench_ingest`` at a volume ladder AND a file-count ladder so
both scale stories are measured, not extrapolated:

  python tools/ingest_scale.py [--out INGEST_SCALE_rN.json]

- volume rungs (files grow with rows): do fixed costs amortize?
- file-count rungs (rows fixed at 2M, files 64 → 512 → 1024, i.e.
  ~31k → ~2k rows per small file): does the per-file validation loop
  (2 driver jobs per file, 16-wide thread pool — the round-9 finding)
  hold at the reference README's 10k-file operating claim, or name
  the measured bottleneck (round-13 verdict item 5)?
- target-size rungs (one 50k-row batch into an empty target, then into
  a 1M-row one): does a batch's wall grow with the table it upserts
  into? Each rung records the batch's wall and its Spark jobs; the
  other ladders always write a fresh target.

One warm run (first-pipeline-touch codegen excluded, mirroring
bench.py's warmup doctrine), then each rung once. The artifact records
loadavg at start so a contended recording is self-diagnosing (same
doctrine as BENCH_DETAIL's load block), and the warm-run exclusion
rule is stamped INTO the artifact (round-13 verdict item 7) so a
future reader sees rule, not cherry-pick.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: (rows, files) volume rungs: the bench point, then 10x and 20x.
LADDER = [(100_000, 8), (1_000_000, 32), (2_000_000, 64)]

#: (rows, files) file-count rungs: rows pinned at the 20x volume point,
#: files scaled 8x/16x/64x/156x (small-file regime; 10k files is the
#: reference README's claimed operating scale — ~200 rows per file).
#: Pass bar (r13 verdict item 5, extended r15 per r14 verdict item 2):
#: rows_per_min at every rung degrades <2x vs the 64-file rung.
FILE_LADDER = [
    (2_000_000, 512),
    (2_000_000, 1024),
    (2_000_000, 4096),
    (2_000_000, 10_000),
]

#: target rows already in the table before the timed batch
TARGET_LADDER = [0, 1_000_000]

#: (rows, files) of the timed batch of each target-size rung
TARGET_BATCH = (50_000, 4)

#: Why the warm run is excluded, stamped into the artifact itself.
WARM_EXCLUSION_RULE = (
    "one untimed warm run at the bench point (100k/8) always precedes "
    "the ladder and is excluded BY RULE, never by inspecting its "
    "number: the first pipeline touch pays one-time session costs "
    "(whole-stage codegen compilation, Python worker pool spawn, "
    "parquet committer classloading) that no steady-state deployment "
    "re-pays — the same warmup doctrine as bench.py's timed loop"
)


def artifact(load0, warm, runs, file_runs, target_runs=()) -> dict:
    """The artifact dict (pure, unit-tested): the exclusion rule rides
    in the JSON so the recording is self-explaining."""
    return {
        "tool": "tools/ingest_scale.py",
        "loadavg_start": load0,
        "warm_run_excluded": dict(warm, exclusion_rule=WARM_EXCLUSION_RULE),
        "runs": runs,
        "file_count_runs": file_runs,
        "target_size_runs": list(target_runs),
        "reference_rows_per_min": 10_000,
    }


def _land(spark, incoming: str, n: int, seed: int, files: int) -> None:
    """Write ``n`` generated sales rows as ``files`` CSV files."""
    from mini_data_platform_spark.generator import generate_sales_data

    generate_sales_data(spark, n, seed=seed, num_partitions=files).write.option(
        "header", True
    ).mode("overwrite").csv(incoming)
    for fn in os.listdir(incoming):  # drop _SUCCESS/.crc marker noise
        if not fn.endswith(".csv"):
            os.remove(os.path.join(incoming, fn))


def target_rung(spark, target_rows: int) -> dict:
    """Wall and Spark jobs of one ``TARGET_BATCH`` ingest (new keys)
    into a parquet target that already holds ``target_rows`` rows,
    loaded beforehand by the same pipeline. Landing is not timed."""
    from mini_data_platform_spark.runner import run_batch_ingest
    from mini_data_platform_spark.sinks.upsert import upsert_parquet

    root = tempfile.mkdtemp(prefix="ingest_target_")
    target = os.path.join(root, "sales")

    def ingest(incoming):
        return run_batch_ingest(
            spark, incoming, os.path.join(root, "processed"),
            os.path.join(root, "failed"),
            sink=lambda df: upsert_parquet(spark, df, target, ["sale_id"]),
        )

    # jobs counted by id, not by a job group: per-group counts grew by a
    # batch's jobs with every rung of one process
    tracker = spark.sparkContext.statusTracker()
    try:
        if target_rows:
            _land(spark, os.path.join(root, "seed"), target_rows, 7, 32)
            ingest(os.path.join(root, "seed"))
        rows, files = TARGET_BATCH
        _land(spark, os.path.join(root, "batch"), rows, 8, files)
        before = set(tracker.getJobIdsForGroup())
        t0 = time.perf_counter()
        report = ingest(os.path.join(root, "batch"))
        sec = time.perf_counter() - t0
        jobs = len(set(tracker.getJobIdsForGroup()) - before)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    out = {
        "target_rows": target_rows,
        "batch_rows": report.rows_upserted,
        "failed_files": len(report.failed),
        "sec": round(sec, 3),
        "jobs": jobs,
    }
    print(f"{rows} rows into {target_rows} target rows: {out['sec']} s, "
          f"{out['jobs']} jobs", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/ingest_scale.json")
    ap.add_argument("--skip-file-ladder", action="store_true")
    args = ap.parse_args()

    import bench
    from mini_data_platform_spark.session import get_spark

    load0 = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark()
    warm = bench.bench_ingest(spark, n=100_000, files=8)

    def rung(n, files):
        r = bench.bench_ingest(spark, n=n, files=files)
        r["n"], r["n_files"] = n, files
        print(f"{n} rows / {files} files: {r['rows_per_min']} rows/min",
              flush=True)
        return r

    runs = [rung(n, files) for n, files in LADDER]
    file_runs = (
        [] if args.skip_file_ladder
        else [rung(n, files) for n, files in FILE_LADDER]
    )
    target_runs = [target_rung(spark, n) for n in TARGET_LADDER]
    spark.stop()

    out = artifact(load0, warm, runs, file_runs, target_runs)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()

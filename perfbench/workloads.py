"""The two workloads. Each has a ``setup`` (inputs and an untimed warm-up;
counted in ``setup_s``) and a ``measure`` that runs closed-loop operations
until its time is spent, appending one ``Op`` per operation to the run.

- ``ingest``: sales-file batches through ``runner.run_batch_ingest`` and
  ``upsert_parquet`` into one growing target with a sqlite audit log.
- ``library``: a fixed pass over part of the query library plus the three
  stateful streaming drains, one client.

A warm-up operation that fails stays in the run as a failed operation, so
a broken output shows in the result line rather than ending the run.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from perfbench import fixtures, oracle
from perfbench.trace import ProgressListener, set_job_group

#: fixture scale and data seed of the library tables; the pinned output
#: counts in expected_rows.json hold for exactly these
TABLE_SF = 0.01
TABLE_SEED = 42

#: the library pass: queries from the KPI, TPC-H style analytics,
#: documents, embeddings and assets families, including a constructor
#: that runs Spark jobs eagerly (kpi_revenue_by_day_ivm) and one dominated
#: by driver-side expression building (doc_simhash); the drains cover the
#: events table. Most take 0.2-0.8 s once warm, so the median latency sits
#: among close values. Each query costs 0.5-4 s to warm up in a fresh
#: process, so the set stays small.
LIBRARY_QUERIES = (
    "kpi_revenue_by_day", "kpi_revenue_by_day_ivm", "pricing_summary",
    "customer_rank_in_nation", "doc_simhash", "emb_norms", "asset_features",
)
#: a timed pass runs every query QUERY_ROUNDS times, each round in its
#: own seeded order, and the drains once: the queries are short and vary
#: most from call to call, so the medians need the extra samples
QUERY_ROUNDS = 3
DRAINS = ("neardup_candidates", "sessionize", "heavy_hitters")
#: each drain reads its input split into STREAM_FILES files, one per
#: micro-batch, so state carries from the first micro-batch to the next
STREAM_FILES = 2
FILES_PER_TRIGGER = 1
#: every NEARDUP_EVERY-th document feeds the near-dup drain, the costliest
#: of the three
NEARDUP_EVERY = 4

INGEST_BATCHES = 5
INGEST_ROWS = 1000
WARM_BATCHES = 1

EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "expected_rows.json")


@dataclass
class Op:
    rid: int
    name: str
    kind: str  # batch | query | drain
    start: float  # epoch seconds
    dur: float = 0.0
    ok: bool = False
    pass_no: int = 0
    construct: tuple[float, float] | None = None  # epoch window
    extra: dict | None = None


class Run:
    """State shared by a run's workload: session, tracer, ops."""

    def __init__(self, spark, tracer, work_dir: str, seed: int, seconds: int,
                 pin: bool = False):
        self.spark = spark
        self.pin = pin  # record output counts instead of checking them
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.ops: list[Op] = []
        self.setup_parts: dict[str, float] = {}
        self.window = (0.0, 0.0)  # measured epoch window
        self.wall = 0.0  # measured wall, checks excluded
        self.layer: dict[str, float] = {}
        self._rid = 0

    def next_rid(self) -> int:
        self._rid += 1
        return self._rid

    def end_warmup(self) -> None:
        """Drop the warm-up's operations, except those that failed."""
        self.ops = [o for o in self.ops if not o.ok]


def _fail(op: Op, what: str) -> None:
    op.ok = False
    print(f"perfbench: {op.kind} {op.name} failed: {what}", file=sys.stderr, flush=True)


def _check_rows(run: Run, op: Op, rows: int, expected: int | None) -> None:
    """An output count against its pin; with --pin nothing is checked,
    otherwise a count without a pin fails."""
    op.extra = dict(op.extra or {}, rows=rows)
    if run.pin:
        op.ok = True
    elif expected is None:
        _fail(op, f"{rows} rows, and no count is pinned in expected_rows.json")
    elif rows != expected:
        _fail(op, f"{rows} rows, expected {expected}")
    else:
        op.ok = True


def _timed_loop(run: Run, one_pass) -> None:
    """Run as many whole passes as fit in the run's seconds, at least one.
    A pass is the workload's fixed unit of work; another starts only when
    the mean pass so far fits in the time left."""
    t0 = time.perf_counter()
    w0 = time.time()
    n = 0
    while True:
        one_pass(n)
        n += 1
        spent = time.perf_counter() - t0
        if run.seconds - spent < spent / n:
            break
    run.window = (w0, time.time())
    run.wall = time.perf_counter() - t0


# ---- query library -----------------------------------------------------------


def run_query(run: Run, name: str, fn, sf_dir: str, expected: int | None,
              pass_no: int) -> Op:
    """Construct and execute one query, counting its rows with an
    Observation on the same noop write that is timed."""
    from mini_data_platform_spark.operators import resources

    rid = run.next_rid()
    op = Op(rid, name, "query", time.time(), pass_no=pass_no)
    df = None
    tr = run.tracer
    with tr.span("op", rid=rid):
        try:
            p0 = time.perf_counter()
            set_job_group(run.spark, tr, rid, "construct")
            with tr.span("plans.construct"):
                df = fn(run.spark, sf_dir)
            op.construct = (op.start, time.time())
            set_job_group(run.spark, tr, rid, "exec")
            obs = Observation(f"pb_{rid}")
            with tr.span("plans.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
                rows = obs.get["rows"]
            op.dur = time.perf_counter() - p0
            _check_rows(run, op, rows, expected)
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            _fail(op, traceback.format_exc(limit=3))
        finally:
            resources.release_plan(df)
    run.ops.append(op)
    return op


def expected_counts() -> dict[str, int]:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


class Library:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.sf_dir = os.path.join(run.work_dir, "tables")
        self.stream_dir = os.path.join(run.work_dir, "streams")
        self.listener = ProgressListener()
        self.expected: dict[str, int] = {}
        self.queries = {}

    def setup(self) -> None:
        import __spark_entry__

        run = self.run
        t0 = time.perf_counter()
        fixtures.write_tables(self.sf_dir, TABLE_SF, TABLE_SEED)
        self._write_streams()
        run.setup_parts["setup.inputs_s"] = time.perf_counter() - t0
        all_q = __spark_entry__.queries()
        self.queries = {n: all_q[n] for n in LIBRARY_QUERIES}
        self.expected = {} if run.pin else expected_counts()
        run.spark.streams.addListener(self.listener)
        # warm-up: every query once, untimed, so the timed passes measure
        # steady per-query cost instead of which query happened to compile
        # a shared operator first; a fresh process runs its queries two to
        # three times slower than a warm one. The drains always run in the
        # same order after the queries, so they are measured cold: warming
        # them would add 15 s of set-up to save 4 s of the timed pass.
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            run_query(run, name, fn, self.sf_dir, self.expected.get(name), -1)
        run.end_warmup()
        run.setup_parts["setup.warmup_s"] = time.perf_counter() - t0

    def _write_streams(self) -> None:
        """Stream inputs split into STREAM_FILES files so the drains run
        several micro-batches and carry state across them."""
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        docs = docs.take(list(range(0, docs.num_rows, NEARDUP_EVERY)))
        docs = docs.select(["doc_id", "text"]).append_column(
            "ts", pc.cast(pc.multiply(docs["doc_id"], 1_000_000),
                          pa.timestamp("us")))
        events = events.select(["user_id", "ts", "value"])
        for name, table in (("docs", docs), ("events", events)):
            d = os.path.join(self.stream_dir, name)
            os.makedirs(d)
            step = -(-table.num_rows // STREAM_FILES)
            for i in range(STREAM_FILES):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(d, f"part_{i:03d}.parquet"))

    def _drain_df(self, name: str):
        from mini_data_platform_spark.streaming import heavyhitters, neardup, windows

        spark = self.run.spark
        src = "docs" if name == "neardup_candidates" else "events"
        path = os.path.join(self.stream_dir, src)
        stream = (spark.readStream.schema(spark.read.parquet(path).schema)
                  .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(path))
        if name == "neardup_candidates":
            return neardup.near_dup_candidates_stream(stream)
        if name == "sessionize":
            return windows.sessionize_stateful(stream)
        return heavyhitters.heavy_hitters_stream(stream, "user_id", min_count=80)

    def drain(self, name: str, pass_no: int) -> Op:
        from mini_data_platform_spark.streaming import run as stream_run

        run, tr = self.run, self.run.tracer
        rid = run.next_rid()
        op = Op(rid, name, "drain", time.time(), pass_no=pass_no)
        run.ops.append(op)
        qname = f"pb_drain_{rid}"
        with tr.span("op", rid=rid):
            try:
                p0 = time.perf_counter()
                set_job_group(run.spark, tr, rid, "exec")
                df = self._drain_df(name).observe(
                    qname, F.count(F.lit(1)).alias("rows"))
                with tr.span("streaming.drain"):
                    stream_run.run_available_now(
                        df, os.path.join(run.work_dir, "ckpt", qname),
                        query_name=qname)
                op.dur = time.perf_counter() - p0
            except Exception:  # noqa: BLE001
                _fail(op, traceback.format_exc(limit=3))
                return op
        progress = self.listener.wait(qname)
        op.extra = {"progress": progress}
        rows = sum(p["observed"].get(qname, {}).get("rows", 0) for p in progress)
        _check_rows(run, op, rows, self.expected.get(f"drain:{name}"))
        return op

    def one_pass(self, pass_no: int) -> None:
        rng = random.Random(self.run.seed * 1000 + pass_no)
        for _ in range(QUERY_ROUNDS):
            order = list(self.queries)
            rng.shuffle(order)
            for name in order:
                run_query(self.run, name, self.queries[name], self.sf_dir,
                          self.expected.get(name), pass_no)
        for name in DRAINS:
            self.drain(name, pass_no)

    def measure(self) -> None:
        _timed_loop(self.run, self.one_pass)


# ---- ingest --------------------------------------------------------------------


class Ingest:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.batches: list[fixtures.Batch] = []
        self.expected: dict[str, float] = {}
        self.pending: list[tuple[str, list[Op]]] = []

    def setup(self) -> None:
        run = self.run
        t0 = time.perf_counter()
        self.batches = fixtures.write_sales_batches(
            os.path.join(run.work_dir, "landing"), run.seed,
            INGEST_BATCHES, INGEST_ROWS)
        warm = fixtures.write_sales_batches(
            os.path.join(run.work_dir, "landing_warm"), run.seed + 1,
            WARM_BATCHES, INGEST_ROWS)
        run.setup_parts["setup.inputs_s"] = time.perf_counter() - t0
        # warm-up: a first batch in a fresh process takes three to four
        # times a steady one
        t0 = time.perf_counter()
        self.one_pass(-1, warm)
        run.end_warmup()
        run.setup_parts["setup.warmup_s"] = time.perf_counter() - t0

    def one_pass(self, pass_no: int, batches=None) -> None:
        from mini_data_platform_spark import runner
        from mini_data_platform_spark.sinks import audit, upsert

        run, tr = self.run, self.run.tracer
        batches = batches or self.batches
        pdir = os.path.join(run.work_dir, f"pass_{pass_no}")
        incoming = os.path.join(pdir, "incoming")
        target = os.path.join(pdir, "target")
        os.makedirs(incoming)
        log = audit.AuditLog(lambda: upsert.sqlite_conn_factory(
            os.path.join(pdir, "audit.db")))

        def sink(df):
            return upsert.upsert_parquet(run.spark, df, target, ["sale_id"])

        ops = []
        for b, batch in enumerate(batches):
            for path in batch.files:  # the batch lands
                os.link(path, os.path.join(incoming, os.path.basename(path)))
            rid = run.next_rid()
            op = Op(rid, f"batch_{b:03d}", "batch", time.time(), pass_no=pass_no)
            with tr.span("op", rid=rid):
                try:
                    p0 = time.perf_counter()
                    set_job_group(run.spark, tr, rid, "exec")
                    report = runner.run_batch_ingest(
                        run.spark, incoming, os.path.join(pdir, "processed"),
                        os.path.join(pdir, "failed"), sink=sink, audit=log)
                    op.dur = time.perf_counter() - p0
                    rejected = sum(o.status == "validation_failed"
                                   for o in report.outcomes)
                    loaded = len(report.loaded)
                    op.extra = {"rows": report.rows_upserted,
                                "rejected": rejected,
                                "input_bytes": batch.input_bytes}
                    op.ok = (rejected == len(batch.bad)
                             and loaded == len(batch.files) - len(batch.bad))
                    if not op.ok:
                        _fail(op, f"{rejected} files rejected, {loaded} loaded")
                except Exception:  # noqa: BLE001
                    _fail(op, traceback.format_exc(limit=3))
            ops.append(op)
        run.ops.extend(ops)
        if pass_no >= 0:
            self.pending.append((target, ops))

    def _check(self, target: str, ops: list[Op]) -> None:
        """Compare the pass's final target with the DuckDB oracle; a
        mismatch fails every batch of the pass."""
        if not self.expected:
            bad = {p for b in self.batches for p in b.bad}
            self.expected = oracle.expected_target(
                [b.files for b in self.batches], bad)
        got = oracle.actual_target(target)
        if got != self.expected:
            missing = len(self.expected.keys() - got.keys())
            extra = len(got.keys() - self.expected.keys())
            wrong = sum(got[k] != v for k, v in self.expected.items() if k in got)
            for op in ops:
                _fail(op, f"target: {missing} keys missing, {extra} extra, "
                          f"{wrong} amounts differ")
        self.run.layer["sinks.target_rows"] = len(got)

    def measure(self) -> None:
        _timed_loop(self.run, self.one_pass)
        for target, ops in self.pending:  # checked after the timed window
            self._check(target, ops)


WORKLOADS = {"ingest": Ingest, "library": Library}

"""Batch ingestion runner — the reference's Airflow DAG re-expressed as one
Spark program (SURVEY.md §3.1, §7 M6).

Pipeline per batch: discover → validate (file granularity) → route
(clean+dedup+upsert | quarantine) → finalize moves → audit. Fault routing
matches the reference's prefix vocabulary
(/root/reference/dags/process_sales_dags.py:145-198):

- ``failed/validation_failed/``  invalid files, moved before any processing
- ``failed/processing_failed/``  read/clean errors
- ``failed/loading_failed/``     sink errors
- ``processed/``                 loaded files

Two execution modes:

- **scale mode** (default): ALL valid files are cleaned, deduped and
  upserted in ONE Spark action, the sink's write. Cross-file key
  collisions resolve exactly as the reference's sequential per-file
  upserts would (later file wins) via a file-rank precedence column in
  the dedup window, so the result is bit-identical to the file-loop.
  Per-file row counts are an Observation riding that write (an exact
  histogram over the file ranks), so the batch never executes twice.
  This is the 100 TB path: no per-file driver round-trips, one shuffle
  (the dedup window; none under ``ONE_TASK_MAX_ROWS``), one sink commit
  (idempotent upsert makes retries safe). Files are read as a few
  signature-grouped MULTI-PATH scans under the scan contract of
  ``sources/scanstage.py`` (see ``_stage_valid_files``). Each group's
  frame is planned on its own: a group that fails to plan (say, column
  names that collide after normalization) quarantines only its own
  files as ``processing_failed``, and the rest of the batch loads. An
  error raised while the batch EXECUTES fails the whole batch
  (``loading_failed``), since the batch is one action.
- **per-file mode** (``per_file=True``): the reference's loop, for
  deployments that need per-file transactions / fault isolation at the
  cost of one job per file.

Design deviations from the reference, on purpose (SURVEY.md §3.1(iv)):
files are routed to exactly ONE branch (the reference runs invalid files
through process_file too and catches the exception after quarantining);
validate and process read the file once each, not twice.

Moves are driver-side side effects performed AFTER the sink commit
(order: upsert → move → audit, process_sales_dags.py:186-190), never
inside Spark tasks, so task retries cannot double-move files.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from mini_data_platform_spark.operators.dedup import (
    INGEST_ORDER_COL,
    dedup_keep_latest,
    with_ingest_order,
)
from mini_data_platform_spark.operators.resources import (
    listed_bytes,
    row_bound,
    with_row_bound,
)
from mini_data_platform_spark.registry import (
    SALES_SPEC,
    TableSpec,
    clean_columns,
    clean_table,
)
from mini_data_platform_spark.sinks.audit import AuditLog
from mini_data_platform_spark.sinks.objects import move_object
from mini_data_platform_spark.session import get_spark, observed
from mini_data_platform_spark.sources.readers import (
    read_file,
    read_file_as_strings,
)
from mini_data_platform_spark.sources.scanstage import (
    cleanup_dirs,
    csv_header_names,
    file_basename,
    joinable,
    normalize_column_names,
    normalize_name,
    read_csv_with_header,
    stage_link_dir,
)

logger = logging.getLogger(__name__)

FILE_RANK_COL = "_file_rank"

#: Largest listed row bound of a batch deduped in one task (the
#: driver-size contract in ``operators/resources.py``): the measured
#: crossover. Batch wall into a 200k-row target, 4 cores, one task vs
#: shuffled: parquet even at 150k rows, 4.1 vs 3.2 s at 200k; CSV even
#: at 100k rows (8.6 MB), 7.2 vs 4.7 s at 300k.
ONE_TASK_MAX_ROWS = 150_000


@dataclass
class FileOutcome:
    path: str
    status: str  # loaded | validation_failed | processing_failed | load_failed
    rows: int | None = None
    error: str | None = None


@dataclass
class IngestReport:
    outcomes: list[FileOutcome] = field(default_factory=list)
    rows_upserted: int = 0
    #: wall time of the batch (set by run_batch_ingest) — feeds the
    #: metrics surface (metrics.ingest_metrics rows/min vs the
    #: reference's 10k baseline)
    duration_s: float | None = None

    @property
    def loaded(self) -> list[FileOutcome]:
        return [o for o in self.outcomes if o.status == "loaded"]

    @property
    def failed(self) -> list[FileOutcome]:
        return [o for o in self.outcomes if o.status != "loaded"]


def discover_files(incoming_dir: str) -> list[str]:
    """Deterministic (sorted) listing of the incoming prefix — local glob
    or paginated S3 listing. The order defines cross-file precedence
    exactly like the reference's list_objects order."""
    from mini_data_platform_spark.sinks.objects import list_objects

    return list_objects(incoming_dir)


def _quarantine(
    path: str, failed_dir: str, reason: str, audit: AuditLog | None, error: str
) -> FileOutcome:
    move_object(path, os.path.join(failed_dir, reason, os.path.basename(path)))
    if audit:
        audit.log_file_status(path, failed_dir, reason, error=error)
    return FileOutcome(path, reason, error=error)


def _spec_strings(df: DataFrame, spec: TableSpec, *extra) -> DataFrame:
    """``spec.columns`` of ``df`` cast to string (a missing one null),
    then ``extra``, in one projection."""
    have = set(df.columns)
    return df.select(
        *[(F.col(c) if c in have else F.lit(None)).cast("string").alias(c)
          for c in spec.columns],
        *extra,
    )


_FILE_BASE_COL = "_file_base"


#: JSON files above this size are staged as their own single-file scan
#: (per-file semantics trivially preserved) instead of paying a full
#: driver-side parse for the type signature; the file-count-scale regime
#: this path exists for is MANY SMALL files, so solo groups for the rare
#: big file cost one extra scan, not a per-file plan per batch.
_JSON_SIG_MAX_BYTES = 8 << 20


def _json_scalar_class(v) -> object:
    """Classify one parsed JSON value the way Spark's JSON schema
    inference types it (JsonInferSchema): null / bool / long (fits
    int64) / dec (integer wider than int64 → DecimalType) / double /
    string, with objects and arrays recursing."""
    if v is None:
        return "null"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "bool"
    if isinstance(v, int):
        return "long" if -(1 << 63) <= v < (1 << 63) else "dec"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return (
            "obj",
            tuple(
                sorted(
                    ((k, _json_scalar_class(x)) for k, x in v.items()),
                    key=lambda kv: kv[0],
                )
            ),
        )
    if isinstance(v, list):
        elem: object = "null"
        for x in v:
            elem = _json_merge_class(elem, _json_scalar_class(x))
        return ("arr", elem)
    raise ValueError(f"unclassifiable JSON value: {type(v)!r}")


def _json_merge_class(a, b):
    """Mirror of Spark's ``compatibleType`` merge lattice on the class
    encoding above: equal → same; null absorbs; long/double/dec widen
    numerically; obj+obj merge field-wise (a missing field is just
    nullable); arr+arr merge elements; every other pair falls back to
    string — exactly Spark's behavior, which is what makes "equal merged
    signatures ⇒ identical group-vs-per-file inferred schema" hold."""
    if a == b:
        return a
    if a == "null":
        return b
    if b == "null":
        return a
    if isinstance(a, str) and isinstance(b, str):
        pair = {a, b}
        if pair == {"long", "double"}:
            return "double"
        if pair == {"long", "dec"}:
            return "dec"
        if pair == {"double", "dec"}:
            return "double"
        return "string"
    if isinstance(a, tuple) and isinstance(b, tuple) and a[0] == b[0]:
        if a[0] == "obj":
            fields = dict(a[1])
            for k, c in b[1]:
                fields[k] = _json_merge_class(fields[k], c) if k in fields else c
            return ("obj", tuple(sorted(fields.items(), key=lambda kv: kv[0])))
        if a[0] == "arr":
            return ("arr", _json_merge_class(a[1], b[1]))
    return "string"


def _json_type_signature(path: str, layout: str) -> tuple | None:
    """Merged top-level key/type signature of a local JSON file, parsed
    WHOLE driver-side (no sampling — sampled signatures can miss drift
    later in the file). Returns ``None`` when the file can't be cleanly
    signed (too big, unparseable, non-object records, empty)
    — the caller stages it as its own solo group, which preserves
    per-file semantics by construction."""
    import json

    try:
        if os.path.getsize(path) > _JSON_SIG_MAX_BYTES:
            return None
        with open(path, "rb") as fh:
            raw = fh.read()
        if layout == "array":
            records = json.loads(raw)
            if not isinstance(records, list):
                return None
        else:
            records = [
                json.loads(line)
                for line in raw.splitlines()
                if line.strip()
            ]
    except Exception:  # noqa: BLE001 — unreadable/unparseable: solo group
        return None
    merged: object = "null"
    try:
        for rec in records:
            if not isinstance(rec, dict):
                return None
            merged = _json_merge_class(merged, _json_scalar_class(rec))
    except ValueError:  # exotic value type from the decoder — solo group
        return None
    if merged == "null":  # no records — contributes no rows either way
        return None
    return merged


def _file_signature(path: str) -> tuple[tuple | None, int | None]:
    """``(key, bound)`` of one listed file. ``key`` groups files that
    are SAFE to read as one multi-path scan with per-file semantics
    preserved, or is ``None`` when the file has no signature (remote,
    unreadable, compressed, untrusted CSV header, unsignable JSON, ORC):

    - csv: the header's normalized names (``scanstage.csv_header_names``),
      applied by position under one all-string schema;
    - json: same layout (array vs ndjson) AND same merged top-level
      key/type signature, parsed whole driver-side. Layout alone is NOT
      enough: Spark infers ONE schema per scan, so cross-file type
      drift (long in file A, double in file B) would widen group-wide
      and the cast-to-string would render different bytes than per-file
      staging ('123.0' vs '123');
    - parquet: identical normalized footer schema; files with drifted
      footers land in separate groups and meet only AFTER the
      all-string cast, exactly like the per-file path.

    ``bound`` is the file's listed row bound (``operators/resources.py``):
    parquet footer rows, or uncompressed CSV/JSON bytes; ``None`` when
    unknown. One parquet footer read gives both."""
    from mini_data_platform_spark.sources.formats import (
        detect_format_path,
        is_compressed_path,
        sniff_json_layout_path,
    )

    if not os.path.isfile(path):
        return None, None
    try:
        fmt = detect_format_path(path)
        if fmt == "parquet":
            import pyarrow.parquet as pq

            meta = pq.read_metadata(path)
            schema = meta.schema.to_arrow_schema()
            key = tuple(
                (normalize_name(n), str(t))
                for n, t in zip(schema.names, schema.types)
            )
            return ("parquet", key), meta.num_rows
        if fmt not in ("csv", "json") or is_compressed_path(path):
            return None, None
        bound = listed_bytes([path])
        if fmt == "csv":
            names = csv_header_names(path)
            return (None if names is None else ("csv", names)), bound
        layout = sniff_json_layout_path(path)
        sig = _json_type_signature(path, layout)
        return (None if sig is None else ("json", layout, sig)), bound
    except Exception:  # noqa: BLE001 — unreadable head/footer: no signature
        return None, None


def _read_group(
    spark: SparkSession,
    sig: tuple,
    paths: list[str],
    stage_dirs: list[str] | None = None,
) -> DataFrame:
    """One multi-path scan for a signature group. Large LOCAL groups
    are hardlink-staged into a temp dir and read as ONE directory
    (``sources/scanstage.py``). The staging dir is appended to
    ``stage_dirs`` — the caller keeps it alive until the batch's
    actions have run."""
    fmt = sig[0]
    scan: list[str] | str = paths
    if stage_dirs is not None:
        d = stage_link_dir(paths)
        if d is not None:
            stage_dirs.append(d)
            scan = d
    if fmt == "csv":
        # the group's header names ARE the signature: Spark's header
        # inference would touch every file of the scan at reader-build
        # time (~7.5 s at 4096 files, measured r15) to produce them
        return read_csv_with_header(spark, sig[1], scan)
    if fmt == "json" and sig[1] == "array":
        df = spark.read.option("multiLine", True).json(scan)
    elif fmt == "json":
        df = spark.read.json(scan)
    else:
        df = (
            spark.read.parquet(scan)
            if isinstance(scan, str)
            else spark.read.parquet(*scan)
        )
    return normalize_column_names(df)


def _stage_valid_files(
    spark: SparkSession,
    valid: list[str],
    spec: TableSpec,
    stage_dirs: list[str] | None = None,
) -> tuple[DataFrame | None, dict[str, str]]:
    """Stage ALL valid files as a handful of scans: files are grouped
    by :func:`_file_signature`, and each group is ONE ``spark.read``
    (Spark bin-packs small files into ``maxPartitionBytes`` splits). A
    file without a signature, or one that ``scanstage.joinable``
    refuses, is its own group, read by ``read_file``.

    A file's listing index is its rank, the cross-file precedence of the
    reference's sequential loop. A one-file group carries its rank as a
    literal. A multi-file group joins the basename of each row's file
    against a broadcast (basename → rank) table. The table is one
    literal, the ``/``-joined basenames (``/`` is not ``SAFE_BASE``),
    exploded in the JVM: ``createDataFrame`` would fork Python workers,
    per-file literals cost a py4j build each, and ``array_position``
    scans the whole list per row.

    Each group's frame is analysed as it is built. A group that fails
    to plan (a read error, or names that collide after normalization)
    is left out, and its files are returned with the error. Returns the
    union of the other groups (``None`` if none is left), carrying the
    batch's ``_one_task_bound`` as its ``row_bound`` when there is one,
    and the failed files."""
    # a spec column named like the provenance column: no group joins
    can_join = (
        [False] * len(valid) if _FILE_BASE_COL in spec.columns
        else joinable(valid)
    )
    groups: dict[tuple, list[int]] = {}
    bounds = []
    for rank, (path, ok) in enumerate(zip(valid, can_join)):
        sig, bound = _file_signature(path)
        bounds.append(bound)
        key = sig if sig is not None and ok else (None, rank)
        groups.setdefault(key, []).append(rank)

    if any(len(members) > 1 for members in groups.values()):
        ranks = spark.range(1, numPartitions=1).select(
            F.posexplode(
                F.split(F.lit("/".join(map(os.path.basename, valid))), "/")
            ).alias(FILE_RANK_COL, _FILE_BASE_COL)
        )
    frames: list[DataFrame] = []
    failed: dict[str, str] = {}
    planned: list[int] = []
    for key, members in groups.items():
        paths = [valid[r] for r in members]
        try:
            if key[0] is None:
                df = read_file(spark, paths[0])
            else:
                df = _read_group(spark, key, paths, stage_dirs)
            if len(members) == 1:
                frame = _spec_strings(
                    df, spec, F.lit(members[0]).alias(FILE_RANK_COL)
                )
            else:
                # provenance in the scan's own projection:
                # input_file_name() is only defined over the scan's rows
                frame = (
                    _spec_strings(
                        df, spec, file_basename().alias(_FILE_BASE_COL)
                    )
                    .join(F.broadcast(ranks), _FILE_BASE_COL)
                    .drop(_FILE_BASE_COL)
                )
        except Exception as e:  # noqa: BLE001 — quarantine this group only
            failed.update((p, str(e)) for p in paths)
            continue
        frames.append(frame)
        planned += members
    if not frames:
        return None, failed
    staged = frames[0]
    for f in frames[1:]:  # one union per GROUP, not per file
        staged = staged.unionByName(f)
    staged = with_ingest_order(staged)
    bound = _one_task_bound([bounds[r] for r in planned])
    return (staged if bound is None else with_row_bound(staged, bound)), failed


def _one_task_bound(bounds: list[int | None]) -> int | None:
    """The batch's listed row bound when every file has one and their
    sum is at most ``ONE_TASK_MAX_ROWS``, else ``None``. No job."""
    if None in bounds or sum(bounds) > ONE_TASK_MAX_ROWS:
        return None
    return sum(bounds)


def run_batch_ingest(
    spark: SparkSession,
    incoming_dir: str,
    processed_dir: str,
    failed_dir: str,
    sink: Callable[[DataFrame], int],
    audit: AuditLog | None = None,
    per_file: bool = False,
    on_complete: Callable[[IngestReport], None] | None = None,
    spec: TableSpec = SALES_SPEC,
) -> IngestReport:
    """One ingestion batch over every file in ``incoming_dir``. ``sink``
    receives the cleaned, deduped, canonically-typed sales DataFrame and
    returns the row count it wrote (e.g. ``functools.partial(
    sinks.upsert_parquet, spark, target_dir=..., key_cols=["sale_id"])``
    adapted, or an upsert_dbapi closure). Sink contract: it executes its
    frame fully at least once and returns the number of rows it wrote;
    per-file row counts are observed on that execution (``None``,
    logged, if the sink never runs its frame).

    ``on_complete`` is the notification hook (reference
    notify_success/notify_failure, process_sales_dags.py:37-62, without
    baking in a transport): it receives the final IngestReport on EVERY
    exit path — success and failure alike; distinguish via
    ``report.failed`` — and, like the audit log, can never fail the
    pipeline (exceptions are logged and swallowed).

    ``spec`` selects the registered table contract
    (registry.SchemaRegistry) — validation, cleaning, coercion, key
    filtering and keep-latest dedup all derive from it; the default is
    the reference's sales table.

    Operational metrics: the report carries ``duration_s``; wire
    ``on_complete=metrics.prometheus_hook(...)`` to publish
    files/rows/throughput to a node_exporter textfile or a /metrics
    endpoint (metrics.py)."""
    import time as _time

    _t0 = _time.monotonic()
    report = _run_batch_ingest(
        spark, incoming_dir, processed_dir, failed_dir, sink, audit,
        per_file, spec,
    )
    report.duration_s = _time.monotonic() - _t0
    if on_complete is not None:
        try:
            on_complete(report)
        except Exception:  # noqa: BLE001 — notification must never fail the run
            logger.exception("on_complete notification hook raised")
    return report


#: the quarantine sub-prefixes a reprocess sweep requeues by default —
#: the runner's full fault-routing vocabulary (module docstring)
FAILURE_REASONS = ("validation_failed", "processing_failed", "loading_failed")


def reprocess_failed(
    spark: SparkSession,
    incoming_dir: str,
    processed_dir: str,
    failed_dir: str,
    sink: Callable[[DataFrame], int],
    audit: AuditLog | None = None,
    reasons: tuple[str, ...] = FAILURE_REASONS,
    per_file: bool = False,
    on_complete: Callable[[IngestReport], None] | None = None,
    spec: TableSpec = SALES_SPEC,
) -> IngestReport:
    """Requeue quarantined files and run one ordinary ingest batch over
    the incoming prefix — the reference's own declared future work
    ("Add reprocessing DAG for failed files",
    /root/reference/README.md Future Improvements), which its quarantine
    routing (this module) left as a dead end: after an operator fixes
    the cause (bad column header, sink credentials), nothing re-ran the
    files.

    Mechanics: every file under ``failed/<reason>/`` for the selected
    ``reasons`` moves back to ``incoming/`` with a ``requeued`` audit
    transition (keyed on the INCOMING path — the same key its original
    detection, quarantine, and eventual load use, so the audit table
    tells the file's whole story as one row), then a normal
    :func:`run_batch_ingest` runs. Files that fail AGAIN are
    re-quarantined by the ordinary routing; replays of files that
    already half-loaded are safe because the sink contract is an
    idempotent keyed upsert. New files that arrived in ``incoming/``
    meanwhile simply join the batch — exactly what a scheduled retry
    DAG would do.

    Returns the ingest report of the re-run; an empty report (no
    outcomes) means nothing was queued for the selected reasons."""
    from mini_data_platform_spark.sinks.objects import list_objects

    requeued: list[str] = []
    for reason in reasons:
        for path in list_objects(os.path.join(failed_dir, reason)):
            dst = os.path.join(incoming_dir, os.path.basename(path))
            move_object(path, dst)
            if audit:
                audit.log_file_status(
                    dst, incoming_dir, "requeued", error=f"was {reason}"
                )
            requeued.append(dst)
    if not requeued:
        return IngestReport()
    return run_batch_ingest(
        spark,
        incoming_dir,
        processed_dir,
        failed_dir,
        sink,
        audit=audit,
        per_file=per_file,
        on_complete=on_complete,
        spec=spec,
    )


def _run_batch_ingest(
    spark: SparkSession,
    incoming_dir: str,
    processed_dir: str,
    failed_dir: str,
    sink: Callable[[DataFrame], int],
    audit: AuditLog | None = None,
    per_file: bool = False,
    spec: TableSpec = SALES_SPEC,
) -> IngestReport:
    report = IngestReport()
    files = discover_files(incoming_dir)
    valid: list[str] = []
    # validation is a per-FILE verdict (sampled, O(1) data per file);
    # validate_files batches the small files' Spark probes into one plan
    # instead of 1-2 driver-built jobs per file, and returns verdicts IN
    # LISTING ORDER. Side effects (quarantine moves, audit writes) stay
    # sequential, so routing and precedence match the per-file loop.
    from mini_data_platform_spark.sources.validate import validate_files

    verdicts = validate_files(spark, files, spec=spec) if files else []
    for path, (ok, err) in zip(files, verdicts):
        if ok:
            if audit:
                audit.log_file_status(path, incoming_dir, "validated")
            valid.append(path)
        else:
            report.outcomes.append(
                _quarantine(path, failed_dir, "validation_failed", audit, err)
            )
    if not valid:
        return report

    if per_file:
        for path in valid:
            report.outcomes.append(
                _ingest_one(
                    spark, path, processed_dir, failed_dir, sink, audit,
                    spec,
                )
            )
        report.rows_upserted = sum(o.rows or 0 for o in report.loaded)
        return report

    # ---- scale mode: one Spark action over all valid files ----------------
    # hardlink scan-staging dirs (sources/scanstage.py) must outlive
    # every action over the lazy staged plan — freed after the sink
    stage_dirs: list[str] = []
    try:
        staged, failed = _stage_valid_files(spark, valid, spec, stage_dirs)
        for path, err in failed.items():
            report.outcomes.append(
                _quarantine(path, failed_dir, "processing_failed", audit, err)
            )
        if staged is None:
            return report
        loading = [p for p in valid if p not in failed]
        try:
            cleaned = clean_columns(
                staged, spec, keep=(FILE_RANK_COL, INGEST_ORDER_COL)
            )
        except Exception as e:  # noqa: BLE001 — plan failure: quarantine all
            for path in loading:
                report.outcomes.append(
                    _quarantine(
                        path, failed_dir, "processing_failed", audit, str(e)
                    )
                )
            return report
        # per-file row counts ride the sink's own action: a histogram
        # over the file ranks is exact while ranks <= bins
        obs = Observation()
        cleaned = cleaned.observe(
            obs,
            F.histogram_numeric(
                FILE_RANK_COL, F.lit(max(2, len(valid)))
            ).alias("ranks"),
        )
        # a batch the listing bounds runs in one task (SinglePartition
        # satisfies the window's distribution); the bound rides to the sink
        bound = row_bound(staged)
        final = dedup_keep_latest(
            cleaned if bound is None else cleaned.coalesce(1),
            keys=spec.keys,
            order_col=spec.order_col or INGEST_ORDER_COL,
            null_wins=True,
            precedence_cols=(FILE_RANK_COL,),
        ).drop(FILE_RANK_COL)
        if bound is not None:
            final = with_row_bound(final, bound)

        try:
            report.rows_upserted = sink(final)
        except Exception as e:  # noqa: BLE001 — sink failure: batch-granular quarantine
            for path in loading:
                report.outcomes.append(
                    _quarantine(
                        path, failed_dir, "loading_failed", audit, str(e)
                    )
                )
            return report
    finally:
        cleanup_dirs(stage_dirs)

    metrics = observed(spark, obs)
    if metrics is None:
        logger.warning("sink did not run its frame: per-file rows unknown")
    ranks: dict[int, int] = {}
    # merged partial histograms may keep one rank in several bins
    for b in (metrics or {}).get("ranks") or []:
        ranks[int(b["x"])] = ranks.get(int(b["x"]), 0) + round(b["y"])
    for rank, path in enumerate(valid):
        if path in failed:
            continue
        move_object(path, os.path.join(processed_dir, os.path.basename(path)))
        rows = None if metrics is None else ranks.get(rank, 0)
        if audit:
            audit.log_file_status(path, processed_dir, "loaded", rows=rows)
        report.outcomes.append(FileOutcome(path, "loaded", rows=rows))
    return report


def _ingest_one(
    spark: SparkSession,
    path: str,
    processed_dir: str,
    failed_dir: str,
    sink: Callable[[DataFrame], int],
    audit: AuditLog | None,
    spec: TableSpec = SALES_SPEC,
) -> FileOutcome:
    """Per-file mode body (reference process_file + load_to_postgres,
    process_sales_dags.py:156-198)."""
    try:
        df = with_ingest_order(read_file_as_strings(spark, path))
        cleaned = clean_table(df, spec)
        if spec.order_col is None:
            # order-less spec: arrival order is the only precedence;
            # the typed conform dropped the tag, so re-stamp it (the
            # clean pipeline is narrow transforms — row order holds)
            cleaned = with_ingest_order(cleaned)
        cleaned = dedup_keep_latest(
            cleaned,
            keys=spec.keys,
            order_col=spec.order_col or INGEST_ORDER_COL,
        ).drop(INGEST_ORDER_COL)
        n = cleaned.count()
    except Exception as e:  # noqa: BLE001
        return _quarantine(path, failed_dir, "processing_failed", audit, str(e))
    try:
        sink(cleaned)
    except Exception as e:  # noqa: BLE001
        return _quarantine(path, failed_dir, "loading_failed", audit, str(e))
    move_object(path, os.path.join(processed_dir, os.path.basename(path)))
    if audit:
        audit.log_file_status(path, processed_dir, "loaded", rows=n)
    return FileOutcome(path, "loaded", rows=n)


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m mini_data_platform_spark.runner --incoming DIR
    --target DIR`` runs one batch with the parquet-merge sink and a sqlite
    audit log (swap for JDBC/psycopg2 sinks in deployment)."""
    import argparse
    import functools
    import json

    from mini_data_platform_spark import metrics
    from mini_data_platform_spark.sinks.upsert import (
        sqlite_conn_factory,
        upsert_parquet,
    )

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--incoming", required=True)
    ap.add_argument("--processed", default=None)
    ap.add_argument("--failed", default=None)
    ap.add_argument("--target", required=True, help="parquet upsert target dir")
    ap.add_argument("--audit-db", default=None, help="sqlite audit db path")
    ap.add_argument("--per-file", action="store_true")
    ap.add_argument(
        "--metrics-textfile", default=None,
        help="write the batch's Prometheus metrics to this .prom file",
    )
    args = ap.parse_args(argv)

    base = os.path.dirname(args.incoming.rstrip("/"))
    processed = args.processed or os.path.join(base, "processed")
    failed = args.failed or os.path.join(base, "failed")
    spark = get_spark("batch_ingest")
    audit = (
        AuditLog(functools.partial(sqlite_conn_factory, args.audit_db))
        if args.audit_db
        else None
    )

    def sink(df: DataFrame) -> int:
        return upsert_parquet(spark, df, args.target, ["sale_id"])

    hook = (
        metrics.prometheus_hook(textfile=args.metrics_textfile)
        if args.metrics_textfile
        else None
    )
    report = run_batch_ingest(
        spark, args.incoming, processed, failed,
        sink=sink, audit=audit, per_file=args.per_file, on_complete=hook,
    )
    print(
        json.dumps(
            {
                "loaded": len(report.loaded),
                "failed": len(report.failed),
                "rows_upserted": report.rows_upserted,
                "outcomes": [
                    {"file": o.path, "status": o.status, "rows": o.rows, "error": o.error}
                    for o in report.outcomes
                ],
            }
        )
    )
    return 1 if report.failed else 0


if __name__ == "__main__":
    raise SystemExit(main())

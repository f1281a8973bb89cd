"""File-granularity validation (SURVEY.md §2.5 V1-V3).

Reproduces the reference's validator semantics
(/root/reference/dags/src/validator.py:37-99) Spark-first:

- CSV (V1): parse a 1000-row sample; required-column check on normalized
  names; the first 50 non-null ``sale_date`` values must ALL parse
  (pandas ``errors="raise"`` parity — one bad date fails the file).
- JSON (V2): each of the first 100 records must contain every required
  key. Spark's schema union can't distinguish missing-key from null, so
  the check reads lines as text and uses ``json_object_keys`` — still
  JVM-side, still a bounded sample.
- Parquet (V3): required-column check against the file footer schema —
  metadata-only, zero data read.

Verdicts are (valid: bool, error: str) per file, the unit the quarantine
router consumes. Sampling keeps validation O(1) per file no matter the
file size — at 100 TB the validator cost is bounded by file count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from mini_data_platform_spark.registry import SALES_SPEC, TableSpec
from mini_data_platform_spark.schema import SALES_COLUMNS
from mini_data_platform_spark.sources import readers
from mini_data_platform_spark.sources.formats import detect_format_path
from mini_data_platform_spark.sources.scanstage import (
    cleanup_dirs,
    csv_header_names,
    file_basename,
    joinable,
    normalize_name,
    read_csv_with_header,
    stage_link_dir,
)

REQUIRED_COLUMNS = frozenset(SALES_COLUMNS)

CSV_SAMPLE_ROWS = 1000
DATE_SAMPLE_ROWS = 50
JSON_SAMPLE_RECORDS = 100

#: lenient timestamp probe: ISO timestamp, or bare date (pandas
#: ``to_datetime`` accepts both; ANSI-off try_* returns null, never raises)
def _parseable_ts(col):
    return F.coalesce(
        F.try_to_timestamp(col), F.to_date(col).cast("timestamp")
    )


def _missing(cols: list[str], spec: TableSpec) -> list[str]:
    return sorted(spec.required - set(map(normalize_name, cols)))


def _date_issue(ts_col: str, bad: int) -> tuple[bool, str]:
    return (
        False,
        f"{ts_col} parse issue: {bad} unparseable in first {DATE_SAMPLE_ROWS}",
    )


def _json_object(value):
    """A text line with array wrappers/commas stripped, so both ndjson
    and pretty arrays probe as objects."""
    return F.regexp_replace(F.trim(value), r"^[\[,]+|[\],]+$", "")


def _missing_keys(obj, spec: TableSpec):
    """The spec's required keys absent from JSON object text ``obj``
    (``json_object_keys`` is null for anything unparseable: all absent)."""
    keys = F.coalesce(F.json_object_keys(obj), F.array().cast("array<string>"))
    return F.array_except(
        F.array(*[F.lit(c) for c in sorted(spec.required)]),
        F.transform(keys, F.lower),
    )


def validate_csv(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    names = csv_header_names(path)
    try:
        if names is not None:
            sample = read_csv_with_header(spark, names, path)
        else:
            sample = readers.read_csv(spark, path)
        sample = sample.limit(CSV_SAMPLE_ROWS)
        cols = sample.columns
        missing = _missing(cols, spec)
        if missing:
            return False, f"Missing required columns: {missing}"
        # the reference's date probe (first 50 non-null must ALL parse),
        # applied to every timestamp column the spec declares; both
        # readers give normalized names, which may collide (header
        # ``sale_date`` and `` sale_date``): the probe's ambiguous
        # reference then quarantines the file like a parse error
        for ts_col in spec.timestamp_columns:
            if ts_col not in cols:
                continue
            probe = F.col(ts_col)
            bad = (
                sample.select(probe)
                .limit(DATE_SAMPLE_ROWS)
                .where(probe.isNotNull() & _parseable_ts(probe).isNull())
                .count()
            )
            if bad:
                return _date_issue(ts_col, bad)
    except Exception as e:  # noqa: BLE001 — any parse failure quarantines the file
        return False, f"CSV parse error: {e}"
    return True, ""


#: files at or under this size take the BATCHED probe (one plan scans
#: them whole — cheaper than one driver-built probe job per file);
#: bigger files keep the per-file sampled probe so validation stays
#: O(1) data per file no matter the file size.
CSV_BATCH_MAX_BYTES = 8 << 20


def _grouped_probe(
    spark: SparkSession,
    csv_groups: list[tuple[tuple, list[str]]],
    nd_paths: list[str],
    spec: TableSpec,
) -> dict[str, tuple[bool, str]]:
    """Every batched probe in ONE Spark plan. Each CSV header group
    ``(normalized header names, paths)`` gets :func:`validate_csv`'s
    date probe: unparseable non-null values among a file's first
    ``DATE_SAMPLE_ROWS`` rows per timestamp column, the first failing
    column supplying the message. The ndjson files get
    :func:`validate_json`'s required-key check over their first
    ``JSON_SAMPLE_RECORDS`` non-empty lines, the EARLIEST bad record
    supplying the message (the deterministic form of its ``.first()``).

    Every scan projects to one row shape: file basename, monotonic id
    (read order within a file), the row's sample limit, its timestamp
    values and its JSON object text. One union, one row_number window by
    file, one aggregate and one collect then decide every file. Groups
    of at least ``STAGE_MIN_FILES`` read a hardlink-staged directory
    (sources/scanstage.py)."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql.window import Window

    ts_all = list(spec.timestamp_columns)
    paths = [p for _, g in csv_groups for p in g] + nd_paths
    base = {os.path.basename(p): p for p in paths}
    out: dict[str, tuple[bool, str]] = {p: (True, "") for p in paths}
    link_dirs: list[str] = []
    frames = []

    def scan(group: list[str]):
        d = stage_link_dir(group)
        if d is None:
            return group
        link_dirs.append(d)
        return d

    def shape(df, limit: int, ts, obj):
        return df.select(
            file_basename().alias("_f"),
            F.monotonically_increasing_id().alias("_i"),
            F.lit(limit).alias("_lim"),
            ts.cast("array<string>").alias("_ts"),
            obj.cast("string").alias("_obj"),
        )

    try:
        for names, group in csv_groups:
            if set(names).intersection(ts_all):  # else every file passes
                ts = [F.col(t) if t in names else F.lit(None) for t in ts_all]
                df = read_csv_with_header(spark, names, scan(group))
                frames.append(
                    shape(df, DATE_SAMPLE_ROWS, F.array(*ts), F.lit(None))
                )
        if nd_paths:
            lines = spark.read.text(scan(nd_paths))
            lines = lines.where(F.trim("value") != "")
            obj = _json_object("value")
            frames.append(shape(lines, JSON_SAMPLE_RECORDS, F.lit(None), obj))
        if not frames:
            return out
        ranked = reduce(DataFrame.union, frames).withColumn(
            "_r", F.row_number().over(Window.partitionBy("_f").orderBy("_i"))
        ).where(F.col("_r") <= F.col("_lim"))
        missing = _missing_keys("_obj", spec)
        bad_obj = (F.col("_obj") != "") & (F.size(missing) > 0)
        bad_ts = [
            F.count_if(x.isNotNull() & _parseable_ts(x).isNull())
            for x in (F.col("_ts")[i] for i in range(len(ts_all)))
        ]
        rows = (
            ranked.groupBy("_f")
            .agg(
                F.array(*bad_ts).alias("_ts"),
                F.min(F.when(bad_obj, F.struct("_i", missing))).alias("_bad"),
            )
            .collect()
        )
    finally:
        cleanup_dirs(link_dirs)
    for row in rows:
        path = base.get(row["_f"])
        if path is None:
            continue  # defensive: unexpected provenance name
        # the first failing timestamp column wins, like validate_csv
        issues = [(t, n) for t, n in zip(ts_all, row["_ts"]) if n]
        if issues:
            out[path] = _date_issue(*issues[0])
        elif row["_bad"] is not None:
            out[path] = (False, f"Missing columns: {sorted(row['_bad'][1])}")
    return out


def validate_files(
    spark: SparkSession,
    paths: list[str],
    spec: TableSpec = SALES_SPEC,
    max_workers: int = 16,
) -> list[tuple[bool, str]]:
    """Per-file verdicts for MANY files, returned in input order — the
    file-count-scale validation entry point (round-13 verdict item 5:
    at 10k files the per-file validator loop is pure driver job count,
    measured ~24 ms/file even 16-wide because the py4j plan builds
    serialize on the GIL). Small local files (≤ CSV_BATCH_MAX_BYTES)
    batch their Spark work: CSVs whose header parses driver-side
    (``scanstage.csv_header_names``) get their column check WITHOUT
    Spark, and their date probes, grouped by those header names, and the
    ndjson files' required-key checks share ONE plan
    (:func:`_grouped_probe`). Everything else — large files, remote
    paths, array JSON, parquet, ORC, files ``scanstage.joinable``
    refuses (duplicate or non-URI-safe basenames) — takes the unchanged
    per-file :func:`validate_file` through the thread pool. Verdicts are
    byte-identical to the per-file path (equivalence is pinned in
    tests/test_sources.py)."""
    from concurrent.futures import ThreadPoolExecutor

    from mini_data_platform_spark.sources.formats import (
        detect_format_path,
        sniff_json_layout_path,
    )

    batched: dict[tuple, list[str]] = {}  # csv header names -> paths
    nd_group: list[str] = []
    verdicts: dict[str, tuple[bool, str]] = {}
    fallback: list[str] = []
    for p, can_join in zip(paths, joinable(paths)):
        try:
            fmt = detect_format_path(p)
            small = os.path.getsize(p) <= CSV_BATCH_MAX_BYTES
        except Exception:  # noqa: BLE001 — unreadable: per-file decides
            fmt, small = None, False
        if fmt == "csv" and small and can_join:
            names = csv_header_names(p)
            if names is not None:
                missing = _missing(names, spec)
                if missing:
                    verdicts[p] = (
                        False, f"Missing required columns: {missing}",
                    )
                else:
                    batched.setdefault(names, []).append(p)
                continue
        elif (
            fmt == "json"
            and small
            and can_join
            and sniff_json_layout_path(p) == "ndjson"
        ):
            nd_group.append(p)
            continue
        fallback.append(p)
    csv_groups = list(batched.items())
    if csv_groups or nd_group:
        try:
            verdicts.update(_grouped_probe(spark, csv_groups, nd_group, spec))
        except Exception:  # noqa: BLE001 — probe read failed: per-file
            # (file deleted between listing and probe, unrepresentable
            # header, ...): the per-file path converts the failure into
            # single-file verdicts instead of aborting the whole batch
            fallback.extend(p for _, g in csv_groups for p in g)
            fallback.extend(nd_group)
    if fallback:
        with ThreadPoolExecutor(
            max_workers=min(max_workers, len(fallback))
        ) as pool:
            for p, v in zip(
                fallback,
                pool.map(lambda q: validate_file(spark, q, spec=spec),
                         fallback),
            ):
                verdicts[p] = v
    return [verdicts[p] for p in paths]


def validate_json(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    try:
        lines = (
            spark.read.text(path)
            .where(F.trim("value") != "")
            .limit(JSON_SAMPLE_RECORDS)
        )
        keyed = lines.select(_json_object("value").alias("obj"))
        first_bad = (
            keyed.where(F.col("obj") != "")
            .select(_missing_keys("obj", spec).alias("missing"))
            .where(F.size("missing") > 0)
            .first()
        )
    except Exception as e:  # noqa: BLE001
        return False, f"JSON parse error: {e}"
    if first_bad is not None:
        return False, f"Missing columns: {sorted(first_bad['missing'])}"
    return True, ""


def validate_parquet(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    # local single-file fast path: read the footer driver-side via
    # pyarrow — no py4j round trip, no Spark job (the r14 file-count
    # doctrine: validator cost is bounded by file count, so each file
    # should cost microseconds, not a driver-side plan analysis).
    # Directories (multi-file datasets) and remote paths fall through
    # to the Spark read, which handles both.
    if os.path.isfile(path):
        try:
            import pyarrow.parquet as _pq

            names = _pq.read_schema(path).names
        except Exception as e:  # noqa: BLE001 — unreadable footer
            return False, f"Parquet parse error: {e}"
        missing = _missing(list(names), spec)
        if missing:
            return False, f"Missing required columns: {missing}"
        return True, ""
    try:
        schema = spark.read.parquet(path).schema  # footer only — no data IO
    except Exception as e:  # noqa: BLE001
        return False, f"Parquet parse error: {e}"
    missing = _missing(schema.fieldNames(), spec)
    if missing:
        return False, f"Missing required columns: {missing}"
    return True, ""


def validate_orc(
    spark: SparkSession, path: str, spec: TableSpec = SALES_SPEC
) -> tuple[bool, str]:
    try:
        schema = spark.read.orc(path).schema  # metadata only — no data IO
    except Exception as e:  # noqa: BLE001
        return False, f"ORC parse error: {e}"
    missing = _missing(schema.fieldNames(), spec)
    if missing:
        return False, f"Missing required columns: {missing}"
    return True, ""


def validate_file(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    spec: TableSpec = SALES_SPEC,
) -> tuple[bool, str]:
    """Dispatch on detected format (reference validate_file task,
    /root/reference/dags/process_sales_dags.py:117-141). ``spec``
    selects the registered table contract to validate against
    (registry.REGISTRY; default: the reference's sales table)."""
    fmt = fmt or detect_format_path(path)
    if fmt == "csv":
        return validate_csv(spark, path, spec)
    if fmt == "json":
        return validate_json(spark, path, spec)
    if fmt == "parquet":
        return validate_parquet(spark, path, spec)
    if fmt == "orc":
        return validate_orc(spark, path, spec)
    return False, f"Unsupported format: {fmt}"

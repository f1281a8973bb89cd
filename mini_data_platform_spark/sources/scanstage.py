"""The scan contract of an ingest batch: how a listed file's columns are
named, how CSV headers are read on the driver, which files may share one
multi-path scan, and how a scan's rows are joined back to their files.
The validator (``sources/validate.py``) and the batch runner
(``runner.py``) both scan through these helpers, so a file that the
validator groups with others is read by the runner under the same rule.

- **Names.** A column name is normalized with ``strip().lower()``
  (reference processor.py:40): :func:`normalize_name`, applied to a
  frame by :func:`normalize_column_names`.
- **CSV headers.** :func:`csv_header_names` parses a local CSV's header
  line into normalized names, or returns ``None`` when the driver cannot
  trust it; such a file is read with Spark's own header inference.
  :func:`read_csv_with_header` reads CSVs under an all-string schema
  built from those names. The schema is applied by position, so files
  with the same normalized names in the same order share one scan.
- **Provenance.** :func:`file_basename` is the basename of
  ``input_file_name()``. It equals ``os.path.basename`` only for
  :data:`SAFE_BASE` names, so only files that :func:`joinable` admits
  (a safe basename, unique in the listing) are joined back by it; every
  other file is scanned on its own.
- **Hardlink staging.** ``spark.read.csv([p1 … pN])`` with thousands of
  explicit paths pays a per-path qualification round in the JVM while
  the reader is built: ~1.8 ms/path on local files, 7.4 s of driver
  wall at 4096 paths (INGEST_SCALE r15). Reading ONE directory costs a
  single ``listStatus``. :func:`stage_link_dir` hardlinks a group's
  files, named by their basenames, into a fresh temp directory so the
  scan reads the DIRECTORY. Hardlinks are metadata-only (~12 µs each),
  keep the data alive across later moves of the originals, and keep
  basenames, so provenance is unchanged. Staging declines (``None``:
  the caller scans the explicit paths) for groups under
  :data:`STAGE_MIN_FILES`, for remote paths or colliding basenames, and
  when ``os.link`` fails (the links made so far are rolled back). The
  link dir must OUTLIVE every Spark action over the plan that reads it;
  callers own cleanup via :func:`cleanup_dirs`.
"""

from __future__ import annotations

import csv
import io
import os
import re
import shutil
import tempfile
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from mini_data_platform_spark.sources.formats import is_compressed_path

#: basenames whose URI spelling (what ``input_file_name()`` reports) is
#: guaranteed identical to ``os.path.basename`` — the condition for
#: joining scan rows back to their files by basename
SAFE_BASE = re.compile(r"^[A-Za-z0-9._=-]+$")

#: below this many files the explicit-path scan's per-path cost is
#: negligible (~1.8 ms each) and staging is not attempted
STAGE_MIN_FILES = 64


def normalize_name(name: str) -> str:
    """The reference's column-name rule (processor.py:40)."""
    return name.strip().lower()


def normalize_column_names(df: DataFrame) -> DataFrame:
    """``df`` with every column name normalized by :func:`normalize_name`."""
    return df.toDF(*map(normalize_name, df.columns))


def csv_header_names(path: str) -> tuple[str, ...] | None:
    """The normalized column names of a local CSV's header line, or
    ``None`` when the driver cannot trust them: a remote, compressed
    (its raw bytes are codec output), empty or unparseable file; an odd
    quote count (the header continues past the first physical line);
    an empty name (Spark substitutes ``_cN``); names that collide after
    normalization (Spark keeps both and suffixes case-insensitive
    duplicates)."""
    if is_compressed_path(path):
        return None
    try:
        with open(path, "rb") as fh:
            line = fh.readline(1 << 20)
    except OSError:
        return None
    text = line.decode("utf-8", errors="replace").rstrip("\r\n")
    if not text or text.count('"') % 2:
        return None
    try:
        row = next(csv.reader(io.StringIO(text)))
    except (StopIteration, csv.Error):
        return None
    names = tuple(map(normalize_name, row))
    if not all(names) or len(set(names)) != len(names):
        return None
    return names


def read_csv_with_header(
    spark: SparkSession, names: tuple[str, ...], src: str | list[str]
) -> DataFrame:
    """``src`` read as header CSV under an all-string schema of
    ``names`` (from :func:`csv_header_names`): the frame Spark's header
    inference would give after normalization, without the inference
    pass that touches every file of the scan. The schema is built
    programmatically, never as DDL: header names are arbitrary user
    bytes (backticks included)."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in names])
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(src)
    )


def file_basename() -> Column:
    """The basename of the file a scan row came from. Defined only in
    the scan's own projection."""
    return F.regexp_extract(F.input_file_name(), "([^/]+)$", 1)


def joinable(paths: list[str]) -> list[bool]:
    """Per path: can a multi-file scan's rows be joined back to it by
    :func:`file_basename`? Its basename must be :data:`SAFE_BASE` and
    occur once in ``paths``."""
    bases = [os.path.basename(p) for p in paths]
    count = Counter(bases)
    return [count[b] == 1 and bool(SAFE_BASE.match(b)) for b in bases]


def stage_link_dir(paths: list[str]) -> str | None:
    """Hardlink ``paths`` into a fresh temp dir, named by basename;
    return the dir, or ``None`` when staging is not applicable. The
    caller must keep the dir alive until every action over the scan has
    run, then remove it (:func:`cleanup_dirs`)."""
    if len(paths) < STAGE_MIN_FILES:
        return None
    seen: set[str] = set()
    for p in paths:
        base = os.path.basename(p)
        if base in seen or not os.path.isfile(p):
            return None
        seen.add(base)
    d = tempfile.mkdtemp(prefix="mdp_scanstage_")
    try:
        for p in paths:
            os.link(p, os.path.join(d, os.path.basename(p)))
    except OSError:
        # cross-device tempdir / hardlink-less fs / raced delete:
        # roll back and let the caller scan the explicit paths
        shutil.rmtree(d, ignore_errors=True)
        return None
    return d


def cleanup_dirs(dirs: list[str]) -> None:
    """Remove staging dirs; advisory (links are worthless once the
    batch's actions have run, and tempdir reaping would get them)."""
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)

"""Multi-format file readers (SURVEY.md §2.1 S2-S5).

Each reader produces a DataFrame with normalized column names
(``scanstage.normalize_column_names``, processor.py:40). The
string-mode variants reproduce the reference's read-everything-as-text
discipline (``pd.read_csv(dtype=str)``, processor.py:23): coercion with
defaults happens later in operators/clean.py, so a bad cell can never
fail a read.

Scale notes:
- these take paths (or glob patterns / directories) — Spark parallelizes
  multi-file and splittable-file reads natively; nothing is ever
  downloaded driver-side.
- CSV/JSON readers run in PERMISSIVE mode; the file-granular verdict
  (matching the reference) lives in sources/validate.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_data_platform_spark.sources.formats import (
    detect_format_path,
    sniff_json_layout_path,
)
from mini_data_platform_spark.sources.scanstage import normalize_column_names


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV, every column string (no inferSchema — Spark's default
    string-types-everything matches pandas dtype=str)."""
    return normalize_column_names(
        spark.read.option("header", True).option("mode", "PERMISSIVE").csv(path)
    )


def read_json_array(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file JSON array (multiLine), one row per element."""
    return normalize_column_names(
        spark.read.option("multiLine", True).json(path)
    )


def read_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Line-delimited JSON (Spark's default JSON mode)."""
    return normalize_column_names(spark.read.json(path))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return normalize_column_names(spark.read.parquet(path))


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC (beyond the reference's format set — Spark-native columnar
    reader with the same pushdown/pruning machinery as parquet)."""
    return normalize_column_names(spark.read.orc(path))


def read_file(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """Format-dispatched read (reference read_bytes_to_df,
    processor.py:15-41): csv → all-string; json → array vs ndjson sniff;
    parquet → typed."""
    fmt = fmt or detect_format_path(path)
    if fmt == "csv":
        return read_csv(spark, path)
    if fmt == "json":
        if sniff_json_layout_path(path) == "array":
            return read_json_array(spark, path)
        return read_ndjson(spark, path)
    if fmt == "parquet":
        return read_parquet(spark, path)
    if fmt == "orc":
        return read_orc(spark, path)
    raise ValueError(f"Unsupported format: {fmt}")


def read_file_as_strings(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """``read_file`` then cast every column to string — the canonical input
    to the cleaning pipeline, so JSON numbers / parquet types flow through
    the exact same coercion rules as CSV text."""
    df = read_file(spark, path, fmt)
    return df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])


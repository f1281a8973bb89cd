"""Cleaning / conforming / coercion operators (pure DataFrame transforms).

These reproduce the semantics of the reference's file-at-a-time pandas
cleaning (clean_df, /root/reference/dags/src/processor.py:44-81) as
distributed, Catalyst-optimizable column expressions. Every rule is a
narrow-waist ``DataFrame -> DataFrame`` function so pipelines compose them
declaratively; nothing here touches the driver.

Parity rules reproduced (SURVEY.md §1.2):
- column names normalized (sources/scanstage.py)        (processor.py:40)
- missing required columns added as all-null            (processor.py:53-56)
- extra columns dropped by a final ordered projection   (processor.py:80)
- string cells trimmed; literal "nan" => NULL           (processor.py:59-61)
- date parse failures => NULL, row kept                 (processor.py:64)
- quantity: unparseable => 1; "12.5" => 12 (truncate)   (processor.py:65)
- amount: unparseable => 0.0                            (processor.py:66)
- rows with NULL sale_id dropped                        (processor.py:69-71)

Scale note: all of this is whole-stage-codegen'd JVM expression work — no
Python in the hot path, no shuffle. At 100 TB it runs at scan speed.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from mini_data_platform_spark.schema import SALES_COLUMNS, SALES_SCHEMA
from mini_data_platform_spark.sources.scanstage import normalize_column_names


def conform(df: DataFrame, schema: T.StructType | None = None) -> DataFrame:
    """P2+P3 — add missing required columns as all-null (typed), drop
    extras, and reorder to the canonical column order
    (processor.py:53-56, :80).
    """
    schema = schema or SALES_SCHEMA
    out = df
    for field in schema.fields:
        if field.name not in out.columns:
            out = out.withColumn(field.name, F.lit(None).cast(field.dataType))
    return out.select(*[f.name for f in schema.fields])


def null_sentinel(col: Column) -> Column:
    """P4 — trim, then map the literal string "nan" (pandas NaN stringified,
    processor.py:59-61) and the empty string to NULL."""
    trimmed = F.trim(col)
    return F.when(trimmed.isin("nan", ""), F.lit(None)).otherwise(trimmed)


def clean_strings(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """Apply the trim + "nan"-sentinel rule to every StringType column
    (or an explicit subset)."""
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    cols = set(columns)
    return df.select(
        *[null_sentinel(F.col(c)).alias(c) if c in cols else F.col(c) for c in df.columns]
    )


def coerce_timestamp(col: Column) -> Column:
    """P5 — parse-to-timestamp with null-on-failure (processor.py:64).
    ``try_to_timestamp`` is explicit about coerce semantics regardless of
    the session's ANSI setting."""
    return F.try_to_timestamp(col)


def coerce_int(col: Column, default: int = 1) -> Column:
    """P6 — to_numeric(errors="coerce").fillna(default).astype(int)
    (processor.py:65). The via-double hop matters: a direct string->int cast
    nulls out "12.5", but pandas parses 12.5 then truncates to 12."""
    return F.coalesce(col.cast("double"), F.lit(float(default))).cast("int")


def coerce_double(col: Column, default: float = 0.0) -> Column:
    """P7 — to_numeric(errors="coerce").fillna(default) (processor.py:66)."""
    return F.coalesce(col.cast("double"), F.lit(default))


def drop_null_keys(df: DataFrame, key: str = "sale_id") -> DataFrame:
    """P8 — drop rows whose key is NULL (processor.py:69-71). The dropped
    count, if wanted, is computed by the caller as a count() diff or an
    observation metric — not a driver-side loop."""
    return df.filter(F.col(key).isNotNull())


def coerce_sales_types(df: DataFrame) -> DataFrame:
    """Apply the sales-surface coercion bundle (P5-P7) on the canonical
    columns. Input may be all-string (CSV/JSON path) or already typed
    (parquet path) — casts are no-ops where types already match."""
    return (
        df.withColumn("sale_date", coerce_timestamp(F.col("sale_date").cast("string")))
        .withColumn("quantity", coerce_int(F.col("quantity")))
        .withColumn("amount", coerce_double(F.col("amount")))
    )


def clean_sales(df: DataFrame) -> DataFrame:
    """The full cleaning pipeline P1→P8 (clean_df parity, processor.py:44-81),
    minus dedup which is its own operator (operators/dedup.py) so callers
    can choose exact/keyed/fuzzy strategies.

    Order matters and mirrors the reference: normalize names → conform
    columns (string stage) → string hygiene → type coercion → key filter.
    """
    out = normalize_column_names(df)
    # conform at the string stage: missing columns become null strings so the
    # coercion defaults (quantity->1, amount->0.0) apply exactly as in the
    # reference, where add-missing happens before coercion (processor.py:53-66).
    string_stage = T.StructType([T.StructField(c, T.StringType(), True) for c in SALES_COLUMNS])
    out = conform(
        out.select(*[F.col(c).cast("string").alias(c) for c in out.columns]),
        string_stage,
    )
    out = clean_strings(out)
    out = coerce_sales_types(out)
    out = drop_null_keys(out, "sale_id")
    return conform(out)

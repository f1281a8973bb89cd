"""Schema registry — multi-table ingestion specs (reference
README.md:178 "Schema registry for dynamic table support", declared
future work; round-10 verdict item 5).

The reference hardwires ONE table: its validator checks the sales
columns (validator.py:37-99), its cleaner coerces the sales types
(processor.py:44-81), its DAG loads the sales table. Every pipeline
stage this repo built from those semantics was likewise sales-bound
through module constants. This module lifts the table OUT of the code:

- :class:`TableSpec` — one table's ingestion contract: the typed
  canonical schema plus the key/order/coercion knobs every stage needs.
  The coercion plan is DERIVED from the schema's types (timestamp
  columns get null-on-fail parsing, integer columns the via-double
  truncating parse, double columns the numeric parse — P5-P7), so a
  spec cannot drift from its schema.
- :class:`SchemaRegistry` — name → spec, with the reference's sales
  table pre-registered (the compatibility default every existing
  surface keeps).
- :func:`clean_columns` — the P4→P8 cleaning bundle every ingest path
  shares; :func:`clean_table` — the generic P1→P8 pipeline over any spec.
  ``clean_table(df, SALES_SPEC)`` is bit-identical to
  ``operators.clean.clean_sales(df)`` (pinned in
  tests/test_registry.py), so the sales path has one semantics with
  two spellings.

The registry feeds :mod:`sources.validate` (required-column and
date-probe checks per spec) and :mod:`runner` (``run_batch_ingest(...,
spec=...)`` ingests any registered table end-to-end: validate →
clean → dedup-keep-latest on the spec's keys → sink).

Scale note: a spec is driver-side metadata (a few hundred bytes); all
derived work remains whole-stage-codegen'd column expressions. Nothing
here adds a shuffle or a Python boundary.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T

from mini_data_platform_spark.schema import SALES_SCHEMA

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_DOUBLE_TYPES = (T.FloatType, T.DoubleType)


@dataclass(frozen=True)
class TableSpec:
    """One table's ingestion contract.

    ``schema`` is the typed canonical schema (what the sink receives).
    ``keys`` are the upsert/dedup identity — rows with a null key are
    dropped (P8) and keep-latest dedup groups on them. ``order_col``
    orders keep-latest precedence (None = arrival order only).
    ``int_defaults`` / ``double_defaults`` give per-column coercion
    fallbacks for unparseable numerics (defaults mirror the sales
    rules: int → 1, double → 0.0 — processor.py:65-66)."""

    name: str
    schema: T.StructType
    keys: tuple[str, ...]
    order_col: str | None = None
    int_defaults: dict[str, int] = field(default_factory=dict)
    double_defaults: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        names = self.schema.fieldNames()
        missing = [k for k in self.keys if k not in names]
        if not self.keys or missing:
            raise ValueError(
                f"spec {self.name!r}: keys must be non-empty schema "
                f"columns (missing: {missing})"
            )
        if self.order_col is not None and self.order_col not in names:
            raise ValueError(
                f"spec {self.name!r}: order_col {self.order_col!r} not "
                "in schema"
            )
        for d in (self.int_defaults, self.double_defaults):
            extra = sorted(set(d) - set(names))
            if extra:
                raise ValueError(
                    f"spec {self.name!r}: coercion defaults for unknown "
                    f"columns {extra}"
                )

    @property
    def columns(self) -> tuple[str, ...]:
        return tuple(self.schema.fieldNames())

    @property
    def required(self) -> frozenset[str]:
        """Validation's required-column set (V1-V3)."""
        return frozenset(self.columns)

    @property
    def timestamp_columns(self) -> tuple[str, ...]:
        return tuple(
            f.name
            for f in self.schema.fields
            if isinstance(f.dataType, T.TimestampType)
        )

    @property
    def int_columns(self) -> tuple[str, ...]:
        return tuple(
            f.name
            for f in self.schema.fields
            if isinstance(f.dataType, _INT_TYPES)
        )

    @property
    def double_columns(self) -> tuple[str, ...]:
        return tuple(
            f.name
            for f in self.schema.fields
            if isinstance(f.dataType, _DOUBLE_TYPES)
        )

    def raw_schema(self) -> T.StructType:
        """All-string read schema (the reference's dtype=str two-phase
        read, processor.py:23 — parse failures stay visible to the
        coercion rules instead of the CSV reader)."""
        return T.StructType(
            [T.StructField(c, T.StringType(), True) for c in self.columns]
        )


#: The reference's one table, as a spec — the default everywhere.
SALES_SPEC = TableSpec(
    name="sales",
    schema=SALES_SCHEMA,
    keys=("sale_id",),
    order_col="sale_date",
    int_defaults={"quantity": 1},
    double_defaults={"amount": 0.0},
)


class SchemaRegistry:
    """name → :class:`TableSpec`. Registration is explicit and
    collision-checked; ``get`` on an unknown name raises with the
    registered vocabulary (a typo fails loudly, not as an all-null
    conform)."""

    def __init__(self, *specs: TableSpec) -> None:
        self._specs: dict[str, TableSpec] = {}
        for s in specs:
            self.register(s)

    def register(self, spec: TableSpec, replace: bool = False) -> TableSpec:
        if spec.name in self._specs and not replace:
            raise ValueError(
                f"table {spec.name!r} already registered "
                "(pass replace=True to update)"
            )
        self._specs[spec.name] = spec
        return spec

    def get(self, name: str) -> TableSpec:
        try:
            return self._specs[name]
        except KeyError:
            raise KeyError(
                f"unknown table {name!r}; registered: {self.names()}"
            ) from None

    def names(self) -> list[str]:
        return sorted(self._specs)


#: Process-wide default registry with the reference's table in it.
REGISTRY = SchemaRegistry(SALES_SPEC)


def coerce_types(df: DataFrame, spec: TableSpec) -> DataFrame:
    """The spec-derived P5-P7 coercion bundle (generalizes
    ``operators.clean.coerce_sales_types``): timestamps parse
    null-on-fail, integers via-double with per-column default, doubles
    numeric with per-column default. Columns of other types are left to
    the final typed conform's cast."""
    from mini_data_platform_spark.operators.clean import (
        coerce_double,
        coerce_int,
        coerce_timestamp,
    )

    out = df
    for c in spec.timestamp_columns:
        out = out.withColumn(c, coerce_timestamp(F.col(c).cast("string")))
    for c in spec.int_columns:
        out = out.withColumn(
            c, coerce_int(F.col(c), spec.int_defaults.get(c, 1))
        )
    for c in spec.double_columns:
        out = out.withColumn(
            c, coerce_double(F.col(c), spec.double_defaults.get(c, 0.0))
        )
    return out


def clean_columns(
    df: DataFrame, spec: TableSpec, keep: tuple[str, ...] = ()
) -> DataFrame:
    """The spec's cleaning bundle over its columns of ``df``: string
    hygiene (P4), type coercion (P5-P7), null-key filters (P8); returns
    the spec's columns in canonical order plus the ``keep`` bookkeeping
    columns. Every ingest path (``clean_table``, the batch runner, the
    streaming micro-batch) cleans through this one function, so they
    cannot drift."""
    from mini_data_platform_spark.operators.clean import (
        clean_strings,
        drop_null_keys,
    )

    out = clean_strings(df, columns=list(spec.columns))
    out = coerce_types(out, spec)
    for k in spec.keys:
        out = drop_null_keys(out, k)
    return out.select(*spec.columns, *keep)


def clean_table(df: DataFrame, spec: TableSpec) -> DataFrame:
    """The generic P1→P8 pipeline for any spec — the exact stage order
    of ``clean_sales`` (normalize names → string-stage conform → string
    hygiene → type coercion → key filters → canonical order), which for
    ``SALES_SPEC`` is pinned bit-identical to it."""
    from mini_data_platform_spark.operators.clean import (
        conform,
        normalize_column_names,
    )

    out = normalize_column_names(df)
    out = conform(
        out.select(*[F.col(c).cast("string").alias(c) for c in out.columns]),
        spec.raw_schema(),
    )
    return clean_columns(out, spec)

"""Catalog helpers for the driver-generated star-schema test tables.

At 100 TB these would be external catalog tables (Hive/Glue/Iceberg) with
partition columns; here they are single parquet files per table, so the same
``spark.read.parquet`` path applies. All readers go through this module so
the scan layer has a single place to add bucketing / partition-pruning hints
later.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor (region/
#: nation are fixed-size; supplier/part/customer grow with sf but stay tiny
#: relative to fact tables — broadcast decisions for those are left to AQE).
ALWAYS_BROADCAST = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Runtime SQL confs this engine's semantics depend on. Set defensively on
#: whatever session executes a query (the driver harness builds its own
#: SparkSession, so the factory defaults in session.py may not apply):
#: - UTC session TZ: deterministic timestamp->date semantics (oracle parity)
#: - ANSI off: null-on-failure casts, required by the cleaning operators
#: - nanosAsLong: the events table is INT64 TIMESTAMP(NANOS), which Spark's
#:   parquet reader rejects otherwise (PARQUET_TYPE_ILLEGAL)
#: - inferTimestampNTZ off: fixture parquet written with
#:   isAdjustedToUTC=false (plain microsecond timestamps) must load as
#:   TIMESTAMP (session-TZ) not TIMESTAMP_NTZ — the engine's time functions
#:   (unix_micros, window, to_date under UTC session TZ) take TIMESTAMP, and
#:   under UTC the two readings are value-identical.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — static conf on some build: leave as-is
            pass
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver process's cwd/PYTHONPATH.

    mapInPandas/applyInPandas closures reference module-level functions
    (decoders, numpy kernels), which cloudpickle serializes BY REFERENCE —
    workers must import the module. A host session built outside this repo
    (the driver harness, a notebook, spark-submit from elsewhere) has no
    such guarantee, so ship the package source as an archive via
    ``sc.addPyFile`` — the same mechanism used to deploy this engine to a
    real cluster. Once per SparkContext; never raises (a session that can
    already import us works without it)."""
    try:
        sc = spark.sparkContext
        if getattr(sc, "_mdp_pkg_shipped", False):
            return
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(
            tempfile.gettempdir(), f"mdp_spark_pkg_{os.getpid()}.zip"
        )
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        sc.addPyFile(zip_path)
        sc._mdp_pkg_shipped = True
    except Exception:  # noqa: BLE001
        pass


def _path_signature(path: str):
    """Driver-local freshness token for a fixture path: (mtime_ns, size)
    of the file, or (relative path, mtime_ns, size) of every file in the
    tree under a directory, nested partition leaves included. None for
    paths os.stat cannot see (object stores) — those are never cached.
    Pure metadata; no Spark job, no file reads."""
    try:
        if os.path.isdir(path):
            out = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                for fn in sorted(files):
                    full = os.path.join(root, fn)
                    st = os.stat(full)
                    rel = os.path.relpath(full, path)
                    out.append((rel, st.st_mtime_ns, st.st_size))
            return tuple(out)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown into the parquet
    scan are Catalyst's job — callers should select/filter declaratively.

    The analyzed DataFrame is memoized per (session, path, stat-signature):
    ``spark.read.parquet`` re-lists the path and re-reads footers on every
    call, and the engine's 138 query constructors reference the same ten
    fixture tables hundreds of times per bench run — exactly the repeated
    driver-side metadata work a real catalog's shared FileIndex avoids
    (optimization guide §6 "file listing ... cached per session"). The
    cache holds PLANS, never results: every action still scans parquet.
    A changed file (different mtime/size) misses the cache; non-local
    paths bypass it entirely."""
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _path_signature(path)
    cache: dict = spark.__dict__.setdefault("_mdp_table_cache", {})
    if sig is not None:
        hit = cache.get(path)
        if hit is not None and hit[0] == sig:
            return hit[1]
    df = _read_table(spark, path, name)
    if sig is not None:
        cache[path] = (sig, df)
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F, types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # A LongType ts can only be TIMESTAMP(NANOS) surfaced by the
        # nanosAsLong conf (every annotated non-nano unit loads as
        # TIMESTAMP/TIMESTAMP_NTZ and is handled below): convert with
        # integer division (a double division would lose precision past
        # 2^53 ns). DuckDB's ns->us cast truncates identically.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Belt-and-braces for sessions where inferTimestampNTZ was locked as a
    # static conf before ensure_session_confs could disable it (the driver
    # harness builds its own session): every fixture timestamp is UTC wall
    # time, so under the UTC session TZ this cast is value-identical to the
    # non-NTZ read, and the engine's time functions (unix_micros, window)
    # require TIMESTAMP. Applied to ALL tables — a round-4 fixture
    # regeneration flipped events.ts to NTZ and broke three queries; any
    # column could drift the same way next regeneration.
    ntz_cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the spark.sql query path)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

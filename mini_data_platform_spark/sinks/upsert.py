"""Keyed upsert sinks (SURVEY.md §2.4 K1).

Spark has no native JDBC merge mode, so three strategies, all sharing the
same contract (input rows win over existing rows on the key):

1. ``upsert_jdbc`` — staging strategy: ``df.write.jdbc`` into a staging
   table, then ONE set-based driver-side merge statement
   (``on_conflict_sql`` for Postgres, ``merge_into_sql`` for ANSI MERGE
   engines). Set-based, transactional, restart-safe: the default at scale.
   The staging write parallelizes across executors (``numPartitions`` ×
   ``batchsize`` bound the connection fan-in); the merge is one statement
   so there is no per-row driver loop.
2. ``upsert_dbapi`` — ``foreachPartition`` strategy: each partition opens
   its own DB-API connection and executes batched
   ``INSERT ... ON CONFLICT DO UPDATE`` (the reference's psycopg2
   ``execute_values`` pattern, /root/reference/dags/src/db.py:22-67, with
   per-partition instead of per-file transactions). Works with any DB-API
   driver — tested here against stdlib sqlite3.
3. ``upsert_parquet`` — storage-level merge for file-based targets:
   read current ∪ (current ⟕-anti new), atomic directory swap. This is
   the portable stand-in for a lakehouse ``MERGE INTO`` (Iceberg/Delta),
   which is what a 100 TB deployment would use — same anti-join+union
   plan, but with file pruning on the key ranges.

Input keys are assumed unique (run operators/dedup first — the pipeline
always does): multi-hit keys in one statement are an error in Postgres
and nondeterministic everywhere else.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from mini_data_platform_spark.operators.resources import (
    guarded_broadcast,
    row_bound,
)
from mini_data_platform_spark.session import observed


def _written(spark: SparkSession, obs: Observation) -> int:
    """The row count ``obs`` took on a write that just returned."""
    metrics = observed(spark, obs)
    if metrics is None:
        raise RuntimeError("the write returned without reporting its rows")
    return metrics["n"]


# ------------------------------------------------------------- SQL builders

def on_conflict_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    source: str | None = None,
) -> str:
    """Postgres-dialect upsert. ``source=None`` yields the ``VALUES %s``
    execute-many form (reference db.py:42-51); otherwise the set-based
    ``INSERT ... SELECT`` merge from a staging table."""
    collist = ", ".join(columns)
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in key_cols
    )
    # WHERE true disambiguates SELECT ... ON CONFLICT for sqlite's parser
    # (required there, harmless in Postgres) so one statement shape serves
    # both dialects and the staging merge is unit-testable on sqlite.
    src = f"SELECT {collist} FROM {source} WHERE true" if source else "VALUES %s"
    return (
        f"INSERT INTO {table} ({collist}) {src} "
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {updates}"
    )


def merge_into_sql(
    target: str, source: str, columns: Sequence[str], key_cols: Sequence[str]
) -> str:
    """ANSI ``MERGE INTO`` (Iceberg / Delta / SQL Server / modern Postgres)."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns if c not in key_cols)
    collist = ", ".join(columns)
    vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
    )


def sqlite_conn_factory(path: str, timeout: float = 30.0):
    """Picklable sqlite3 DB-API factory for ``upsert_dbapi`` (importable on
    executors, unlike test-module closures). sqlite serializes writers via
    the file lock — fine for local mode; real deployments pass a psycopg2
    factory."""
    import sqlite3

    return sqlite3.connect(path, timeout=timeout)


#: placeholder styles per DB-API paramstyle
_PARAM = {"qmark": "?", "format": "%s"}


def _insert_upsert_dbapi_sql(
    table: str, columns: Sequence[str], key_cols: Sequence[str], paramstyle: str
) -> str:
    ph = _PARAM[paramstyle]
    collist = ", ".join(columns)
    params = ", ".join([ph] * len(columns))
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in key_cols)
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({params}) "
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {updates}"
    )


# ------------------------------------------------------------ JDBC strategy

def staging_merge_statements(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    staging_table: str,
    dialect: str = "postgres",
) -> list[str]:
    """The ordered driver-side statements of the staging-merge upsert:
    one set-based merge from the staging table, then the staging drop.
    ``dialect='postgres'`` uses INSERT..ON CONFLICT, ``'merge'`` uses ANSI
    MERGE INTO. Pure (no connection) so the exact SQL is unit-testable."""
    if dialect == "merge":
        merge = merge_into_sql(table, staging_table, columns, key_cols)
    elif dialect == "postgres":
        merge = on_conflict_sql(table, columns, key_cols, source=staging_table)
    else:
        raise ValueError(f"unknown merge dialect: {dialect!r}")
    return [merge, f"DROP TABLE {staging_table}"]


def execute_merge(conn, statements: Sequence[str]) -> None:
    """Run the staging-merge statements on a java.sql-style connection
    (``createStatement``/``execute``/``commit``/``close``): all statements
    in one transaction, commit only after every statement succeeded, close
    unconditionally. Separated from :func:`upsert_jdbc` so the lifecycle
    (ordering, commit-after-drop, close-on-error) is testable with a stub
    connection; the live path is exercised against embedded Derby in
    tests/test_sinks.py."""
    try:
        set_ac = getattr(conn, "setAutoCommit", None)
        if set_ac is not None:
            # DriverManager connections default to autocommit, under which
            # java.sql defines commit() as an error — switch to an explicit
            # transaction so all statements commit atomically.
            set_ac(False)
        stmt = conn.createStatement()
        for s in statements:
            stmt.execute(s)
        conn.commit()
    except Exception:
        # roll the open transaction back BEFORE close: some engines
        # (Derby) refuse to close a connection with an active transaction,
        # and that close error would mask the real SQL failure
        try:
            conn.rollback()
        except Exception:  # noqa: BLE001 — surface the original error
            pass
        raise
    finally:
        try:
            conn.close()
        except Exception:  # noqa: BLE001 — never mask the txn outcome
            pass


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: Sequence[str],
    properties: dict[str, str] | None = None,
    staging_table: str | None = None,
    batch_size: int = 1000,
    num_partitions: int = 8,
    dialect: str = "postgres",
) -> int:
    """Staging-merge upsert over JDBC; returns the number of rows staged
    (an Observation on the staging write). Requires the JDBC driver jar
    on the Spark classpath (tests run it against the Derby jar Spark
    ships for its Hive metastore; production passes the postgres jar).
    ``dialect`` picks the merge statement: ``'postgres'`` (INSERT..ON
    CONFLICT) or ``'merge'`` (ANSI MERGE INTO — Derby/Iceberg/SQL
    Server)."""
    staging_table = staging_table or f"{table}_staging_{uuid.uuid4().hex[:8]}"
    props = dict(properties or {})
    props.setdefault("batchsize", str(batch_size))
    obs = Observation()
    (
        df.repartition(num_partitions)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .options(**props)
        .jdbc(url, staging_table)
    )
    spark = df.sparkSession
    n = _written(spark, obs)
    jvm = spark._jvm  # noqa: SLF001 — driver-side merge statement
    conn = jvm.java.sql.DriverManager.getConnection(url)
    execute_merge(
        conn,
        staging_merge_statements(
            table, df.columns, key_cols, staging_table, dialect=dialect
        ),
    )
    return n


# ---------------------------------------------------------- DB-API strategy

def upsert_dbapi(
    df: DataFrame,
    conn_factory: Callable[[], object],
    table: str,
    key_cols: Sequence[str],
    batch_size: int = 1000,
    paramstyle: str = "qmark",
) -> int:
    """``foreachPartition`` upsert through any DB-API connection factory
    (psycopg2, sqlite3, ...). ``conn_factory`` must be picklable (a
    module-level function). One connection + transaction per partition;
    rows batched ``batch_size`` at a time (reference page_size parity,
    db.py:56). Returns the number of rows written."""
    columns = df.columns
    sql = _insert_upsert_dbapi_sql(table, columns, key_cols, paramstyle)
    n_rows = df.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        batch = []
        conn = None

        def flush(c):
            if batch:
                c.executemany(sql, batch)
                n_rows.add(len(batch))
                batch.clear()

        try:
            for row in rows:
                if conn is None:
                    conn = conn_factory()
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    flush(conn.cursor())
            if conn is not None:
                flush(conn.cursor())
                conn.commit()
        except Exception:
            if conn is not None:
                conn.rollback()
            raise
        finally:
            if conn is not None:
                conn.close()

    df.foreachPartition(write_partition)
    return n_rows.value


# --------------------------------------------------------- parquet strategy

def upsert_parquet(
    spark: SparkSession,
    df: DataFrame,
    target_dir: str,
    key_cols: Sequence[str],
) -> int:
    """Keyed merge into a parquet directory: survivors = new ∪
    (old anti-join new on key), written to a fresh directory then
    swapped in, so a failed write never corrupts the target. The write
    is the only action: the returned upserted row count is observed on
    it. When a target exists, the anti-join keys and the union both
    read ``df``, which is cached (exchange reuse cannot share them: the
    anti-join side gains an inferred ``isnotnull`` filter), unless it
    carries a ``resources.row_bound`` (the runner's one-task batch):
    then it is read twice and its keys go through ``guarded_broadcast``.
    A failed write leaves no cache and no temp directory. (Lakehouse
    MERGE INTO replaces this wholesale at scale; the logical plan is
    identical.)"""
    exists = os.path.exists(target_dir)
    bound = row_bound(df)
    cached = exists and bound is None
    new = df.cache() if cached else df
    tmp = f"{target_dir}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        obs = Observation()
        merged = new.observe(obs, F.count(F.lit(1)).alias("n"))
        if exists:
            # the write must run in df's own session (foreachBatch hands
            # a clone): an Observation completes only from its session
            old = new.sparkSession.read.parquet(target_dir)
            keys = new.select(*key_cols)
            if bound is not None:  # the runner's one-task batch
                keys = guarded_broadcast(keys, bound)
            keep = old.join(keys, on=list(key_cols), how="left_anti")
            merged = keep.unionByName(merged)
        merged.write.mode("overwrite").parquet(tmp)
        n_new = _written(spark, obs)
        old_dir = f"{target_dir}.old-{uuid.uuid4().hex[:8]}"
        if exists:
            os.rename(target_dir, old_dir)
        os.rename(tmp, target_dir)
        if exists:
            shutil.rmtree(old_dir)
    finally:
        if cached:
            new.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    return n_new

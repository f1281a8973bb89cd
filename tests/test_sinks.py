"""Sinks: keyed upsert (K1, three strategies), audit log (K2, never-raise),
object moves (K5). Upsert semantics parity target:
/root/reference/dags/src/db.py:22-99."""

import functools
import sqlite3

from pyspark.sql import Row

from mini_data_platform_spark.sinks import (
    AuditLog,
    merge_into_sql,
    move_object,
    on_conflict_sql,
    upsert_dbapi,
    upsert_parquet,
)
from mini_data_platform_spark.sinks.upsert import sqlite_conn_factory

COLS = ["sale_id", "sale_date", "customer_id", "product_id", "quantity", "amount"]


def _rows(spark, data):
    return spark.createDataFrame(
        [Row(**dict(zip(COLS, d))) for d in data]
    )


class TestSqlBuilders:
    def test_on_conflict_values_form(self):
        sql = on_conflict_sql("sales", COLS, ["sale_id"])
        assert "VALUES %s" in sql
        assert "ON CONFLICT (sale_id) DO UPDATE SET" in sql
        assert "sale_id = EXCLUDED.sale_id" not in sql  # key never updated
        assert "amount = EXCLUDED.amount" in sql

    def test_on_conflict_staging_form(self):
        sql = on_conflict_sql("sales", COLS, ["sale_id"], source="sales_staging")
        assert "SELECT" in sql and "FROM sales_staging" in sql

    def test_merge_into(self):
        sql = merge_into_sql("sales", "staging", COLS, ["sale_id"])
        assert sql.startswith("MERGE INTO sales t USING staging s ON t.sale_id = s.sale_id")
        assert "WHEN MATCHED THEN UPDATE SET" in sql
        assert "WHEN NOT MATCHED THEN INSERT" in sql


class TestUpsertDbapi:
    def _setup_db(self, path):
        conn = sqlite3.connect(path)
        conn.execute(
            "CREATE TABLE sales (sale_id TEXT PRIMARY KEY, sale_date TEXT, "
            "customer_id TEXT, product_id TEXT, quantity INTEGER, amount REAL)"
        )
        conn.commit()
        conn.close()

    def test_insert_then_update(self, spark, tmp_path):
        db = str(tmp_path / "sales.db")
        self._setup_db(db)
        factory = functools.partial(sqlite_conn_factory, db)

        df1 = _rows(
            spark,
            [
                ("a", "2024-01-01", "C1", "P1", 1, 10.0),
                ("b", "2024-01-02", "C2", "P2", 2, 20.0),
            ],
        ).coalesce(2)
        n = upsert_dbapi(df1, factory, "sales", ["sale_id"], batch_size=1)
        assert n == 2

        # second batch: updates a, inserts c
        df2 = _rows(
            spark,
            [
                ("a", "2024-02-01", "C1", "P1", 5, 50.0),
                ("c", "2024-01-03", "C3", "P3", 3, 30.0),
            ],
        ).coalesce(1)
        upsert_dbapi(df2, factory, "sales", ["sale_id"])

        got = dict(
            sqlite3.connect(db).execute("SELECT sale_id, amount FROM sales").fetchall()
        )
        assert got == {"a": 50.0, "b": 20.0, "c": 30.0}

    def test_idempotent_rerun(self, spark, tmp_path):
        db = str(tmp_path / "re.db")
        self._setup_db(db)
        factory = functools.partial(sqlite_conn_factory, db)
        df = _rows(spark, [("x", "2024-01-01", "C", "P", 1, 1.0)]).coalesce(1)
        upsert_dbapi(df, factory, "sales", ["sale_id"])
        upsert_dbapi(df, factory, "sales", ["sale_id"])
        rows = sqlite3.connect(db).execute("SELECT * FROM sales").fetchall()
        assert len(rows) == 1


class TestUpsertParquet:
    def test_merge_and_idempotence(self, spark, tmp_path):
        target = str(tmp_path / "sales_pq")
        df1 = _rows(
            spark,
            [
                ("a", "2024-01-01", "C1", "P1", 1, 10.0),
                ("b", "2024-01-02", "C2", "P2", 2, 20.0),
            ],
        )
        assert upsert_parquet(spark, df1, target, ["sale_id"]) == 2

        df2 = _rows(
            spark,
            [
                ("b", "2024-03-03", "C2", "P9", 9, 99.0),
                ("c", "2024-01-03", "C3", "P3", 3, 30.0),
            ],
        )
        upsert_parquet(spark, df2, target, ["sale_id"])
        got = {
            r["sale_id"]: (r["product_id"], r["amount"])
            for r in spark.read.parquet(target).collect()
        }
        assert got == {"a": ("P1", 10.0), "b": ("P9", 99.0), "c": ("P3", 30.0)}

        # re-running the same batch changes nothing
        upsert_parquet(spark, df2, target, ["sale_id"])
        assert spark.read.parquet(target).count() == 3

    def test_failed_write_leaks_no_cache_or_temp_dir(self, spark, tmp_path):
        import glob

        import pytest
        from pyspark.sql import functions as F

        target = str(tmp_path / "sales_pq")
        row = ("a", "2024-01-01", "C1", "P1", 1, 10.0)
        upsert_parquet(spark, _rows(spark, [row]), target, ["sale_id"])
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        boom = F.raise_error(F.lit("boom"))
        bad = _rows(spark, [row]).withColumn(
            "amount",
            F.when(F.col("sale_id") == "a", boom).otherwise(F.col("amount")),
        )
        with pytest.raises(Exception, match="boom"):
            upsert_parquet(spark, bad, target, ["sale_id"])
        assert not bad.is_cached
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
        assert glob.glob(f"{target}.tmp-*") == []
        assert spark.read.parquet(target).count() == 1  # target untouched


class TestAuditLog:
    def test_status_transitions(self, tmp_path):
        db = str(tmp_path / "audit.db")
        log = AuditLog(functools.partial(sqlite_conn_factory, db))
        log.log_file_status("incoming/f1.csv", "lake", "validated")
        log.log_file_status("incoming/f1.csv", "lake", "loaded", rows=100)
        log.log_file_status("incoming/f2.csv", "lake", "validation_failed", error="bad")
        assert log.statuses() == {
            "incoming/f1.csv": "loaded",
            "incoming/f2.csv": "validation_failed",
        }

    def test_never_raises(self):
        def broken():
            raise OSError("db down")

        log = AuditLog(broken)  # bootstrap swallow
        log.log_file_status("k", "b", "loaded")  # write swallow
        assert log.statuses() == {}


class TestMoveObject:
    def test_local_move_creates_prefix(self, tmp_path):
        src = tmp_path / "incoming" / "f.csv"
        src.parent.mkdir()
        src.write_text("x")
        dst = tmp_path / "processed" / "deep" / "f.csv"
        move_object(str(src), str(dst))
        assert dst.read_text() == "x"
        assert not src.exists()


class TestStagingMerge:
    """Driver-side staging-merge lifecycle (upsert_jdbc's back half). The
    container ships no JDBC jar, so the generated SQL runs against sqlite
    (dialect-compatible thanks to the WHERE true disambiguator) and the
    connection lifecycle runs against a recording stub."""

    def test_statements_postgres_dialect(self):
        from mini_data_platform_spark.sinks.upsert import staging_merge_statements

        stmts = staging_merge_statements("sales", COLS, ["sale_id"], "sales_stg")
        assert len(stmts) == 2
        assert stmts[0].startswith("INSERT INTO sales (sale_id, sale_date")
        assert "FROM sales_stg WHERE true" in stmts[0]
        assert "ON CONFLICT (sale_id) DO UPDATE SET" in stmts[0]
        assert "sale_id = EXCLUDED.sale_id" not in stmts[0]
        assert stmts[1] == "DROP TABLE sales_stg"

    def test_statements_merge_dialect(self):
        from mini_data_platform_spark.sinks.upsert import staging_merge_statements

        stmts = staging_merge_statements(
            "sales", COLS, ["sale_id"], "sales_stg", dialect="merge"
        )
        assert stmts[0].startswith("MERGE INTO sales t USING sales_stg s")
        assert stmts[1] == "DROP TABLE sales_stg"

    def test_generated_sql_upserts_on_sqlite(self, tmp_path):
        """The staging-form ON CONFLICT statement is real executable SQL:
        run the exact generated statements end-to-end on sqlite."""
        from mini_data_platform_spark.sinks.upsert import staging_merge_statements

        conn = sqlite3.connect(str(tmp_path / "m.db"))
        conn.execute(
            "CREATE TABLE sales (sale_id TEXT PRIMARY KEY, sale_date TEXT, "
            "customer_id TEXT, product_id TEXT, quantity INTEGER, amount REAL)"
        )
        conn.execute("INSERT INTO sales VALUES ('s1','d0','C0','P0',1,10.0)")
        conn.execute(
            "CREATE TABLE sales_stg (sale_id TEXT, sale_date TEXT, "
            "customer_id TEXT, product_id TEXT, quantity INTEGER, amount REAL)"
        )
        conn.execute("INSERT INTO sales_stg VALUES ('s1','d1','C1','P1',2,20.0)")
        conn.execute("INSERT INTO sales_stg VALUES ('s2','d2','C2','P2',3,30.0)")
        for stmt in staging_merge_statements("sales", COLS, ["sale_id"], "sales_stg"):
            conn.execute(stmt)
        conn.commit()
        rows = {
            r[0]: r for r in conn.execute("SELECT * FROM sales ORDER BY sale_id")
        }
        assert rows["s1"][1:] == ("d1", "C1", "P1", 2, 20.0)  # updated
        assert rows["s2"][1:] == ("d2", "C2", "P2", 3, 30.0)  # inserted
        tables = {r[0] for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        )}
        assert "sales_stg" not in tables  # staging dropped

    class _StubConn:
        def __init__(self, fail_on=None):
            self.calls = []
            self.fail_on = fail_on

        def createStatement(self):
            self.calls.append("createStatement")
            outer = self

            class S:
                def execute(self, sql):
                    outer.calls.append(("execute", sql))
                    if outer.fail_on and outer.fail_on in sql:
                        raise RuntimeError("boom")

            return S()

        def commit(self):
            self.calls.append("commit")

        def rollback(self):
            self.calls.append("rollback")

        def close(self):
            self.calls.append("close")

    def test_execute_merge_lifecycle(self):
        from mini_data_platform_spark.sinks.upsert import execute_merge

        conn = self._StubConn()
        execute_merge(conn, ["MERGE-SQL", "DROP TABLE stg"])
        assert conn.calls == [
            "createStatement",
            ("execute", "MERGE-SQL"),
            ("execute", "DROP TABLE stg"),
            "commit",
            "close",
        ]

    def test_execute_merge_no_commit_on_error_but_closes(self):
        import pytest

        from mini_data_platform_spark.sinks.upsert import execute_merge

        conn = self._StubConn(fail_on="MERGE-SQL")
        with pytest.raises(RuntimeError):
            execute_merge(conn, ["MERGE-SQL", "DROP TABLE stg"])
        assert "commit" not in conn.calls  # failed txn never commits
        # rollback precedes close: engines like Derby refuse to close a
        # connection with an active transaction, and that close error
        # would otherwise mask the original SQL failure
        assert conn.calls[-2:] == ["rollback", "close"]

    def test_execute_merge_original_error_survives_failing_close(self):
        import pytest

        from mini_data_platform_spark.sinks.upsert import execute_merge

        class BadClose(self._StubConn):
            def close(self):
                super().close()
                raise RuntimeError("cannot close: transaction active")

        conn = BadClose(fail_on="MERGE-SQL")
        with pytest.raises(RuntimeError, match="boom"):  # real error, not close's
            execute_merge(conn, ["MERGE-SQL", "DROP TABLE stg"])


class TestUpsertJdbcDerby:
    """K1 against a LIVE JDBC engine (reference db.py:22-67 runs real
    upserts against Postgres). Spark ships embedded Derby for its Hive
    metastore, so the full staging-write + driver-side ANSI MERGE path
    runs in-JVM with zero extra dependencies: ``df.write.jdbc`` into the
    staging table, MERGE INTO the target, staging dropped — insert AND
    conflict-update asserted on the final table state."""

    DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

    def _derby_missing(self, spark):
        try:
            spark._jvm.Class.forName(self.DRIVER)
            return False
        except Exception:
            return True

    def test_staging_merge_roundtrip(self, spark, tmp_path):
        import pytest

        from mini_data_platform_spark.sinks.upsert import upsert_jdbc

        if self._derby_missing(spark):
            pytest.skip("derby jar not on the Spark classpath")
        url = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        st = conn.createStatement()
        st.execute(
            "CREATE TABLE sales (sale_id VARCHAR(64) PRIMARY KEY, "
            "quantity INT, amount DOUBLE)"
        )
        st.execute("INSERT INTO sales VALUES ('s1', 1, 10.0), ('s2', 2, 20.0)")
        conn.close()  # autocommit on: rows are committed

        # Spark's JDBC writer QUOTES column names when creating the staging
        # table, so they must already be in the engine's unquoted-identifier
        # normal form for the unquoted MERGE references to resolve: upper
        # for Derby/Oracle (Postgres folds lower, where original names work)
        df = spark.createDataFrame(
            [("s2", 5, 99.0), ("s3", 3, 30.0)],
            "SALE_ID string, QUANTITY int, AMOUNT double",
        )
        n = upsert_jdbc(
            df,
            url,
            "sales",
            ["SALE_ID"],
            properties={
                "driver": self.DRIVER,
                # Derby can't compare CLOB (Spark's default string mapping)
                # in a MERGE ON clause; force VARCHAR for the key
                "createTableColumnTypes": "SALE_ID VARCHAR(64)",
            },
            dialect="merge",  # Derby speaks ANSI MERGE, not ON CONFLICT
            num_partitions=2,
        )
        assert n == 2  # the staged rows: one insert, one conflict-update

        back = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("driver", self.DRIVER)
            .option("dbtable", "sales")
            .load()
        )
        rows = {r["SALE_ID"]: (r["QUANTITY"], r["AMOUNT"]) for r in back.collect()}
        assert rows == {
            "s1": (1, 10.0),   # untouched
            "s2": (5, 99.0),   # conflict-update won
            "s3": (3, 30.0),   # inserted
        }

        # staging table dropped by the merge transaction
        meta = jvm.java.sql.DriverManager.getConnection(url)
        rs = meta.createStatement().executeQuery(
            "SELECT tablename FROM sys.systables WHERE tabletype = 'T'"
        )
        tables = set()
        while rs.next():
            tables.add(rs.getString(1))
        meta.close()
        assert tables == {"SALES"}

"""Catalog contract tests — the load-path guarantees every query builds on.

The round-4 incident this pins: a driver fixture regeneration flipped
events.ts from TIMESTAMP to INT64 TIMESTAMP(NANOS)/TIMESTAMP_NTZ and broke
three queries AT BENCH TIME. catalog.load_table now normalizes every
timestamp-ish column to TimestampType; this test makes the next fixture
drift fail loudly in pytest instead.
"""

import pytest
from pyspark.sql import types as T

from mini_data_platform_spark.catalog import TABLES, load_table, load_tables

SF = "/root/testdata/sf0.001"


class TestTimestampContract:
    def test_no_ntz_or_raw_long_timestamps_in_any_table(self, spark):
        """Every column that is a timestamp at the parquet level must
        surface as TimestampType (session-TZ) — never TIMESTAMP_NTZ and
        never a raw nanosAsLong LongType — across ALL fixture tables."""
        for name, df in load_tables(spark, SF).items():
            for f in df.schema.fields:
                assert not isinstance(f.dataType, T.TimestampNTZType), (
                    f"{name}.{f.name} surfaced as TIMESTAMP_NTZ — "
                    "load_table's normalization cast is broken or skipped"
                )
            # known timestamp columns must be real timestamps
            expected_ts = {
                "orders": ["o_orderdate"],
                "lineitem": ["l_shipdate", "l_commitdate", "l_receiptdate"],
                "events": ["ts"],
            }.get(name, [])
            for c in expected_ts:
                if c not in df.columns:
                    continue
                dt = df.schema[c].dataType
                assert isinstance(dt, (T.TimestampType, T.DateType)), (
                    f"{name}.{c} is {dt}, expected timestamp/date"
                )

    def test_events_ts_is_timestamp(self, spark):
        """events.ts specifically (the INT64 TIMESTAMP(NANOS) column that
        needs the nanosAsLong + timestamp_micros path) must come back as
        TimestampType with sane values."""
        ev = load_table(spark, SF, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
        row = ev.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
        assert row["lo"] is not None and row["hi"] is not None
        assert 2000 <= row["lo"].year <= 2100

    def test_all_tables_load(self, spark):
        for name in TABLES:
            assert load_table(spark, SF, name).limit(1).count() >= 0

    @pytest.mark.parametrize("name", TABLES)
    def test_hostile_session_conf_normalized(self, spark, name):
        """load_table must repair the confs its read depends on even if a
        prior caller flipped them (the driver harness owns its session)."""
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            df = load_table(spark, SF, name)
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
            for f in df.schema.fields:
                assert not isinstance(f.dataType, T.TimestampNTZType)
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


class TestTableCache:
    """load_table memoizes the ANALYZED frame per (session, path,
    stat-signature) — plan/metadata reuse only (round-16 item 1). The
    freshness contract: a rewritten file must miss the cache."""

    def test_repeated_load_returns_cached_plan(self, spark):
        a = load_table(spark, SF, "nation")
        b = load_table(spark, SF, "nation")
        assert a is b  # same analyzed DataFrame — no re-list, no re-read

    def test_rewritten_file_misses_cache(self, spark, tmp_path):
        import os
        import time

        p = str(tmp_path / "t.parquet")
        spark.range(3).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
        first = load_table(spark, str(tmp_path), "t")
        assert first.count() == 3
        time.sleep(0.01)  # ensure distinguishable mtime_ns
        spark.range(5).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
        again = load_table(spark, str(tmp_path), "t")
        assert again.count() == 5

    def test_rewritten_partition_leaf_misses_cache(self, spark, tmp_path):
        import glob
        import os
        import shutil

        p = str(tmp_path / "t.parquet")
        spark.range(4).selectExpr("id", "id % 2 AS part").coalesce(
            1
        ).write.partitionBy("part").parquet(p)
        first = load_table(spark, str(tmp_path), "t")
        assert first.count() == 4
        # rewrite one leaf file and its checksum sidecar IN PLACE (same
        # names, new content): the partition directory's own entry and
        # listing do not change
        (leaf,) = glob.glob(os.path.join(p, "part=0", "*.parquet"))
        src = str(tmp_path / "src.parquet")
        spark.range(10, 15).coalesce(1).write.parquet(src)
        (src_file,) = glob.glob(os.path.join(src, "*.parquet"))

        def crc(f):
            head, name = os.path.split(f)
            return os.path.join(head, f".{name}.crc")

        shutil.copyfile(src_file, leaf)
        shutil.copyfile(crc(src_file), crc(leaf))
        again = load_table(spark, str(tmp_path), "t")
        assert again is not first
        assert again.count() == 7  # 5 rewritten + 2 untouched

    def test_cache_holds_plans_not_results(self, spark):
        # the cached frame is lazy: no storage level, no materialization
        df = load_table(spark, SF, "region")
        assert not df.is_cached

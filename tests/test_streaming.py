"""Streaming: file-source ingestion with checkpointed exactly-once file
admission, watermarked windowed aggregation, stateful sessionization."""

import datetime
import functools
import os
import sqlite3
import time

import pytest

from pyspark.sql import Row, functions as F, types as T

from mini_data_platform_spark.sinks.audit import AuditLog
from mini_data_platform_spark.sinks.objects import list_objects
from mini_data_platform_spark.sinks.upsert import sqlite_conn_factory, upsert_parquet
from mini_data_platform_spark.streaming import (
    run_available_now,
    sessionize_stateful,
    start_streaming_ingest,
    windowed_event_stats,
)

CSV_1 = (
    "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
    "a,2024-01-01 00:00:00,C1,P1,1,10.0\n"
    "b,2024-01-02 00:00:00,C2,P2,2,20.0\n"
)
CSV_2 = (
    "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
    "b,2024-02-02 00:00:00,C2,P2,9,99.0\n"
    "c,2024-01-03 00:00:00,C3,P3,3,30.0\n"
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(
        minutes=minute, seconds=second
    )


class TestStreamingIngest:
    def _run_once(self, spark, incoming, ckpt, target):
        def sink(df):
            return upsert_parquet(spark, df, target, ["sale_id"])

        q = start_streaming_ingest(
            spark, incoming, ckpt, sink=sink, available_now=True
        )
        q.awaitTermination(120)
        assert not q.isActive

    def test_ingest_and_checkpointed_admission(self, spark, tmp_path):
        incoming = str(tmp_path / "incoming")
        ckpt = str(tmp_path / "ckpt")
        target = str(tmp_path / "target")
        os.makedirs(incoming)

        with open(os.path.join(incoming, "f1.csv"), "w") as f:
            f.write(CSV_1)
        self._run_once(spark, incoming, ckpt, target)
        got = {r["sale_id"]: r["amount"] for r in spark.read.parquet(target).collect()}
        assert got == {"a": 10.0, "b": 20.0}

        # second file lands; SAME checkpoint -> f1 not reprocessed, b upserted
        with open(os.path.join(incoming, "f2.csv"), "w") as f:
            f.write(CSV_2)
        self._run_once(spark, incoming, ckpt, target)
        got = {r["sale_id"]: r["amount"] for r in spark.read.parquet(target).collect()}
        assert got == {"a": 10.0, "b": 99.0, "c": 30.0}

    def test_audit_logs_cleaned_rows_per_file(self, spark, tmp_path):
        """Each file's audit row is ``loaded`` with its cleaned row count
        before dedup: null/blank keys are dropped, in-file and
        cross-file duplicate keys still count."""
        incoming = str(tmp_path / "incoming")
        target = str(tmp_path / "target")
        audit_db = str(tmp_path / "audit.db")
        os.makedirs(incoming)
        with open(os.path.join(incoming, "f1.csv"), "w") as f:
            f.write(
                "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
                "a,2024-01-01 00:00:00, C1 ,P1,1,10.0\n"
                "a,2024-01-05 00:00:00,C1,P1,2,20.0\n"
                "nan,2024-01-01 00:00:00,C9,P9,1,1.0\n"
                " ,2024-01-01 00:00:00,C9,P9,1,1.0\n"
                "b,2024-01-02 00:00:00,C2,P2,2,20.0\n"
            )
        with open(os.path.join(incoming, "f2.csv"), "w") as f:
            f.write(CSV_2)
        audit = AuditLog(functools.partial(sqlite_conn_factory, audit_db))

        def sink(df):
            return upsert_parquet(spark, df, target, ["sale_id"])

        q = start_streaming_ingest(
            spark, incoming, str(tmp_path / "ckpt"), sink=sink,
            audit=audit, available_now=True,
        )
        q.awaitTermination(120)
        assert not q.isActive
        # keyed by the listed path, as the batch runner keys its rows
        with sqlite3.connect(audit_db) as conn:
            logged = {
                k: (st, n)
                for k, st, n in conn.execute(
                    "SELECT file_key, status, rows_processed "
                    "FROM file_ingestion_log"
                )
            }
        f1, f2 = list_objects(incoming)
        assert logged == {f1: ("loaded", 3), f2: ("loaded", 2)}
        got = {r["sale_id"] for r in spark.read.parquet(target).collect()}
        assert got == {"a", "b", "c"}


class TestWindowedStats:
    def _events(self, spark):
        rows = [
            Row(event_id=1, ts=_ts(5), user_id=1, event_type="click", value=1.0),
            Row(event_id=2, ts=_ts(20), user_id=2, event_type="click", value=2.0),
            Row(event_id=3, ts=_ts(70), user_id=1, event_type="view", value=3.0),
        ]
        return spark.createDataFrame(rows, EVENT_SCHEMA)

    def test_static_semantics(self, spark):
        out = windowed_event_stats(self._events(spark), "1 hour").collect()
        by_key = {(r["window_start"].minute + r["window_start"].hour * 60, r["event_type"]): r for r in out}
        assert by_key[(0, "click")]["n_events"] == 2
        assert by_key[(0, "click")]["sum_value"] == 3.0
        assert by_key[(60, "view")]["n_events"] == 1

    def test_streaming_with_watermark(self, spark, tmp_path):
        src = str(tmp_path / "events_src")
        self._events(spark).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        agg = windowed_event_stats(stream, "1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_stats")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM win_stats").collect()
        assert sum(r["n_events"] for r in rows) == 3


class TestStreamDedup:
    def test_replays_dropped_across_microbatches(self, spark, tmp_path):
        from mini_data_platform_spark.streaming import dedup_stream

        src = str(tmp_path / "dd_src")
        os.makedirs(src)
        rows1 = [
            Row(event_id=1, ts=_ts(0), user_id=1, event_type="c", value=1.0),
            Row(event_id=2, ts=_ts(1), user_id=1, event_type="c", value=2.0),
        ]
        rows2 = [
            Row(event_id=2, ts=_ts(1), user_id=1, event_type="c", value=2.0),  # replay
            Row(event_id=3, ts=_ts(2), user_id=1, event_type="c", value=3.0),
        ]
        spark.createDataFrame(rows1, EVENT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        spark.createDataFrame(rows2, EVENT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, "b2")
        )
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = (
            dedup_stream(stream, keys=("event_id",), watermark="1 hour")
            .writeStream.format("memory")
            .queryName("dd_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dd_out").collect())
        assert got == [1, 2, 3]  # the replayed id 2 appears exactly once


class TestSessionize:
    def test_finished_sessions_emit_within_batch(self, spark, tmp_path):
        # user 7: burst at t=0..5min (3 events), 40-min gap, burst at t=45
        # -> first burst is a finished session; second stays open in state.
        rows = [
            Row(event_id=1, ts=_ts(0), user_id=7, event_type="c", value=1.0),
            Row(event_id=2, ts=_ts(2), user_id=7, event_type="c", value=2.0),
            Row(event_id=3, ts=_ts(5), user_id=7, event_type="c", value=3.0),
            Row(event_id=4, ts=_ts(45), user_id=7, event_type="c", value=4.0),
            Row(event_id=5, ts=_ts(1), user_id=9, event_type="c", value=5.0),
        ]
        src = str(tmp_path / "sess_src")
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        # run_available_now: ProcessingTimeTimeout state spins no-data
        # micro-batches forever under a plain availableNow start, so this
        # test used to burn its full 120 s awaitTermination AND leak a
        # live query into the rest of the suite (streaming/run.py)
        run_available_now(
            sessionize_stateful(stream),
            str(tmp_path / "sess_ckpt"),
            fmt="memory",
            query_name="sessions",
            timeout_sec=120,
        )
        got = spark.sql("SELECT * FROM sessions").collect()
        assert len(got) == 1
        s = got[0]
        assert s["user_id"] == 7
        assert s["n_events"] == 3
        assert s["sum_value"] == 6.0
        assert s["session_start"] == _ts(0)
        assert s["session_end"] == _ts(5)


class TestSessionWindowBuiltin:
    def test_static_matches_stateful_session_semantics(self, spark):
        """The built-in session_window must carve the SAME sessions as the
        custom stateful operator's gap logic: user 7 bursts at 0-5min and
        45min (40-min gap > 30-min session gap -> two sessions)."""
        from mini_data_platform_spark.streaming import session_window_agg

        rows = [
            Row(event_id=1, ts=_ts(0), user_id=7, event_type="c", value=1.0),
            Row(event_id=2, ts=_ts(2), user_id=7, event_type="c", value=2.0),
            Row(event_id=3, ts=_ts(5), user_id=7, event_type="c", value=3.0),
            Row(event_id=4, ts=_ts(45), user_id=7, event_type="c", value=4.0),
            Row(event_id=5, ts=_ts(1), user_id=9, event_type="c", value=5.0),
        ]
        df = spark.createDataFrame(rows, EVENT_SCHEMA)
        out = sorted(
            session_window_agg(df, gap="30 minutes").collect(),
            key=lambda r: (r["user_id"], r["session_start"]),
        )
        assert [(r["user_id"], r["n_events"], r["sum_value"]) for r in out] == [
            (7, 3, 6.0), (7, 1, 4.0), (9, 1, 5.0)
        ]
        first = out[0]
        assert first["session_start"] == _ts(0)
        assert first["last_event"] == _ts(5)
        # session_window end = last event + gap by definition
        assert first["window_end"] == _ts(35)

    def test_streaming_append_emits_closed_sessions(self, spark, tmp_path):
        from mini_data_platform_spark.streaming import session_window_agg

        rows = [
            Row(event_id=1, ts=_ts(0), user_id=7, event_type="c", value=1.0),
            Row(event_id=2, ts=_ts(5), user_id=7, event_type="c", value=2.0),
            # a much later event advances the watermark so session 1 closes
            Row(event_id=3, ts=_ts(600), user_id=8, event_type="c", value=9.0),
        ]
        src = str(tmp_path / "sw_src")
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            session_window_agg(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("memory")
            .queryName("sw_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM sw_out").collect()
        # user 7's session closed (watermark passed); user 8's stays open
        assert [(r["user_id"], r["n_events"]) for r in got] == [(7, 2)]


class TestStreamIntervalJoin:
    def test_purchases_match_recent_clicks_only(self, spark, tmp_path):
        from mini_data_platform_spark.streaming import stream_interval_join

        clicks = [
            Row(event_id=10, ts=_ts(0), user_id=1, event_type="click", value=0.0),
            Row(event_id=11, ts=_ts(50), user_id=1, event_type="click", value=0.0),
            Row(event_id=12, ts=_ts(0), user_id=2, event_type="click", value=0.0),
        ]
        purchases = [
            Row(event_id=20, ts=_ts(60), user_id=1, event_type="buy", value=5.0),
            Row(event_id=21, ts=_ts(90), user_id=2, event_type="buy", value=7.0),
        ]
        csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
        spark.createDataFrame(clicks, EVENT_SCHEMA).coalesce(1).write.parquet(csrc)
        spark.createDataFrame(purchases, EVENT_SCHEMA).coalesce(1).write.parquet(psrc)
        cs = spark.readStream.schema(EVENT_SCHEMA).parquet(csrc).select(
            F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
        )
        ps = spark.readStream.schema(EVENT_SCHEMA).parquet(psrc).select(
            F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
        )
        joined = stream_interval_join(
            ps, cs, key="user_id", left_ts="purchase_ts", right_ts="click_ts",
            lookback="30 minutes",
        ).select("purchase_id", "click_id")
        q = (
            joined.writeStream.format("memory")
            .queryName("ssj_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {(r["purchase_id"], r["click_id"]) for r in spark.sql("SELECT * FROM ssj_out").collect()}
        # purchase 20 at t=60: click 11 (t=50) is within 30 min, click 10 (t=0) is not;
        # purchase 21 at t=90: user 2's only click (t=0) is too old -> no match
        assert got == {(20, 11)}


class TestNearDupStream:
    """Streaming LSH near-dup candidates (streaming/neardup.py): the
    star-shaped per-bucket edges must cluster identically to the batch
    clique pairs, and the bucket state must link cross-micro-batch
    duplicates to the FIRST-seen document."""

    N_HASHES, BANDS, SHINGLE_N = 16, 4, 3

    def _corpus_rows(self):
        base = (
            "the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight"
        )
        other = (
            "completely different text about spark structured streaming "
            "state stores and watermark semantics for late data"
        )
        rows = []
        for i in range(6):  # near-identical family: one-word mutations
            words = base.split()
            words[i] = f"mut{i}"
            rows.append((100 + i, _ts(i), " ".join(words)))
        for i in range(4):  # second family
            words = other.split()
            words[-1 - i] = f"alt{i}"
            rows.append((200 + i, _ts(10 + i), " ".join(words)))
        rows.append((300, _ts(20), "tiny unrelated snippet entirely alone"))
        return rows

    def _docs_df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")

    def _run_stream(self, spark, src, files_per_trigger=None):
        from mini_data_platform_spark.streaming.neardup import (
            near_dup_candidates_stream,
        )

        reader = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        )
        if files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        stream = reader.parquet(src)
        edges = near_dup_candidates_stream(
            stream, num_hashes=self.N_HASHES, bands=self.BANDS,
            shingle_n=self.SHINGLE_N,
        )
        name = f"neardup_{int(time.time() * 1000)}"
        # run_available_now: the bucket TTL's ProcessingTimeTimeout spins
        # no-data micro-batches forever otherwise (streaming/run.py)
        run_available_now(
            edges,
            f"{src}_ckpt_{name}",
            fmt="memory",
            query_name=name,
            timeout_sec=120,
        )
        return spark.table(name)

    def test_star_edges_cluster_like_batch_cliques(self, spark, tmp_path):
        from mini_data_platform_spark.operators.dedup_fuzzy import (
            lsh_candidate_pairs,
            minhash_signatures,
        )
        from mini_data_platform_spark.operators.graph import (
            connected_components,
        )

        rows = self._corpus_rows()
        docs = self._docs_df(spark, rows)
        src = str(tmp_path / "docs")
        docs.repartition(1).write.parquet(src)

        got = self._run_stream(spark, src)
        stream_edges = got.select(
            F.col("doc_id").alias("id_a"), F.col("first_doc_id").alias("id_b")
        ).distinct()
        assert stream_edges.count() > 0

        sigs = minhash_signatures(
            docs, "doc_id", "text", self.N_HASHES, self.SHINGLE_N
        )
        batch_pairs = lsh_candidate_pairs(
            sigs, "doc_id", self.N_HASHES, self.BANDS
        )
        # star vs clique: identical connected components
        cc_stream = {
            (r["v"], r["comp"])
            for r in connected_components(stream_edges).collect()
        }
        cc_batch = {
            (r["v"], r["comp"])
            for r in connected_components(batch_pairs).collect()
        }
        assert cc_stream == cc_batch

    def test_cross_batch_duplicates_link_to_first_seen(self, spark, tmp_path):
        rows = self._corpus_rows()
        first_file = [r for r in rows if r[0] in (100, 300)]
        second_file = [r for r in rows if r[0] == 101]  # near-dup of 100
        src = str(tmp_path / "docs")
        self._docs_df(spark, first_file).repartition(1).write.parquet(src)
        self._docs_df(spark, second_file).repartition(1).write.mode(
            "append"
        ).parquet(src)

        got = self._run_stream(spark, src, files_per_trigger=1)
        links = {
            (r["doc_id"], r["first_doc_id"]) for r in got.collect()
        }
        # 101 (later micro-batch) must link back to 100 via bucket state
        assert (101, 100) in links
        # the singleton never emits an edge
        assert all(300 not in pair for pair in links)

    def test_row_local_signatures_match_batch_aggregation(self, spark):
        """minhash_signature_columns (array exprs) and
        minhash_signatures_from (explode + min-agg) must emit identical
        signatures — they share one hash family by construction."""
        from mini_data_platform_spark.operators.dedup_fuzzy import (
            _staged_shingles,
            minhash_signature_columns,
            minhash_signatures_from,
        )

        docs = self._docs_df(spark, self._corpus_rows()).drop("ts")
        sh = _staged_shingles(docs, "doc_id", "text", self.SHINGLE_N)
        row_local = minhash_signature_columns(sh, ["doc_id"], self.N_HASHES)
        agg = minhash_signatures_from(sh, "doc_id", self.N_HASHES)
        a = {tuple(r) for r in row_local.collect()}
        b = {tuple(r) for r in agg.collect()}
        assert a == b


class TestHeavyHittersStream:
    """Streaming MG heavy hitters (streaming/heavyhitters.py): emitted
    keys are provably heavy (no false positives), state accumulates
    across micro-batches, and each key alerts exactly once."""

    def _write_batches(self, spark, tmp_path, batches):
        src = str(tmp_path / "hh_events")
        for i, rows in enumerate(batches):
            spark.createDataFrame(
                [(k,) for k in rows], "k string"
            ).repartition(1).write.mode(
                "append" if i else "overwrite"
            ).parquet(src)
        return src

    def _run(self, spark, src, min_count, k_counters=256, per_trigger=None):
        from mini_data_platform_spark.streaming.heavyhitters import (
            heavy_hitters_stream,
        )

        reader = spark.readStream.schema("k string")
        if per_trigger:
            reader = reader.option("maxFilesPerTrigger", per_trigger)
        out = heavy_hitters_stream(
            reader.parquet(src), "k", min_count,
            n_shards=8, k_counters=k_counters,
        )
        name = f"hh_{int(time.time() * 1000)}"
        run_available_now(
            out, f"{src}_ckpt_{name}", fmt="memory",
            query_name=name, timeout_sec=120,
        )
        return spark.table(name)

    def test_emits_exactly_the_heavy_keys(self, spark, tmp_path):
        # hot1 x 30, hot2 x 12, 40 singleton tail keys; threshold 10.
        # k_counters=256 > distinct keys -> sketch is exact here.
        batch = ["hot1"] * 30 + ["hot2"] * 12 + [f"t{i}" for i in range(40)]
        src = self._write_batches(spark, tmp_path, [batch])
        got = {
            (r["key"], r["at_least"])
            for r in self._run(spark, src, min_count=10).collect()
        }
        assert got == {("hot1", 30), ("hot2", 12)}

    def test_accumulates_across_micro_batches_and_emits_once(
        self, spark, tmp_path
    ):
        # 6 per batch, threshold 10: below threshold in EVERY batch,
        # above it only across batches — state must carry the counts,
        # and the key must alert exactly once (in the second batch)
        batches = [
            ["slow"] * 6 + [f"a{i}" for i in range(10)],
            ["slow"] * 6 + [f"b{i}" for i in range(10)],
            ["slow"] * 6 + [f"c{i}" for i in range(10)],
        ]
        src = self._write_batches(spark, tmp_path, batches)
        rows = self._run(
            spark, src, min_count=10, per_trigger=1
        ).collect()
        assert [(r["key"], r["at_least"]) for r in rows] == [("slow", 12)]

    def test_no_false_positives_under_tight_sketch(self, spark, tmp_path):
        # k_counters=4 over 50 distinct keys: heavy decrement pressure.
        # Whatever gets emitted must be TRULY >= threshold.
        import collections

        batch = (
            ["h1"] * 40 + ["h2"] * 25
            + [f"t{i % 48}" for i in range(96)]  # 48 keys x 2
        )
        truth = collections.Counter(batch)
        src = self._write_batches(spark, tmp_path, [batch])
        rows = self._run(
            spark, src, min_count=20, k_counters=4
        ).collect()
        assert rows  # the two hot keys dwarf the slack; they must alert
        for r in rows:
            assert truth[r["key"]] >= 20
            assert truth[r["key"]] >= r["at_least"]


class TestNearDupBridge:
    """Batch/stream near-dup state bridge (round-7 verdict item 7):
    a stream bootstrapped from a persisted index (export_index_seed)
    links streamed near-dups to the SETTLED corpus ids without
    re-shingling the corpus; draining the streamed batch into the index
    (the standard increment) leaves the index identical to never having
    streamed at all."""

    NH, BANDS, SHN = 16, 4, 3

    def _b1(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight"
        )
        rows = []
        for i in range(8):
            words = base.split()
            words[i] = f"orig{i}"
            rows.append((100 + i, " ".join(words)))
        rows.append((150, "isolated corpus document about parquet footers"))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _b2_rows(self, b1):
        # near-dups of the corpus family (drop first token) + one fresh
        t = F.split(F.trim(F.col("text")), " +")
        muts = b1.where(F.col("doc_id") < 110).select(
            (F.col("doc_id") + 900).alias("doc_id"),
            F.current_timestamp().alias("ts"),
            F.concat_ws(" ", F.slice(t, 2, F.size(t) - 1)).alias("text"),
        )
        return muts

    def test_seeded_stream_links_to_corpus_ids(self, spark, tmp_path):
        from mini_data_platform_spark.operators.dedup_fuzzy import (
            _staged_shingles,
            lsh_band_keys,
            minhash_signatures_from,
        )
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_build,
        )
        from mini_data_platform_spark.streaming.neardup import (
            export_index_seed,
            near_dup_candidates_stream,
        )

        b1 = self._b1(spark)
        idx = str(tmp_path / "idx")
        neardup_index_build(
            b1, idx, "doc_id", "text", 0.5, self.NH, self.BANDS, self.SHN
        )
        seed_dir = str(tmp_path / "seed")
        meta = export_index_seed(spark, idx, seed_dir)
        assert meta["num_hashes"] == self.NH

        src = str(tmp_path / "src")
        self._b2_rows(b1).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(src)
        edges = near_dup_candidates_stream(
            stream, num_hashes=self.NH, bands=self.BANDS,
            shingle_n=self.SHN, seed_dir=seed_dir,
        )
        name = f"ndbridge_{int(time.time() * 1000)}"
        run_available_now(
            edges, str(tmp_path / "ckpt"), fmt="memory",
            query_name=name, timeout_sec=180,
        )
        got = spark.table(name).collect()
        assert got, "seeded stream must flag the planted near-dups"
        # seeds emit no edges; streamed docs link to CORPUS ids
        assert all(r["doc_id"] >= 900 for r in got)
        assert all(r["first_doc_id"] < 900 for r in got)

        # PARITY with the batch candidate join: the stream must flag
        # exactly the streamed docs that share >= 1 band bucket with the
        # corpus (the same candidate set a batch increment generates)
        batch = self._b2_rows(b1).select(
            F.col("doc_id").alias("id"), F.col("text")
        )
        sigs = minhash_signatures_from(
            _staged_shingles(batch, "id", "text", self.SHN), "id", self.NH
        )
        bands_new = lsh_band_keys(sigs, "id", self.NH, self.BANDS)
        from mini_data_platform_spark.operators.incremental import (
            _read_table,
        )
        from mini_data_platform_spark.operators.occlog import _read_meta

        corpus_buckets = _read_table(spark, idx, "buckets", _read_meta(idx))
        want_flagged = {
            r["id"]
            for r in bands_new.alias("n")
            .join(
                corpus_buckets.alias("o"),
                (F.col("n.band_id") == F.col("o.band_id"))
                & (F.col("n.band_key") == F.col("o.band_key")),
            )
            .select(F.col("n.id"))
            .distinct()
            .collect()
        }
        assert {r["doc_id"] for r in got} == want_flagged

    def test_stream_then_drain_equals_increment_twice(self, spark, tmp_path):
        """Streaming a batch (read-only vs the seed) then DRAINING it via
        the standard increment leaves the index in exactly the state of
        a never-streamed double-increment run: the later increment's
        pairs are identical."""
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_build,
            neardup_index_increment,
        )
        from mini_data_platform_spark.streaming.neardup import (
            export_index_seed,
            near_dup_candidates_stream,
        )

        b1 = self._b1(spark)
        b2 = self._b2_rows(b1).select("doc_id", "text")
        t = F.split(F.trim(F.col("text")), " +")
        b3 = b1.where(F.col("doc_id") < 104).select(
            (F.col("doc_id") + 5000).alias("doc_id"),
            F.concat_ws(" ", F.slice(t, 2, F.size(t) - 1)).alias("text"),
        )

        def pairs(df):
            return {
                (r["id_a"], r["id_b"], round(r["jaccard"], 12))
                for r in df.collect()
            }

        # path A: stream b2 against the seed, then drain (= increment)
        idx_a = str(tmp_path / "idx_a")
        neardup_index_build(
            b1, idx_a, "doc_id", "text", 0.5, self.NH, self.BANDS, self.SHN
        )
        seed_dir = str(tmp_path / "seed_a")
        export_index_seed(spark, idx_a, seed_dir)
        src = str(tmp_path / "src_a")
        self._b2_rows(b1).write.parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, ts timestamp, text string"
        ).parquet(src)
        name = f"nddrain_{int(time.time() * 1000)}"
        run_available_now(
            near_dup_candidates_stream(
                stream, num_hashes=self.NH, bands=self.BANDS,
                shingle_n=self.SHN, seed_dir=seed_dir,
            ),
            str(tmp_path / "ckpt_a"), fmt="memory",
            query_name=name, timeout_sec=180,
        )
        assert spark.table(name).count() > 0
        a2 = pairs(neardup_index_increment(b2, idx_a))  # the drain
        a3 = pairs(neardup_index_increment(b3, idx_a))

        # path B: plain double increment, never streamed
        idx_b = str(tmp_path / "idx_b")
        neardup_index_build(
            b1, idx_b, "doc_id", "text", 0.5, self.NH, self.BANDS, self.SHN
        )
        b2p = pairs(neardup_index_increment(b2, idx_b))
        b3p = pairs(neardup_index_increment(b3, idx_b))
        assert a2 == b2p
        assert a3 == b3p


class TestStreamingViewMaintenance:
    """streaming/ivm.py: a view bootstrapped in batch stays current from
    a stream, exactly-once across checkpointed restarts."""

    MEASURES = {
        "revenue": ("sum", "amount"),
        "n": ("count", "*"),
        "hi": ("max", "amount"),
    }

    def _facts(self, spark, rows):
        return spark.createDataFrame(rows, "k string, amount double")

    def test_stream_equals_batch_aggregate(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            view_build,
            view_read,
        )
        from mini_data_platform_spark.streaming.ivm import (
            maintain_view_stream,
        )

        hist = [("a", 1.0), ("b", 2.0)]
        live1 = [("a", 3.5), ("c", 10.0)]
        live2 = [("b", 0.5), ("c", 1.0), ("a", -1.0)]

        view_dir = str(tmp_path / "view")
        view_build(self._facts(spark, hist), view_dir, ["k"], self.MEASURES)

        src = str(tmp_path / "facts")
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, live1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("k string, amount double").parquet(src)
        q = maintain_view_stream(stream, view_dir, ckpt, available_now=True)
        q.awaitTermination(180)

        got = {
            r["k"]: (r["revenue"], r["n"], r["hi"])
            for r in view_read(spark, view_dir).collect()
        }
        assert got == {
            "a": (4.5, 2, 3.5), "b": (2.0, 1, 2.0), "c": (10.0, 1, 10.0)
        }

        # restart from the checkpoint with MORE files: only the new
        # files apply (processed epochs are not re-applied — the
        # batch-id guard would also swallow them if they were)
        self._facts(spark, live2).write.mode("append").parquet(src)
        stream2 = spark.readStream.schema(
            "k string, amount double"
        ).parquet(src)
        q2 = maintain_view_stream(stream2, view_dir, ckpt, available_now=True)
        q2.awaitTermination(180)

        got2 = {
            r["k"]: (r["revenue"], r["n"], r["hi"])
            for r in view_read(spark, view_dir).collect()
        }
        assert got2 == {
            "a": (3.5, 3, 3.5), "b": (2.5, 2, 2.0), "c": (11.0, 2, 10.0)
        }

    def test_replayed_epoch_applies_once(self, spark, tmp_path):
        """Simulate Spark replaying a crashed micro-batch: the same
        epoch id delivered twice lands once (the foreachBatch
        at-least-once → exactly-once upgrade)."""
        from mini_data_platform_spark.operators.ivm import (
            view_build,
            view_read,
        )
        from mini_data_platform_spark.operators import ivm

        view_dir = str(tmp_path / "view")
        view_build(
            self._facts(spark, [("a", 1.0)]), view_dir, ["k"], self.MEASURES
        )
        batch = self._facts(spark, [("a", 2.0)])
        # what maintain_view_stream's process() does, twice with one id
        ivm.view_increment(batch, view_dir, batch_id="epoch-7")
        ivm.view_increment(batch, view_dir, batch_id="epoch-7")
        got = {r["k"]: r["n"] for r in view_read(spark, view_dir).collect()}
        assert got == {"a": 2}

    def test_fresh_checkpoint_gets_fresh_id_space(self, spark, tmp_path):
        """A NEW checkpoint dir restarts Spark's epoch counter at 0; its
        batches must land instead of colliding with the old checkpoint's
        epoch-0 commit (batch ids are keyed by checkpoint identity)."""
        from mini_data_platform_spark.operators.ivm import (
            view_build,
            view_read,
        )
        from mini_data_platform_spark.streaming.ivm import (
            maintain_view_stream,
        )

        view_dir = str(tmp_path / "view")
        view_build(
            self._facts(spark, [("a", 1.0)]), view_dir, ["k"], self.MEASURES
        )
        src1 = str(tmp_path / "s1")
        self._facts(spark, [("a", 2.0)]).write.parquet(src1)
        q = maintain_view_stream(
            spark.readStream.schema("k string, amount double").parquet(src1),
            view_dir, str(tmp_path / "ckpt1"), available_now=True,
        )
        q.awaitTermination(180)
        # second PIPELINE: different source, FRESH checkpoint — its
        # epoch 0 must not be swallowed
        src2 = str(tmp_path / "s2")
        self._facts(spark, [("a", 4.0)]).write.parquet(src2)
        q2 = maintain_view_stream(
            spark.readStream.schema("k string, amount double").parquet(src2),
            view_dir, str(tmp_path / "ckpt2"), available_now=True,
        )
        q2.awaitTermination(180)
        got = {r["k"]: r["n"] for r in view_read(spark, view_dir).collect()}
        assert got == {"a": 3}

    def test_cdc_change_stream(self, spark, tmp_path):
        """changes=True: a streamed upsert (delete-old/insert-new pair)
        retracts through view_apply_changes exactly once."""
        from mini_data_platform_spark.operators.ivm import (
            view_build,
            view_read,
        )
        from mini_data_platform_spark.streaming.ivm import (
            maintain_view_stream,
        )

        view_dir = str(tmp_path / "cdcview")
        view_build(
            self._facts(spark, [("a", 10.0), ("b", 3.0)]),
            view_dir, ["k"],
            {"revenue": ("sum", "amount"), "n": ("count", "*")},
        )
        src = str(tmp_path / "cdc")
        spark.createDataFrame(
            [("a", 10.0, -1), ("a", 12.5, 1), ("b", 3.0, -1)],
            "k string, amount double, _op int",
        ).write.parquet(src)
        q = maintain_view_stream(
            spark.readStream.schema(
                "k string, amount double, _op int"
            ).parquet(src),
            view_dir, str(tmp_path / "cdcckpt"),
            available_now=True, changes=True,
        )
        q.awaitTermination(180)
        got = {
            r["k"]: (r["revenue"], r["n"])
            for r in view_read(spark, view_dir).collect()
        }
        # a upserted to 12.5; b fully deleted -> vanished
        assert got == {"a": (12.5, 1)}


class TestStreamingHistogram:
    """streaming/ivm.maintain_histogram_stream: streaming p95 — a
    histogram view fed by a stream serves the same quantiles as the
    batch-built twin, and a CDC stream retracts."""

    def _facts(self, spark, rows):
        return spark.createDataFrame(rows, "k string, v double")

    def test_stream_equals_batch_histogram(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_build,
            quantile_view_read,
        )
        from mini_data_platform_spark.streaming.ivm import (
            maintain_histogram_stream,
        )

        hist = [("a", float(i)) for i in range(50)]
        live = [("a", float(i)) for i in range(50, 100)] + [("b", 7.0)]

        view_dir = str(tmp_path / "hview")
        histogram_view_build(
            self._facts(spark, hist), view_dir, ["k"], "v", width=10.0
        )
        src = str(tmp_path / "facts")
        ckpt = str(tmp_path / "ckpt")
        self._facts(spark, live).write.mode("append").parquet(src)
        stream = spark.readStream.schema("k string, v double").parquet(src)
        q = maintain_histogram_stream(
            stream, view_dir, ckpt, available_now=True
        )
        q.awaitTermination(180)

        twin = str(tmp_path / "twin")
        histogram_view_build(
            self._facts(spark, hist + live), twin, ["k"], "v", width=10.0
        )
        qs = {"p50": 0.5, "p95": 0.95}
        got = {
            r["k"]: (r["p50"], r["p95"])
            for r in quantile_view_read(spark, view_dir, qs).collect()
        }
        want = {
            r["k"]: (r["p50"], r["p95"])
            for r in quantile_view_read(spark, twin, qs).collect()
        }
        assert got == want  # bit-identical to the batch-built twin

    def test_cdc_stream_retracts(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_build,
            quantile_view_read,
        )
        from mini_data_platform_spark.streaming.ivm import (
            maintain_histogram_stream,
        )

        view_dir = str(tmp_path / "hview")
        histogram_view_build(
            self._facts(
                spark, [("a", float(i)) for i in range(100)]
            ),
            view_dir, ["k"], "v", width=10.0,
        )
        # CDC stream deletes the top half
        src = str(tmp_path / "chg")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [("a", float(i), -1) for i in range(50, 100)],
            "k string, v double, _op int",
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "k string, v double, _op int"
        ).parquet(src)
        q = maintain_histogram_stream(
            stream, view_dir, ckpt, available_now=True, changes=True
        )
        q.awaitTermination(180)
        r = quantile_view_read(
            spark, view_dir, {"p95": 0.95}
        ).collect()[0]
        assert r["p95"] <= 50.0

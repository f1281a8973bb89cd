"""Keyed merge table (operators/mergetable.py): latest-wins resolution
must equal a row-by-row replay exactly, applies must be atomic and
replay-safe, compaction must be a pure representation change, and the
change log must round-trip as a CDC feed."""

import os

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators import mergetable
from mini_data_platform_spark.operators.mergetable import (
    compact_table,
    table_apply,
    table_build,
    table_changes,
    table_read,
    vacuum_table,
)

SCHEMA = "k bigint, v string, amount double"


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _tagged(spark, rows):
    return spark.createDataFrame(rows, SCHEMA + ", _op string")


#: (op, key, (v, amount)) replay reference — dict semantics IS the spec
def _replay(batches):
    state = {}
    for batch in batches:
        for op, k, payload in batch:
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = payload
    return state


def _as_dict(df):
    return {r["k"]: (r["v"], r["amount"]) for r in df.collect()}


BASE = [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)]


def _standard_table(spark, d):
    """build + 3 batches exercising upsert/update/delete/reinsert."""
    table_build(_frame(spark, BASE), d, ["k"])
    table_apply(
        _tagged(spark, [(2, "B", 20.0, "u"), (5, "e", 5.0, "u"),
                        (3, None, None, "d")]), d)
    table_apply(
        _tagged(spark, [(3, "c2", 33.0, "u"), (1, None, None, "d")]), d)
    table_apply(_frame(spark, [(6, "f", 6.0), (4, "D", 40.0)]), d)
    return [
        [("u", k, (v, a)) for k, v, a in BASE],
        [("u", 2, ("B", 20.0)), ("u", 5, ("e", 5.0)), ("d", 3, None)],
        [("u", 3, ("c2", 33.0)), ("d", 1, None)],
        [("u", 6, ("f", 6.0)), ("u", 4, ("D", 40.0))],
    ]


class TestMergeSemantics:
    def test_resolution_equals_replay(self, spark, tmp_path):
        d = str(tmp_path / "t")
        batches = _standard_table(spark, d)
        assert _as_dict(table_read(spark, d)) == _replay(batches)

    def test_delete_then_reinsert_reappears(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, [(1, "a", 1.0)]), d, ["k"])
        table_apply(_tagged(spark, [(1, None, None, "d")]), d)
        assert table_read(spark, d).count() == 0
        table_apply(_frame(spark, [(1, "a2", 9.0)]), d)
        assert _as_dict(table_read(spark, d)) == {1: ("a2", 9.0)}

    def test_keys_only_delete_batch_conforms(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        dels = spark.createDataFrame([(2,), (4,)], "k bigint").withColumn(
            "_op", F.lit("d"))
        table_apply(dels, d)
        assert set(_as_dict(table_read(spark, d))) == {1, 3}

    def test_upsert_missing_columns_rejected(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        partial = spark.createDataFrame([(7, "x")], "k bigint, v string")
        with pytest.raises(ValueError, match="every table column"):
            table_apply(partial, d)

    def test_duplicate_keys_in_batch_rejected(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        with pytest.raises(ValueError, match="key-unique"):
            table_apply(_frame(spark, [(9, "x", 1.0), (9, "y", 2.0)]), d)

    def test_null_key_and_bad_op_rejected(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        with pytest.raises(ValueError, match="non-null keys"):
            table_apply(_frame(spark, [(None, "x", 1.0)]), d)
        with pytest.raises(ValueError, match="_op"):
            table_apply(_tagged(spark, [(9, "x", 1.0, "z")]), d)

    def test_null_op_rejected(self, spark, tmp_path):
        # a NULL _op would pass a null-unsafe isin() check and then be
        # dropped by every _op != 'd' serve filter — a silent tombstone
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        tagged = _frame(spark, [(9, "x", 1.0)]).withColumn(
            "_op", F.when(F.lit(False), "u"))  # NULL op
        with pytest.raises(ValueError, match="_op"):
            table_apply(tagged, d)

    def test_missing_key_column_is_a_clean_error(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        keyless = spark.createDataFrame(
            [("x", 1.0)], "v string, amount double")
        with pytest.raises(ValueError, match="missing key columns"):
            table_apply(keyless, d)

    def test_validate_false_skips_the_check(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(
            _frame(spark, [(9, "x", 1.0), (9, "y", 2.0)]), d,
            validate=False)  # caller owns the uniqueness contract now

    def test_build_guards(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        with pytest.raises(ValueError, match="already exists"):
            table_build(_frame(spark, BASE), d, ["k"])
        with pytest.raises(ValueError, match="reserved"):
            table_build(
                _frame(spark, BASE).withColumn("_seq", F.lit(1)),
                str(tmp_path / "t2"), ["k"])
        with pytest.raises(ValueError, match="not in frame"):
            table_build(_frame(spark, BASE), str(tmp_path / "t3"), ["nope"])

    def test_composite_keys(self, spark, tmp_path):
        d = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "x", 10.0), (1, "y", 20.0), (2, "x", 30.0)],
            "a bigint, b string, amount double")
        table_build(df, d, ["a", "b"])
        table_apply(
            spark.createDataFrame(
                [(1, "y", 99.0, "u"), (2, "x", None, "d")],
                "a bigint, b string, amount double, _op string"), d)
        got = {(r["a"], r["b"]): r["amount"]
               for r in table_read(spark, d).collect()}
        assert got == {(1, "x"): 10.0, (1, "y"): 99.0}


class TestBulkApply:
    """r15 table_apply_many: the concurrent bulk load must be
    state-identical to sequential applies."""

    def _batches(self, spark):
        return [
            _tagged(spark, [(2, "B", 20.0, "u"), (5, "e", 5.0, "u"),
                            (3, None, None, "d")]),
            _tagged(spark, [(3, "c2", 33.0, "u"), (1, None, None, "d")]),
            _frame(spark, [(6, "f", 6.0), (4, "D", 40.0)]).withColumn(
                "_op", F.lit("u")),
        ]

    def test_equals_sequential_applies(self, spark, tmp_path):
        seq_dir, bulk_dir = str(tmp_path / "seq"), str(tmp_path / "bulk")
        for d in (seq_dir, bulk_dir):
            table_build(_frame(spark, BASE), d, ["k"])
        for b in self._batches(spark):
            table_apply(b, seq_dir)
        meta = mergetable.table_apply_many(self._batches(spark), bulk_dir)
        assert meta["n_batches"] == 4
        assert _as_dict(table_read(spark, bulk_dir)) == _as_dict(
            table_read(spark, seq_dir)
        )
        # per-batch _seq values and as-of prefixes line up too
        for as_of in (2, 3, 4):
            assert _as_dict(
                table_read(spark, bulk_dir, as_of=as_of)
            ) == _as_dict(table_read(spark, seq_dir, as_of=as_of))

    def test_validation_still_fuses_per_batch(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        bad = [_tagged(spark, [(9, "x", 9.0, "u"), (9, "y", 9.9, "u")])]
        with pytest.raises(ValueError, match="key-unique"):
            mergetable.table_apply_many(bad, d)
        # nothing committed, no orphan segments served
        assert mergetable._recover_meta(d)["n_batches"] == 1

    def test_replay_and_empty(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        mergetable.table_apply_many(
            self._batches(spark)[:1], d, batch_ids=["w1"]
        )
        with pytest.raises(ValueError, match="already committed"):
            mergetable.table_apply_many(
                self._batches(spark)[:1], d, batch_ids=["w1"]
            )
        assert mergetable.table_apply_many([], d)["n_batches"] == 2


class TestCommitSemantics:
    def test_replayed_batch_id_is_noop(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        b = _frame(spark, [(5, "e", 5.0)])
        m1 = table_apply(b, d, batch_id="day-1")
        m2 = table_apply(b, d, batch_id="day-1")
        assert m1["n_batches"] == m2["n_batches"] == 2
        assert _as_dict(table_read(spark, d))[5] == ("e", 5.0)

    def test_crash_before_ticket_then_retry(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash between the segment write and the commit ticket: the
        segment is an invisible orphan, nothing committed, a plain
        retry lands the batch exactly once."""
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        before = _as_dict(table_read(spark, d))

        def crashing(*a, **kw):
            raise RuntimeError("crash between segment write and ticket")

        monkeypatch.setattr(occlog, "try_ticket", crashing)
        with pytest.raises(RuntimeError):
            table_apply(_frame(spark, [(5, "e", 5.0)]), d, batch_id="b1")
        monkeypatch.undo()
        # orphan segment dir exists but is invisible to readers
        segs = os.listdir(os.path.join(d, "rows"))
        assert any(s.startswith("seg-1") for s in segs)
        assert _as_dict(table_read(spark, d)) == before
        swept = vacuum_table(d)
        assert any("seg-1" in p for p in swept)
        # the retry lands the batch exactly once
        table_apply(_frame(spark, [(5, "e", 5.0)]), d, batch_id="b1")
        after = _as_dict(table_read(spark, d))
        assert after[5] == ("e", 5.0) and len(after) == 5

    def test_crash_after_ticket_is_committed(
        self, spark, tmp_path, monkeypatch
    ):
        """Crash between the ticket and the checkpoint write: the
        commit is DURABLE (the ticket is the log) — the next reader
        rolls it forward, and a retried apply with the same batch_id
        no-ops instead of double-applying."""
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])

        def crashing(*a, **kw):
            raise RuntimeError("crash between ticket and checkpoint")

        monkeypatch.setattr(occlog, "checkpoint", crashing)
        with pytest.raises(RuntimeError):
            table_apply(_frame(spark, [(5, "e", 5.0)]), d, batch_id="b1")
        monkeypatch.undo()
        # the ticket exists; recovery serves the batch
        after = _as_dict(table_read(spark, d))
        assert after[5] == ("e", 5.0) and len(after) == 5
        meta = table_apply(
            _frame(spark, [(5, "SHOULD-NOT-LAND", 99.0)]), d,
            batch_id="b1",
        )
        assert meta["n_batches"] == 2  # replay no-op
        assert _as_dict(table_read(spark, d))[5] == ("e", 5.0)


class TestTimeTravel:
    def test_as_of_equals_stopped_early_twin(self, spark, tmp_path):
        d = str(tmp_path / "full")
        batches = _standard_table(spark, d)
        for k in range(1, 5):
            twin = str(tmp_path / f"twin{k}")
            table_build(_frame(spark, BASE), twin, ["k"])
            # replay the same change batches up to batch k on the twin
            spec = [
                _tagged(spark, [(2, "B", 20.0, "u"), (5, "e", 5.0, "u"),
                                (3, None, None, "d")]),
                _tagged(spark, [(3, "c2", 33.0, "u"), (1, None, None, "d")]),
                _frame(spark, [(6, "f", 6.0), (4, "D", 40.0)]),
            ]
            for b in spec[: k - 1]:
                table_apply(b, twin)
            assert _as_dict(table_read(spark, d, as_of=k)) == _as_dict(
                table_read(spark, twin)
            ) == _replay(batches[:k])

    def test_as_of_bounds(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        with pytest.raises(ValueError, match="as_of"):
            table_read(spark, d, as_of=0)
        with pytest.raises(ValueError, match="as_of"):
            table_read(spark, d, as_of=5)


class TestChanges:
    def test_changes_are_the_exact_batch_suffix(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        for since in range(5):
            got = table_changes(spark, d, since=since)
            seqs = {r["_seq"] for r in got.select("_seq").collect()}
            assert seqs == set(range(since, 4)), since
        assert table_changes(spark, d, since=4).count() == 0

    def test_changes_with_as_of_window(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        got = table_changes(spark, d, since=1, as_of=3)
        assert {r["_seq"] for r in got.collect()} == {1, 2}

    def test_changes_carry_ops(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        ops = {
            (r["k"], r["_op"])
            for r in table_changes(spark, d, since=1, as_of=2).collect()
        }
        assert ops == {(2, "u"), (5, "u"), (3, "d")}

    def test_compaction_is_the_changes_boundary(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        compact_table(spark, d)
        with pytest.raises(ValueError, match="compacted away"):
            table_changes(spark, d, since=1)
        # from the boundary on: served from post-compaction appends only
        assert table_changes(spark, d, since=4).count() == 0
        table_apply(_frame(spark, [(7, "g", 7.0)]), d)
        assert {r["_seq"] for r in
                table_changes(spark, d, since=4).collect()} == {4}


class TestCompaction:
    def test_compact_preserves_state_and_drops_tombstones(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        before = _as_dict(table_read(spark, d))
        meta = compact_table(spark, d)
        assert meta["segments"]["rows"] == ["compact-4"]
        assert meta["compacted_through"] == 4
        assert _as_dict(table_read(spark, d)) == before
        # tombstones are physically gone from the compacted log
        raw = spark.read.parquet(os.path.join(d, "rows", "compact-4"))
        assert raw.where(F.col("_op") == "d").count() == 0
        with pytest.raises(ValueError, match="compacted"):
            table_read(spark, d, as_of=2)

    def test_apply_after_compact_continues(self, spark, tmp_path):
        d = str(tmp_path / "t")
        batches = _standard_table(spark, d)
        compact_table(spark, d)
        table_apply(
            _tagged(spark, [(6, None, None, "d"), (8, "h", 8.0, "u")]), d)
        expect = _replay(batches + [[("d", 6, None), ("u", 8, ("h", 8.0))]])
        assert _as_dict(table_read(spark, d)) == expect
        # as-of across the boundary: compacted state + the new batch
        assert _as_dict(table_read(spark, d, as_of=4)) == _replay(batches)

    def test_double_compact_is_noop(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        m1 = compact_table(spark, d)
        m2 = compact_table(spark, d)
        assert m1["segments"] == m2["segments"]

    def test_non_mergetable_dir_rejected(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import view_build

        d = str(tmp_path / "view")
        view_build(
            _frame(spark, BASE), d, ["k"], {"n": ("count", "*")})
        for fn in (
            lambda: table_read(spark, d),
            lambda: table_apply(_frame(spark, BASE), d),
            lambda: table_changes(spark, d),
            lambda: compact_table(spark, d),
        ):
            with pytest.raises(ValueError, match="not a merge table"):
                fn()


class TestMergeInto:
    def _table(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        return d

    def test_partial_update_keeps_other_columns(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, 99.0), (3, 77.0)], "k bigint, amount double")
        table_merge_into(
            spark, src, d,
            when_matched_update=["amount"],
            when_not_matched_insert=False,
        )
        got = _as_dict(table_read(spark, d))
        # v untouched, amount updated
        assert got[2] == ("b", 99.0) and got[3] == ("c", 77.0)
        assert got[1] == ("a", 1.0) and got[4] == ("d", 4.0)

    def test_insert_unmatched_and_full_replace(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = _frame(spark, [(2, "B", 20.0), (9, "new", 9.0)])
        table_merge_into(spark, src, d)
        got = _as_dict(table_read(spark, d))
        assert got[2] == ("B", 20.0) and got[9] == ("new", 9.0)

    def test_update_only_drops_unmatched(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, 50.0), (42, 1.0)], "k bigint, amount double")
        table_merge_into(
            spark, src, d,
            when_matched_update=["amount"],
            when_not_matched_insert=False,
        )
        got = _as_dict(table_read(spark, d))
        assert got[2] == ("b", 50.0) and 42 not in got

    def test_matched_delete_condition(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        # retire matched rows whose CURRENT amount is under the
        # source's floor; update the rest
        src = spark.createDataFrame(
            [(1, 2.5), (3, 2.5), (8, 2.5)], "k bigint, floor double")
        with_floor = src.withColumnRenamed("floor", "amount")
        table_merge_into(
            spark, with_floor, d,
            when_matched_update=["amount"],
            when_not_matched_insert=False,
            when_matched_delete="cur_amount < amount",
        )
        got = _as_dict(table_read(spark, d))
        # k=1 (cur 1.0 < 2.5) deleted; k=3 (cur 3.0 >= 2.5) updated
        assert 1 not in got and got[3] == ("c", 2.5) and 8 not in got

    def test_partial_source_with_insert_rejected(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = spark.createDataFrame([(2, 1.0)], "k bigint, amount double")
        with pytest.raises(ValueError, match="missing columns"):
            table_merge_into(
                spark, src, d, when_matched_update=["amount"])

    def test_extra_source_columns_rejected(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, "B", 20.0, "oops")], SCHEMA + ", extra string")
        with pytest.raises(ValueError, match="not in the table schema"):
            table_merge_into(spark, src, d)

    def test_replay_and_tagged_source_rejected(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = self._table(spark, tmp_path)
        src = _frame(spark, [(9, "x", 1.0)])
        m1 = table_merge_into(spark, src, d, batch_id="m1")
        m2 = table_merge_into(spark, src, d, batch_id="m1")
        assert m1["n_batches"] == m2["n_batches"] == 2
        with pytest.raises(ValueError, match="untagged"):
            table_merge_into(
                spark, src.withColumn("_op", F.lit("u")), d)


class TestSchemaEvolution:
    def test_extra_columns_rejected_without_evolve(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        widened = spark.createDataFrame(
            [(5, "e", 5.0, "x")], SCHEMA + ", extra string")
        with pytest.raises(ValueError, match="evolve=True"):
            table_apply(widened, d)

    def test_evolve_adds_column_old_rows_serve_null(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        widened = spark.createDataFrame(
            [(5, "e", 5.0, "tagged"), (2, "B", 20.0, "upd")],
            SCHEMA + ", tag string")
        table_apply(widened, d, evolve=True)
        got = {r["k"]: r["tag"] for r in table_read(spark, d).collect()}
        assert got == {1: None, 2: "upd", 3: None, 4: None, 5: "tagged"}
        # post-evolution upserts must carry the full (wider) schema
        with pytest.raises(ValueError, match="every table column"):
            table_apply(_frame(spark, [(6, "f", 6.0)]), d)

    def test_type_change_always_refused(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        bad = spark.createDataFrame(
            [(5, "e", 5)], "k bigint, v string, amount bigint")
        with pytest.raises(ValueError, match="type mismatch"):
            table_apply(bad, d, evolve=True)

    def test_keys_only_delete_after_evolution(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(
            spark.createDataFrame(
                [(5, "e", 5.0, 7)], SCHEMA + ", rank bigint"),
            d, evolve=True)
        dels = spark.createDataFrame([(5,)], "k bigint").withColumn(
            "_op", F.lit("d"))
        table_apply(dels, d)
        assert 5 not in _as_dict(table_read(spark, d))

    def test_lookup_and_zset_across_evolution(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_changes_zset,
            table_lookup,
        )

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(
            spark.createDataFrame(
                [(2, "B", 20.0, "w")], SCHEMA + ", tag string"),
            d, evolve=True)
        probes = spark.createDataFrame([(1,), (2,)], "k bigint")
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in table_lookup(spark, d, probes).collect()
        }
        assert got == {1: ("a", None), 2: ("B", "w")}
        z = {
            (r["k"], r["_op"]): r["tag"]
            for r in table_changes_zset(spark, d, since=1).collect()
        }
        assert z == {(2, -1): None, (2, 1): "w"}

    def test_as_of_serves_the_historical_schema(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(
            spark.createDataFrame(
                [(5, "e", 5.0, "w")], SCHEMA + ", tag string"),
            d, evolve=True)
        # before the evolution the column did not exist: the as-of read
        # must not show it, even null-filled (the Delta/Iceberg shape)
        old = table_read(spark, d, as_of=1)
        assert "tag" not in old.columns
        assert "tag" in table_read(spark, d).columns
        probes = spark.createDataFrame([(1,)], "k bigint")
        assert "tag" not in table_lookup(spark, d, probes, as_of=1).columns

    def test_compaction_consolidates_the_schema(self, spark, tmp_path):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(
            spark.createDataFrame(
                [(5, "e", 5.0, 1.5)], SCHEMA + ", score double"),
            d, evolve=True)
        before = {
            r["k"]: r["score"] for r in table_read(spark, d).collect()
        }
        meta = compact_table(spark, d)
        assert "evolved" not in meta
        after_df = table_read(spark, d)
        assert "score" in after_df.columns
        assert {r["k"]: r["score"] for r in after_df.collect()} == before


class TestLookup:
    def test_lookup_equals_filtered_read(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        probes = spark.createDataFrame(
            [(2,), (3,), (1,), (99,)], "k bigint")
        got = _as_dict(table_lookup(spark, d, probes))
        full = _as_dict(table_read(spark, d))
        # 1 was deleted, 99 never existed: both absent
        assert got == {k: full[k] for k in (2, 3)}

    def test_lookup_rejects_non_key_probes(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        with pytest.raises(ValueError, match="exactly the key columns"):
            table_lookup(spark, d, _frame(spark, [(1, "a", 1.0)]))

    def test_lookup_as_of(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        probes = spark.createDataFrame([(3,)], "k bigint")
        # k=3 deleted in batch 2, reinserted in batch 3
        assert _as_dict(table_lookup(spark, d, probes, as_of=2)) == {}
        assert _as_dict(table_lookup(spark, d, probes, as_of=3)) == {
            3: ("c2", 33.0)}


class TestResolvedFastPath:
    def test_compacted_read_skips_the_resolve(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        before = _as_dict(table_read(spark, d))
        compact_table(spark, d)
        df = table_read(spark, d)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # scan-speed: no resolve aggregate
        assert _as_dict(df) == before
        # a post-compaction apply reopens the merge-on-read path
        table_apply(_frame(spark, [(9, "i", 9.0)]), d)
        plan2 = table_read(spark, d)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" in plan2
        assert _as_dict(table_read(spark, d))[9] == ("i", 9.0)

    def test_compacted_lookup_skips_the_resolve(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        compact_table(spark, d)
        probes = spark.createDataFrame([(2,), (1,)], "k bigint")
        df = table_lookup(spark, d, probes)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "max_by" not in plan
        assert _as_dict(df) == {2: ("B", 20.0)}


class TestClusteredLookup:
    def test_pushdown_reaches_the_scan_and_stays_exact(
        self, spark, tmp_path
    ):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        compact_table(spark, d, order_by=["k"])
        probes = spark.createDataFrame([(2,), (4,), (99,)], "k bigint")
        lk = table_lookup(spark, d, probes)
        plan = lk._jdf.queryExecution().executedPlan().toString()
        assert "In(k, [" in plan  # literal filter at the scan
        # distinct() makes literal order nondeterministic; check the set
        import re

        lits = re.search(r"In\(k, \[([-0-9,]+)\]", plan).group(1)
        assert sorted(map(int, lits.split(","))) == [2, 4, 99]
        assert _as_dict(lk) == {2: ("B", 20.0), 4: ("D", 40.0)}

    def test_pushdown_threshold_zero_disables(
        self, spark, tmp_path, monkeypatch
    ):
        from mini_data_platform_spark.operators.mergetable import (
            table_lookup,
        )

        monkeypatch.setattr(mergetable, "LOOKUP_PUSHDOWN_MAX_KEYS", 0)
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        probes = spark.createDataFrame([(2,), (4,)], "k bigint")
        lk = table_lookup(spark, d, probes)
        plan = lk._jdf.queryExecution().executedPlan().toString()
        assert "In(k," not in plan
        assert _as_dict(lk) == {2: ("B", 20.0), 4: ("D", 40.0)}

    def test_clustered_compaction_preserves_state(self, spark, tmp_path):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        before = _as_dict(table_read(spark, d))
        compact_table(spark, d, order_by=["k"])
        assert _as_dict(table_read(spark, d)) == before


class TestZsetChanges:
    def test_since_zero_is_the_full_state_as_inserts(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_changes_zset,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        z = table_changes_zset(spark, d, since=0).collect()
        assert all(r["_op"] == 1 for r in z)
        assert {r["k"]: (r["v"], r["amount"]) for r in z} == _as_dict(
            table_read(spark, d))

    def test_update_emits_preimage_and_postimage(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_changes_zset,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        # batch 2 updates k=2 (b,2.0)->(B,20.0), inserts k=5, deletes k=3
        z = {
            (r["k"], r["_op"]): (r["v"], r["amount"])
            for r in table_changes_zset(spark, d, since=1, as_of=2).collect()
        }
        assert z == {
            (2, -1): ("b", 2.0), (2, 1): ("B", 20.0),
            (5, 1): ("e", 5.0),
            (3, -1): ("c", 3.0),
        }

    def test_view_maintained_from_zset_equals_recompute(
        self, spark, tmp_path
    ):
        """The table→view chain contract: a sum/count view fed ONLY by
        the Z-set change feed equals the aggregate over the table's
        final state — updates and deletes retract exactly."""
        from mini_data_platform_spark.operators.ivm import (
            view_apply_changes,
            view_build,
            view_read,
        )
        from mini_data_platform_spark.operators.mergetable import (
            table_changes_zset,
        )
        from mini_data_platform_spark.operators.resources import (
            release_plan,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        vdir = str(tmp_path / "view")
        view_build(
            table_read(spark, d, as_of=1).withColumn(
                "g", F.substring("v", 1, 1)),
            vdir, ["g"],
            {"total": ("sum", "amount"), "n": ("count", "*")},
        )
        for b in range(1, 4):
            z = table_changes_zset(spark, d, since=b, as_of=b + 1)
            view_apply_changes(z.withColumn("g", F.substring("v", 1, 1)), vdir)
            release_plan(z)
        got = {
            r["g"]: (r["total"], r["n"])
            for r in view_read(spark, vdir).collect()
        }
        want = {}
        for r in table_read(spark, d).withColumn(
            "g", F.substring("v", 1, 1)
        ).collect():
            t, n = want.get(r["g"], (0.0, 0))
            want[r["g"]] = (t + r["amount"], n + 1)
        assert got == want

    def test_zset_respects_compaction_boundary(self, spark, tmp_path):
        from mini_data_platform_spark.operators.mergetable import (
            table_changes_zset,
        )

        d = str(tmp_path / "t")
        _standard_table(spark, d)
        compact_table(spark, d)
        with pytest.raises(ValueError, match="compacted away"):
            table_changes_zset(spark, d, since=1)


class TestPlanShape:
    def test_read_is_one_aggregate_no_window_no_python(
        self, spark, tmp_path
    ):
        d = str(tmp_path / "t")
        _standard_table(spark, d)
        plan = table_read(spark, d)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan  # max_by aggregate, never a sort
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
        assert plan.count("Exchange") == 1  # the one key shuffle


class TestOptimisticConcurrency:
    """Multi-writer commits (the OCC ticket protocol): concurrent
    appliers must never drop a commit — the single-writer caveat the
    other commit-log stores still carry is closed here."""

    def test_concurrent_appliers_no_lost_update(self, spark, tmp_path):
        import threading

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        errs = []

        def apply(rows, bid):
            try:
                table_apply(_frame(spark, rows), d, batch_id=bid)
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [
            threading.Thread(
                target=apply, args=([(10 + i, f"w{i}", float(i))], f"w{i}")
            )
            for i in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        meta = mergetable._recover_meta(d)
        assert meta["n_batches"] == 5  # build + all four, none lost
        assert {f"w{i}" for i in range(4)} <= set(meta["batches"])
        state = _as_dict(table_read(spark, d))
        for i in range(4):
            assert state[10 + i] == (f"w{i}", float(i))

    def test_concurrent_callerless_appliers_no_lost_update(
        self, spark, tmp_path
    ):
        """21a02db regression: ``batch_id=None`` appliers get
        collision-free uuid-suffixed bids — before the fix both racers
        derived ``batch-{n_batches}`` and the loser's replay check
        aliased the winner's commit, silently dropping its batch."""
        import threading

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        errs = []

        def apply(rows):
            try:
                table_apply(_frame(spark, rows), d)  # no batch_id
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [
            threading.Thread(
                target=apply, args=([(10 + i, f"w{i}", float(i))],)
            )
            for i in range(3)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        meta = mergetable._recover_meta(d)
        assert meta["n_batches"] == 4  # build + all three, none aliased
        state = _as_dict(table_read(spark, d))
        for i in range(3):
            assert state[10 + i] == (f"w{i}", float(i))
        # caller-supplied replay protection is UNCHANGED: same id twice
        table_apply(_frame(spark, [(20, "x", 1.0)]), d, batch_id="same")
        table_apply(_frame(spark, [(21, "y", 2.0)]), d, batch_id="same")
        state = _as_dict(table_read(spark, d))
        assert state[20] == ("x", 1.0) and 21 not in state

    def test_callerless_merge_into_generates_unique_bids(
        self, spark, tmp_path
    ):
        """table_merge_into with no batch_id must not replay-skip a
        second caller-less merge at the same version epoch (it delegates
        bid generation to table_apply now)."""
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        src = _frame(spark, [(7, "g", 7.0)])
        table_merge_into(spark, src, d)
        src2 = _frame(spark, [(8, "h", 8.0)])
        table_merge_into(spark, src2, d)
        state = _as_dict(table_read(spark, d))
        assert state[7] == ("g", 7.0) and state[8] == ("h", 8.0)

    def test_stale_checkpoint_recovers_foreign_ticket(
        self, spark, tmp_path
    ):
        """A writer whose checkpoint write never landed (crash after
        ticket) must not cost the NEXT writer anything: recovery folds
        the ticket, the next apply commits on top of it."""
        import json
        import shutil

        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        mpath = os.path.join(d, "meta.json")
        stale = open(mpath, encoding="utf-8").read()
        table_apply(_frame(spark, [(5, "e", 5.0)]), d, batch_id="b1")
        # simulate the b1 writer's checkpoint never landing
        with open(mpath, "w", encoding="utf-8") as f:
            f.write(stale)
        table_apply(_frame(spark, [(6, "f", 6.0)]), d, batch_id="b2")
        state = _as_dict(table_read(spark, d))
        assert state[5] == ("e", 5.0) and state[6] == ("f", 6.0)
        meta = json.load(open(mpath, encoding="utf-8"))
        assert meta["n_batches"] == 3 and meta["version"] == 3

    def test_lost_race_retries_and_lands(self, spark, tmp_path, monkeypatch):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        real = occlog.try_ticket
        calls = {"n": 0}

        def flaky(table_dir, version, record):
            if calls["n"] < 2:
                calls["n"] += 1
                return False  # simulated lost race
            return real(table_dir, version, record)

        monkeypatch.setattr(occlog, "try_ticket", flaky)
        table_apply(_frame(spark, [(5, "e", 5.0)]), d, batch_id="b1")
        monkeypatch.undo()
        assert calls["n"] == 2
        state = _as_dict(table_read(spark, d))
        assert state[5] == ("e", 5.0) and len(state) == 5

    def test_compaction_loses_to_concurrent_apply(
        self, spark, tmp_path, monkeypatch
    ):
        d = str(tmp_path / "t")
        table_build(_frame(spark, BASE), d, ["k"])
        table_apply(_frame(spark, [(5, "e", 5.0)]), d)
        real = occlog.try_ticket

        def lose_once(table_dir, version, record):
            if record["type"] == "compact":
                monkeypatch.undo()
                return False
            return real(table_dir, version, record)

        monkeypatch.setattr(occlog, "try_ticket", lose_once)
        before = _as_dict(table_read(spark, d))
        with pytest.raises(RuntimeError, match="during compaction"):
            compact_table(spark, d)
        # nothing stomped; a re-run compacts cleanly
        assert _as_dict(table_read(spark, d)) == before
        compact_table(spark, d)
        assert _as_dict(table_read(spark, d)) == before
        segs = mergetable._recover_meta(d)["segments"]["rows"]
        assert len(segs) == 1 and segs[0].startswith("compact-")

    def test_merge_into_rederives_on_concurrent_commit(
        self, spark, tmp_path, monkeypatch
    ):
        """A foreign commit landing between MERGE INTO's snapshot
        lookup and its apply must NOT be stomped by the stale
        derivation: the version check refuses, the merge re-derives,
        and the final row carries BOTH writers' effects."""
        from mini_data_platform_spark.operators.mergetable import (
            table_merge_into,
        )

        d = str(tmp_path / "t")
        table_build(_frame(spark, [(1, "a", 1.0)]), d, ["k"])
        real_lookup = mergetable.table_lookup
        fired = {"n": 0}

        def sneaky(spark_, table_dir, probes, as_of=None):
            out = real_lookup(spark_, table_dir, probes, as_of)
            if fired["n"] == 0:
                fired["n"] += 1
                table_apply(
                    _frame(spark_, [(1, "FOREIGN", 1.0)]), table_dir,
                    batch_id="foreign",
                )
            return out

        monkeypatch.setattr(mergetable, "table_lookup", sneaky)
        src = spark.createDataFrame([(1, 50.0)], "k bigint, amount double")
        table_merge_into(
            spark, src, d, when_matched_update=["amount"],
            when_not_matched_insert=False, batch_id="m1",
        )
        # stale derivation would have resurrected v='a'
        assert _as_dict(table_read(spark, d))[1] == ("FOREIGN", 50.0)
        assert fired["n"] == 1

"""Incremental view maintenance (operators/ivm.py): batched maintenance
must equal the from-scratch aggregate exactly, increments must be
atomic and replay-safe, compaction must be a pure representation
change."""

import os

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators.ivm import (
    compact_view,
    view_apply_changes,
    view_build,
    view_increment,
    view_read,
)

MEASURES = {
    "revenue": ("sum", "amount"),
    "n": ("count", "*"),
    "n_amounts": ("count", "amount"),
    "lo": ("min", "amount"),
    "hi": ("max", "amount"),
}


def _facts(spark, rows):
    return spark.createDataFrame(
        rows, "k string, amount double"
    )


_ROWS = [
    ("a", 10.25), ("a", 1.50), ("b", 3.75), ("b", None),
    ("c", 100.00), ("a", -2.25), ("b", 0.50), ("c", 7.00),
]


def _expected(rows):
    out = {}
    for k, a in rows:
        s = out.setdefault(k, {"revenue": 0.0, "n": 0, "n_amounts": 0,
                               "lo": None, "hi": None})
        s["n"] += 1
        if a is not None:
            s["revenue"] += a
            s["n_amounts"] += 1
            s["lo"] = a if s["lo"] is None else min(s["lo"], a)
            s["hi"] = a if s["hi"] is None else max(s["hi"], a)
    return out


def _as_dict(df):
    return {
        r["k"]: {c: r[c] for c in ("revenue", "n", "n_amounts", "lo", "hi")}
        for r in df.collect()
    }


class TestMaintenanceEquivalence:
    @pytest.mark.parametrize("mode", ["delta", "snapshot"])
    def test_batched_equals_recompute(self, spark, tmpdir, mode):
        d = str(tmpdir.join(mode))
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES, mode=mode)
        view_increment(_facts(spark, _ROWS[3:6]), d)
        view_increment(_facts(spark, _ROWS[6:]), d)
        got = _as_dict(view_read(spark, d))
        want = _expected(_ROWS)
        assert set(got) == set(want)
        for k in want:
            assert got[k]["n"] == want[k]["n"]
            assert got[k]["n_amounts"] == want[k]["n_amounts"]
            assert got[k]["lo"] == want[k]["lo"]
            assert got[k]["hi"] == want[k]["hi"]
            assert got[k]["revenue"] == pytest.approx(want[k]["revenue"], abs=1e-9)

    def test_batching_invariance(self, spark, tmpdir):
        """Any segmentation of the same facts merges to IDENTICAL bytes
        (decimal sum states are associative) — one batch vs row-by-row."""
        d1, d2 = str(tmpdir.join("one")), str(tmpdir.join("many"))
        view_build(_facts(spark, _ROWS), d1, ["k"], MEASURES)
        view_build(_facts(spark, _ROWS[:1]), d2, ["k"], MEASURES)
        for i in range(1, len(_ROWS)):
            view_increment(_facts(spark, _ROWS[i:i + 1]), d2)
        a = sorted(view_read(spark, d1).collect())
        b = sorted(view_read(spark, d2).collect())
        assert a == b

    def test_new_keys_appear_via_increment(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"], MEASURES)
        view_increment(_facts(spark, [("z", 5.0)]), d)
        got = _as_dict(view_read(spark, d))
        assert got["z"]["revenue"] == 5.0 and got["z"]["n"] == 1


class TestCommitSemantics:
    def test_replayed_batch_id_is_noop(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES)
        view_increment(_facts(spark, _ROWS[4:]), d, batch_id="day-2")
        before = sorted(view_read(spark, d).collect())
        # an at-least-once orchestrator redelivers the same batch
        view_increment(_facts(spark, _ROWS[4:]), d, batch_id="day-2")
        assert sorted(view_read(spark, d).collect()) == before

    def test_crash_before_meta_swap_serves_old_view(
        self, spark, tmpdir, monkeypatch
    ):
        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES)
        before = sorted(view_read(spark, d).collect())

        real = occlog.try_ticket

        def crashing(view_dir, version, record):
            raise RuntimeError("injected crash before commit")

        # the OCC ticket is the commit point (round 9): crash there
        monkeypatch.setattr(occlog, "try_ticket", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            view_increment(_facts(spark, _ROWS[4:]), d)
        monkeypatch.setattr(occlog, "try_ticket", real)

        # orphan segment invisible: the view serves its old state
        assert sorted(view_read(spark, d).collect()) == before
        # plain retry lands the batch exactly once
        view_increment(_facts(spark, _ROWS[4:]), d)
        want = _expected(_ROWS)
        got = _as_dict(view_read(spark, d))
        assert {k: v["n"] for k, v in got.items()} == {
            k: v["n"] for k, v in want.items()
        }

    def test_build_refuses_existing(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:2]), d, ["k"], MEASURES)
        with pytest.raises(ValueError, match="already exists"):
            view_build(_facts(spark, _ROWS), d, ["k"], MEASURES)

    def test_bad_kind_and_mode_rejected(self, spark, tmpdir):
        with pytest.raises(ValueError, match="unknown mode"):
            view_build(_facts(spark, _ROWS), str(tmpdir.join("m")),
                       ["k"], MEASURES, mode="merge")
        with pytest.raises(ValueError, match="unsupported measure kind"):
            view_build(_facts(spark, _ROWS), str(tmpdir.join("x")),
                       ["k"], {"m": ("median", "amount")})


class TestCompaction:
    def test_compact_preserves_view(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES)
        view_increment(_facts(spark, _ROWS[3:6]), d)
        view_increment(_facts(spark, _ROWS[6:]), d)
        before = sorted(view_read(spark, d).collect())
        meta = compact_view(spark, d)
        (cseg,) = meta["segments"]["agg"]
        assert cseg.startswith("compact-3")  # OCC-era writer-unique name
        assert sorted(view_read(spark, d).collect()) == before
        # superseded segment dirs are gone
        assert sorted(os.listdir(os.path.join(d, "agg"))) == [cseg]
        # the log keeps accepting increments after compaction
        view_increment(_facts(spark, [("a", 1.0)]), d)
        got = _as_dict(view_read(spark, d))
        assert got["a"]["n"] == _expected(_ROWS)["a"]["n"] + 1


class TestPlanShape:
    def test_delta_increment_never_reads_view(self, spark, tmpdir, monkeypatch):
        """Delta-mode increments are O(delta): the plan must not touch
        the existing segments (merge-on-read pays that at serve time)."""
        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES)

        def boom(*a, **kw):
            raise AssertionError("delta increment read the view")

        monkeypatch.setattr(ivm, "_read_segments", boom)
        view_increment(_facts(spark, _ROWS[4:]), d)  # must not raise

    def test_no_python_boundary(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS), d, ["k"], MEASURES)
        plan = (
            view_read(spark, d)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "EvalPython" not in plan


class TestTimeTravel:
    def test_as_of_serves_historical_states(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES)
        view_increment(_facts(spark, _ROWS[3:6]), d)
        view_increment(_facts(spark, _ROWS[6:]), d)
        for k, upto in ((1, 3), (2, 6), (3, 8)):
            got = _as_dict(view_read(spark, d, as_of=k))
            want = _expected(_ROWS[:upto])
            assert {x: v["n"] for x, v in got.items()} == {
                x: v["n"] for x, v in want.items()
            }, f"as_of={k}"
            for x in want:
                assert got[x]["revenue"] == pytest.approx(
                    want[x]["revenue"], abs=1e-9
                )
        # as_of = n ≡ the default read
        assert sorted(view_read(spark, d, as_of=3).collect()) == sorted(
            view_read(spark, d).collect()
        )

    def test_snapshot_mode_has_no_history(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES,
                   mode="snapshot")
        view_increment(_facts(spark, _ROWS[4:]), d)
        with pytest.raises(ValueError, match="no history"):
            view_read(spark, d, as_of=1)

    def test_compaction_is_the_history_boundary(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES)
        view_increment(_facts(spark, _ROWS[3:6]), d)
        compact_view(spark, d)
        view_increment(_facts(spark, _ROWS[6:]), d)
        with pytest.raises(ValueError, match="compacted"):
            view_read(spark, d, as_of=1)
        # post-compaction states remain addressable
        got = _as_dict(view_read(spark, d, as_of=2))
        want = _expected(_ROWS[:6])
        assert {x: v["n"] for x, v in got.items()} == {
            x: v["n"] for x, v in want.items()
        }


class TestVacuumView:
    def test_vacuum_after_crash(self, spark, tmpdir, monkeypatch):
        import mini_data_platform_spark.operators.ivm as ivm
        from mini_data_platform_spark.operators.ivm import vacuum_view

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES)
        real = occlog.try_ticket
        monkeypatch.setattr(
            occlog, "try_ticket",
            lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("boom")),
        )
        with pytest.raises(RuntimeError):
            view_increment(_facts(spark, _ROWS[4:]), d)
        monkeypatch.setattr(occlog, "try_ticket", real)
        stranded = [
            n for n in os.listdir(os.path.join(d, "agg"))
            if n.startswith("seg-1")
        ]
        assert len(stranded) == 1
        orphan = os.path.join(d, "agg", stranded[0])
        removed = vacuum_view(d)
        assert removed == [orphan] and not os.path.exists(orphan)
        view_increment(_facts(spark, _ROWS[4:]), d)
        got = _as_dict(view_read(spark, d))
        assert {k: v["n"] for k, v in got.items()} == {
            k: v["n"] for k, v in _expected(_ROWS).items()
        }


class TestReviewRegressions:
    def test_snapshot_increment_removes_superseded_copy(self, spark, tmpdir):
        """Snapshot mode must not leak one full view copy per refresh."""
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES,
                   mode="snapshot")
        view_increment(_facts(spark, _ROWS[3:6]), d)
        view_increment(_facts(spark, _ROWS[6:]), d)
        (only,) = os.listdir(os.path.join(d, "agg"))
        assert only.startswith("seg-2")
        got = _as_dict(view_read(spark, d))
        assert {k: v["n"] for k, v in got.items()} == {
            k: v["n"] for k, v in _expected(_ROWS).items()
        }

    def test_pre_versioned_compaction_refuses_time_travel(self, spark, tmpdir):
        """A leading compact-* segment with no recorded boundary (an
        index compacted by the pre-round-8 code) must refuse as_of
        rather than silently serve the wrong state."""
        import json

        _meta_as_of = occlog.meta_as_of

        meta = {
            "n_batches": 3,
            "segments": {"agg": ["compact-2", "seg-2"]},
        }
        with pytest.raises(ValueError, match="without a recorded boundary"):
            _meta_as_of(meta, 1)
        with pytest.raises(ValueError, match="without a recorded boundary"):
            _meta_as_of(meta, 2)
        # as_of == n short-circuits (current state is always readable)
        assert _meta_as_of(meta, 3) is meta


CDC_MEASURES = {
    "revenue": ("sum", "amount"),
    "n": ("count", "*"),
    "n_amounts": ("count", "amount"),
}


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k string, amount double, _op int")


class TestApplyChanges:
    def test_upsert_as_delete_insert_equals_recompute(self, spark, tmpdir):
        """The reference-pipeline shape: a keyed upsert re-ingests a row
        with a new amount — the view gets (-1 old, +1 new) and must land
        on the recompute of the FINAL state."""
        d = str(tmpdir)
        view_build(
            _facts(spark, [("a", 10.0), ("a", 2.0), ("b", 5.0)]),
            d, ["k"], CDC_MEASURES,
        )
        # upsert: the ("a", 2.0) sale is corrected to ("a", 7.5)
        view_apply_changes(
            _changes(spark, [("a", 2.0, -1), ("a", 7.5, 1)]), d
        )
        got = _as_dict_cdc(view_read(spark, d))
        assert got == {
            "a": {"revenue": 17.5, "n": 2, "n_amounts": 2},
            "b": {"revenue": 5.0, "n": 1, "n_amounts": 1},
        }

    def test_full_deletion_drops_the_group(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(
            _facts(spark, [("a", 1.0), ("b", 5.0)]), d, ["k"], CDC_MEASURES
        )
        view_apply_changes(_changes(spark, [("b", 5.0, -1)]), d)
        got = _as_dict_cdc(view_read(spark, d))
        assert set(got) == {"a"}  # b retracted to zero: vanished

    def test_null_amount_counts_match_semantics(self, spark, tmpdir):
        """Deleting a null-amount row decrements n but not n_amounts —
        signed counts must mirror count(*) vs count(col)."""
        d = str(tmpdir)
        view_build(
            _facts(spark, [("a", 1.0), ("a", None)]), d, ["k"], CDC_MEASURES
        )
        view_apply_changes(_changes(spark, [("a", None, -1)]), d)
        got = _as_dict_cdc(view_read(spark, d))
        assert got == {"a": {"revenue": 1.0, "n": 1, "n_amounts": 1}}

    def test_minmax_views_refuse_changes(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], MEASURES)  # has lo/hi
        with pytest.raises(ValueError, match="not retractable"):
            view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)

    def test_missing_op_column_rejected(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], CDC_MEASURES)
        with pytest.raises(ValueError, match="_op"):
            view_apply_changes(_facts(spark, [("a", 1.0)]), d)

    def test_replay_and_mixed_with_increments(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"], CDC_MEASURES)
        view_apply_changes(
            _changes(spark, [("a", 1.0, -1), ("a", 3.0, 1)]), d,
            batch_id="fix-1",
        )
        view_apply_changes(  # replay: must be a no-op
            _changes(spark, [("a", 1.0, -1), ("a", 3.0, 1)]), d,
            batch_id="fix-1",
        )
        view_increment(_facts(spark, [("a", 4.0)]), d)  # plain append mixes
        got = _as_dict_cdc(view_read(spark, d))
        assert got == {"a": {"revenue": 7.0, "n": 2, "n_amounts": 2}}


def _as_dict_cdc(df):
    return {
        r["k"]: {c: r[c] for c in ("revenue", "n", "n_amounts")}
        for r in df.collect()
    }


class TestApproxDistinct:
    MEAS = {
        "n": ("count", "*"),
        "users": ("approx_distinct", "user"),
    }

    def _f(self, spark, rows):
        return spark.createDataFrame(rows, "k string, user long")

    def test_incremental_estimate_matches_exact(self, spark, tmpdir):
        """HLL union across increments ≡ the sketch of the union; at
        these cardinalities (far under lgK=12 capacity) the estimate is
        exact, so we can assert equality with the true distinct count —
        including users re-seen across batches (the case a per-batch
        exact count cannot merge)."""
        d = str(tmpdir)
        b1 = [("a", u) for u in range(100)] + [("b", u) for u in range(7)]
        b2 = [("a", u) for u in range(50, 150)]  # 50 users overlap b1
        view_build(self._f(spark, b1), d, ["k"], self.MEAS)
        view_increment(self._f(spark, b2), d)
        got = {
            r["k"]: (r["n"], r["users"])
            for r in view_read(spark, d).collect()
        }
        assert got == {"a": (200, 150), "b": (7, 7)}

    def test_batching_invariance(self, spark, tmpdir):
        d1, d2 = str(tmpdir.join("one")), str(tmpdir.join("many"))
        rows = [("a", u % 37) for u in range(200)]
        view_build(self._f(spark, rows), d1, ["k"], self.MEAS)
        view_build(self._f(spark, rows[:50]), d2, ["k"], self.MEAS)
        view_increment(self._f(spark, rows[50:120]), d2)
        view_increment(self._f(spark, rows[120:]), d2)
        a = {r["k"]: r["users"] for r in view_read(spark, d1).collect()}
        b = {r["k"]: r["users"] for r in view_read(spark, d2).collect()}
        assert a == b == {"a": 37}

    def test_sketch_views_refuse_changes_and_star(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(self._f(spark, [("a", 1)]), d, ["k"], self.MEAS)
        with pytest.raises(ValueError, match="not\\s+retractable"):
            view_apply_changes(
                spark.createDataFrame(
                    [("a", 1, -1)], "k string, user long, _op int"
                ),
                d,
            )
        with pytest.raises(ValueError, match="needs a column"):
            view_build(
                self._f(spark, [("a", 1)]), str(tmpdir.join("x")),
                ["k"], {"u": ("approx_distinct", "*")},
            )

    def test_raw_read_keeps_mergeable_state(self, spark, tmpdir):
        """finalize=False returns the binary sketch so two views can be
        unioned downstream."""
        d = str(tmpdir)
        view_build(self._f(spark, [("a", 1), ("a", 2)]), d, ["k"], self.MEAS)
        raw = view_read(spark, d, finalize=False)
        assert dict(raw.dtypes)["users"] == "binary"
        est = raw.select(
            "k", F.hll_sketch_estimate("users").alias("users")
        ).collect()
        assert est[0]["users"] == 2


class TestSecondReviewRegressions:
    def test_retracting_last_nonnull_restores_null_sum(self, spark, tmpdir):
        """SUM over zero non-null values is NULL, not 0: deleting the
        only real amount of a group that keeps a null-amount row must
        read back as revenue=NULL, n=1 — exactly the recompute."""
        d = str(tmpdir)
        view_build(
            _facts(spark, [("a", None), ("a", 5.0)]), d, ["k"], CDC_MEASURES
        )
        view_apply_changes(_changes(spark, [("a", 5.0, -1)]), d)
        rows = {r["k"]: r for r in view_read(spark, d).collect()}
        assert rows["a"]["n"] == 1
        assert rows["a"]["n_amounts"] == 0
        assert rows["a"]["revenue"] is None

    def test_all_null_group_sums_read_null(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, [("z", None)]), d, ["k"], CDC_MEASURES)
        rows = {r["k"]: r for r in view_read(spark, d).collect()}
        assert rows["z"]["revenue"] is None and rows["z"]["n"] == 1

    def test_invalid_ops_fail_loudly(self, spark, tmpdir):
        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"], CDC_MEASURES)
        bad_frames = [
            spark.createDataFrame(
                [("a", 1.0, "D")], "k string, amount double, _op string"
            ),
            spark.createDataFrame(
                [("a", 1.0, None)], "k string, amount double, _op int"
            ),
            spark.createDataFrame(
                [("a", 1.0, 2)], "k string, amount double, _op int"
            ),
        ]
        for bad in bad_frames:
            with pytest.raises(ValueError, match="exactly \\+1 or -1"):
                view_apply_changes(bad, d)

    def test_snapshot_cdc_reclaims_tombstones(self, spark, tmpdir):
        """Fully-deleted keys must not be rewritten in every snapshot
        forever: the consolidating merge drops zero-multiplicity rows."""
        d = str(tmpdir)
        view_build(
            _facts(spark, [("a", 1.0), ("b", 2.0)]), d, ["k"],
            CDC_MEASURES, mode="snapshot",
        )
        view_apply_changes(_changes(spark, [("b", 2.0, -1)]), d)
        # read the raw consolidated segment: b must be GONE on disk
        raw = view_read(spark, d, finalize=False)
        assert {r["k"] for r in raw.collect()} == {"a"}

    def test_increment_and_changes_share_commit_protocol(
        self, spark, tmpdir, monkeypatch
    ):
        """Both write paths go through _commit_partial — a crash
        injected there blocks both identically."""
        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"], CDC_MEASURES)
        monkeypatch.setattr(
            ivm, "_commit_partial",
            lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("blocked")),
        )
        with pytest.raises(RuntimeError, match="blocked"):
            view_increment(_facts(spark, [("a", 2.0)]), d)
        with pytest.raises(RuntimeError, match="blocked"):
            view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)


class TestRetractableMinMax:
    """minmax_view_build/read: the support-multiset composition that
    makes min/max retractable — deletes must move the extremum exactly,
    with no base-table access."""

    def _build(self, spark, d, rows):
        from mini_data_platform_spark.operators.ivm import (
            minmax_view_build,
        )

        return minmax_view_build(_facts(spark, rows), d, ["k"], "amount")

    def _read(self, spark, d, **kw):
        from mini_data_platform_spark.operators.ivm import (
            minmax_view_read,
        )

        return {
            r["k"]: (r["min_amount"], r["max_amount"])
            for r in minmax_view_read(spark, d, **kw).collect()
        }

    def test_delete_moves_the_extremum(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("a", 5.0), ("a", 3.0)])
        assert self._read(spark, d) == {"a": (1.0, 5.0)}
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        assert self._read(spark, d) == {"a": (3.0, 5.0)}
        view_apply_changes(_changes(spark, [("a", 5.0, -1)]), d)
        assert self._read(spark, d) == {"a": (3.0, 3.0)}

    def test_duplicate_value_survives_single_retraction(
        self, spark, tmpdir
    ):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("a", 1.0), ("a", 2.0)])
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        # one copy of the minimum remains: min must NOT move
        assert self._read(spark, d) == {"a": (1.0, 2.0)}

    def test_full_group_retraction_vanishes(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("b", 2.0)])
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        assert self._read(spark, d) == {"b": (2.0, 2.0)}

    def test_replay_sequence_equals_reference(self, spark, tmpdir):
        """A mixed insert/delete history equals a Python multiset
        replay, via both increments and change batches."""
        d = str(tmpdir)
        self._build(spark, d, [("a", 3.0), ("b", 7.0)])
        view_increment(_facts(spark, [("a", 9.0), ("b", 1.0)]), d)
        view_apply_changes(
            _changes(spark, [("a", 3.0, -1), ("a", 2.0, 1),
                             ("b", 7.0, -1)]), d)
        # multiset now: a {9.0, 2.0}, b {1.0}
        assert self._read(spark, d) == {"a": (2.0, 9.0), "b": (1.0, 1.0)}

    def test_nulls_are_ignored_like_sql(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", None), ("a", 4.0)])
        assert self._read(spark, d) == {"a": (4.0, 4.0)}
        view_apply_changes(_changes(spark, [("a", 4.0, -1)]), d)
        # only the NULL row remains: group serves (None, None)
        assert self._read(spark, d) == {"a": (None, None)}

    def test_plain_view_rejected_by_minmax_read(self, spark, tmpdir):
        from mini_data_platform_spark.operators.ivm import (
            minmax_view_read,
        )

        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"],
                   {"n": ("count", "*")})
        with pytest.raises(ValueError, match="support view"):
            minmax_view_read(spark, d)

    def test_global_minmax_vanishes_when_fully_retracted(
        self, spark, tmpdir
    ):
        """A keyless (global) support view must serve NO row after full
        retraction, not a spurious (NULL, NULL) — while a view holding
        only NULL values still serves one."""
        from mini_data_platform_spark.operators.ivm import (
            minmax_view_build,
            minmax_view_read,
        )

        d = str(tmpdir)
        minmax_view_build(
            _facts(spark, [("a", 2.0)]).select("amount"), d, [], "amount"
        )
        assert minmax_view_read(spark, d).collect()[0][0] == 2.0
        view_apply_changes(
            spark.createDataFrame([(2.0, -1)], "amount double, _op int"),
            d,
        )
        assert minmax_view_read(spark, d).count() == 0


class TestRetractableDistinct:
    """distinct_view_build/read: exact COUNT(DISTINCT) made retractable
    by the support multiset — counts must drop only when a value's LAST
    live row retracts, with no base-table access."""

    def _build(self, spark, d, rows):
        from mini_data_platform_spark.operators.ivm import (
            distinct_view_build,
        )

        return distinct_view_build(_facts(spark, rows), d, ["k"], "amount")

    def _read(self, spark, d, **kw):
        from mini_data_platform_spark.operators.ivm import (
            distinct_view_read,
        )

        return {
            r["k"]: r["n_distinct_amount"]
            for r in distinct_view_read(spark, d, **kw).collect()
        }

    def test_maintained_equals_recompute(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("a", 1.0), ("a", 2.0),
                               ("b", 5.0)])
        view_increment(_facts(spark, [("a", 3.0), ("b", 5.0)]), d)
        assert self._read(spark, d) == {"a": 3, "b": 1}

    def test_last_copy_retraction_drops_count(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("a", 1.0), ("a", 2.0)])
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        # one copy of 1.0 survives: distinct count unchanged — the case
        # signed-HLL hacks get wrong
        assert self._read(spark, d) == {"a": 2}
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        assert self._read(spark, d) == {"a": 1}

    def test_nulls_never_count(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", None), ("a", 4.0), ("b", None)])
        # SQL COUNT(DISTINCT): NULL is not a value; a group holding only
        # NULL rows serves 0 (it still has live facts)
        assert self._read(spark, d) == {"a": 1, "b": 0}

    def test_full_group_retraction_vanishes(self, spark, tmpdir):
        d = str(tmpdir)
        self._build(spark, d, [("a", 1.0), ("b", 2.0)])
        view_apply_changes(_changes(spark, [("a", 1.0, -1)]), d)
        assert self._read(spark, d) == {"b": 1}

    def test_plain_view_rejected_by_distinct_read(self, spark, tmpdir):
        from mini_data_platform_spark.operators.ivm import (
            distinct_view_read,
        )

        d = str(tmpdir)
        view_build(_facts(spark, [("a", 1.0)]), d, ["k"],
                   {"n": ("count", "*")})
        with pytest.raises(ValueError, match="support view"):
            distinct_view_read(spark, d)

    def test_global_distinct_serves_zero_when_empty(self, spark, tmpdir):
        """A keyless distinct over a fully-retracted view serves 0 —
        SQL's COUNT(DISTINCT) over an empty table — unlike the keyless
        min/max, which vanishes."""
        from mini_data_platform_spark.operators.ivm import (
            distinct_view_build,
            distinct_view_read,
        )

        d = str(tmpdir)
        distinct_view_build(
            _facts(spark, [("a", 2.0)]).select("amount"), d, [], "amount"
        )
        assert distinct_view_read(spark, d).collect()[0][0] == 1
        view_apply_changes(
            spark.createDataFrame([(2.0, -1)], "amount double, _op int"),
            d,
        )
        assert distinct_view_read(spark, d).collect()[0][0] == 0

    def test_replay_sequence_equals_reference(self, spark, tmpdir):
        """A mixed insert/delete history equals a Python multiset
        replay."""
        import collections

        d = str(tmpdir)
        rows = [("a", 3.0), ("b", 7.0), ("a", 3.0), ("a", 1.0)]
        self._build(spark, d, rows)
        ms = collections.Counter(rows)
        changes = [("a", 3.0, -1), ("a", 2.0, 1), ("b", 7.0, -1),
                   ("b", 9.0, 1)]
        view_apply_changes(_changes(spark, changes), d)
        for k, v, op in changes:
            ms[(k, v)] += op
        expect = {}
        for (k, v), n in ms.items():
            if n > 0 and v is not None:
                expect[k] = expect.get(k, 0) + 1
        assert self._read(spark, d) == expect


class TestHistogramQuantiles:
    """Histogram views: maintained approximate quantiles via
    bin-count support state — batching-invariant, retractable, and a
    fixed-arithmetic serve expression (the oracle-parity contract of
    kpi_price_quantiles_ivm)."""

    def _vals(self, spark, rows):
        return spark.createDataFrame(rows, "k string, v double")

    def _python_quantile(self, vals, q, width):
        """The reference estimate: same histogram + in-bin
        interpolation computed in plain Python."""
        from collections import Counter
        import math

        bins = Counter(math.floor(v / width) for v in vals)
        n_tot = sum(bins.values())
        target = q * n_tot
        cum = 0
        for b in sorted(bins):
            prev, cum = cum, cum + bins[b]
            if cum >= target and prev < target:
                return b * width + width * ((target - prev) / bins[b])
        raise AssertionError("unreached")

    def test_batching_invariance_and_reference(self, spark, tmp_path):
        import random

        from mini_data_platform_spark.operators.ivm import (
            histogram_view_build,
            histogram_view_increment,
            quantile_view_read,
        )

        rng = random.Random(7)
        rows = [
            ("a", round(rng.uniform(-50, 500), 2)) for _ in range(300)
        ] + [("b", float(i)) for i in range(100)]
        d1 = str(tmp_path / "split")
        histogram_view_build(
            self._vals(spark, rows[::3]), d1, ["k"], "v", width=25.0
        )
        histogram_view_increment(self._vals(spark, rows[1::3]), d1)
        histogram_view_increment(self._vals(spark, rows[2::3]), d1)
        d2 = str(tmp_path / "whole")
        histogram_view_build(
            self._vals(spark, rows), d2, ["k"], "v", width=25.0
        )
        qs = {"p10": 0.1, "p50": 0.5, "p95": 0.95, "p100": 1.0}
        got1 = {
            r["k"]: (r["p10"], r["p50"], r["p95"], r["p100"])
            for r in quantile_view_read(spark, d1, qs).collect()
        }
        got2 = {
            r["k"]: (r["p10"], r["p50"], r["p95"], r["p100"])
            for r in quantile_view_read(spark, d2, qs).collect()
        }
        assert got1 == got2  # bit-identical under any batching
        for k in ("a", "b"):
            vals = [v for kk, v in rows if kk == k]
            for (name, q), got in zip(qs.items(), got1[k]):
                assert got == pytest.approx(
                    self._python_quantile(vals, q, 25.0), abs=1e-9
                )

    def test_estimate_within_width_of_true_quantile(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_build,
            quantile_view_read,
        )

        vals = [float(i) for i in range(1, 1001)]  # true p50 ~ 500
        d = str(tmp_path / "acc")
        histogram_view_build(
            self._vals(spark, [("a", v) for v in vals]), d, ["k"], "v",
            width=10.0,
        )
        out = quantile_view_read(spark, d, {"p50": 0.5, "p95": 0.95})
        r = out.collect()[0]
        assert abs(r["p50"] - 500.0) <= 10.0
        assert abs(r["p95"] - 950.0) <= 10.0

    def test_changes_retract_and_group_vanishes(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_apply_changes,
            histogram_view_build,
            quantile_view_read,
        )

        d = str(tmp_path / "cdc")
        rows = [("a", float(i)) for i in range(100)] + [("b", 5.0)]
        histogram_view_build(
            self._vals(spark, rows), d, ["k"], "v", width=10.0
        )
        # delete a's top half: p95 must drop into the surviving range
        dels = spark.createDataFrame(
            [("a", float(i), -1) for i in range(50, 100)],
            "k string, v double, _op int",
        )
        histogram_view_apply_changes(dels, d)
        got = {
            r["k"]: r["p95"]
            for r in quantile_view_read(spark, d, {"p95": 0.95}).collect()
        }
        assert got["a"] <= 50.0
        # retract b's only row: the group vanishes entirely
        histogram_view_apply_changes(
            spark.createDataFrame(
                [("b", 5.0, -1)], "k string, v double, _op int"
            ),
            d,
        )
        assert {
            r["k"]
            for r in quantile_view_read(spark, d, {"p95": 0.95}).collect()
        } == {"a"}

    def test_upsert_equals_recompute(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_apply_changes,
            histogram_view_build,
            quantile_view_read,
        )

        d = str(tmp_path / "ups")
        rows = [("a", float(i)) for i in range(40)]
        histogram_view_build(
            self._vals(spark, rows), d, ["k"], "v", width=7.0
        )
        # upsert: every even value doubles (delete old, insert new)
        chg = [("a", float(i), -1) for i in range(0, 40, 2)] + [
            ("a", float(2 * i), 1) for i in range(0, 40, 2)
        ]
        histogram_view_apply_changes(
            spark.createDataFrame(chg, "k string, v double, _op int"), d
        )
        final = [float(i) for i in range(1, 40, 2)] + [
            float(2 * i) for i in range(0, 40, 2)
        ]
        d2 = str(tmp_path / "ref")
        histogram_view_build(
            self._vals(spark, [("a", v) for v in final]), d2, ["k"], "v",
            width=7.0,
        )
        qs = {"p25": 0.25, "p50": 0.5, "p75": 0.75}
        got = quantile_view_read(spark, d, qs).collect()[0]
        want = quantile_view_read(spark, d2, qs).collect()[0]
        assert (got["p25"], got["p50"], got["p75"]) == (
            want["p25"], want["p50"], want["p75"],
        )

    def test_nulls_excluded_and_bad_q_refused(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            histogram_view_build,
            quantile_view_read,
        )

        d = str(tmp_path / "nulls")
        histogram_view_build(
            spark.createDataFrame(
                [("a", 10.0), ("a", None), ("a", 20.0)],
                "k string, v double",
            ),
            d, ["k"], "v", width=10.0,
        )
        r = quantile_view_read(spark, d, {"p100": 1.0}).collect()[0]
        assert r["p100"] == 30.0  # 2 values; null contributed nothing
        with pytest.raises(ValueError):
            quantile_view_read(spark, d, {"p0": 0.0})
        with pytest.raises(ValueError):
            quantile_view_read(spark, d, {"p": 1.5})

    def test_plain_view_refuses_quantile_read(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import (
            quantile_view_read,
        )

        d = str(tmp_path / "plain")
        view_build(_facts(spark, _ROWS), d, ["k"], MEASURES)
        with pytest.raises(ValueError):
            quantile_view_read(spark, d, {"p50": 0.5})


class TestViewTopK:
    def test_topk_equals_recompute_and_plan(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import view_topk

        d = str(tmp_path / "topk")
        rows = [(f"k{i % 23:02d}", float(i)) for i in range(200)]
        view_build(
            _facts(spark, rows[::2]), d, ["k"],
            {"revenue": ("sum", "amount"), "n": ("count", "*")},
        )
        view_increment(_facts(spark, rows[1::2]), d)
        out = view_topk(spark, d, "revenue", 5)
        got = [(r["k"], r["revenue"]) for r in out.collect()]
        # reference ranking
        totals = {}
        for k, a in rows:
            totals[k] = totals.get(k, 0.0) + a
        want = sorted(totals.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        assert [(k, pytest.approx(v)) for k, v in want] == got
        # serve is a top-k, not a global sort
        assert "TakeOrderedAndProject" in out._jdf.queryExecution().executedPlan().toString()


class TestMultiWriterOCC:
    """Round-9 (r8 verdict item 5): view commits ride the shared OCC
    ticket protocol — two pipelines maintaining one view concurrently
    lose nothing, and compaction refuses races."""

    def test_concurrent_increments_no_lost_update(self, spark, tmpdir):
        import threading

        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:2]), d, ["k"], MEASURES)
        chunks = [_ROWS[2:4], _ROWS[4:6], _ROWS[6:]]
        errs = []

        def run(i):
            try:
                view_increment(_facts(spark, chunks[i]), d,
                               batch_id=f"w{i}")
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [
            threading.Thread(target=run, args=(i,)) for i in range(3)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        meta = ivm._recover_view_meta(d)
        assert meta["n_batches"] == 4  # build + all three, none lost
        got = _as_dict(view_read(spark, d))
        want = _expected(_ROWS)
        assert {k: v["n"] for k, v in got.items()} == {
            k: v["n"] for k, v in want.items()
        }
        for k in want:
            assert got[k]["revenue"] == pytest.approx(
                want[k]["revenue"], abs=1e-9
            )

    def test_concurrent_callerless_increments_no_lost_update(
        self, spark, tmpdir
    ):
        """21a02db regression (round-10 verdict item): ``batch_id=None``
        writers get collision-free generated bids — before the fix both
        racers derived ``batch-{n_batches}``, the loser's replay check
        matched the winner's committed bid, and its delta was SILENTLY
        dropped. Both caller-less deltas must land."""
        import threading

        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:2]), d, ["k"], MEASURES)
        chunks = [_ROWS[2:5], _ROWS[5:]]
        errs = []

        def run(i):
            try:
                view_increment(_facts(spark, chunks[i]), d)  # no batch_id
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        threads = [
            threading.Thread(target=run, args=(i,)) for i in range(2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        meta = ivm._recover_view_meta(d)
        assert meta["n_batches"] == 3  # build + both, none aliased away
        got = _as_dict(view_read(spark, d))
        want = _expected(_ROWS)
        assert {k: v["n"] for k, v in got.items()} == {
            k: v["n"] for k, v in want.items()
        }
        for k in want:
            assert got[k]["revenue"] == pytest.approx(
                want[k]["revenue"], abs=1e-9
            )

    def test_callerless_changes_and_replay_protection_split(
        self, spark, tmpdir
    ):
        """The other half of the 21a02db contract: caller-less
        ``view_apply_changes`` also gets unique bids (two identical
        caller-less change batches BOTH apply — dedup is the caller's
        opt-in), while a caller-SUPPLIED id keeps exact replay-no-op
        semantics."""
        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        # change batches need retraction-closed measures (no min/max)
        retractable = {"revenue": ("sum", "amount"), "n": ("count", "*")}
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], retractable)
        ch = spark.createDataFrame(
            [("a", 5.0, 1)], "k string, amount double, _op int"
        )
        view_apply_changes(ch, d)
        view_apply_changes(ch, d)  # caller-less: NOT a replay — applies
        meta = ivm._recover_view_meta(d)
        assert meta["n_batches"] == 3
        got = {
            r["k"]: (r["n"], r["revenue"])
            for r in view_read(spark, d).collect()
        }
        want = _expected(_ROWS[:4] + [("a", 5.0), ("a", 5.0)])
        assert got["a"][0] == want["a"]["n"]
        assert got["a"][1] == pytest.approx(want["a"]["revenue"], abs=1e-9)
        # caller-supplied id: second delivery is the no-op replay
        view_increment(_facts(spark, [("c", 1.0)]), d, batch_id="once")
        view_increment(_facts(spark, [("c", 1.0)]), d, batch_id="once")
        meta = ivm._recover_view_meta(d)
        assert meta["n_batches"] == 4
        got = {r["k"]: r["n"] for r in view_read(spark, d).collect()}
        assert got["c"] == 1  # delivered twice, landed once

    def test_compaction_refuses_concurrent_commit(
        self, spark, tmpdir, monkeypatch
    ):
        import mini_data_platform_spark.operators.ivm as ivm

        d = str(tmpdir)
        view_build(_facts(spark, _ROWS[:4]), d, ["k"], MEASURES)
        view_increment(_facts(spark, _ROWS[4:]), d)
        before = sorted(view_read(spark, d).collect())
        real = occlog.try_ticket

        def lose_once(view_dir, version, record):
            if record["type"] == "compact":
                monkeypatch.undo()
                return False
            return real(view_dir, version, record)

        monkeypatch.setattr(occlog, "try_ticket", lose_once)
        with pytest.raises(RuntimeError, match="during compaction"):
            compact_view(spark, d)
        assert sorted(view_read(spark, d).collect()) == before
        compact_view(spark, d)  # a re-run compacts cleanly
        assert sorted(view_read(spark, d).collect()) == before


class TestBulkFold:
    """r15 view_fold_many: the concurrent bulk fold must be
    state-identical to sequential view_increment/view_apply_changes
    calls — same segments, same _seq prefixes, same op-guard gating."""

    RETRACTABLE = {"revenue": ("sum", "amount"), "n": ("count", "*")}

    def _changes(self, spark, rows_ops):
        return spark.createDataFrame(
            rows_ops, "k string, amount double, _op int"
        )

    def test_equals_sequential_folds(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import view_fold_many

        seq_d, bulk_d = str(tmp_path / "seq"), str(tmp_path / "bulk")
        deltas = [_facts(spark, _ROWS[3:6]), _facts(spark, _ROWS[6:])]
        changes = [self._changes(
            spark, [("a", 10.25, -1), ("z", 5.0, 1)]
        )]
        for d in (seq_d, bulk_d):
            view_build(_facts(spark, _ROWS[:3]), d, ["k"],
                       self.RETRACTABLE)
        view_increment(deltas[0], seq_d)
        view_increment(deltas[1], seq_d)
        view_apply_changes(changes[0], seq_d)
        meta = view_fold_many(bulk_d, deltas=deltas, changes=changes)
        assert meta["n_batches"] == 4

        def _vals(d, **kw):
            return {
                r["k"]: (r["revenue"], r["n"])
                for r in view_read(spark, d, **kw).collect()
            }

        assert _vals(bulk_d) == _vals(seq_d)
        # per-batch _seq values and as-of prefixes line up too
        for as_of in (2, 3, 4):
            assert _vals(bulk_d, as_of=as_of) == _vals(seq_d, as_of=as_of)

    def test_op_guard_gates_exactly_the_sequential_prefix(
        self, spark, tmp_path
    ):
        from mini_data_platform_spark.operators.ivm import view_fold_many

        d = str(tmp_path / "v")
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], self.RETRACTABLE)
        good = self._changes(spark, [("a", 1.0, 1)])
        bad = self._changes(spark, [("b", 2.0, 7)])  # _op outside ±1
        with pytest.raises(ValueError, match=r"\+1 or -1"):
            view_fold_many(d, changes=[good, bad])
        # the good batch's ticket won before the guard fired — exactly
        # the state sequential calls would leave; the bad batch's
        # segment is swept, not served
        import mini_data_platform_spark.operators.ivm as ivm

        meta = ivm._recover_view_meta(d)
        assert meta["n_batches"] == 2
        got = {
            r["k"]: r["revenue"]
            for r in view_read(spark, d).collect()
        }
        assert got["a"] == pytest.approx(10.25 + 1.50 + 1.0)

    def test_replay_empty_and_snapshot_refusals(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import view_fold_many

        d = str(tmp_path / "v")
        view_build(_facts(spark, _ROWS[:3]), d, ["k"], self.RETRACTABLE)
        view_fold_many(d, deltas=[_facts(spark, _ROWS[3:5])],
                       batch_ids=["w1"])
        with pytest.raises(ValueError, match="already committed"):
            view_fold_many(d, deltas=[_facts(spark, _ROWS[3:5])],
                           batch_ids=["w1"])
        assert view_fold_many(d)["n_batches"] == 2
        snap = str(tmp_path / "snap")
        view_build(_facts(spark, _ROWS[:3]), snap, ["k"],
                   self.RETRACTABLE, mode="snapshot")
        with pytest.raises(ValueError, match="delta-mode"):
            view_fold_many(snap, deltas=[_facts(spark, _ROWS[3:5])])

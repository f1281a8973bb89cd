"""Maintained join views (operators/joinview.py): the join-delta Z-set
must equal the snapshot difference exactly (including the both-sides-
changed cross term), a maintained aggregate over it must equal the
recompute over final states under ANY refresh cadence, and the
snapshot sides must stay candidate-bounded (lookup path for key joins,
IN-literal pushdown on a clustered compacted table)."""

import os
import random

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators.ivm import view_read
from mini_data_platform_spark.operators.joinview import (
    join_changes_zset,
    join_view_build,
    join_view_refresh,
)
from mini_data_platform_spark.operators.mergetable import (
    compact_table,
    table_apply,
    table_build,
    table_read,
)
from mini_data_platform_spark.operators.resources import release_plan

ORDERS = "o_id bigint, cust bigint, price double"
CUST = "cust bigint, seg string"


def _orders(spark, rows):
    return spark.createDataFrame(rows, ORDERS)


def _cust(spark, rows):
    return spark.createDataFrame(rows, CUST)


def _deletes(spark, ids, schema="o_id bigint"):
    return spark.createDataFrame(
        [(i,) for i in ids], schema
    ).withColumn("_op", F.lit("d"))


def _base(spark, tmp_path):
    L, R = str(tmp_path / "orders"), str(tmp_path / "cust")
    table_build(
        _orders(spark, [(1, 10, 100.0), (2, 10, 50.0), (3, 20, 30.0)]),
        L, ["o_id"],
    )
    table_build(
        _cust(spark, [(10, "A"), (20, "B"), (30, "C")]), R, ["cust"]
    )
    return L, R


def _join_state(spark, L, R):
    return (
        table_read(spark, L)
        .join(table_read(spark, R), "cust")
        .select("cust", "o_id", "price", "seg")
    )


def _net(rows):
    """Net weight per payload row; zero-weight rows dropped."""
    out = {}
    for r in rows:
        k = (r["cust"], r["o_id"], r["price"], r["seg"])
        out[k] = out.get(k, 0) + r["_op"]
    return {k: w for k, w in out.items() if w != 0}


class TestJoinDelta:
    def test_bootstrap_is_the_full_join_plus_one(self, spark, tmp_path):
        L, R = _base(spark, tmp_path)
        z = join_changes_zset(spark, L, R, ["cust"], 0, 0)
        rows = z.collect()
        release_plan(z)
        assert all(r["_op"] == 1 for r in rows)
        assert _net(rows) == {
            k: 1 for k in _net(
                _join_state(spark, L, R).withColumn("_op", F.lit(1))
                .collect()
            )
        }

    def test_delta_equals_snapshot_difference(self, spark, tmp_path):
        """The contract, directly: zset(s → t) nets to join(t) − join(s),
        with fact updates/deletes AND dim churn in the window — the
        cross term included (both sides advance)."""
        L, R = _base(spark, tmp_path)
        before = _net(
            _join_state(spark, L, R).withColumn("_op", F.lit(1)).collect()
        )
        table_apply(_orders(spark, [(4, 30, 7.0), (2, 10, 60.0)]), L)
        table_apply(_deletes(spark, [3]), L)
        table_apply(_cust(spark, [(10, "Z")]), R)
        table_apply(_deletes(spark, [20], "cust bigint"), R)
        after = _net(
            _join_state(spark, L, R).withColumn("_op", F.lit(1)).collect()
        )
        z = join_changes_zset(spark, L, R, ["cust"], 1, 1)
        nets = _net(z.collect())
        release_plan(z)
        expected = dict(after)
        for k, w in before.items():
            expected[k] = expected.get(k, 0) - w
        assert nets == {k: w for k, w in expected.items() if w != 0}

    def test_one_sided_windows(self, spark, tmp_path):
        """A fact-only refresh and a dim-only refresh each net to the
        state difference; an empty window nets to nothing (schema'd)."""
        L, R = _base(spark, tmp_path)
        table_apply(_orders(spark, [(5, 20, 9.0)]), L)
        z = join_changes_zset(spark, L, R, ["cust"], 1, 1)
        assert _net(z.collect()) == {(20, 5, 9.0, "B"): 1}
        release_plan(z)
        table_apply(_cust(spark, [(20, "Q")]), R)
        z = join_changes_zset(spark, L, R, ["cust"], 2, 1)
        nets = _net(z.collect())
        release_plan(z)
        assert nets == {
            (20, 3, 30.0, "B"): -1, (20, 5, 9.0, "B"): -1,
            (20, 3, 30.0, "Q"): 1, (20, 5, 9.0, "Q"): 1,
        }
        z = join_changes_zset(spark, L, R, ["cust"], 2, 2)
        assert z.count() == 0
        assert set(z.columns) == {"cust", "o_id", "price", "seg", "_op"}

    def test_non_key_right_join_column(self, spark, tmp_path):
        """Joining on a column that is NOT the right table's key takes
        the resolve+semi-join path and stays exact."""
        L, R = _base(spark, tmp_path)
        D = str(tmp_path / "segdim")
        table_build(
            spark.createDataFrame(
                [(1, "A", "alpha"), (2, "B", "beta"), (3, "C", "gamma")],
                "seg_id bigint, seg string, seg_name string",
            ),
            D, ["seg_id"],
        )
        table_apply(
            spark.createDataFrame(
                [(2, "B", "BETA")], "seg_id bigint, seg string, seg_name string"
            ),
            D,
        )
        z = join_changes_zset(spark, R, D, ["seg"], 1, 1)
        nets = {
            (r["seg"], r["cust"], r["seg_id"], r["seg_name"]): 0
            for r in []
        }
        nets = {}
        for r in z.collect():
            k = (r["seg"], r["cust"], r["seg_id"], r["seg_name"])
            nets[k] = nets.get(k, 0) + r["_op"]
        release_plan(z)
        assert {k: w for k, w in nets.items() if w != 0} == {
            ("B", 20, 2, "beta"): -1, ("B", 20, 2, "BETA"): 1,
        }

    def test_guards(self, spark, tmp_path):
        L, R = _base(spark, tmp_path)
        with pytest.raises(ValueError, match="window"):
            join_changes_zset(spark, L, R, ["cust"], 2, 0)
        with pytest.raises(ValueError, match="not on right"):
            join_changes_zset(spark, L, R, ["o_id"], 0, 0)
        R2 = str(tmp_path / "cust2")
        table_build(
            spark.createDataFrame(
                [(10, 1.0)], "cust bigint, price double"
            ),
            R2, ["cust"],
        )
        with pytest.raises(ValueError, match="both sides"):
            join_changes_zset(spark, L, R2, ["cust"], 0, 0)


MEASURES = {"revenue": ("sum", "price"), "n": ("count", "*")}


def _waves(spark, L, R):
    """Mixed change waves: fact inserts/updates/deletes, dim segment
    churn, a dim delete that strands live facts, a fact re-insert."""
    return [
        (L, _orders(spark, [(4, 30, 7.0), (2, 10, 60.0)])),
        (R, _cust(spark, [(10, "Z"), (30, "A")])),
        (L, _deletes(spark, [1])),
        (R, _deletes(spark, [20], "cust bigint")),
        (L, _orders(spark, [(3, 30, 33.0), (6, 10, 5.0)])),
        (R, _cust(spark, [(20, "B2"), (40, "D")])),
        (L, _deletes(spark, [4])),
    ]


def _recompute(spark, L, R):
    return {
        r["seg"]: (float(r["revenue"]), r["n"])
        for r in _join_state(spark, L, R)
        .groupBy("seg")
        .agg(
            F.sum("price").alias("revenue"), F.count("*").alias("n")
        )
        .collect()
    }


def _served(spark, V):
    return {
        r["seg"]: (float(r["revenue"]), r["n"])
        for r in view_read(spark, V).collect()
    }


class TestJoinView:
    def test_refresh_per_wave_equals_recompute(self, spark, tmp_path):
        L, R = _base(spark, tmp_path)
        V = str(tmp_path / "view")
        join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
        join_view_refresh(spark, V)
        for tdir, batch in _waves(spark, L, R):
            table_apply(batch, tdir)
            join_view_refresh(spark, V)
        assert _served(spark, V) == _recompute(spark, L, R)

    def test_single_catchup_equals_recompute(self, spark, tmp_path):
        """All seven waves land first, ONE refresh catches up — the
        widest cross-term window. Must equal the per-wave cadence."""
        L, R = _base(spark, tmp_path)
        V = str(tmp_path / "view")
        join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
        for tdir, batch in _waves(spark, L, R):
            table_apply(batch, tdir)
        join_view_refresh(spark, V)
        assert _served(spark, V) == _recompute(spark, L, R)

    def test_random_cadence_property(self, spark, tmp_path):
        """Seeded random refresh points between waves — ANY cadence
        must serve the recompute (the batching-invariance property the
        plain IVM suite pins, lifted to the join)."""
        rng = random.Random(8)
        for trial in range(3):
            L = str(tmp_path / f"o{trial}")
            R = str(tmp_path / f"c{trial}")
            V = str(tmp_path / f"v{trial}")
            table_build(
                _orders(spark, [(1, 10, 100.0), (2, 10, 50.0),
                                (3, 20, 30.0)]),
                L, ["o_id"],
            )
            table_build(
                _cust(spark, [(10, "A"), (20, "B"), (30, "C")]),
                R, ["cust"],
            )
            join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
            for tdir, batch in _waves(spark, L, R):
                table_apply(batch, tdir)
                if rng.random() < 0.5:
                    join_view_refresh(spark, V)
            join_view_refresh(spark, V)
            assert _served(spark, V) == _recompute(spark, L, R), trial

    def test_refresh_is_idempotent_and_replay_safe(self, spark, tmp_path):
        """No-advance refresh is a no-op; a retried window (the crash-
        between-commit-and-nothing case — cursors are DERIVED from the
        committed batch id, so there is no separate cursor state to
        lose) replays into the batch-id guard."""
        from mini_data_platform_spark.operators.ivm import (
            view_apply_changes,
        )

        L, R = _base(spark, tmp_path)
        V = str(tmp_path / "view")
        join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
        join_view_refresh(spark, V)
        before = _served(spark, V)
        join_view_refresh(spark, V)  # nothing advanced
        assert _served(spark, V) == before
        # a manual duplicate of the committed window no-ops via the guard
        z = join_changes_zset(spark, L, R, ["cust"], 0, 0)
        view_apply_changes(z, V, batch_id="join-0-1-0-1")
        release_plan(z)
        assert _served(spark, V) == before

    def test_refresh_after_lost_checkpoint_applies_once(
        self, spark, tmp_path
    ):
        """A refresh that won its commit ticket but crashed before its
        checkpoint write is committed: the next refresh must derive its
        cursors from the rolled-forward log, not the stale checkpoint,
        or it applies the first wave twice."""
        L, R = _base(spark, tmp_path)
        V = str(tmp_path / "view")
        join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
        join_view_refresh(spark, V)
        mpath = os.path.join(V, "meta.json")
        table_apply(_orders(spark, [(4, 10, 7.0)]), L)  # wave A
        with open(mpath, encoding="utf-8") as f:
            stale = f.read()
        join_view_refresh(spark, V)
        with open(mpath, "w", encoding="utf-8") as f:
            f.write(stale)  # the refresh's ticket stays
        table_apply(_orders(spark, [(5, 20, 9.0)]), L)  # wave B
        join_view_refresh(spark, V)
        got, want = _served(spark, V), _recompute(spark, L, R)
        assert got == want, "; ".join(
            f"{k}: {got.get(k)} != {want.get(k)}"
            for k in sorted(set(got) | set(want))
            if got.get(k) != want.get(k)
        )

    def test_group_vanishes_when_fully_retracted(self, spark, tmp_path):
        L, R = _base(spark, tmp_path)
        V = str(tmp_path / "view")
        join_view_build(spark, L, R, ["cust"], V, ["seg"], MEASURES)
        join_view_refresh(spark, V)
        assert "B" in _served(spark, V)
        table_apply(_deletes(spark, [3]), L)  # cust 20's only order
        join_view_refresh(spark, V)
        assert "B" not in _served(spark, V)

    def test_non_retractable_measures_refused_at_build(
        self, spark, tmp_path
    ):
        L, R = _base(spark, tmp_path)
        with pytest.raises(ValueError, match="retract"):
            join_view_build(
                spark, L, R, ["cust"], str(tmp_path / "v"), ["seg"],
                {"hi": ("max", "price")},
            )

    def test_refresh_on_plain_view_refused(self, spark, tmp_path):
        from mini_data_platform_spark.operators.ivm import view_build

        V = str(tmp_path / "plain")
        view_build(
            _orders(spark, [(1, 10, 1.0)]), V, ["cust"],
            {"n": ("count", "*")},
        )
        with pytest.raises(ValueError, match="not a join view"):
            join_view_refresh(spark, V)


class TestJoinViewPlan:
    def test_key_join_snapshot_takes_the_lookup_pushdown(
        self, spark, tmp_path
    ):
        """dA ⋈ B₀ with the join columns == the right table's keys must
        serve B₀ through table_lookup: on a range-clustered compacted
        dim the probe keys reach the parquet scan as IN literals — the
        candidate bound is visible in the executed plan, not just the
        docstring."""
        L, R = _base(spark, tmp_path)
        compact_table(spark, R, order_by=["cust"])
        # two probed custs: a single value pushes as EqualTo, 2+ as In
        table_apply(_orders(spark, [(7, 30, 2.0), (8, 10, 3.0)]), L)
        z = join_changes_zset(spark, L, R, ["cust"], 1, 1)
        z.collect()
        plan = z._jdf.queryExecution().executedPlan().toString()
        release_plan(z)
        assert "In(cust, [10,30]" in plan

    def test_fact_side_semi_join_bounds_the_resolve(self, spark, tmp_path):
        """A₁ ⋈ dB (join column is NOT the fact table's key) must
        semi-join the resolved fact state to dB's join-key values —
        the join appears under the resolve, bounded, never a bare
        full-state join."""
        L, R = _base(spark, tmp_path)
        table_apply(_cust(spark, [(10, "Z")]), R)
        z = join_changes_zset(spark, L, R, ["cust"], 1, 1)
        z.collect()
        plan = z._jdf.queryExecution().executedPlan().toString()
        release_plan(z)
        assert "LeftSemi" in plan

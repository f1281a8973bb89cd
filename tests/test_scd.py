"""SCD2 history (operators/scd.py): the derived version intervals must
reproduce every as-of snapshot exactly (the no-second-source-of-truth
contract), deletes must close intervals and re-inserts reopen them,
and the point-in-time enrich must equal a naive per-epoch
as-of-read-and-join loop under any change history — including on
random histories."""

import random

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators.mergetable import (
    compact_table,
    table_apply,
    table_build,
    table_read,
)
from mini_data_platform_spark.operators.scd import scd2_enrich, scd2_history

DIM = "k bigint, seg string"
FACT = "f_id bigint, k bigint, amt double, at_e bigint"


def _dim(spark, rows):
    return spark.createDataFrame(rows, DIM)


def _dels(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "k bigint").withColumn(
        "_op", F.lit("d")
    )


def _build_dim(spark, tmp_path):
    """4-wave history: build {1,2,3}, update 2, delete 3, re-insert 3."""
    d = str(tmp_path / "dim")
    table_build(_dim(spark, [(1, "a"), (2, "b"), (3, "c")]), d, ["k"])
    table_apply(_dim(spark, [(2, "B")]), d)
    table_apply(_dels(spark, [3]), d)
    table_apply(_dim(spark, [(3, "C2")]), d)
    return d


def _hist_at(hist, k):
    return (
        hist.where(
            (F.col("valid_from") <= k)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > k))
        )
        .select("k", "seg")
    )


class TestHistory:
    def test_intervals(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        rows = {
            (r.k, r.seg): (r.valid_from, r.valid_to)
            for r in scd2_history(spark, d).collect()
        }
        assert rows == {
            (1, "a"): (1, None),
            (2, "b"): (1, 2),
            (2, "B"): (2, None),
            (3, "c"): (1, 3),   # closed by the delete, no delete row
            (3, "C2"): (4, None),  # the re-insert reopens
        }

    def test_every_asof_snapshot(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        hist = scd2_history(spark, d)
        for k in range(1, 5):
            want = sorted(
                (r.k, r.seg)
                for r in table_read(spark, d, as_of=k)
                .select("k", "seg")
                .collect()
            )
            got = sorted((r.k, r.seg) for r in _hist_at(hist, k).collect())
            assert got == want, f"as_of={k}"

    def test_asof_history_read(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        hist2 = scd2_history(spark, d, as_of=2)
        rows = {
            (r.k, r.seg): (r.valid_from, r.valid_to)
            for r in hist2.collect()
        }
        # the delete (batch 3) and re-insert (4) are outside the as-of
        assert rows == {
            (1, "a"): (1, None),
            (2, "b"): (1, 2),
            (2, "B"): (2, None),
            (3, "c"): (1, None),
        }

    def test_compaction_refused(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        compact_table(spark, d)
        with pytest.raises(ValueError, match="compaction"):
            scd2_history(spark, d)

    def test_not_a_table(self, spark, tmp_path):
        v = str(tmp_path / "notatable")
        from mini_data_platform_spark.operators.ivm import view_build

        view_build(
            _dim(spark, [(1, "a")]), v, ["k"], {"n": ("count", "*")}
        )
        with pytest.raises(ValueError, match="not a merge table"):
            scd2_history(spark, v)


class TestEnrich:
    def _facts(self, spark):
        # epochs 1..5 (5 = past the last batch), keys incl. unknown 9
        rows = [
            (1, 1, 10.0, 1), (2, 2, 20.0, 1), (3, 2, 30.0, 2),
            (4, 3, 40.0, 2), (5, 3, 50.0, 3), (6, 3, 60.0, 4),
            (7, 9, 70.0, 3), (8, 1, 80.0, 5), (9, 3, 15.0, 5),
        ]
        return spark.createDataFrame(rows, FACT)

    def _naive(self, spark, d, facts):
        """Per-epoch loop: the reference the distributed enrich must equal."""
        from mini_data_platform_spark.operators.occlog import _read_meta

        n = _read_meta(d)["n_batches"]
        out = []
        for e in sorted(r.at_e for r in facts.select("at_e").distinct().collect()):
            state = table_read(spark, d, as_of=min(e, n))
            out.extend(
                facts.where(F.col("at_e") == e)
                .join(state, "k")
                .select("f_id", "seg")
                .collect()
            )
        return sorted((r.f_id, r.seg) for r in out)

    def test_inner_equals_naive(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        facts = self._facts(spark)
        got = scd2_enrich(
            facts, scd2_history(spark, d), ["k"], "at_e", how="inner"
        )
        assert sorted(
            (r.f_id, r.seg) for r in got.select("f_id", "seg").collect()
        ) == self._naive(spark, d, facts)

    def test_left_nulls(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        facts = self._facts(spark)
        got = scd2_enrich(
            facts, scd2_history(spark, d), ["k"], "at_e", how="left"
        )
        rows = {r.f_id: r.seg for r in got.collect()}
        assert len(rows) == facts.count()  # every fact kept
        assert rows[7] is None  # unknown key
        assert rows[5] is None  # k=3 deleted at epoch 3
        assert rows[6] == "C2"  # re-inserted at epoch 4
        assert rows[2] == "b" and rows[3] == "B"  # version change

    def test_column_clash_refused(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        facts = self._facts(spark).withColumn("seg", F.lit("x"))
        with pytest.raises(ValueError, match="rename"):
            scd2_enrich(facts, scd2_history(spark, d), ["k"], "at_e")

    def test_bad_how(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        with pytest.raises(ValueError, match="how"):
            scd2_enrich(
                self._facts(spark), scd2_history(spark, d), ["k"],
                "at_e", how="full",
            )

    def test_random_history_property(self, spark, tmp_path):
        """Any random upsert/delete history: enrich ≡ the per-epoch loop."""
        rng = random.Random(8)
        d = str(tmp_path / "rand")
        keys = list(range(6))
        table_build(
            _dim(spark, [(k, f"s{rng.randrange(3)}") for k in keys[:4]]),
            d, ["k"],
        )
        n_batches = 5
        for b in range(2, n_batches + 1):
            if rng.random() < 0.3:
                alive = {r.k for r in table_read(spark, d).select("k").collect()}
                victims = [k for k in alive if rng.random() < 0.5]
                if not victims:
                    victims = list(alive)[:1]
                table_apply(_dels(spark, victims), d)
            else:
                chosen = [k for k in keys if rng.random() < 0.5] or [keys[0]]
                table_apply(
                    _dim(spark, [(k, f"s{b}{rng.randrange(3)}") for k in chosen]),
                    d,
                )
        facts = spark.createDataFrame(
            [
                (i, rng.choice(keys), float(i), rng.randrange(1, n_batches + 1))
                for i in range(40)
            ],
            FACT,
        )
        got = scd2_enrich(
            facts, scd2_history(spark, d), ["k"], "at_e", how="inner"
        )
        assert sorted(
            (r.f_id, r.seg) for r in got.select("f_id", "seg").collect()
        ) == self._naive(spark, d, facts)


class TestPlan:
    def test_no_python_no_cartesian(self, spark, tmp_path):
        d = _build_dim(spark, tmp_path)
        facts = spark.createDataFrame([(1, 1, 1.0, 2)], FACT)
        plan = scd2_enrich(
            facts, scd2_history(spark, d), ["k"], "at_e"
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

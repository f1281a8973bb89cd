"""Salted aggregation equals direct aggregation, including on skewed data."""

import pytest

from pyspark.sql import functions as F

from mini_data_platform_spark.operators.skew import salted_agg


class TestSaltedAgg:
    def _skewed(self, spark):
        # one hot key with 10k rows, 50 cold keys with 10 each
        hot = spark.range(10_000).select(
            F.lit("HOT").alias("k"), (F.col("id") % 97).cast("double").alias("v")
        )
        cold = spark.range(500).select(
            F.concat(F.lit("c"), (F.col("id") % 50)).alias("k"),
            F.col("id").cast("double").alias("v"),
        )
        return hot.unionByName(cold)

    def test_matches_direct_agg(self, spark):
        df = self._skewed(spark)
        direct = {
            r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
            for r in df.groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.sum("v").alias("total"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
            .collect()
        }
        salted = {
            r["k"]: (r["n"], r["total"], r["lo"], r["hi"])
            for r in salted_agg(
                df,
                ["k"],
                {
                    "n": ("count", "*"),
                    "total": ("sum", "v"),
                    "lo": ("min", "v"),
                    "hi": ("max", "v"),
                },
                n_salts=8,
            ).collect()
        }
        assert salted == direct

    def test_rejects_non_decomposable(self, spark):
        df = self._skewed(spark)
        with pytest.raises(ValueError, match="non-decomposable"):
            salted_agg(df, ["k"], {"m": ("median", "v")})

    def test_two_shuffles(self, spark):
        from tests.explain import count_exchanges

        df = self._skewed(spark)
        out = salted_agg(df, ["k"], {"n": ("count", "*")}, n_salts=4)
        assert count_exchanges(out) == 2


class TestSaltedJoin:
    def _sides(self, spark):
        facts = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(200)] + [(999, 7, 1.0)],
            "event_id long, k long, v double",
        )  # k=7 has no dim match
        dim = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c")], "k long, name string"
        )
        return facts, dim

    def test_inner_equals_plain_join(self, spark):
        from mini_data_platform_spark.operators.skew import salted_join

        facts, dim = self._sides(spark)
        got = sorted(
            salted_join(facts, dim, ["k"], n_salts=5).collect(),
            key=lambda r: r["event_id"],
        )
        want = sorted(
            facts.join(dim, ["k"]).collect(), key=lambda r: r["event_id"]
        )
        assert [tuple(sorted(r.asDict().items())) for r in got] == [
            tuple(sorted(r.asDict().items())) for r in want
        ]

    def test_left_preserves_unmatched_facts(self, spark):
        from mini_data_platform_spark.operators.skew import salted_join

        facts, dim = self._sides(spark)
        got = salted_join(facts, dim, ["k"], n_salts=4, how="left")
        collected = got.collect()
        # row COUNT first: a dict would silently collapse duplicated
        # fact rows, the exact failure mode a broken salt join causes
        assert len(collected) == 201
        rows = {r["event_id"]: r["name"] for r in collected}
        assert len(rows) == 201  # every fact row exactly once
        assert rows[999] is None  # unmatched key survives as null

    def test_guards(self, spark):
        from mini_data_platform_spark.operators.skew import salted_join

        facts, dim = self._sides(spark)
        with pytest.raises(ValueError, match="inner/left"):
            salted_join(facts, dim, ["k"], how="right")
        clash = dim.withColumnRenamed("name", "v")  # collides with facts.v
        with pytest.raises(ValueError, match="both sides"):
            salted_join(facts, clash, ["k"])

    def test_salt_column_collision_rejected(self, spark):
        from mini_data_platform_spark.operators.skew import salted_join

        facts, dim = self._sides(spark)
        with pytest.raises(ValueError, match="working column"):
            salted_join(facts.withColumn("_salt", facts.v), dim, ["k"])
        with pytest.raises(ValueError, match="working column"):
            salted_join(facts, dim.withColumn("_salt", dim.name), ["k"])

"""Bloom semi-join: no false negatives ever, exact mode kills false
positives, probe plan stays JVM-side with zero Python boundaries."""

import pytest

from pyspark.sql import functions as F

from mini_data_platform_spark.operators.bloomjoin import (
    bloom_semi_join,
    build_bloom_words,
    might_contain,
    size_bloom,
)


class TestBloomFilter:
    def test_no_false_negatives_long_keys(self, spark):
        keys = spark.range(0, 5_000, 7).select(F.col("id").alias("k"))
        words = build_bloom_words(keys, "k")
        hits = (
            keys.where(might_contain(words, F.col("k"))).count()
        )
        assert hits == keys.count()

    def test_no_false_negatives_string_keys(self, spark):
        keys = spark.range(500).select(
            F.concat(F.lit("key-"), F.col("id")).alias("k")
        )
        words = build_bloom_words(keys, "k")
        assert keys.where(might_contain(words, F.col("k"))).count() == 500

    def test_false_positive_rate_bounded(self, spark):
        # 500 inserted keys in a 2^20-bit / 5-hash filter: theoretical
        # fpp ~ (1 - e^(-5*500/2^20))^5 ~ 1e-13; allow a loose 1% bound
        # on a disjoint 10k-key probe set so the test is hash-agnostic.
        keys = spark.range(500).select(F.col("id").alias("k"))
        probe = spark.range(100_000, 110_000).select(F.col("id").alias("k"))
        words = build_bloom_words(keys, "k")
        fp = probe.where(might_contain(words, F.col("k"))).count()
        assert fp <= 100

    def test_probe_of_words_that_fit_32_bits(self, spark):
        # the filter whose only set bit is bit 0 is the literal [1], which
        # would infer array<int>: exactly the keys whose one hash lands on
        # bit 0 match, and probes of bits 32..63 answer false, not fail
        probe = spark.range(200).select(F.col("id").alias("k"))
        on_bit_0 = F.pmod(F.xxhash64("k", F.lit(0)), F.lit(64)) == 0
        want = {r.k for r in probe.where(on_bit_0).collect()}
        got = probe.where(might_contain([1], F.col("k"), 1)).collect()
        assert {r.k for r in got} == want and 0 < len(want) < 200

    def test_word_array_is_sketch_sized(self, spark):
        keys = spark.range(1000).select(F.col("id").alias("k"))
        words = build_bloom_words(keys, "k", num_bits=1 << 12)
        assert len(words) == (1 << 12) // 64
        assert any(w != 0 for w in words)

    def test_num_bits_must_align(self, spark):
        keys = spark.range(10).select(F.col("id").alias("k"))
        with pytest.raises(ValueError):
            build_bloom_words(keys, "k", num_bits=100)

    def test_size_bloom_formula(self):
        m, k = size_bloom(1_000_000, fpp=0.01)
        # ~9.6 bits/key and 7 hashes at 1% — the textbook optimum
        assert 9_000_000 <= m <= 10_500_000 and m % 64 == 0
        assert k == 7
        with pytest.raises(ValueError):
            size_bloom(100, fpp=1.5)


class TestBloomSemiJoin:
    def _frames(self, spark):
        fact = spark.range(2_000).select(
            (F.col("id") % 400).alias("fk"), F.col("id").alias("payload")
        )
        dim = spark.range(0, 400, 13).select(F.col("id").alias("dk"))
        return fact, dim

    def test_exact_equals_plain_semijoin(self, spark):
        fact, dim = self._frames(spark)
        expected = sorted(
            r["payload"]
            for r in fact.join(
                dim, fact["fk"] == dim["dk"], "left_semi"
            ).collect()
        )
        got = sorted(
            r["payload"]
            for r in bloom_semi_join(fact, dim, "fk", "dk").collect()
        )
        assert got == expected

    def test_exact_survives_saturated_filter(self, spark):
        # 64-bit filter over 31 keys: essentially every bit set, so the
        # prefilter passes ~everything — the verification join must still
        # reduce to the exact semi-join.
        fact, dim = self._frames(spark)
        expected = fact.join(dim, fact["fk"] == dim["dk"], "left_semi").count()
        got = bloom_semi_join(
            fact, dim, "fk", "dk", num_bits=64, num_hashes=2
        ).count()
        assert got == expected

    def test_inexact_mode_is_superset(self, spark):
        fact, dim = self._frames(spark)
        true_keys = {
            r["fk"]
            for r in fact.join(
                dim, fact["fk"] == dim["dk"], "left_semi"
            ).collect()
        }
        pre_keys = {
            r["fk"]
            for r in bloom_semi_join(
                fact, dim, "fk", "dk", exact=False
            ).collect()
        }
        assert true_keys <= pre_keys

    def test_auto_sized_equals_plain_semijoin(self, spark):
        fact, dim = self._frames(spark)
        expected = fact.join(dim, fact["fk"] == dim["dk"], "left_semi").count()
        got = bloom_semi_join(
            fact, dim, "fk", "dk", num_bits=None, fpp=0.001
        ).count()
        assert got == expected

    def test_null_fact_keys_never_match(self, spark):
        fact = spark.range(10).select(
            F.when(F.col("id") < 5, F.col("id")).alias("fk"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(5).select(F.col("id").alias("dk"))
        got = bloom_semi_join(fact, dim, "fk", "dk").count()
        assert got == 5  # the 5 non-null matching rows only

    def test_probe_plan_is_jvm_side(self, spark):
        # the membership prefilter must stay inside codegen: no Python
        # evals (BatchEvalPython/ArrowEvalPython) anywhere in the plan
        fact, dim = self._frames(spark)
        plan = (
            bloom_semi_join(fact, dim, "fk", "dk")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan


class TestNullKeys:
    def test_null_fact_keys_excluded_inexact(self, spark):
        """xxhash64 skips null inputs, so without an explicit null
        filter every null fact key hashes to the same k positions and
        the inexact 'superset' would admit all of them (advice r6)."""
        keys = spark.range(1000).select(F.col("id").alias("k"))
        fact = spark.range(200).select(
            F.when(F.col("id") % 2 == 0, F.col("id")).alias("k")
        )
        out = bloom_semi_join(fact, keys, "k", exact=False)
        assert out.where(F.col("k").isNull()).count() == 0
        # non-null even ids are all true members and must survive
        assert out.count() == 100

    def test_null_fact_keys_excluded_exact(self, spark):
        keys = spark.range(100).select(F.col("id").alias("k"))
        fact = spark.createDataFrame(
            [(1,), (None,), (2,), (None,)], "k bigint"
        )
        got = sorted(
            r["k"] for r in bloom_semi_join(fact, keys, "k").collect()
        )
        assert got == [1, 2]

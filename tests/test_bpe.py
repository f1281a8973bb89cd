"""Distributed BPE vocabulary induction vs the independent sequential
reference: merge-for-merge equality, encoder equality, determinism
under partitioning, and the stopping rule."""

import random

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators import bpe
from mini_data_platform_spark.operators.bpe import (
    EOW,
    bpe_learn,
    bpe_segment_words,
    bpe_token_counts,
    reference_merges,
    reference_segment,
    word_freqs,
)


def _docs(spark, texts, n_parts=None):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return df.repartition(n_parts) if n_parts else df


TEXTS = [
    "low low low low low lower lower newest newest newest",
    "newest newest newest widest widest widest the newest",
    "lowest low low new new new wider widest  lower",
]


def _freqs(texts):
    out = {}
    for t in texts:
        for w in t.split():
            out[w] = out.get(w, 0) + 1
    return out


class TestLearn:
    def test_matches_reference_merge_for_merge(self, spark):
        got = bpe_learn(_docs(spark, TEXTS), "text", 12)
        want = reference_merges(_freqs(TEXTS), 12)
        assert got == want
        assert len(got) > 5  # the corpus supports a real merge sequence

    def test_partitioning_invariance(self, spark):
        a = bpe_learn(_docs(spark, TEXTS, 1), "text", 8)
        b = bpe_learn(_docs(spark, TEXTS, 7), "text", 8)
        assert a == b

    def test_driver_and_distributed_paths_agree(self, spark, monkeypatch):
        """r15 small-vocab fast path: the driver-side merge loop (the
        default under the cap) and the distributed loop
        (DRIVER_MAX_WORDS=0 forces it) must be merge-for-merge equal —
        including the pair counts and the min_count stopping rule."""
        docs = _docs(spark, TEXTS, 3)
        fast = bpe_learn(docs, "text", 12)
        monkeypatch.setattr(bpe, "DRIVER_MAX_WORDS", 0)
        dist = bpe_learn(docs, "text", 12)
        assert fast == dist
        # a cap the vocab overflows must also fall through to the
        # distributed loop (probe returns cap+1 rows)
        monkeypatch.setattr(bpe, "DRIVER_MAX_WORDS", 2)
        overflow = bpe_learn(docs, "text", 12)
        assert overflow == dist

    def test_token_counts_paths_agree(self, spark, monkeypatch):
        """r15: bpe_token_counts' driver-side vocabulary segmentation
        (reference_segment over a bounded collect) must equal the
        distributed fold path row-for-row."""
        docs = _docs(spark, TEXTS, 3)
        merges = bpe_learn(docs, "text", 10)

        def counts():
            return {
                (r["id"], r["n_bpe_tokens"], r["n_words"])
                for r in bpe_token_counts(
                    docs, "doc_id", "text", merges
                ).collect()
            }

        fast = counts()
        monkeypatch.setattr(bpe, "DRIVER_MAX_WORDS", 0)
        dist = counts()
        assert fast == dist and len(fast) == len(TEXTS)

    def test_random_corpus_property(self, spark):
        rng = random.Random(3)
        vocab = ["ab", "abc", "abcd", "xy", "xyz", "q", "aab", "bba"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(30)) for _ in range(8)
        ]
        got = bpe_learn(_docs(spark, texts), "text", 15)
        assert got == reference_merges(_freqs(texts), 15)

    def test_min_count_stopping_rule(self, spark):
        # every word unique => every pair count == 1 < min_count=2
        texts = ["abc defg", "hij klmn"]
        assert bpe_learn(_docs(spark, texts), "text", 5) == []
        # min_count=1 learns something
        assert bpe_learn(
            _docs(spark, texts), "text", 3, min_count=1
        ) == reference_merges(_freqs(texts), 3, min_count=1)

    def test_overlapping_pair_semantics(self, spark):
        # 'aaa' with pair (a,a): greedy left-to-right -> [aa, a, </w>]
        texts = ["aaa aaa aaa"]
        merges = bpe_learn(_docs(spark, texts), "text", 1)
        assert merges[0][:2] == ("a", "a")
        seg = bpe_segment_words(
            spark.createDataFrame([("aaa",)], "word string"), merges
        ).collect()[0]
        assert seg["syms"] == ["aa", "a", EOW]
        assert reference_segment("aaa", merges) == ["aa", "a", EOW]


class TestEncode:
    def test_segment_words_matches_reference(self, spark):
        merges = bpe_learn(_docs(spark, TEXTS), "text", 10)
        words = sorted(_freqs(TEXTS))
        out = {
            r["word"]: r["syms"]
            for r in bpe_segment_words(
                spark.createDataFrame([(w,) for w in words], "word string"),
                merges,
            ).collect()
        }
        for w in words:
            assert out[w] == reference_segment(w, merges), w

    def test_token_counts_match_reference(self, spark):
        merges = bpe_learn(_docs(spark, TEXTS), "text", 10)
        got = {
            r["id"]: (r["n_bpe_tokens"], r["n_words"])
            for r in bpe_token_counts(
                _docs(spark, TEXTS), "doc_id", "text", merges
            ).collect()
        }
        for i, t in enumerate(TEXTS):
            words = t.split()
            want = sum(len(reference_segment(w, merges)) for w in words)
            assert got[i] == (want, len(words))

    def test_empty_merges_counts_chars_plus_eow(self, spark):
        got = bpe_token_counts(
            _docs(spark, ["ab c"]), "doc_id", "text", []
        ).collect()[0]
        # 'ab' -> [a, b, </w>] (3), 'c' -> [c, </w>] (2)
        assert (got["n_bpe_tokens"], got["n_words"]) == (5, 2)


class TestWordFreqs:
    def test_whitespace_and_empty_handling(self, spark):
        df = spark.createDataFrame(
            [(1, "  a  b\ta \n b  "), (2, None), (3, "   ")],
            "doc_id long, text string",
        )
        got = {
            r["word"]: r["freq"] for r in word_freqs(df, "text").collect()
        }
        assert got == {"a": 2, "b": 2}


class TestPlanShape:
    def test_no_python_in_learn_round(self, spark):
        """The merge fold and pair counting must stay JVM-side."""
        from mini_data_platform_spark.operators.bpe import (
            _initial_symbols,
            _merge_expr,
            _pair_counts,
        )

        words = word_freqs(_docs(spark, TEXTS), "text").select(
            _initial_symbols(F.col("word")).alias("syms"), "freq"
        )
        plan = _pair_counts(words)._jdf.queryExecution().executedPlan().toString()
        merged = words.select(_merge_expr(F.col("syms"), "e", "s").alias("syms"))
        plan2 = merged._jdf.queryExecution().executedPlan().toString()
        for p in (plan, plan2):
            assert "BatchEvalPython" not in p
            assert "ArrowEvalPython" not in p

"""Incremental near-dup index: increment pairs ∪ batch-1 pairs must
equal the full-corpus recompute exactly; later increments must see
earlier ones; verification must touch only candidate corpus docs (the
index-reuse proof)."""

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from mini_data_platform_spark.operators.dedup_fuzzy import (
    _staged_shingles,
    lsh_band_keys,
    minhash_signatures_from,
    near_dup_pairs,
)
from mini_data_platform_spark.operators.incremental import (
    embdup_index_build,
    embdup_index_increment,
    embdup_index_lookup,
    exact_index_build,
    exact_index_increment,
    exact_index_lookup,
    neardup_index_build,
    neardup_index_increment,
    neardup_index_lookup,
    neardup_index_pairs,
)
from mini_data_platform_spark.operators.occlog import _read_meta
from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators import resources
from mini_data_platform_spark.operators.resources import release_plan

NUM_HASHES, BANDS, SHINGLE_N, THRESH = 16, 4, 3, 0.5


def _corpus(spark, start, n, seed_words=("alpha", "beta", "gamma", "delta")):
    """n docs with ids [start, start+n): repeating token patterns so
    shingles exist; text varies per id."""
    w = " ".join(seed_words)
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit(w),
            F.concat(F.lit("tok"), F.col("id")),
            F.concat(F.lit("word"), F.col("id") % 7),
            F.lit(w),
            F.concat(F.lit("x"), F.col("id") % 3),
        ).alias("text"),
    )


def _mutated(docs, offset):
    """Near-duplicate copies: drop the first token, shift ids."""
    t = F.split(F.trim(F.col("text")), " +")
    return docs.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.concat_ws(" ", F.slice(t, 2, F.size(t) - 1)).alias("text"),
    )


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in df.collect()
    }


def _full_pairs(corpus):
    out = near_dup_pairs(
        corpus, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
    )
    got = _pairs_set(out)
    release_plan(out)
    return got


def _vec_corpus(spark, start, n):
    return spark.range(start, start + n).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.col("id").cast("double") + 1.0,
            (F.col("id") % 7 - 3).cast("double"),
            (F.col("id") % 5 - 2).cast("double"),
        ).alias("embedding"),
    )


def _copies(spark, kind, offset):
    """A batch of near-duplicates (exact copies for the exact kind) of
    the 30-doc corpus ``INDEX_KINDS[kind]`` builds, ids shifted by
    ``offset``."""
    if kind == "embdup":
        return _vec_corpus(spark, 0, 30).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 0.5).alias(
                "embedding"
            ),
        )
    docs = _corpus(spark, 0, 30)
    if kind == "exact":
        return docs.select((F.col("doc_id") + offset).alias("doc_id"), "text")
    return _mutated(docs, offset)


def _dup_of_set(df):
    return {(r["id"], r["dup_of"]) for r in df.collect()}


def _cos_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["cos_sim"], 12)) for r in df.collect()
    }


#: kind -> (build a 30-doc index, increment, lookup, result as a set)
INDEX_KINDS = {
    "neardup": (
        lambda spark, d: neardup_index_build(
            _corpus(spark, 0, 30), d, "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N,
        ),
        neardup_index_increment,
        neardup_index_lookup,
        _pairs_set,
    ),
    "exact": (
        lambda spark, d: exact_index_build(
            _corpus(spark, 0, 30), d, "doc_id", "text"
        ),
        exact_index_increment,
        exact_index_lookup,
        _dup_of_set,
    ),
    "embdup": (
        lambda spark, d: embdup_index_build(
            _vec_corpus(spark, 0, 30), d, "vec_id", "embedding",
            threshold=0.9,
        ),
        embdup_index_increment,
        embdup_index_lookup,
        _cos_set,
    ),
}


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ndidx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestKindGuard:
    """Every kind-specific operation checks the checkpoint's kind before
    it reads or writes anything; a checkpoint without ``kind`` is a
    near-dup index."""

    @pytest.fixture(scope="class")
    def indexes(self, spark):
        root = tempfile.mkdtemp(prefix="kinds_")
        dirs = {kind: os.path.join(root, kind) for kind in INDEX_KINDS}
        for kind, (build, *_ops) in INDEX_KINDS.items():
            build(spark, dirs[kind])
        yield dirs
        shutil.rmtree(root, ignore_errors=True)

    @pytest.mark.parametrize("op", ["increment", "lookup"])
    @pytest.mark.parametrize(
        "op_kind,index_kind",
        [(a, b) for a in INDEX_KINDS for b in INDEX_KINDS if a != b],
    )
    def test_operation_refuses_other_kind(
        self, spark, indexes, op, op_kind, index_kind
    ):
        _build, increment, lookup, _rows = INDEX_KINDS[op_kind]
        fn = increment if op == "increment" else lookup
        d = indexes[index_kind]
        meta = _read_meta(d)
        with pytest.raises(ValueError, match="is not a"):
            fn(_copies(spark, op_kind, 1000), d)
        assert _read_meta(d) == meta

    @pytest.mark.parametrize("index_kind", ["exact", "embdup"])
    def test_index_pairs_refuses_other_kind(self, spark, indexes, index_kind):
        with pytest.raises(ValueError, match="is not a near-dup index"):
            neardup_index_pairs(spark, indexes[index_kind])

    @pytest.mark.parametrize("index_kind", ["exact", "embdup"])
    def test_stream_seed_export_refuses_other_kind(
        self, spark, indexes, index_kind, tmp_path
    ):
        from mini_data_platform_spark.streaming.neardup import (
            export_index_seed,
        )

        seed = str(tmp_path / "seed")
        with pytest.raises(ValueError, match="is not a near-dup index"):
            export_index_seed(spark, indexes[index_kind], seed)
        assert not os.path.exists(seed)


class TestEquivalence:
    def test_increment_union_equals_full_recompute(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 120)
        b2 = _mutated(b1, 1000)  # near-dups of batch 1
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        within_b1 = _full_pairs(b1)
        full = _full_pairs(b1.unionByName(b2))
        assert incr | within_b1 == full
        # the increment found the planted cross-batch near-dups
        assert any(a < 1000 <= b for a, b, _ in incr)

    def test_second_increment_sees_first(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 60)
        b2 = _corpus(spark, 200, 60, seed_words=("omega", "psi", "chi", "phi"))
        b3 = _mutated(b2, 1000)  # near-dups of BATCH 2, not batch 1
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        incr2 = _pairs_set(neardup_index_increment(b2, tmpdir))
        incr3 = _pairs_set(neardup_index_increment(b3, tmpdir))
        # batch 3's dups pair with batch 2 docs — only visible if the
        # first increment appended batch 2 to the index
        assert any(200 <= a < 300 and b >= 1000 for a, b, _ in incr3)
        union = _full_pairs(b1) | incr2 | incr3
        full = _full_pairs(b1.unionByName(b2).unionByName(b3))
        assert union == full

    def test_meta_tracks_batches(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 30)
        neardup_index_build(b1, tmpdir, "doc_id", "text")
        neardup_index_increment(_corpus(spark, 100, 20), tmpdir)
        meta = _read_meta(tmpdir)
        assert meta["n_docs"] == 50
        assert meta["n_batches"] == 2

    def test_build_refuses_existing_index(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 10)
        neardup_index_build(b1, tmpdir, "doc_id", "text")
        with pytest.raises(ValueError):
            neardup_index_build(b1, tmpdir, "doc_id", "text")

    def test_result_durable_after_restartish_reread(self, spark, tmpdir):
        """The returned pairs come from persisted parquet: collecting
        twice (and re-reading the path) is stable."""
        b1 = _corpus(spark, 0, 40)
        neardup_index_build(b1, tmpdir, "doc_id", "text")
        out = neardup_index_increment(_mutated(b1, 1000), tmpdir)
        first = _pairs_set(out)
        assert first == _pairs_set(out)
        from mini_data_platform_spark.operators.incremental import (
            _pairs_path,
            _recover_meta,
        )

        reread = spark.read.parquet(
            _pairs_path(tmpdir, _recover_meta(tmpdir), 1)
        )
        assert first == _pairs_set(reread)


class TestIndexReuse:
    def test_noncandidate_corpus_text_never_read(self, spark, tmpdir):
        """THE index-reuse proof: garble the stored text of every corpus
        doc that shares no LSH bucket with the new batch — if the
        increment re-shingled the settled corpus, the garbled text would
        change signatures/pairs; the output must be identical."""
        b1 = _corpus(spark, 0, 120)
        b2 = _mutated(b1.where(F.col("doc_id") < 40), 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )

        # compute the candidate corpus ids exactly as the increment does
        batch = b2.select(
            F.col("doc_id").alias("id"), F.col("text").cast("string").alias("text")
        )
        sigs_new = minhash_signatures_from(
            _staged_shingles(batch, "id", "text", SHINGLE_N), "id", NUM_HASHES
        )
        bands_new = lsh_band_keys(sigs_new, "id", NUM_HASHES, BANDS)
        from mini_data_platform_spark.operators.incremental import (
            _read_table,
        )
        from mini_data_platform_spark.operators.occlog import (
            segment_paths as _segment_paths,
        )

        meta = _read_meta(tmpdir)
        buckets = _read_table(spark, tmpdir, "buckets", meta)
        cand_old_ids = {
            r["id"]
            for r in buckets.alias("o")
            .join(
                bands_new.alias("n"),
                (F.col("o.band_id") == F.col("n.band_id"))
                & (F.col("o.band_key") == F.col("n.band_key")),
            )
            .select(F.col("o.id"))
            .distinct()
            .collect()
        }
        assert cand_old_ids, "fixture must produce candidates"
        assert len(cand_old_ids) < 120, "fixture must leave non-candidates"

        # garble non-candidate stored text and shingle-hash sets (docs/
        # only; buckets untouched) — rewrite the single committed docs
        # segment
        (docs_path,) = _segment_paths(tmpdir, "docs", meta)
        stored_df = spark.read.parquet(docs_path)
        garbled = [
            r if r["id"] in cand_old_ids else (r["id"], "GARBLED GARBLED", [0])
            for r in stored_df.collect()
        ]
        tmp_out = docs_path + "_garbled"
        spark.createDataFrame(garbled, stored_df.schema).write.parquet(
            tmp_out
        )
        shutil.rmtree(docs_path)
        os.replace(tmp_out, docs_path)

        got = _pairs_set(neardup_index_increment(b2, tmpdir))
        want = {
            p
            for p in _full_pairs(
                b1.unionByName(b2)
            )
            if p[0] >= 1000 or p[1] >= 1000
        }
        assert got == want


class TestExactIndex:
    def test_increment_resolves_to_global_min(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
        )

        b1 = _corpus(spark, 0, 50)
        # batch 2: exact copies of b1's first 20 docs (+ case/space noise
        # the normalizer folds) + 10 genuinely new docs
        copies = b1.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000).alias("doc_id"),
            F.upper(F.concat(F.col("text"), F.lit("  "))).alias("text"),
        )
        fresh = _corpus(spark, 2000, 10, seed_words=("zeta", "eta", "mu", "nu"))
        b2 = copies.unionByName(fresh)
        exact_index_build(b1, tmpdir, "doc_id", "text")
        out = exact_index_increment(b2, tmpdir).collect()
        by_id = {r["id"]: r["dup_of"] for r in out}
        assert len(by_id) == 30
        for i in range(20):
            assert by_id[1000 + i] == i  # resolved to the indexed copy
        for i in range(10):
            assert by_id[2000 + i] == 2000 + i  # fresh docs survive

    def test_second_increment_sees_first(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
        )

        b1 = _corpus(spark, 0, 20)
        b2 = _corpus(spark, 100, 20, seed_words=("aa", "bb", "cc", "dd"))
        exact_index_build(b1, tmpdir, "doc_id", "text")
        exact_index_increment(b2, tmpdir)
        # batch 3 copies batch 2's text — dup_of must point into b2
        b3 = b2.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        out = {r["id"]: r["dup_of"] for r in exact_index_increment(b3, tmpdir).collect()}
        assert all(out[1000 + i] == i for i in range(100, 120))

    def test_batch_internal_dups_resolve_within_batch(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
        )

        b1 = _corpus(spark, 0, 10)
        exact_index_build(b1, tmpdir, "doc_id", "text")
        base = _corpus(spark, 500, 5, seed_words=("q", "r", "s", "t"))
        dup_in_batch = base.select(
            (F.col("doc_id") + 50).alias("doc_id"), "text"
        )
        out = {
            r["id"]: r["dup_of"]
            for r in exact_index_increment(
                base.unionByName(dup_in_batch), tmpdir
            ).collect()
        }
        for i in range(500, 505):
            assert out[i] == i
            assert out[i + 50] == i


class TestEmbIndex:
    def _vecs(self, spark, start, n, dim=8):
        return spark.range(start, start + n).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.col("id").cast("double") + 1.0,
                *[
                    (F.col("id") * (i + 1) % 13 - 6).cast("double")
                    for i in range(dim - 1)
                ],
            ).alias("embedding"),
        )

    def test_increment_union_equals_full_lsh_recompute(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_increment,
        )
        from mini_data_platform_spark.operators.similarity import (
            near_dup_embeddings,
            planes_from_corpus,
        )

        b1 = self._vecs(spark, 0, 100)
        # batch 2: positively-scaled copies -> same direction, same
        # bucket, cosine exactly 1.0 with their originals
        b2 = b1.select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 0.5).alias(
                "embedding"
            ),
        )
        planes = planes_from_corpus(b1, "vec_id", "embedding", 4)
        embdup_index_build(
            b1, tmpdir, "vec_id", "embedding", threshold=0.8, planes=planes
        )
        incr = {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in embdup_index_increment(b2, tmpdir).collect()
        }
        union = b1.unionByName(b2)
        full = {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in near_dup_embeddings(
                union, "vec_id", "embedding", 0.8, n_planes=4
            ).collect()
        }
        within_b1 = {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in near_dup_embeddings(
                b1, "vec_id", "embedding", 0.8, n_planes=4
            ).collect()
        }
        assert incr | within_b1 == full
        # every original pairs with its scaled copy at cos 1.0
        assert sum(1 for a, b, c in incr if b == a + 1000 and c == 1.0) == 100

    def test_second_increment_sees_first(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_increment,
        )

        b1 = self._vecs(spark, 0, 40)
        b2 = self._vecs(spark, 200, 40)
        b3 = b2.select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 2.0).alias(
                "embedding"
            ),
        )
        embdup_index_build(b1, tmpdir, "vec_id", "embedding", threshold=0.95)
        embdup_index_increment(b2, tmpdir)
        out = embdup_index_increment(b3, tmpdir).collect()
        # scaled copies of batch 2 must resolve against batch-2 rows
        # (cos(v, 2v) is 1 +- ulp: s/sqrt(s)^2 is not exactly 1.0)
        hits = {
            (r["id_a"], r["id_b"]) for r in out if r["cos_sim"] > 0.999999
        }
        assert all((a + 1000) == b for a, b in hits if 200 <= a < 240)
        assert sum(1 for a, b in hits if 200 <= a < 240 and b == a + 1000) == 40


class TestCompaction:
    def test_compact_preserves_results(self, spark, tmpdir):
        """After several appends the index fragments; compaction must
        shrink file counts without changing any future increment's
        output."""
        from mini_data_platform_spark.operators.incremental import (
            compact_index,
        )
        from mini_data_platform_spark.sinks.compact import dir_parquet_stats

        b1 = _corpus(spark, 0, 40)
        neardup_index_build(b1, tmpdir, "doc_id", "text")
        for i in range(3):
            neardup_index_increment(
                _corpus(spark, 100 * (i + 1), 20,
                        seed_words=(f"s{i}", "b", "c", "d")),
                tmpdir,
            )
        before, _ = dir_parquet_stats(os.path.join(tmpdir, "buckets"))
        counts = compact_index(spark, tmpdir)
        after, _ = dir_parquet_stats(os.path.join(tmpdir, "buckets"))
        assert after < before
        assert counts["buckets"] == after
        # an increment after compaction still finds its cross-batch dups
        b5 = _mutated(b1, 9000)
        incr = _pairs_set(neardup_index_increment(b5, tmpdir))
        assert any(a < 40 and b >= 9000 for a, b, _ in incr)


class TestIndexPairs:
    def test_index_algebra_snapshot_isolated(self, spark, tmpdir):
        """index_pairs(build) ∪ increment == full recompute, and the
        snapshot taken BEFORE the increment is immune to the append
        (future batches cannot leak into an earlier snapshot)."""
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_pairs,
        )

        b1 = _corpus(spark, 0, 80).unionByName(
            _mutated(_corpus(spark, 0, 20), 500)  # within-b1 near-dups
        )
        b2 = _mutated(_corpus(spark, 30, 30), 2000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        within = neardup_index_pairs(spark, tmpdir)
        snap_before = _pairs_set(within)
        assert any(b >= 500 for _, b, _ in snap_before)  # found b1's dups
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        # the lazy plan re-reads its SNAPSHOT, not the appended buckets
        assert _pairs_set(within) == snap_before
        full = _full_pairs(b1.unionByName(b2))
        assert snap_before | incr == full


class TestIncrementalProperty:
    """Property: for ANY corpus and ANY 2-way batch split, incremental
    pairs ∪ within-batch-1 pairs == full-corpus recompute, exactly.
    Random texts exercise shingle-set edge cases (repeats, short docs,
    shared vocab) no fixture plants deliberately."""

    def test_random_corpora_random_splits(self, spark):
        import random

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        word = st.sampled_from(
            ["red", "blue", "green", "fox", "dog", "run", "jump",
             "alpha", "beta", "gamma", "delta", "zig", "zag"]
        )
        text = st.lists(word, min_size=0, max_size=12).map(" ".join)

        @given(
            texts=st.lists(text, min_size=2, max_size=14),
            seed=st.integers(min_value=0, max_value=10**6),
        )
        @settings(
            max_examples=8,
            deadline=None,
            suppress_health_check=[
                HealthCheck.function_scoped_fixture,
                HealthCheck.too_slow,
            ],
        )
        def prop(texts, seed):
            rng = random.Random(seed)
            rows = [(i, t) for i, t in enumerate(texts)]
            cut = rng.randint(1, len(rows) - 1)
            b1 = spark.createDataFrame(rows[:cut], "doc_id long, text string")
            b2 = spark.createDataFrame(rows[cut:], "doc_id long, text string")
            d = tempfile.mkdtemp(prefix="prop_ndidx_")
            try:
                neardup_index_build(
                    b1, d, "doc_id", "text",
                    THRESH, NUM_HASHES, BANDS, SHINGLE_N,
                )
                from mini_data_platform_spark.operators.incremental import (
                    neardup_index_pairs,
                )

                within = _pairs_set(neardup_index_pairs(b1.sparkSession, d))
                incr = _pairs_set(neardup_index_increment(b2, d))
                full = _full_pairs(b1.unionByName(b2))
                assert within | incr == full, (texts, cut)
            finally:
                shutil.rmtree(d, ignore_errors=True)

        prop()


class TestMaxBucket:
    def test_capped_increment_equals_capped_recompute(self, spark, tmpdir):
        """Hot-bucket cap with FULL-corpus semantics: the increment's
        drop decision uses old+new occupancy, so capped-incremental
        pairs (new-involved) == capped full-recompute pairs
        (new-involved). Hot bucket = exact copies of one text (identical
        signatures -> all bands collide)."""
        CAP = 10
        normal = _corpus(spark, 0, 60)
        hot_old = spark.range(500, 520).select(
            F.col("id").alias("doc_id"),
            F.lit("common boilerplate header repeated verbatim everywhere").alias("text"),
        )
        b1 = normal.unionByName(hot_old)
        # batch: near-dups of normal docs + MORE copies of the hot text
        hot_new = spark.range(1500, 1510).select(
            F.col("id").alias("doc_id"),
            F.lit("common boilerplate header repeated verbatim everywhere").alias("text"),
        )
        b2 = _mutated(normal.where(F.col("doc_id") < 20), 1000).unionByName(
            hot_new
        )
        neardup_index_build(
            b1, tmpdir, "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N, max_bucket=CAP,
        )
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        capped_full = near_dup_pairs(
            b1.unionByName(b2), "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N, max_bucket=CAP,
        )
        want = {
            p for p in _pairs_set(capped_full)
            if p[0] >= 1000 or p[1] >= 1000
        }
        release_plan(capped_full)
        assert incr == want
        # the cap actually bit: hot-bucket pairs are absent...
        assert not any(a >= 1500 or b >= 1500 for a, b, _ in incr)
        # ...while normal near-dups survive
        assert any(b >= 1000 for _, b, _ in incr)

    def test_uncapped_default_unchanged(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 40)
        neardup_index_build(b1, tmpdir, "doc_id", "text")
        incr = _pairs_set(neardup_index_increment(_mutated(b1, 1000), tmpdir))
        full = _full_pairs(b1.unionByName(_mutated(b1, 1000)))
        within = _full_pairs(b1)
        assert incr | within == full


class TestBroadcastGuard:
    """resources.BROADCAST_MAX_ROWS=0 forces every batch-side frame to
    lose its broadcast hint (the plan shape is pinned in
    test_plan_quality.TestIncrementalIndexPlan); results must be
    IDENTICAL on the shuffle path — the guard changes strategy, never
    semantics."""

    def test_neardup_shuffle_path_results_identical(
        self, spark, tmpdir, monkeypatch
    ):
        b1 = _corpus(spark, 0, 80)
        b2 = _mutated(b1, 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", 0)
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        within = _full_pairs(b1)
        full = _full_pairs(b1.unionByName(b2))
        assert incr | within == full

    def test_capped_neardup_shuffle_path_identical(
        self, spark, tmpdir, monkeypatch
    ):
        CAP = 10
        b1 = _corpus(spark, 0, 40)
        b2 = _mutated(b1, 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N, max_bucket=CAP,
        )
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", 0)
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        capped_full = near_dup_pairs(
            b1.unionByName(b2), "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N, max_bucket=CAP,
        )
        want = {
            p for p in _pairs_set(capped_full)
            if p[0] >= 1000 or p[1] >= 1000
        }
        release_plan(capped_full)
        assert incr == want

    def test_exact_index_shuffle_path_identical(
        self, spark, tmpdir, monkeypatch
    ):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
        )

        b1 = _corpus(spark, 0, 30)
        copies = b1.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
        exact_index_build(b1, tmpdir, "doc_id", "text")
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", 0)
        out = {
            r["id"]: r["dup_of"]
            for r in exact_index_increment(copies, tmpdir).collect()
        }
        assert all(out[1000 + i] == i for i in range(10))

    def test_embdup_shuffle_path_identical(self, spark, tmpdir, monkeypatch):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_increment,
        )

        b1 = spark.range(0, 50).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.col("id").cast("double") + 1.0,
                (F.col("id") % 7 - 3).cast("double"),
                (F.col("id") % 5 - 2).cast("double"),
            ).alias("embedding"),
        )
        b2 = b1.select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 0.5).alias(
                "embedding"
            ),
        )
        embdup_index_build(b1, tmpdir, "vec_id", "embedding", threshold=0.9)
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", 0)
        incr = {
            (r["id_a"], r["id_b"])
            for r in embdup_index_increment(b2, tmpdir).collect()
            if r["cos_sim"] > 0.999999
        }
        assert all(b == a + 1000 for a, b in incr if a < 1000)
        assert sum(1 for a, b in incr if b == a + 1000) == 50


class TestAtomicCommit:
    """The per-batch segment commit (round-7 verdict item 2): a crash
    ANYWHERE between the segment writes and the meta swap must leave the
    index serving exactly its pre-increment state, and a plain retry
    must land the batch exactly once."""

    @pytest.mark.parametrize("crash_table", ["buckets", "docs"])
    def test_crash_between_writes_never_serves_half_batch(
        self, spark, tmpdir, monkeypatch, crash_table
    ):
        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 60)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        meta_before = _read_meta(tmpdir)
        b2 = _mutated(b1, 1000)

        real = occlog.write_segment

        def crashing(df, index_dir, table, seg):
            real(df, index_dir, table, seg)
            # OCC-era names are writer-unique: batch-1-<token>
            if table == crash_table and seg.startswith("batch-1"):
                raise RuntimeError("injected crash after segment write")

        monkeypatch.setattr(occlog, "write_segment", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            neardup_index_increment(b2, tmpdir)
        monkeypatch.setattr(occlog, "write_segment", real)

        # the commit log is untouched: orphan segment dirs are invisible
        assert _read_meta(tmpdir) == meta_before

        # plain retry: recomputes batch 1, overwrites the orphans, and
        # the equivalence oracle holds — the batch landed exactly once
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        within = _full_pairs(b1)
        full = _full_pairs(b1.unionByName(b2))
        assert incr | within == full
        meta_after = _read_meta(tmpdir)
        assert meta_after["n_batches"] == 2
        for t in ("buckets", "docs"):
            segs = meta_after["segments"][t]
            assert len(segs) == 2 and segs[0] == "batch-0"
            assert segs[1].startswith("batch-1")

        # and a LATER increment sees the retried batch exactly once
        b3 = _mutated(b1.where(F.col("doc_id") < 10), 5000)
        incr3 = _pairs_set(neardup_index_increment(b3, tmpdir))
        full3 = _full_pairs(b1.unionByName(b2).unionByName(b3))
        assert within | incr | incr3 == full3


class TestLookup:
    def test_lookup_equals_increment_and_commits_nothing(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_lookup,
        )

        b1 = _corpus(spark, 0, 60)
        b2 = _mutated(b1, 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        meta_before = _read_meta(tmpdir)
        looked = neardup_index_lookup(b2, tmpdir)
        got = _pairs_set(looked)
        release_plan(looked)
        # read-only: meta unchanged, idempotent on repeat
        assert _read_meta(tmpdir) == meta_before
        looked2 = neardup_index_lookup(b2, tmpdir)
        assert _pairs_set(looked2) == got
        release_plan(looked2)
        # equals what the committing increment returns
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        assert got == incr


class TestShingleHashVerify:
    """Round-9 verdict item 2: the docs table persists shingle-hash
    sets at commit time and lookups verify from hashes, not text."""

    def test_docs_segments_carry_hash_sets_and_index_docs_hides_them(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            index_docs,
            neardup_index_lookup,
        )

        b1 = _corpus(spark, 0, 60)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        neardup_index_increment(_mutated(b1, 1000), tmpdir)
        docs = spark.read.parquet(
            os.path.join(tmpdir, "docs", "batch-0"),
        )
        assert "_shh" in docs.columns
        # every committed segment (build AND increment) carries the sets
        segs = _read_meta(tmpdir)["segments"]["docs"]
        assert len(segs) == 2
        for seg in segs:
            cols = spark.read.parquet(
                os.path.join(tmpdir, "docs", seg)
            ).columns
            assert "_shh" in cols, seg
        # ...but the settled-corpus accessor keeps its (id, text) shape
        assert "_shh" not in index_docs(spark, tmpdir).columns

    def test_legacy_docs_layout_refused(self, spark, tmpdir):
        """Docs segments without the _shh column (the layout before
        hash sets existed, simulated by stripping the column) are
        refused by every verifying read with a rebuild hint, and a
        refused increment commits nothing."""
        b1 = _corpus(spark, 0, 30)
        b2 = _mutated(b1, 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        seg = os.path.join(tmpdir, "docs", "batch-0")
        legacy = spark.read.parquet(seg).drop("_shh")
        tmp_out = seg + "_legacy"
        legacy.write.mode("overwrite").parquet(tmp_out)
        shutil.rmtree(seg)
        os.rename(tmp_out, seg)
        meta = _read_meta(tmpdir)
        for read in (
            lambda: neardup_index_lookup(b2, tmpdir),
            lambda: neardup_index_lookup(b2, tmpdir, small_batch=True),
            lambda: neardup_index_increment(b2, tmpdir),
            lambda: neardup_index_pairs(spark, tmpdir),
        ):
            with pytest.raises(ValueError, match="rebuild the index"):
                read()
        assert _read_meta(tmpdir) == meta

    def test_small_batch_contract_equals_guarded_lookup(
        self, spark, tmpdir
    ):
        """small_batch=True (the serving latency contract: no count
        jobs, unconditional broadcasts) returns the identical verified
        pair set as the guarded default path."""
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_lookup,
        )

        b1 = _corpus(spark, 0, 60)
        b2 = _mutated(b1, 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        guarded = neardup_index_lookup(b2, tmpdir)
        want = _pairs_set(guarded)
        release_plan(guarded)
        fast = neardup_index_lookup(b2, tmpdir, small_batch=True)
        assert _pairs_set(fast) == want
        release_plan(fast)


class TestLookupTwins:
    def test_exact_lookup_equals_increment_and_commits_nothing(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
            exact_index_lookup,
        )

        b1 = _corpus(spark, 0, 30)
        copies = b1.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
        exact_index_build(b1, tmpdir, "doc_id", "text")
        meta_before = _read_meta(tmpdir)
        looked = exact_index_lookup(copies, tmpdir)
        got = {(r["id"], r["dup_of"]) for r in looked.collect()}
        release_plan(looked)
        assert _read_meta(tmpdir) == meta_before
        incr = {
            (r["id"], r["dup_of"])
            for r in exact_index_increment(copies, tmpdir).collect()
        }
        assert got == incr
        assert all(d == i - 1000 for i, d in got)

    def test_embdup_lookup_equals_increment_and_commits_nothing(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_increment,
            embdup_index_lookup,
        )

        b1 = spark.range(0, 40).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.col("id").cast("double") + 1.0,
                (F.col("id") % 7 - 3).cast("double"),
                (F.col("id") % 5 - 2).cast("double"),
            ).alias("embedding"),
        )
        b2 = b1.select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 0.5).alias(
                "embedding"
            ),
        )
        embdup_index_build(b1, tmpdir, "vec_id", "embedding", threshold=0.9)
        meta_before = _read_meta(tmpdir)
        looked = embdup_index_lookup(b2, tmpdir)
        got = {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in looked.collect()
        }
        release_plan(looked)
        assert _read_meta(tmpdir) == meta_before
        incr = {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in embdup_index_increment(b2, tmpdir).collect()
        }
        assert got == incr


class TestTimeTravel:
    """as_of reads over the commit log: the index as of batch k must
    behave exactly like an index that stopped at batch k."""

    def test_lookup_as_of_equals_shorter_index(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_lookup,
        )

        b1 = _corpus(spark, 0, 50)
        b2 = _mutated(b1.where(F.col("doc_id") < 20), 1000)
        probe = _mutated(b1.where(F.col("doc_id") >= 30), 5000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        neardup_index_increment(b2, tmpdir)

        # twin index that stops at batch 1
        twin = tempfile.mkdtemp(prefix="ndidx_asof_")
        try:
            neardup_index_build(
                b1, twin, "doc_id", "text",
                THRESH, NUM_HASHES, BANDS, SHINGLE_N,
            )
            looked = neardup_index_lookup(probe, tmpdir, as_of=1)
            got_asof = _pairs_set(looked)
            release_plan(looked)
            looked = neardup_index_lookup(probe, twin)
            got_twin = _pairs_set(looked)
            release_plan(looked)
            assert got_asof == got_twin
            # and the PRESENT state sees strictly more corpus: the probe
            # docs near-dup their originals either way, so presence of
            # b2-involving pairs is the discriminator only if probe ids
            # collide with b2's near space — instead check as_of=2 ≡
            # default (no as_of)
            looked = neardup_index_lookup(probe, tmpdir, as_of=2)
            full_asof = _pairs_set(looked)
            release_plan(looked)
            looked = neardup_index_lookup(probe, tmpdir)
            full_now = _pairs_set(looked)
            release_plan(looked)
            assert full_asof == full_now
        finally:
            shutil.rmtree(twin, ignore_errors=True)

    def test_exact_as_of_ignores_later_batches(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
            exact_index_lookup,
        )

        b1 = _corpus(spark, 0, 20)
        b2 = b1.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
        probe = b1.where(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"
        )
        exact_index_build(b1, tmpdir, "doc_id", "text")
        exact_index_increment(b2, tmpdir)
        # as of batch 1 the probe's dup_of is the ORIGINAL (id-100);
        # as of now it is still the original (min id wins over the
        # batch-2 copy at id+100... originals are smaller), so use a
        # probe whose original is ONLY in batch 2:
        only_b2 = spark.createDataFrame(
            [(999, "a brand new unique text payload")], "doc_id long, text string"
        )
        exact_index_increment(only_b2, tmpdir)  # batch 3
        probe2 = only_b2.select((F.col("doc_id") + 1).alias("doc_id"), "text")
        looked_now = exact_index_lookup(probe2, tmpdir)
        now = {(r["id"], r["dup_of"]) for r in looked_now.collect()}
        release_plan(looked_now)
        assert now == {(1000, 999)}
        looked_old = exact_index_lookup(probe2, tmpdir, as_of=2)
        old = {(r["id"], r["dup_of"]) for r in looked_old.collect()}
        release_plan(looked_old)
        # as of batch 2 the 999 text was not indexed: self-min survives
        assert old == {(1000, 1000)}

    def test_as_of_bounds_and_compaction_boundary(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            compact_index,
            neardup_index_lookup,
            neardup_index_pairs,
        )

        b1 = _corpus(spark, 0, 30)
        b2 = _mutated(b1.where(F.col("doc_id") < 10), 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        neardup_index_increment(b2, tmpdir)
        probe = _mutated(b1.where(F.col("doc_id") >= 20), 5000)
        for bad in (0, 3, -1):
            with pytest.raises(ValueError, match="as_of"):
                release_plan(neardup_index_lookup(probe, tmpdir, as_of=bad))
        # index_pairs as_of=1 ≡ pairs of the initial corpus only
        p1 = _pairs_set(neardup_index_pairs(spark, tmpdir, as_of=1))
        assert p1 == _full_pairs(b1)
        compact_index(spark, tmpdir)
        # pre-compaction history is gone
        with pytest.raises(ValueError, match="compacted"):
            release_plan(neardup_index_lookup(probe, tmpdir, as_of=1))
        # the as-of-now read still works and equals the default
        looked = neardup_index_lookup(probe, tmpdir, as_of=2)
        a = _pairs_set(looked)
        release_plan(looked)
        looked = neardup_index_lookup(probe, tmpdir)
        b = _pairs_set(looked)
        release_plan(looked)
        assert a == b


class TestVacuum:
    def test_vacuum_removes_only_orphans(self, spark, tmpdir, monkeypatch):
        import mini_data_platform_spark.operators.incremental as inc
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_lookup,
            vacuum_index,
        )

        b1 = _corpus(spark, 0, 40)
        b2 = _mutated(b1.where(F.col("doc_id") < 15), 1000)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        # crash an increment AFTER its segment writes, BEFORE the commit
        # (the OCC ticket is the commit point now)
        real = occlog.try_ticket

        def crashing(index_dir, version, record):
            raise RuntimeError("injected")

        monkeypatch.setattr(occlog, "try_ticket", crashing)
        with pytest.raises(RuntimeError):
            neardup_index_increment(b2, tmpdir)
        monkeypatch.setattr(occlog, "try_ticket", real)

        stranded = [
            n
            for n in os.listdir(os.path.join(tmpdir, "buckets"))
            if n.startswith("batch-1")
        ]
        assert len(stranded) == 1  # the crash left it
        orphan = os.path.join(tmpdir, "buckets", stranded[0])

        probe = _mutated(b1.where(F.col("doc_id") >= 30), 5000)
        looked = neardup_index_lookup(probe, tmpdir)
        before = _pairs_set(looked)
        release_plan(looked)

        removed = vacuum_index(tmpdir)
        assert orphan in removed
        assert not os.path.exists(orphan)
        # committed segments and pairs outputs untouched
        assert os.path.isdir(os.path.join(tmpdir, "buckets", "batch-0"))
        assert os.path.isdir(os.path.join(tmpdir, "docs", "batch-0"))
        # results identical after vacuum
        looked = neardup_index_lookup(probe, tmpdir)
        assert _pairs_set(looked) == before
        release_plan(looked)
        # idempotent
        assert vacuum_index(tmpdir) == []
        # and the retried increment lands cleanly after the sweep
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        assert incr  # near-dups of b1 exist by construction


class TestIndexDelete:
    """index_delete: tombstoned ids vanish from every read path — the
    index behaves exactly as if built on the remaining corpus — and
    compaction physically purges them."""

    def _built(self, spark, tmpdir, n=80):
        b1 = _corpus(spark, 0, n)
        corpus = b1.unionByName(_mutated(b1, 1000))
        neardup_index_build(
            corpus, tmpdir, "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N,
        )
        return corpus

    def test_pairs_equal_recompute_on_remaining(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            neardup_index_pairs,
        )

        corpus = self._built(spark, tmpdir)
        dead = corpus.where(F.col("doc_id") % 5 == 0)
        index_delete(dead, tmpdir)
        got = _pairs_set(neardup_index_pairs(spark, tmpdir))
        want = _full_pairs(corpus.where(F.col("doc_id") % 5 != 0))
        assert got == want
        # and the delete actually removed something
        assert got != _full_pairs(corpus)

    def test_lookup_and_increment_exclude_deleted(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            neardup_index_lookup,
        )

        corpus = self._built(spark, tmpdir)
        index_delete(corpus.where(F.col("doc_id") % 5 == 0), tmpdir)
        batch = _mutated(corpus.where(F.col("doc_id") < 1000), 5000)
        # lookup against the tombstoned index ≡ lookup against an index
        # freshly built on the remaining corpus
        looked = neardup_index_lookup(batch, tmpdir)
        got = _pairs_set(looked)
        release_plan(looked)
        fresh_dir = tempfile.mkdtemp(prefix="ndidx_fresh_")
        try:
            neardup_index_build(
                corpus.where(F.col("doc_id") % 5 != 0), fresh_dir,
                "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N,
            )
            fresh = neardup_index_lookup(batch, fresh_dir)
            assert got == _pairs_set(fresh)
            release_plan(fresh)
        finally:
            shutil.rmtree(fresh_dir, ignore_errors=True)
        # the committing increment sees the same live corpus
        incr = _pairs_set(neardup_index_increment(batch, tmpdir))
        assert incr == got
        dead = {r["doc_id"] for r in corpus.where(
            F.col("doc_id") % 5 == 0).select("doc_id").collect()}
        assert not {p[0] for p in incr} & dead
        assert not {p[1] for p in incr} & dead

    def test_as_of_before_delete_still_serves(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            neardup_index_lookup,
        )

        corpus = self._built(spark, tmpdir)
        batch = _mutated(corpus.where(F.col("doc_id") < 1000), 5000)
        pre = neardup_index_lookup(batch, tmpdir)
        pre_pairs = _pairs_set(pre)
        release_plan(pre)
        index_delete(corpus.where(F.col("doc_id") % 3 == 0), tmpdir)
        # now: fewer pairs; as-of the pre-delete batch count: identical
        post = neardup_index_lookup(batch, tmpdir)
        assert _pairs_set(post) < pre_pairs
        release_plan(post)
        audit = neardup_index_lookup(batch, tmpdir, as_of=1)
        assert _pairs_set(audit) == pre_pairs
        release_plan(audit)

    def test_delete_is_terminal_for_id(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            neardup_index_lookup,
        )

        corpus = self._built(spark, tmpdir, n=40)
        victim = corpus.where(F.col("doc_id") == 7)
        index_delete(victim, tmpdir)
        # re-adding the same id via an increment does NOT resurrect it
        neardup_index_increment(victim, tmpdir)
        probe = _mutated(victim, 9000)
        looked = neardup_index_lookup(probe, tmpdir)
        assert not {p for p in _pairs_set(looked) if 7 in (p[0], p[1])}
        release_plan(looked)

    def test_exact_delete_moves_dup_of(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
            exact_index_lookup,
            index_delete,
        )

        b1 = _corpus(spark, 0, 20)
        # two indexed copies of each text: ids i and i+100
        exact_index_build(
            b1.unionByName(
                b1.select((F.col("doc_id") + 100).alias("doc_id"), "text")
            ),
            tmpdir, "doc_id", "text",
        )
        batch = b1.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
        pre = exact_index_lookup(batch, tmpdir)
        assert {r["id"]: r["dup_of"] for r in pre.collect()} == {
            1000 + i: i for i in range(20)
        }
        release_plan(pre)
        # delete the min-id owners: resolution falls to the next live id
        index_delete(b1.select("doc_id"), tmpdir)
        post = exact_index_lookup(batch, tmpdir)
        assert {r["id"]: r["dup_of"] for r in post.collect()} == {
            1000 + i: 100 + i for i in range(20)
        }
        release_plan(post)
        # delete those too: the batch docs are now first of their content
        index_delete(
            b1.select((F.col("doc_id") + 100).alias("doc_id")), tmpdir
        )
        out = {
            r["id"]: r["dup_of"]
            for r in exact_index_increment(batch, tmpdir).collect()
        }
        assert out == {1000 + i: 1000 + i for i in range(20)}

    def test_embdup_delete_excludes_deleted(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_lookup,
            index_delete,
        )

        vecs = spark.range(0, 40).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 4 + 1).cast("double"),
                (F.col("id") % 7 - 3).cast("double"),
                F.lit(1.0),
            ).alias("embedding"),
        )
        embdup_index_build(vecs, tmpdir, "vec_id", "embedding", 0.9)
        batch = vecs.select((F.col("vec_id") + 500).alias("vec_id"), "embedding")
        pre = embdup_index_lookup(batch, tmpdir)
        pre_pairs = {(r["id_a"], r["id_b"]) for r in pre.collect()}
        release_plan(pre)
        index_delete(vecs.where(F.col("vec_id") % 2 == 0), tmpdir)
        post = embdup_index_lookup(batch, tmpdir)
        post_pairs = {(r["id_a"], r["id_b"]) for r in post.collect()}
        release_plan(post)
        dead = set(range(0, 40, 2))
        assert post_pairs == {
            p for p in pre_pairs if not ({p[0], p[1]} & dead)
        }
        assert post_pairs < pre_pairs

    def test_compaction_purges_text_and_tombstones(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            compact_index,
            index_delete,
            neardup_index_pairs,
        )

        corpus = self._built(spark, tmpdir, n=50)
        index_delete(corpus.where(F.col("doc_id") % 4 == 0), tmpdir)
        want = _pairs_set(neardup_index_pairs(spark, tmpdir))
        compact_index(spark, tmpdir)
        meta = _read_meta(tmpdir)
        # tombstones gone from the log and from disk
        assert meta["segments"].get("tombstones") == []
        assert meta["n_deleted"] == 0
        tdir = os.path.join(tmpdir, "tombstones")
        assert not os.path.isdir(tdir) or os.listdir(tdir) == []
        # the PHYSICAL purge: a raw read of the docs table (no live
        # filter) no longer contains the deleted ids
        raw_ids = {
            r["id"]
            for r in spark.read.parquet(
                os.path.join(tmpdir, "docs", meta["segments"]["docs"][0])
            ).select("id").collect()
        }
        assert not {i for i in raw_ids if i % 4 == 0 and i < 1000}
        # results unchanged by compaction
        assert _pairs_set(neardup_index_pairs(spark, tmpdir)) == want


class TestRevivalSegmentRefused:
    def test_lookup_raises_on_revival_segment(self, spark, tmpdir):
        """Earlier versions could append ``rev-N`` (revival) segments to
        the tombstone table. Read as a takedown, one would silently hide
        docs its writer made live again, so every read refuses it."""
        from mini_data_platform_spark.operators.occlog import (
            write_meta as _write_meta,
        )
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            neardup_index_lookup,
        )

        corpus = _corpus(spark, 0, 20)
        neardup_index_build(
            corpus, tmpdir, "doc_id", "text",
            THRESH, NUM_HASHES, BANDS, SHINGLE_N,
        )
        index_delete(corpus.where(F.col("doc_id") == 3), tmpdir)
        meta = _read_meta(tmpdir)
        tombs = os.path.join(tmpdir, "tombstones")
        rev = "rev-2-0123abcd"
        shutil.copytree(
            os.path.join(tombs, meta["segments"]["tombstones"][0]),
            os.path.join(tombs, rev),
        )
        meta["segments"]["tombstones"].append(rev)
        _write_meta(tmpdir, meta)
        with pytest.raises(RuntimeError, match="revival tombstone"):
            neardup_index_lookup(_mutated(corpus, 9000), tmpdir)


class TestBatchIdReplay:
    """Opt-in batch_id replay protection: an already-committed id is
    not re-applied — increments return the original materialized
    result, deletes no-op (the ivm/mergetable exactly-once contract)."""

    @pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
    def test_replay_returns_original_and_no_recommit(
        self, spark, tmpdir, kind
    ):
        build, increment, _lookup, rows = INDEX_KINDS[kind]
        build(spark, tmpdir)
        first = rows(
            increment(_copies(spark, kind, 1000), tmpdir, batch_id="e1")
        )
        assert first
        meta1 = _read_meta(tmpdir)
        # replay: same id, even with a DIFFERENT (wrong) frame — the
        # original result serves, nothing recommits
        again = rows(
            increment(_copies(spark, kind, 5000), tmpdir, batch_id="e1")
        )
        assert again == first
        assert _read_meta(tmpdir) == meta1
        # a new id commits normally
        rows(increment(_copies(spark, kind, 5000), tmpdir, batch_id="e2"))
        assert _read_meta(tmpdir)["n_batches"] == meta1["n_batches"] + 1

    def test_exact_replay_and_delete_replay(self, spark, tmpdir):
        from mini_data_platform_spark.operators.incremental import (
            exact_index_build,
            exact_index_increment,
            index_delete,
        )

        b1 = _corpus(spark, 0, 20)
        exact_index_build(b1, tmpdir, "doc_id", "text")
        copies = b1.select((F.col("doc_id") + 100).alias("doc_id"), "text")
        first = {
            (r["id"], r["dup_of"])
            for r in exact_index_increment(
                copies, tmpdir, batch_id="x1"
            ).collect()
        }
        meta1 = _read_meta(tmpdir)
        again = {
            (r["id"], r["dup_of"])
            for r in exact_index_increment(
                b1, tmpdir, batch_id="x1"
            ).collect()
        }
        assert again == first and _read_meta(tmpdir) == meta1
        index_delete(b1.select("doc_id"), tmpdir, batch_id="d1")
        meta2 = _read_meta(tmpdir)
        index_delete(copies.select("doc_id"), tmpdir, batch_id="d1")
        assert _read_meta(tmpdir) == meta2  # replayed delete no-ops

    def test_no_batch_id_keeps_original_semantics(self, spark, tmpdir):
        b1 = _corpus(spark, 0, 20)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS, SHINGLE_N
        )
        neardup_index_increment(_mutated(b1, 1000), tmpdir)
        neardup_index_increment(_mutated(b1, 2000), tmpdir)
        assert _read_meta(tmpdir)["n_batches"] == 3
        assert "batches" not in _read_meta(tmpdir)


class TestMultiWriterOCC:
    """Round-9 (r8 verdict item 5): the merge table's put-if-absent
    ticket protocol, lifted to the index commit log via
    operators/occlog.py — two pipelines incrementing one dedup index
    concurrently lose nothing, replays stay exactly-once, and
    compaction refuses races instead of stomping."""

    def test_concurrent_increments_no_lost_batch(self, spark, tmpdir):
        import threading

        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 40)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        # each writer's batch near-dups BOTH b1 and the other writers'
        # batches, so a loser re-committing a stale result (instead of
        # recomputing) would provably drop loser×winner pairs
        batches = [_mutated(b1, 1000 * (i + 1)) for i in range(3)]
        results: dict[int, set] = {}
        errs: list[Exception] = []

        def run(i):
            try:
                out = neardup_index_increment(
                    batches[i], tmpdir, batch_id=f"w{i}"
                )
                results[i] = _pairs_set(out)
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
        meta = inc._recover_meta(tmpdir)
        assert meta["n_batches"] == 4  # build + all three, none lost
        assert {f"w{i}" for i in range(3)} <= set(meta["batches"])
        within = _full_pairs(b1)
        union = within | results[0] | results[1] | results[2]
        full = b1
        for b in batches:
            full = full.unionByName(b)
        assert union == _full_pairs(full)

    def test_replay_safe_across_writers(self, spark, tmpdir):
        import threading

        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 30)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        b2 = _mutated(b1, 1000)
        results = []

        def run():
            out = neardup_index_increment(b2, tmpdir, batch_id="same")
            results.append(_pairs_set(out))

        threads = [threading.Thread(target=run) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        meta = inc._recover_meta(tmpdir)
        assert meta["n_batches"] == 2  # committed exactly once
        assert results[0] == results[1] == results[2]

    @pytest.mark.parametrize("kind", sorted(INDEX_KINDS))
    def test_lost_race_recomputes_and_lands(
        self, spark, tmpdir, monkeypatch, kind
    ):
        import mini_data_platform_spark.operators.incremental as inc

        build, increment, _lookup, rows = INDEX_KINDS[kind]
        build(spark, tmpdir)
        real = occlog.try_ticket
        calls = {"n": 0}

        def flaky(index_dir, version, record):
            if calls["n"] < 2:
                calls["n"] += 1
                return False  # simulated lost race
            return real(index_dir, version, record)

        monkeypatch.setattr(occlog, "try_ticket", flaky)
        got = rows(increment(_copies(spark, kind, 1000), tmpdir))
        monkeypatch.undo()
        assert calls["n"] == 2
        meta = inc._recover_meta(tmpdir)
        assert meta["n_batches"] == 2
        # exactly the winning attempt's pairs dir and segments committed
        assert len(meta["pairs_segs"]) == 1
        assert all(len(segs) == 2 for segs in meta["segments"].values())
        # the landed result equals an uncontended increment's
        clean = os.path.join(tmpdir, "clean")
        build(spark, clean)
        assert got and got == rows(
            increment(_copies(spark, kind, 1000), clean)
        )
        if kind == "neardup":
            b1 = _corpus(spark, 0, 30)
            full = _full_pairs(b1.unionByName(_mutated(b1, 1000)))
            assert got | _full_pairs(b1) == full

    def test_compaction_refuses_concurrent_commit(
        self, spark, tmpdir, monkeypatch
    ):
        import mini_data_platform_spark.operators.incremental as inc
        from mini_data_platform_spark.operators.incremental import (
            compact_index,
            neardup_index_pairs,
        )

        b1 = _corpus(spark, 0, 30)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        neardup_index_increment(_mutated(b1, 1000), tmpdir)
        real = occlog.try_ticket

        def lose_once(index_dir, version, record):
            if record["type"] == "compact":
                monkeypatch.undo()
                return False
            return real(index_dir, version, record)

        monkeypatch.setattr(occlog, "try_ticket", lose_once)
        before = _pairs_set(neardup_index_pairs(spark, tmpdir))
        with pytest.raises(RuntimeError, match="during compaction"):
            compact_index(spark, tmpdir)
        # nothing stomped; a re-run compacts cleanly
        assert _pairs_set(neardup_index_pairs(spark, tmpdir)) == before
        compact_index(spark, tmpdir)
        meta = inc._recover_meta(tmpdir)
        assert len(meta["segments"]["buckets"]) == 1
        assert meta["segments"]["buckets"][0].startswith("compact-")
        assert _pairs_set(neardup_index_pairs(spark, tmpdir)) == before

    def test_stale_checkpoint_recovers_foreign_ticket(self, spark, tmpdir):
        """A writer crashing between its ticket and the checkpoint must
        cost the next reader nothing: recovery folds the ticket."""
        import json

        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 30)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        mpath = os.path.join(tmpdir, "meta.json")
        stale = open(mpath, encoding="utf-8").read()
        b2 = _mutated(b1, 1000)
        incr = _pairs_set(neardup_index_increment(b2, tmpdir))
        # simulate the writer's checkpoint never landing
        with open(mpath, "w", encoding="utf-8") as f:
            f.write(stale)
        meta = inc._recover_meta(tmpdir)
        assert meta["n_batches"] == 2
        assert json.load(open(mpath, encoding="utf-8"))["n_batches"] == 2
        # a later increment commits on top of the recovered state
        b3 = _mutated(b1.where(F.col("doc_id") < 10), 5000)
        incr3 = _pairs_set(neardup_index_increment(b3, tmpdir))
        full = _full_pairs(
            b1.unionByName(b2).unionByName(b3)
        )
        assert _full_pairs(b1) | incr | incr3 == full

    def test_vacuum_sweeps_loser_pairs(self, spark, tmpdir, monkeypatch):
        """A ticket loser's pairs dir holds results computed against a
        superseded snapshot — vacuum must sweep it while keeping every
        committed pairs dir."""
        import mini_data_platform_spark.operators.incremental as inc
        from mini_data_platform_spark.operators.incremental import (
            vacuum_index,
        )

        b1 = _corpus(spark, 0, 30)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        real = occlog.try_ticket

        def crash_once(index_dir, version, record):
            monkeypatch.undo()
            raise RuntimeError("injected pre-ticket crash")

        monkeypatch.setattr(occlog, "try_ticket", crash_once)
        with pytest.raises(RuntimeError):
            neardup_index_increment(_mutated(b1, 1000), tmpdir)
        # the crashed attempt stranded a pairs dir; a clean retry commits
        incr = _pairs_set(neardup_index_increment(_mutated(b1, 1000), tmpdir))
        pdir = os.path.join(tmpdir, "pairs")
        assert len(os.listdir(pdir)) == 2  # stranded + committed
        removed = vacuum_index(tmpdir)
        assert any("pairs" in p for p in removed)
        meta = inc._recover_meta(tmpdir)
        committed = set(meta["pairs_segs"].values())
        assert set(os.listdir(pdir)) == committed
        # committed results still served
        from mini_data_platform_spark.operators.incremental import (
            _pairs_path,
        )

        assert _pairs_set(
            spark.read.parquet(_pairs_path(tmpdir, meta, 1))
        ) == incr

    def test_index_docs_reads_live_corpus(self, spark, tmpdir):
        """index_docs = the settled corpus (committed segments minus
        tombstones) — what the incremental curation funnel reads back
        instead of re-scanning raw sources."""
        from mini_data_platform_spark.operators.incremental import (
            index_delete,
            index_docs,
        )

        b1 = _corpus(spark, 0, 30)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        neardup_index_increment(_corpus(spark, 100, 10), tmpdir)
        live = {r["id"] for r in index_docs(spark, tmpdir).collect()}
        assert live == set(range(30)) | set(range(100, 110))
        index_delete(
            b1.where(F.col("doc_id") % 3 == 0), tmpdir
        )
        live = {r["id"] for r in index_docs(spark, tmpdir).collect()}
        assert live == {
            i for i in range(30) if i % 3
        } | set(range(100, 110))


class TestAdviceR10BroadcastBounds:
    """Round-10 advice regressions. Under the small-batch serving
    contract the scorer's broadcast side must be CANDIDATE-bounded, not
    corpus-sized: a broadcast hash join never prunes its own build side
    by the streamed pairs, so the corpus docs/vecs scan has to be
    candidate-filtered BELOW the BroadcastExchange in both the text and
    embedding lookups (before the round-10 fix the whole table rode
    into the broadcast — a driver OOM on any real corpus). Since round
    12 the bound is a driver-materialized LITERAL In filter pushed into
    the parquet scan, not a semi-join: the round-11 semi-join broadcast
    `_cand_ids()` whole and embedded the candidate-generation lineage
    into the twice-referenced verify frame (the 76-exchange serve-plan
    defect). These tests pin the BOUND (a pushed In(id,...) on the
    corpus scan) and the zero-shuffle shape, not the mechanism's join
    type. And neardup_index_pairs must honor the
    resources.BROADCAST_MAX_ROWS cap exactly like the batch path:
    cap=0 strips every hard hint from the snapshot plan too."""

    def test_small_batch_text_verify_semi_filters_corpus(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            neardup_index_lookup,
        )

        b1 = _corpus(spark, 0, 120)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        batch = _mutated(b1.where(F.col("doc_id") < 15), 1000)
        out = neardup_index_lookup(batch, tmpdir, small_batch=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the candidate-id bound on the corpus docs scan: a literal In
        # filter PUSHED into parquet (absent before the round-10 fix,
        # so the full docs table was collected to the driver; a
        # semi-join in round 11 kept the bound but bloated the plan)
        assert "In(id, [" in plan, "candidate In filter not pushed"
        # still the zero-shuffle serve plan
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        got = _pairs_set(out)
        release_plan(out)
        # semantics unchanged vs the guarded/counted lookup path
        ref = neardup_index_lookup(batch, tmpdir)
        want = _pairs_set(ref)
        release_plan(ref)
        assert got == want
        # and the known near-dups are actually in there
        assert {(a, a + 1000) for a in range(15)} <= {
            (a, b) for a, b, _ in got
        }

    def test_small_batch_embdup_verify_semi_filters_corpus(
        self, spark, tmpdir
    ):
        from mini_data_platform_spark.operators.incremental import (
            embdup_index_build,
            embdup_index_lookup,
        )

        b1 = spark.range(0, 60).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.col("id").cast("double") + 1.0,
                (F.col("id") % 7 - 3).cast("double"),
                (F.col("id") % 5 - 2).cast("double"),
            ).alias("embedding"),
        )
        embdup_index_build(b1, tmpdir, "vec_id", "embedding", threshold=0.9)
        b2 = b1.where(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * 0.5).alias(
                "embedding"
            ),
        )

        def _got(df):
            out = {
                (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
                for r in df.collect()
            }
            release_plan(df)
            return out

        out = embdup_index_lookup(b2, tmpdir, small_batch=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # candidate-id bound pushed into the corpus vectors scan
        assert "In(id, [" in plan, "candidate In filter not pushed"
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        got = _got(out)
        want = _got(embdup_index_lookup(b2, tmpdir))
        assert got == want
        # the scaled copies are cosine-1 duplicates of their originals
        dup_pairs = {(a, b) for a, b, c in got if c > 0.999999}
        assert {(a, a + 1000) for a in range(10)} <= dup_pairs

    def test_misdeclared_small_batch_degrades_not_collects(
        self, spark, tmpdir, monkeypatch
    ):
        """A small_batch=True lookup whose candidate-id set overflows
        the verify ceiling must DEGRADE to the guarded semi-join verify
        — never an unbounded driver collect — with identical results
        (round-12: _pairs_local returns None past the cap)."""
        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 80)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        batch = _mutated(b1.where(F.col("doc_id") < 12), 1000)
        ref = inc.neardup_index_lookup(batch, tmpdir, small_batch=True)
        want = _pairs_set(ref)
        release_plan(ref)
        monkeypatch.setattr(inc, "_VERIFY_BROADCAST_MAX_DOCS", 1)
        out = inc.neardup_index_lookup(batch, tmpdir, small_batch=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "In(id, [" not in plan  # the literal path is OFF
        got = _pairs_set(out)
        release_plan(out)
        assert got == want

    def test_index_pairs_honors_broadcast_dial(
        self, spark, tmpdir, monkeypatch
    ):
        import mini_data_platform_spark.operators.incremental as inc

        b1 = _corpus(spark, 0, 60)
        neardup_index_build(
            b1, tmpdir, "doc_id", "text", THRESH, NUM_HASHES, BANDS,
            SHINGLE_N,
        )
        captured = {}
        real = inc.jaccard_pairs_from_hashes

        def spy(*a, **kw):
            captured.update(kw)
            return real(*a, **kw)

        monkeypatch.setattr(inc, "jaccard_pairs_from_hashes", spy)

        default_cap = resources.BROADCAST_MAX_ROWS
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", 0)
        with_dial_0 = _pairs_set(inc.neardup_index_pairs(spark, tmpdir))
        assert captured.get("small_pairs") is False

        captured.clear()
        monkeypatch.setattr(resources, "BROADCAST_MAX_ROWS", default_cap)
        default = _pairs_set(inc.neardup_index_pairs(spark, tmpdir))
        assert captured.get("small_pairs") is True
        # the dial changes strategy, never semantics
        assert with_dial_0 == default == _full_pairs(b1)

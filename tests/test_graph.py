"""Connected components (operators/graph.py): transitive clustering of
near-dup pairs, convergence on chains/cliques, determinism."""

from pyspark.sql import Row

from mini_data_platform_spark.operators import graph
from mini_data_platform_spark.operators.graph import connected_components


def _pairs(spark, edges):
    return spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges], "id_a long, id_b long"
    )


class TestConnectedComponents:
    def test_transitive_chain_merges(self, spark):
        # 1-2, 2-3, 3-4 never scored 1~4 directly; one cluster anyway
        out = {
            r["v"]: r["comp"]
            for r in connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)])).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_separate_components_stay_separate(self, spark):
        out = {
            r["v"]: r["comp"]
            for r in connected_components(
                _pairs(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
            ).collect()
        }
        assert out == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_long_chain_converges(self, spark):
        # a 12-vertex path needs several propagation rounds (diameter 11,
        # but min-label doubles its reach via the union step): still one
        # component labeled by the minimum id
        edges = [(i, i + 1) for i in range(100, 111)]
        out = connected_components(_pairs(spark, edges), max_iter=15).collect()
        assert {r["comp"] for r in out} == {100}
        assert len(out) == 12

    def test_reversed_edge_direction_irrelevant(self, spark):
        a = connected_components(_pairs(spark, [(5, 3), (3, 9)])).collect()
        b = connected_components(_pairs(spark, [(3, 5), (9, 3)])).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestStarAlgorithm:
    """Alternating large-star/small-star — same contract as label
    propagation (component = min reachable id), diameter-independent
    round count."""

    def _label_equiv(self, spark, edges, star_iter=20):
        ref = sorted(
            map(tuple, connected_components(_pairs(spark, edges)).collect())
        )
        star = sorted(
            map(
                tuple,
                connected_components(
                    _pairs(spark, edges),
                    max_iter=star_iter,
                    algorithm="star",
                ).collect(),
            )
        )
        assert star == ref

    def test_matches_label_on_cliques_and_chain(self, spark):
        self._label_equiv(
            spark,
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (7, 7)],
        )

    def test_matches_label_on_random_graph(self, spark):
        import random

        rng = random.Random(11)
        edges = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(80)
        ]
        self._label_equiv(spark, edges)

    def test_long_path_converges_in_few_rounds(self, spark):
        # a 64-vertex path has diameter 63: label propagation needs ~
        # diameter/2 rounds, star contraction O(log^2 n) — 8 rounds must
        # suffice where label-prop's default 20 would not even finish 63
        edges = [(i, i + 1) for i in range(1000, 1063)]
        out = connected_components(
            _pairs(spark, edges), max_iter=8, algorithm="star"
        ).collect()
        assert {r["comp"] for r in out} == {1000}
        assert len(out) == 64

    def test_unknown_algorithm_rejected(self, spark):
        import pytest

        with pytest.raises(ValueError):
            connected_components(
                _pairs(spark, [(1, 2)]), algorithm="bogus"
            )

    def test_star_releases_checkpoints(self, spark):
        """Same storage doctrine as the label variant: superseded
        per-round edge checkpoints are freed in-loop, and releasing the
        returned frame leaves zero residual persistent RDDs."""
        from mini_data_platform_spark.operators import graph as graph_mod

        def ids():
            # compare block SETS, not counts: other tests' dead blocks can
            # be GC'd between the two snapshots and skew a count compare
            it = (
                spark.sparkContext._jsc.getPersistentRDDs()
                .keySet()
                .iterator()
            )
            out = set()
            while it.hasNext():
                out.add(it.next())
            return out

        before = ids()
        edges = [(i, i + 1) for i in range(200, 230)]
        out = connected_components(
            _pairs(spark, edges), max_iter=10, algorithm="star"
        )
        out.count()
        graph_mod._release_checkpoint(out)
        leaked = ids() - before
        assert not leaked


class TestLocalUnionFind:
    """Round-9 ``auto``/``local`` path: a dedup graph's edge list is
    tiny relative to the corpus, so below the edge ceiling CC runs as a
    single-task union-find — one job instead of diameter-many iterative
    shuffle rounds (the emb_dup_clusters creep fix)."""

    def test_local_matches_label_and_star(self, spark):
        import random

        rng = random.Random(9)
        edges = [
            (rng.randrange(200), rng.randrange(200)) for _ in range(150)
        ] + [(i, i + 1) for i in range(500, 540)]  # a 41-hop chain
        p = _pairs(spark, edges)
        want = sorted(
            map(tuple, connected_components(p, algorithm="label",
                                            max_iter=60).collect())
        )
        got_local = sorted(
            map(tuple, connected_components(p, algorithm="local").collect())
        )
        got_star = sorted(
            map(tuple, connected_components(p, algorithm="star").collect())
        )
        assert got_local == want == got_star

    def test_auto_picks_local_below_ceiling(self, spark):
        df = connected_components(
            _pairs(spark, [(1, 2), (2, 3)]), algorithm="auto"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # single-task union-find: a Python map stage, no join/agg rounds
        assert "MapInPandas" in plan, plan
        assert "SortMergeJoin" not in plan and "HashAggregate" not in plan

    def test_auto_falls_back_to_label_above_ceiling(self, spark, monkeypatch):
        monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 2)
        df = connected_components(
            _pairs(spark, [(1, 2), (2, 3), (3, 4)]), algorithm="auto"
        )
        out = {r["v"]: r["comp"] for r in df.collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan

    def test_local_string_ids(self, spark):
        from pyspark.sql import Row

        p = spark.createDataFrame(
            [Row(id_a=a, id_b=b) for a, b in
             [("b", "c"), ("a", "b"), ("x", "y")]],
            "id_a string, id_b string",
        )
        out = {
            r["v"]: r["comp"]
            for r in connected_components(p, algorithm="local").collect()
        }
        assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_local_empty_pairs(self, spark):
        p = _pairs(spark, [])
        assert connected_components(p, algorithm="local").count() == 0

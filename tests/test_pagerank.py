"""Fixed-point PageRank (operators/pagerank.py)."""

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators import pagerank
from mini_data_platform_spark.operators.pagerank import SCALE, pagerank_fixed
from mini_data_platform_spark.operators.resources import release_plan


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _reference(pairs, iterations=10, damping=85, scale=SCALE):
    """Sequential Python twin of the integer fixed-point iteration."""
    sym = set()
    for a, b in pairs:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    deg = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    teleport = ((100 - damping) * scale) // 100
    r = {v: scale for v in deg}
    for _ in range(iterations):
        nxt = {v: teleport for v in deg}
        for a, b in sym:
            nxt[b] += (damping * r[a]) // (100 * deg[a])
        r = nxt
    return r


class TestPagerankFixed:
    def test_matches_python_reference(self, spark):
        pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 3)]
        got = {
            r["v"]: r["rank_units"]
            for r in pagerank_fixed(
                _edges(spark, pairs), "src", "dst", iterations=7,
                scale=SCALE,
            ).collect()
        }
        assert got == _reference(pairs, iterations=7)

    def test_driver_and_distributed_paths_agree(self, spark, monkeypatch):
        """r15 small-graph fast path: the numpy driver loop (default
        under the edge cap) and the distributed loop
        (DRIVER_MAX_EDGES=0 forces it) must be bit-identical — units
        AND the double rank."""
        pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (2, 3), (5, 1)]
        default_cap = pagerank.DRIVER_MAX_EDGES

        def run(scale=SCALE, cap=default_cap):
            monkeypatch.setattr(pagerank, "DRIVER_MAX_EDGES", cap)
            out = pagerank_fixed(
                _edges(spark, pairs), "src", "dst", iterations=6,
                scale=scale,
            )
            rows = {
                r["v"]: (r["rank_units"], r["rank"]) for r in out.collect()
            }
            release_plan(out)
            return rows

        fast = run()
        dist = run(cap=0)
        assert fast == dist
        # a cap the edge list overflows must fall through to the
        # distributed loop
        assert run(cap=3) == dist
        # auto-picked scale agrees across paths too
        auto_fast = run(scale=None)
        auto_dist = run(scale=None, cap=0)
        assert auto_fast == auto_dist

    def test_hub_ranks_highest(self, spark):
        # star graph: the hub must out-rank every leaf
        pairs = [(0, i) for i in range(1, 6)]
        rows = pagerank_fixed(
            _edges(spark, pairs), "src", "dst", scale=SCALE
        ).collect()
        ranks = {r["v"]: r["rank_units"] for r in rows}
        assert ranks[0] == max(ranks.values())
        leaf_ranks = {ranks[i] for i in range(1, 6)}
        assert len(leaf_ranks) == 1  # symmetry → identical leaves

    def test_self_loops_and_parallel_edges_collapse(self, spark):
        base = [(1, 2), (2, 3)]
        noisy = base + [(1, 1), (2, 1), (1, 2), (3, 3)]
        a = {
            r["v"]: r["rank_units"]
            for r in pagerank_fixed(
                _edges(spark, base), "src", "dst", scale=SCALE
            ).collect()
        }
        b = {
            r["v"]: r["rank_units"]
            for r in pagerank_fixed(
                _edges(spark, noisy), "src", "dst", scale=SCALE
            ).collect()
        }
        assert a == b

    def test_partition_invariance(self, spark):
        pairs = [(i, (i * 7) % 23) for i in range(40) if i != (i * 7) % 23]
        base = _edges(spark, pairs)
        a = sorted(
            pagerank_fixed(
                base.repartition(1), "src", "dst", 5, scale=SCALE
            ).collect()
        )
        b = sorted(
            pagerank_fixed(
                base.repartition(9), "src", "dst", 5, scale=SCALE
            ).collect()
        )
        assert a == b

    def test_mass_leak_bounded(self, spark):
        pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
        df = pagerank_fixed(
            _edges(spark, pairs), "src", "dst", iterations=10, scale=SCALE
        )
        total = df.agg(F.sum("rank_units")).collect()[0][0]
        release_plan(df)
        n_nodes, n_dir_edges = 4, 10
        assert total <= n_nodes * SCALE
        # each directed edge floors away < 1 unit per iteration; the
        # teleport term floors < 1 more per node per iteration
        assert n_nodes * SCALE - total <= 10 * (n_dir_edges + n_nodes)

    def test_guards(self, spark):
        e = _edges(spark, [(1, 2)])
        with pytest.raises(ValueError, match="damping_pct"):
            pagerank_fixed(e, "src", "dst", damping_pct=0)
        with pytest.raises(ValueError, match="iterations"):
            pagerank_fixed(e, "src", "dst", iterations=-1)
        with pytest.raises(ValueError, match="overflow"):
            pagerank_fixed(e, "src", "dst", scale=1 << 62)

    def test_zero_iterations_is_uniform(self, spark):
        rows = pagerank_fixed(
            _edges(spark, [(1, 2), (2, 3)]), "src", "dst", iterations=0,
            scale=SCALE,
        ).collect()
        assert {r["rank_units"] for r in rows} == {SCALE}
        assert {r["rank"] for r in rows} == {1.0}


class TestAutoScale:
    """scale=None picks the largest power-of-10 the 64-bit mass
    arithmetic admits from the ACTUAL node count (r8 verdict item 7)."""

    def test_small_graph_gets_max_resolution(self, spark):
        from pyspark.sql import Row

        edges = spark.createDataFrame(
            [Row(src=1, dst=2), Row(src=2, dst=3)], "src long, dst long"
        )
        out = pagerank_fixed(edges, "src", "dst", iterations=1)
        # 3 nodes: largest power of 10 with 300*scale < 2^63 is 1e16
        total = sum(r["rank_units"] for r in out.collect())
        assert total > 3 * 10**15  # mass at the auto scale, minus leak

    def test_million_node_graph_runs_untuned(self, spark):
        from pyspark.sql import functions as F

        n = 1_000_000
        edges = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        out = pagerank_fixed(edges, "src", "dst", iterations=1)
        assert out.count() == n  # no overflow guard trip, full node set

    def test_explicit_scale_still_guarded(self, spark):
        import pytest
        from pyspark.sql import functions as F

        edges = spark.range(100_000).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        with pytest.raises(ValueError, match="overflow"):
            pagerank_fixed(edges, "src", "dst", iterations=1, scale=10**15)

"""Deterministic fixed-point PageRank — iterative graph centrality
with an EXACT cross-engine oracle.

graph.py gives connected components (which duplicate GROUP documents
belong together); PageRank ranks WITHIN the duplicate graph — the
standard centrality pick for "which copy is the hub everyone else
duplicates" and the canonical iterative-algorithm stress test beyond
label propagation.

Floating-point PageRank cannot be oracle-checked: each iteration SUMS
doubles, Spark's partial-aggregation order is nondeterministic, and
rank values sit on no fixed-point grid the _parity.py decimal recipe
could recover. So this is the FIXED-POINT variant: ranks are integer
"mass units" (``scale`` units of total mass per node at t=0) and one
iteration is

    r'(v) = ((100-d)·scale) div 100  +  Σ_{u~v} (d·r(u)) div (100·deg(u))

— integer floor division and integer sums only: exact, associative,
order-independent, hence bit-identical in any engine (the libm-free
doctrine of corpus.py's A-ES sampling and lm.py's quality scores).
Floor division leaks a few units of mass per step; the leak is part of
the deterministic semantics, bounded by edges·iterations units
(≪ 1e-9 of total mass at the default scale), and identical in the
oracle.

Spark shape: symmetrized simple edges joined once to degrees and
PERSISTED; each iteration is one (src-keyed) join of the rank vector +
one (dst-keyed) aggregate + one left join back onto the node set —
shuffles carry (long, long) pairs. Ranks are ``localCheckpoint``ed
every few rounds (the graph.py lineage discipline) so 10 iterations
don't compound plan depth. The driver loop carries no data — fixed
iteration count, no convergence collects.

Overflow guard: a node's rank is bounded by the total mass
n_nodes·scale, and the update multiplies by d<100, so the arithmetic
needs 100·n_nodes·scale < 2^63; checked at run time with the actual
node count.

No reference-repo counterpart (see SURVEY.md §2.8 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .resources import attach_plan, bounded_rows

#: Integer mass units per node at t=0. 1e12 keeps ranks readable as
#: picomass and leaves 100·N·scale < 2^63 headroom for N up to ~90k
#: nodes per run (the guard below enforces it for the actual N).
SCALE = 10**12


#: symmetrized-edge lists at or under this row count run the power
#: iterations on the driver (see pagerank_fixed); 0 disables
DRIVER_MAX_EDGES = 2_000_000


def pagerank_fixed(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int | None = None,
) -> DataFrame:
    """Fixed-point PageRank over the UNDIRECTED simple graph spanned by
    ``edges`` (symmetrized, parallel edges collapsed). Returns
    (v, rank_units, rank): integer mass units after ``iterations``
    rounds and the same as a double fraction of one node's initial
    mass. Deterministic to the bit for any partitioning.

    ``scale=None`` (default) AUTO-PICKS the largest power of 10
    satisfying 100·N·scale < 2^63 from the actual node count (round-8
    verdict item 7): a million-node graph runs without manual tuning
    instead of tripping the overflow guard, and a tiny graph gets the
    most rank resolution the arithmetic allows. Pass ``scale``
    explicitly when an oracle or a stored result folds a specific
    value (the declared query pins ``SCALE`` for exactly that reason —
    auto-pick would silently re-grade ranks when N crosses a power of
    10).

    SMALL-GRAPH FAST PATH (r15, the bpe.py doctrine): the iterations
    are pure int64 arithmetic over the symmetrized edge list — exact
    and engine-independent by design — so when that list is
    driver-sized (one bounded Arrow collect of at most
    ``DRIVER_MAX_EDGES`` rows, ~32 MB — resources.bounded_rows) the
    power iterations run as vectorized numpy int64 scatter-adds in one
    process instead of ``iterations`` x (join + aggregate + eager
    checkpoint) driver round-trips. Identical floor-division-per-edge
    semantics, pinned by tests/test_pagerank.py's path-agreement test;
    corpus-scale graphs overflow the probe and take the distributed
    loop unchanged."""
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    spark = edges.sparkSession
    a, b = F.col(src_col).cast("long"), F.col(dst_col).cast("long")
    # probe the RAW edge projection (before symmetrize/distinct — half
    # the transfer, and the dedup is cheaper in numpy than as a Spark
    # union+distinct shuffle) over one bounded Arrow transfer; a graph
    # over the cap falls through untouched
    raw = bounded_rows(
        edges.select(a.alias("src"), b.alias("dst")),
        DRIVER_MAX_EDGES,
        arrow=True,
    )
    if raw is not None:
        return _pagerank_local(spark, raw, iterations, damping_pct, scale)
    # persist the graph BEFORE iterating: edges may be an expensive
    # pipeline (the near-dup LSH graph), and the iteration loop touches
    # degrees and adjacency every round — without the caches each round
    # would re-run the whole upstream plan
    sym = (
        edges.select(a.alias("src"), b.alias("dst"))
        .unionByName(edges.select(b.alias("src"), a.alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("_deg")).persist()
    sym_deg = sym.join(deg, "src").persist()
    n_nodes = deg.count()  # materializes sym + deg once
    if scale is None:
        scale = 1
        while 100 * max(n_nodes, 1) * (scale * 10) < (1 << 63):
            scale *= 10
    if n_nodes and 100 * n_nodes * scale >= (1 << 63):
        for f in (sym, deg, sym_deg):
            f.unpersist(False)
        raise ValueError(
            f"pagerank_fixed: {n_nodes} nodes at scale {scale} would "
            "overflow 64-bit mass arithmetic; lower scale"
        )
    teleport = ((100 - damping_pct) * scale) // 100
    # No broadcast hint on the rank vector: AQE's runtime broadcast
    # conversion picks it up when small, and a hard F.broadcast on an
    # unbounded all-nodes frame would be the OOM the incremental.py
    # guard doctrine exists to prevent.
    r = deg.select(F.col("src").alias("v"), F.lit(scale).cast("long").alias("r"))
    for i in range(iterations):
        # no join back onto the node set: the graph is symmetrized, so
        # every node has in-edges, and a neighbor's rank is >= teleport
        # units — every node receives at least one contribution row
        r = (
            sym_deg.join(r.withColumnRenamed("v", "src"), "src")
            .select(
                F.col("dst").alias("v"),
                F.expr(f"({damping_pct} * r) div (100 * _deg)").alias("_c"),
            )
            .groupBy("v")
            .agg(
                (F.lit(teleport) + F.sum("_c")).cast("long").alias("r")
            )
        )
        # checkpoint EVERY round: measured on the fixture, Catalyst+AQE
        # planning over a chain of k join-agg rounds grows superlinearly
        # (10 unbroken rounds: 36-51 s; per-round cuts: 16 s), and at
        # cluster scale a bounded per-round plan is equally the right
        # shape — the graph.py convergence-loop discipline
        if i + 1 < iterations:
            r = r.localCheckpoint()
    out = r.select(
        "v",
        F.col("r").alias("rank_units"),
        (F.col("r") / F.lit(scale)).alias("rank"),
    )
    return attach_plan(out, sym, deg, sym_deg)


def _pagerank_local(
    spark,
    raw,
    iterations: int,
    damping_pct: int,
    scale: int | None,
) -> DataFrame:
    """Driver-side twin of the distributed loop over the RAW (src, dst)
    edge rows (a pyarrow Table): symmetrize, drop self-loops and
    null-keyed rows (a null key never survives the distributed path's
    ``src != dst`` filter), dedup, then iterate — the same per-EDGE
    floor-division contribution, the same auto-pick/overflow guard, the same output
    schema. numpy int64 end-to-end; the final ``rank`` converts through
    float64 exactly as the JVM's (double)r / (double)scale does."""
    import numpy as np

    schema = "v long, rank_units long, rank double"
    raw = raw.drop_null()
    s, d = raw["src"].to_numpy(), raw["dst"].to_numpy()
    # symmetrize + self-loop filter + dedup (the sym/distinct the
    # distributed path does as a union+distinct shuffle)
    both = np.stack(
        [np.concatenate([s, d]), np.concatenate([d, s])], axis=1
    )
    both = both[both[:, 0] != both[:, 1]]
    if not len(both):
        return spark.createDataFrame([], schema)
    uniq = np.unique(both, axis=0)
    srcs, dsts = uniq[:, 0], uniq[:, 1]
    # symmetrized: the src and dst node sets are identical
    nodes, src_idx = np.unique(srcs, return_inverse=True)
    dst_idx = np.searchsorted(nodes, dsts)
    n_nodes = int(len(nodes))
    if scale is None:
        scale = 1
        while 100 * max(n_nodes, 1) * (scale * 10) < (1 << 63):
            scale *= 10
    if n_nodes and 100 * n_nodes * scale >= (1 << 63):
        raise ValueError(
            f"pagerank_fixed: {n_nodes} nodes at scale {scale} would "
            "overflow 64-bit mass arithmetic; lower scale"
        )
    teleport = ((100 - damping_pct) * scale) // 100
    deg = np.bincount(src_idx, minlength=n_nodes).astype(np.int64)
    r = np.full(n_nodes, scale, dtype=np.int64)
    for _ in range(iterations):
        contrib = (damping_pct * r[src_idx]) // (100 * deg[src_idx])
        nxt = np.full(n_nodes, teleport, dtype=np.int64)
        np.add.at(nxt, dst_idx, contrib)
        r = nxt
    rows = [
        (int(v), int(u), float(u) / float(scale))
        for v, u in zip(nodes.tolist(), r.tolist())
    ]
    return spark.createDataFrame(rows, schema)


def sql_pagerank_fixed(
    edges_sql: str,
    src_col: str,
    dst_col: str,
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> str:
    """ANSI/DuckDB equivalent of :func:`pagerank_fixed`: the iteration
    unrolled into ``iterations`` chained CTEs (fixed count — no
    recursion needed), same integer floor-division arithmetic."""
    teleport = ((100 - damping_pct) * scale) // 100
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        f"""sym AS MATERIALIZED (
            SELECT CAST({src_col} AS BIGINT) AS src,
                   CAST({dst_col} AS BIGINT) AS dst FROM e
            UNION
            SELECT CAST({dst_col} AS BIGINT) AS src,
                   CAST({src_col} AS BIGINT) AS dst FROM e
        )""",
        "symx AS MATERIALIZED (SELECT src, dst FROM sym WHERE src <> dst)",
        "deg AS MATERIALIZED (SELECT src AS v, count(*) AS d FROM symx GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT v, CAST({scale} AS BIGINT) AS r FROM deg)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
            SELECT deg.v,
                   CAST({teleport} + coalesce(s.acc, 0) AS BIGINT) AS r
            FROM deg LEFT JOIN (
                SELECT symx.dst AS v,
                       SUM(({damping_pct} * r{i - 1}.r) // (100 * deg.d)) AS acc
                FROM symx
                JOIN r{i - 1} ON r{i - 1}.v = symx.src
                JOIN deg ON deg.v = symx.src
                GROUP BY symx.dst
            ) s ON s.v = deg.v
        )"""
        )
    return f"""
        WITH {",".join(ctes)}
        SELECT v, r AS rank_units, r / CAST({scale} AS DOUBLE) AS rank
        FROM r{iterations}
    """

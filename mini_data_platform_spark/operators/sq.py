"""SQ8 scalar quantization for embedding columns — int8-style codes
with asymmetric distance computation.

The simplest member of the vector-compression family PQ sits at the top
of (FAISS's ``IndexScalarQuantizer`` / the ``SQ8`` storage tier every
serving stack offers): per-DIMENSION min/max train a uniform 256-level
grid, each float becomes one small integer code, and queries score
asymmetrically — the query stays full-precision, the corpus side is
decoded to bin centers on the fly. An ``array<double>`` column shrinks
8× (one byte-scale int vs one float64 per dimension; 4× vs float32),
which at 100 TB is the difference between an ANN scan that fits the
page cache and one that doesn't — and unlike PQ there are no codebooks
to train, just one min/max aggregate.

Engine-parity design (what makes this ORACLE-EXACT where PQ's ADC is
declared-weak): the trained constants (mins, scales) are collected
driver-side (model-parameter-sized, the IVF-centroid doctrine) and fed
to BOTH engines as literals — scale arithmetic happens once, in Python.
Encode (``floor((v-min)/scale)`` clamped to [0,255]) and decode
(``min + (code+0.5)*scale``) are fixed IEEE expressions with no libm,
and the score is the same left-fold dot product functions/vectors.py
already hash-matches in ``emb_knn`` — so the declared query
``emb_ann_sq8`` is checked value-exact against a DuckDB twin, not just
recall-pinned. Quantization error (≤ scale/2 per dimension) is the
declared accuracy trade; exact rerank of an SQ8 shortlist
(``sq8_knn`` with ``rerank
=True``) recovers exact-top-k quality at a
fraction of the full-precision reads.

Degenerate dimensions (max == min) get scale 1.0 and always encode to
code 0 / decode to min + 0.5 — consistent in both engines, bias noted.

No reference-repo counterpart (§2.8 LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from mini_data_platform_spark.functions.vectors import cosine, dot, l2_norm

_LEVELS = 256


def sq8_train(vecs: DataFrame, vec_col: str) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, scales) from one posexplode + min/max
    aggregate — the whole 'model' is 2·dim floats, collected
    driver-side. Scales are computed HERE, in Python, so every engine
    that receives them as literals agrees bit-for-bit."""
    stats = (
        vecs.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    mins = [float(r["lo"]) for r in stats]
    scales = [
        (float(r["hi"]) - float(r["lo"])) / _LEVELS
        if r["hi"] > r["lo"]
        else 1.0
        for r in stats
    ]
    return mins, scales


def _lit_arr(xs: list[float]) -> Column:
    # one F.expr call, not one py4j round-trip per scalar (the pq.py
    # _books_sql lesson); D-suffixed repr = exact string→double parse
    return F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in xs) + ")"
    )


def sq8_encode_expr(
    vec: Column, mins: list[float], scales: list[float]
) -> Column:
    """vec → array<int> codes: ``clamp(floor((v - min)/scale), 0, 255)``
    per dimension. Pure fixed arithmetic; the in-range maximum lands
    exactly on 256 and clamps to 255."""
    ma, sa = _lit_arr(mins), _lit_arr(scales)
    return F.transform(
        vec,
        lambda v, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.floor(
                    (v.cast("double") - F.element_at(ma, i + 1))
                    / F.element_at(sa, i + 1)
                ).cast("int"),
            ),
        ),
    )


def sq8_decode_expr(
    codes: Column, mins: list[float], scales: list[float]
) -> Column:
    """codes → array<double> bin centers: ``min + (code + 0.5)*scale``."""
    ma, sa = _lit_arr(mins), _lit_arr(scales)
    return F.transform(
        codes,
        lambda c, i: F.element_at(ma, i + 1)
        + (c.cast("double") + F.lit(0.5)) * F.element_at(sa, i + 1),
    )


def sq8_encode(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    mins: list[float],
    scales: list[float],
) -> DataFrame:
    """The compressed store: (id, codes). This is what lands on disk —
    the float vectors are not needed again until an exact rerank."""
    return vecs.select(
        F.col(id_col).alias("id"),
        sq8_encode_expr(F.col(vec_col), mins, scales).alias("codes"),
    )


def sq8_knn(
    queries: DataFrame,
    codes: DataFrame,
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    mins: list[float],
    scales: list[float],
    k: int,
    shortlist: int | None = None,
) -> DataFrame:
    """Top-k neighbors per query by ASYMMETRIC quantized cosine: the
    query keeps full precision, corpus vectors are decoded from codes
    inline — the scan reads the 8×-smaller codes column only. With
    ``shortlist=m`` the quantized scores pick m candidates per query
    and the exact float vectors are read ONLY for those (the
    shortlist-then-rerank serving shape; output scores are then exact
    cosine). Returns (query_id, neighbor_id, score, knn_rank); ties
    break on neighbor_id."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    dec = sq8_decode_expr(F.col("codes"), mins, scales)
    scored = (
        q.crossJoin(codes.withColumnRenamed("id", "neighbor_id"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_qv",
            "_qn",
            (
                dot(F.col("_qv"), dec)
                / (F.col("_qn") * l2_norm(dec))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    if shortlist is None:
        return (
            scored.withColumn("knn_rank", F.row_number().over(w))
            .where(F.col("knn_rank") <= k)
            .select("query_id", "neighbor_id", "score", "knn_rank")
        )
    short = (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id", "_qv", "_qn")
    )
    nb = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        l2_norm(F.col(vec_col)).alias("_nn"),
    )
    rer = short.join(nb, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        cosine(
            F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
        ).alias("score"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("knn_rank", F.row_number().over(w2))
        .where(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "score", "knn_rank")
    )

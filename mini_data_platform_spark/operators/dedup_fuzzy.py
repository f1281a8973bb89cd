"""Similarity-based deduplication operators for LLM training-data pipelines
(SURVEY.md §2.8 X1): exact-hash, MinHash+LSH, SimHash, n-gram Jaccard.

All operators are pure DataFrame compositions (no Python UDFs): hashing is
md5/sha2 (JVM-side, identical output in any engine — which is also what
makes the DuckDB oracles possible), candidate generation is band-bucket
self-joins, verification is an explode/join/aggregate Jaccard.

Scale design (the 100 TB story):
- Signatures are one scan + one narrow projection per doc — no shuffle.
- LSH candidate generation shuffles (band_id, band_signature) keys only;
  a band bucket with B docs emits B(B-1)/2 pairs, so bucket size is the
  knob that bounds the blow-up: more bands/rows → smaller buckets. Hot
  buckets (boilerplate docs) are the skew risk — AQE skew-join splitting
  plus an optional bucket-size cap (``max_bucket``) handle them.
- Jaccard verification joins only the candidate pairs back to shingle
  sets — proportional to candidates, not to the corpus square.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from mini_data_platform_spark.functions.text import normalize_text, tokens


def _bt(name: str) -> str:
    """Backtick-quote an identifier for a generated SQL fragment."""
    return "`" + name.replace("`", "``") + "`"


def _staged_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, out: str = "_sh"
) -> DataFrame:
    """(id, shingle_array) with tokens materialized in their own projection.

    Two staged selects so the token array is computed ONCE per row; inlining
    ``tokens(text)`` into the shingle lambda would re-evaluate the split per
    shingle element (O(tokens²·len) per row — measured 10× slower at sf0.1).
    CollapseProject keeps both stages: the aliases are non-cheap and
    referenced more than once.

    Built as generated-SQL ``selectExpr`` stages (the exact expression
    trees :func:`~mini_data_platform_spark.functions.text.tokens` /
    ``shingles_of`` produce — one parser call each) rather than Column
    chains: per-Column py4j construction cost dominated the serving
    lookups' wall (round-12 profile: 448 ms → 75 ms for the batch band
    plan, bit-identical output).
    """
    n = int(shingle_n)
    toked = df.selectExpr(
        _bt(id_col), f"split(trim({_bt(text_col)}), ' +') AS _toks"
    )
    return toked.selectExpr(
        _bt(id_col),
        f"if(size(_toks) >= {n}, "
        f"transform(sequence(0, size(_toks) - {n}), "
        f"i -> concat_ws(' ', slice(_toks, i + 1, {n}))), "
        f"cast(array() as array<string>)) AS {_bt(out)}",
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized text: per content-hash group keep the
    smallest id (deterministic survivor), count the duplicates. One
    shuffle on the hash; partial agg collapses uniques map-side."""
    hashed = df.select(
        F.col(id_col), F.sha2(normalize_text(F.col(text_col)), 256).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("keep_" + id_col),
        F.count("*").alias("n_copies"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: hash function i is
    ``md5(i || '#' || shingle)``; the signature element is the minimum over
    the doc's shingles (computed per-row inside the projection — no explode,
    no shuffle). Empty-shingle docs get null signature elements."""
    shingled = _staged_shingles(df, id_col, text_col, shingle_n)
    return minhash_signatures_from(shingled, id_col, num_hashes)


def minhash_signatures_from(
    shingled: DataFrame, id_col: str, num_hashes: int = 16, sh_col: str = "_sh"
) -> DataFrame:
    """MinHash signatures from a pre-staged (id, shingle_array) frame —
    lets pipelines share (and cache) one shingle computation between the
    signature and verification stages.

    Hash family: component i is an 8-hex-char (32-bit) SLICE of
    ``md5((i div 4) || '#' || shingle)`` — one md5 call yields FOUR
    independent components (disjoint substrings of md5 output are
    independent bits), so a 16-component signature costs 4 md5 calls per
    shingle instead of 16. md5 dominates signature cost, making this a
    ~4× cut on the scan stage; 32-bit components are ample for min-hash
    (per-doc shingle sets are far below birthday range).

    Shape: explode → staged md5 projections → slice projections →
    min-aggregate. The md5s are computed in their OWN select so the four
    slice references share one evaluation (CollapseProject keeps the
    stage: non-cheap alias, referenced 4×; inlining would re-hash per
    slice). The groupBy shuffles only the partial per-partition minima
    (map-side combine), so network cost is one signature row per doc per
    partition regardless of shingle count.

    ``explode_outer`` keeps empty-shingle docs: their null shingle hashes
    to null, min(null)=null — identical to array_min over an empty array.
    """
    n_md5 = (num_hashes + 3) // 4
    exploded = shingled.select(
        F.col(id_col), F.explode_outer(F.col(sh_col)).alias("_s")
    )
    hashed = exploded.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{m}#"), F.col("_s"))).alias(f"_md5_{m}")
            for m in range(n_md5)
        ],
    )
    sliced = hashed.select(
        F.col(id_col),
        *[
            F.substring(F.col(f"_md5_{i // 4}"), (i % 4) * 8 + 1, 8).alias(f"_h_{i}")
            for i in range(num_hashes)
        ],
    )
    return sliced.groupBy(id_col).agg(
        *[F.min(f"_h_{i}").alias(f"mh_{i}") for i in range(num_hashes)]
    )


def minhash_signature_columns(
    shingled: DataFrame, id_cols: Sequence[str], num_hashes: int = 16,
    sh_col: str = "_sh",
) -> DataFrame:
    """Per-ROW MinHash signature as pure array expressions — no explode,
    no aggregate, no shuffle: ``mh_i = array_min(transform(shingles,
    s -> slice_of_md5))``. Same hash family as
    :func:`minhash_signatures_from` (i-th component is an 8-hex slice of
    ``md5((i div 4) || '#' || shingle)``), so the two formulations emit
    interchangeable signatures. The explode/min-agg version amortizes
    better over huge shingle sets in batch; this projection form is the
    STREAMING fit — signatures materialize row-local inside a micro-batch
    before any stateful stage. Empty/missing shingle arrays yield null
    components, matching explode_outer + min(null) in the batch path.

    The md5 arrays are staged in their own select so the four slice
    references per md5 share one evaluation, mirroring the staged
    projection in the batch pipeline."""
    # Generated-SQL selectExpr stages (one parser call per select) — the
    # Column-chain formulation paid ~0.5 s of py4j construction per serve
    # lookup (round-12 profile); the parsed trees are identical, including
    # the staging contract (md5 arrays in their OWN select so the four
    # slice references share one evaluation).
    ids = [_bt(c) for c in id_cols]
    n_md5 = (num_hashes + 3) // 4
    staged = shingled.selectExpr(
        *ids,
        *[
            f"transform({_bt(sh_col)}, s -> md5(concat('{m}#', s))) AS _md5a_{m}"
            for m in range(n_md5)
        ],
    )
    return staged.selectExpr(
        *ids,
        *[
            f"array_min(transform(_md5a_{i // 4}, "
            f"h -> substring(h, {(i % 4) * 8 + 1}, 8))) AS mh_{i}"
            for i in range(num_hashes)
        ],
    )


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Stacked band-key frame (id, band_id, band_key) from a signature
    frame: the signature splits into ``bands`` bands of r = num_hashes /
    bands components, each hashed to one md5 key. This is the shareable
    HALF of LSH candidate generation — the self-join lives in
    :func:`lsh_candidate_pairs`; the incremental index
    (operators/incremental.py) persists this frame instead and joins new
    batches against it."""
    r = num_hashes // bands
    assert bands * r == num_hashes, "bands must divide num_hashes"
    # generated-SQL stages (see _staged_shingles): band md5s in their own
    # projection, then one stack() generator — same rows/schema as the
    # original explode-of-structs formulation, one parser call per select
    band_exprs = [
        "md5(concat_ws('|', "
        + ", ".join(f"mh_{b * r + j}" for j in range(r))
        + f")) AS band_{b}"
        for b in range(bands)
    ]
    banded = signatures.selectExpr(_bt(id_col), *band_exprs)
    stacked = ", ".join(f"{b}, band_{b}" for b in range(bands))
    return banded.selectExpr(
        _bt(id_col), f"stack({bands}, {stacked}) AS (band_id, band_key)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs: split the signature into ``bands`` bands
    of r = num_hashes/bands rows, hash each band, self-join on
    (band_id, band_key), keep a<b, distinct.

    ``max_bucket`` drops pathological buckets (boilerplate explosion) —
    a recall/cost tradeoff knob for production; leave None for exactness.
    """
    stacked = lsh_band_keys(signatures, id_col, num_hashes, bands)
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        stacked = stacked.withColumn("_bsz", F.count("*").over(w)).filter(
            F.col("_bsz") <= max_bucket
        ).drop("_bsz")
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs_from(
    shingled: DataFrame, pairs: DataFrame, id_col: str, sh_col: str = "_sh"
) -> DataFrame:
    """Jaccard verification from a pre-staged shingle frame.

    Only documents that appear in a candidate pair carry their shingle
    set into the join: the semi-join below shrinks the verified volume
    from |corpus| to |candidate docs| — at scale LSH admits a small
    fraction of the corpus into candidates, so this is the difference
    between shipping 100 TB of shingles and shipping the few TB under
    verification.

    Intersections are computed with ONE equi-join per pair side plus a
    JVM ``array_intersect`` on the deduped shingle arrays — two shuffles
    of (id, array) rows total. The alternative explode→composite-join→
    count formulation shuffles every (id, shingle) row twice more and
    re-aggregates; measured ~2× slower at sf0.1 with identical output
    (array_intersect over array_distinct'ed arrays IS set intersection,
    and both sides' set sizes come from the same arrays)."""
    involved = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # null-safe: explode_outer upstream means a no-shingle doc carries a
    # null array; its set is EMPTY (size 0), never null-propagated
    # (size(null) is -1 with ANSI off, which would corrupt the union size)
    empty = F.array().cast("array<string>")
    sets = shingled.join(involved, id_col, "left_semi").select(
        F.col(id_col),
        F.array_distinct(F.coalesce(F.col(sh_col), empty)).alias("sh"),
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_inter.alias("n_inter"),
            (
                n_inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - n_inter).cast("double")
            ).alias("jaccard"),
        )
    )


def shingle_hash_sets(
    shingled: DataFrame, id_col: str, sh_col: str = "_sh", out: str = "_shh"
) -> DataFrame:
    """(id, distinct 64-bit shingle-hash array) from a pre-staged
    shingle frame — the PERSISTABLE verification state (round-9 verdict
    item 2): Jaccard needs only set sizes and intersection sizes, which
    survive any injective mapping of the shingle universe, so an index
    can store ~8 bytes per distinct shingle instead of the shingle
    strings and serve verification without ever re-tokenizing text.
    xxhash64 is Spark-deterministic (fixed seed 42) across sessions and
    versions — build-time hashes always match probe-time hashes.
    Collisions shrink a set by 1 with probability ~n²/2⁶⁴ per doc
    (≈10⁻¹¹ at 10⁵ shingles) — far below any float-comparison tolerance,
    and the DuckDB oracles recompute Jaccard from TEXT, so an actual
    collision would surface as a hash mismatch, not hide.

    A null shingle array (empty doc under explode_outer conventions)
    maps to the EMPTY set — same null-safety contract as
    :func:`jaccard_pairs_from`."""
    return shingled.selectExpr(
        _bt(id_col),
        f"array_distinct(transform("
        f"coalesce({_bt(sh_col)}, cast(array() as array<string>)), "
        f"s -> xxhash64(s))) AS {_bt(out)}",
    )


def jaccard_pairs_from_hashes(
    hsets: DataFrame,
    pairs: DataFrame,
    id_col: str,
    h_col: str = "_shh",
    small_pairs: bool = False,
    involved_filtered: bool = False,
) -> DataFrame:
    """:func:`jaccard_pairs_from` over pre-hashed DISTINCT shingle sets
    (:func:`shingle_hash_sets` output, e.g. read straight from an
    index's docs table): identical join shape and output schema
    (id_a, id_b, n_inter, jaccard), but the per-doc state is an
    8-byte-per-shingle bigint array and no tokenize/shingle/distinct
    work happens at verify time — the serving-latency path.

    ``small_pairs=True`` declares the candidate set bounded (the caller
    knows |pairs| — serving lookups count it anyway for broadcast
    guards) and collapses verification to ZERO shuffles: the involved-id
    semi-filter, the pair frame, and the right-hand set side are all
    broadcast, so the whole verify is one scan of the candidate docs
    through three broadcast hash joins. On a 32-way local session that
    removes ~6 shuffle stage barriers — the fixed cost that dominated
    serve latency (round-9 verdict item 2); on a cluster it keeps a
    point lookup from shuffling the candidate doc arrays at all.

    ``involved_filtered=True`` declares that ``hsets`` is ALREADY
    restricted to docs appearing in ``pairs`` (the index lookup paths
    semi-join the corpus side on candidate ids before calling in) and
    skips the internal involved-id semi-filter — the filter is a pure
    volume reduction, so skipping it never changes the result, it only
    avoids re-deriving and re-broadcasting the id set the caller
    already applied (one fewer Spark job on the serving path)."""
    if involved_filtered:
        sets = hsets
    else:
        involved = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        if small_pairs:
            involved = F.broadcast(involved)
        sets = hsets.join(involved, id_col, "left_semi")
    sa = sets.select(F.col(id_col).alias("id_a"), F.col(h_col).alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col(h_col).alias("sh_b"))
    if small_pairs:
        pairs = F.broadcast(pairs)
        sb = F.broadcast(sb)
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_inter.alias("n_inter"),
            (
                n_inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - n_inter).cast("double")
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pipeline: signatures → banded candidate
    pairs → exact Jaccard filter. The standard large-corpus dedup recipe.

    ``max_bucket`` (default None = exact) is the production hot-bucket
    cap, forwarded to :func:`lsh_candidate_pairs`: at 100 TB a boilerplate
    band bucket with B members emits B(B-1)/2 candidate pairs, so one
    pathological bucket can dominate the whole job; capping drops those
    buckets at a documented recall cost (members can still pair through
    their other, non-hot bands).

    The shingle frame feeds BOTH the signature stage and the Jaccard
    verification; it is persisted so the tokenize+shingle scan runs once,
    not once per consumer, and the candidate pairs are persisted because
    the Jaccard stage consumes them twice. (At 100 TB persist serializes
    to local disk per executor — still far cheaper than recomputing.)

    Persist lifecycle: both frames are ATTACHED to the returned plan
    (operators/resources.py) — run the action, then call
    ``resources.release_plan(result)`` to free the blocks. Eager consumers
    (``connected_components``) release them on the caller's behalf.
    Callers doing their own lifecycle management can compose the ``*_from``
    stages directly."""
    from pyspark import StorageLevel

    from mini_data_platform_spark.operators.resources import attach_plan

    shingled = _staged_shingles(df, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures_from(shingled, id_col, num_hashes)
    cands = lsh_candidate_pairs(
        sigs, id_col, num_hashes, bands, max_bucket=max_bucket
    ).persist(StorageLevel.MEMORY_AND_DISK)
    jac = jaccard_pairs_from(shingled, cands, id_col)
    out = jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
    return attach_plan(out, shingled, cands)


_HEX = "0123456789abcdef"


def cross_near_dup_pairs(
    probe: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    broadcast_reference: bool = True,
) -> DataFrame:
    """ASYMMETRIC near-dup join: every (probe, reference) pair whose
    exact shingle Jaccard ≥ ``threshold``, candidates generated by the
    same banded-MinHash LSH as the self-join (:func:`lsh_candidate_pairs`)
    but joined ACROSS the two frames. The use case is FUZZY BENCHMARK
    DECONTAMINATION (probe = training corpus, reference = benchmark/
    holdout): exact n-gram matching (corpus.contamination) misses
    lightly edited leaks — a benchmark answer with one token changed
    shares almost no exact 13-grams but nearly all shingle MinHash
    bands; this is the near-dup leakage class GPT-3's exact-overlap
    decontamination was later shown to miss (Brown et al. 2020, App. C
    discuss the limits). Returns (id_a = probe id, id_b = reference id,
    n_inter, jaccard).

    Ids across the two frames must be DISJOINT (validated with one
    bounded probe): verification unions both sides' shingle sets by id.

    Scale: the reference side (a benchmark suite) is hyperparameter-
    sized next to a training corpus, so with ``broadcast_reference``
    (default) its band keys ship as a broadcast relation and the
    corpus-side signature scan joins map-side — ZERO shuffle of corpus
    band keys; verification stays candidate-bounded as always. Set
    ``broadcast_reference=False`` when the reference outgrows the
    broadcast budget (both sides then shuffle on (band_id, band_key))."""
    from pyspark import StorageLevel

    from mini_data_platform_spark.operators.resources import attach_plan

    p = probe.select(F.col(id_col), F.col(text_col))
    r = reference.select(F.col(id_col), F.col(text_col))
    clash = (
        p.select(id_col).join(r.select(id_col), id_col, "inner")
        .limit(1).count()
    )
    if clash:
        raise ValueError(
            "probe and reference share document ids — verification "
            "would merge their shingle sets; re-key one side"
        )
    # one staged shingle pass per side, shared between signatures and
    # verification (the near_dup_pairs persist discipline)
    sh_p = _staged_shingles(p, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_r = _staged_shingles(r, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bk_p = lsh_band_keys(
        minhash_signatures_from(sh_p, id_col, num_hashes),
        id_col, num_hashes, bands,
    )
    bk_r = lsh_band_keys(
        minhash_signatures_from(sh_r, id_col, num_hashes),
        id_col, num_hashes, bands,
    ).select(F.col(id_col).alias("_rid"), "band_id", "band_key")
    if broadcast_reference:
        bk_r = F.broadcast(bk_r)
    cand = (
        bk_p.join(bk_r, ["band_id", "band_key"])
        .select(
            F.col(id_col).alias("id_a"), F.col("_rid").alias("id_b")
        )
        .distinct()
    )
    verified = jaccard_pairs_from(
        sh_p.unionByName(sh_r), cand, id_col
    )
    out = verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )
    return attach_plan(out, sh_p, sh_r)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens, emitted as a 16-char hex
    string. Bit j of token t = bit j of md5(t) (nibble-decoded portably via
    conv on the hex digit); the signature bit is the sign of the ±1-vote
    sum over tokens.

    Implementation is explode → 32 bit-packed count aggregates → lane
    decode → nibble reassembly: one shuffle on the doc id, all JVM
    expressions. The 64 per-bit set-counts are packed TWO per long in
    31-bit lanes (set-votes are 0/1, so lanes never borrow; a lane
    overflows only past 2^31 tokens ≈ 8 GB of text in ONE document),
    halving both the aggregate state that shuffles per group and the
    generated aggregate code vs one sum per bit (measured ~2× faster
    first-run at sf0.1, identical output). The ±1-vote sign is recovered
    as ``2*set_count > n_tokens`` (strictly-positive sum ⇔ set bits
    outnumber unset); the DuckDB oracle (sql_simhash) keeps the plain
    64-sum formulation, so the packing is cross-checked, not mirrored.

    The projections and aggregates are generated-SQL ``selectExpr`` /
    ``F.expr`` stages (the ``_staged_shingles`` doctrine): the original
    Column-chain formulation built ~110 nested Column trees through
    ~11k py4j round trips — 2.7 s of DRIVER wall per call at a 0.4 s
    job wall (round-15 cProfile). The parsed trees are identical, so
    output is bit-identical."""
    LANE = 31
    id_q = _bt(id_col)
    tok = df.selectExpr(
        id_q, f"explode(split(trim({_bt(text_col)}), ' +')) AS tok"
    ).selectExpr(id_q, "md5(tok) AS h")
    # stage the 16 nibble values so each is decoded once per token
    # (CollapseProject keeps the stage: non-cheap aliases referenced 4×)
    nib_vals = tok.selectExpr(
        id_q,
        *[
            f"CAST(conv(substring(h, {nib + 1}, 1), 16, 10) AS BIGINT)"
            f" AS v_{nib}"
            for nib in range(16)
        ],
    )

    def bit_sql(i: int) -> str:
        # bit i of the 64-bit signature = bit (i%4) of nibble (i//4)
        return f"(shiftright(v_{i // 4}, {i % 4}) & 1)"

    aggs = [F.expr("count(*) AS n_tok")]
    for k in range(32):
        aggs.append(
            F.expr(
                f"sum({bit_sql(2 * k)} + ({bit_sql(2 * k + 1)} * "
                f"{1 << LANE})) AS p_{k}"
            )
        )
    sums = nib_vals.groupBy(id_col).agg(*aggs)

    def count_sql(i: int) -> str:
        k, m = divmod(i, 2)
        return f"(shiftright(p_{k}, {m * LANE}) & {(1 << LANE) - 1})"

    nib_chars = []
    for nib in range(16):
        # vote sum > 0  ⇔  2 * set_count > n_tokens
        nibble_val = " + ".join(
            f"(CASE WHEN ({count_sql(nib * 4 + bit)} * 2) > n_tok "
            f"THEN 1 ELSE 0 END) * {2 ** bit}"
            for bit in range(4)
        )
        nib_chars.append(f"substr('{_HEX}', ({nibble_val}) + 1, 1)")
    return sums.selectExpr(
        id_q, f"concat({', '.join(nib_chars)}) AS simhash"
    )


def sql_simhash(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`simhash` (generated SQL, same vote rules)."""
    sums = []
    for nib in range(16):
        val = f"(strpos('{_HEX}', substr(h, {nib + 1}, 1)) - 1)"
        for bit in range(4):
            vote = f"CASE WHEN ((({val}) >> {bit}) & 1) = 1 THEN 1 ELSE -1 END"
            sums.append(f"SUM({vote}) AS s_{nib}_{bit}")
    nibs = []
    for nib in range(16):
        nibble_val = " + ".join(
            f"(CASE WHEN s_{nib}_{bit} > 0 THEN 1 ELSE 0 END) * {2**bit}"
            for bit in range(4)
        )
        nibs.append(f"substr('{_HEX}', ({nibble_val}) + 1, 1)")
    return f"""
        WITH tok AS (
            SELECT {id_col}, md5(t.tok) AS h
            FROM {table}, unnest(string_split_regex(trim({text_col}), ' +')) AS t(tok)
        ),
        sums AS (
            SELECT {id_col}, {', '.join(sums)} FROM tok GROUP BY {id_col}
        )
        SELECT {id_col}, {' || '.join(nibs)} AS simhash FROM sums
    """

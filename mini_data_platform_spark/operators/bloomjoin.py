"""Bloom-filter semi-join — shuffle-volume reduction for selective joins.

The 100 TB problem this solves: ``fact SEMI JOIN dim_keys`` where the key
set is too large to broadcast as an exact hash relation (10^8+ keys =
gigabytes) but the join is selective (most fact rows do NOT match). A
plain semi-join shuffles the ENTIRE fact table on the join key before a
single row is eliminated; at 100 TB the shuffle, not the probe, is the
bill. A Bloom filter compresses the key set into a few megabytes of bits
with zero false negatives, so a map-side membership test drops ~all
non-matching fact rows BEFORE the shuffle — the exact semi-join that
follows only ships candidates (true matches + the fpp-sized trickle of
false positives). Spark's own runtime row-level filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) applies the same
idea inside the optimizer when statistics justify it; this operator makes
the plan explicit, deterministic, and available to composed pipelines
that sit above the optimizer's visibility (derived key frames, multi-hop
funnels).

Everything stays JVM-side:
- BUILD: k = ``num_hashes`` bit positions per key via ``xxhash64(key, i)``
  mod ``num_bits``; positions pack into (word, mask) pairs and a
  ``bit_or`` aggregate folds them into ≤ num_bits/64 words. The collect
  is the finished SKETCH (e.g. 2^20 bits = 16 Ki longs = 128 KiB), i.e.
  hyperparameter-sized driver traffic like IVF centroids — never the key
  set itself.
- PROBE: the word array ships as one plan literal; membership is k
  ``getbit(element_at(...))`` lookups inside whole-stage codegen — no
  Python, no UDF, no shuffle.

Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k for n keys, m bits.
The default 2^20 bits / 5 hashes holds fpp under ~3% out to ~10^5 keys;
at 10^8 keys use ~2^30 bits (128 MiB — still broadcastable where the raw
keys are not). The filter is a pre-FILTER, not the join: with
``exact=True`` (default) a real semi-join runs after it, so results are
exact regardless of fpp — fpp only tunes how much shuffle survives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: build-side aggregate output cap — one row per 64-bit word
_WORD_BITS = 64


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> list[int]:
    """Distributed Bloom build: returns the filter as a dense list of
    ``num_bits / 64`` signed 64-bit words (index w holds bits
    [64w, 64w+63]). One explode + one ``bit_or`` shuffle over (word);
    the driver receives only the aggregated words — bounded by the
    sketch size, independent of key count."""
    if num_bits % _WORD_BITS:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    n_words = num_bits // _WORD_BITS
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("h")
    )
    words = (
        positions.select(
            (F.col("h") / _WORD_BITS).cast("int").alias("word"),
            # shiftleft's shift amount must be an expression to vary per
            # row — SQL shiftleft accepts one; the DSL binding does not
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(h % {_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    dense = [0] * n_words
    for row in words:
        dense[row["word"]] = row["bits"]
    return dense


def build_bloom_bits_relation(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """The Bloom filter as a ONE-ROW DataFrame ``(_bf_bits
    array<bigint>)`` built entirely JVM-side — the bits NEVER round-trip
    driver Python. ``build_bloom_words``'s collect → createDataFrame is
    fine at the 2^20 default (128 KiB through py4j) but serializes the
    whole filter through the py4j text channel twice at 2^27+ bits
    (16+ MiB): measured in SURVEY §6, the round-trip dominates build
    time. Here the sparse (word, bits) aggregate rows collapse into a
    map and a ``transform(sequence(...))`` densifies to the full word
    array inside ONE task — no Python anywhere. The single row then
    broadcasts like any dimension table.

    The densify is a LEFT JOIN of the full word-index range against the
    sparse aggregate, collected into one sorted struct array — O(n log n)
    JVM work. (NOT ``map_from_entries`` + per-index ``element_at``:
    Spark's map lookup is a LINEAR scan over ArrayBasedMapData, which
    makes that formulation O(n_words²) — measured as a multi-minute hang
    at 2^24.) The final row holds num_bits/8 bytes (2^30 bits = 128 MiB —
    one comfortably-sized row); everything before it is the same exploded
    bit_or aggregate as ``build_bloom_words``."""
    if num_bits % _WORD_BITS:
        raise ValueError(f"num_bits must be a multiple of 64, got {num_bits}")
    n_words = num_bits // _WORD_BITS
    spark = keys.sparkSession
    positions = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.col(key_col), F.lit(i)), F.lit(num_bits)
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("h")
    )
    words = (
        positions.select(
            (F.col("h") / _WORD_BITS).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(h % {_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    dense = (
        spark.range(n_words)
        .select(F.col("id").cast("int").alias("word"))
        .join(words, "word", "left")
        .select(
            F.struct(
                F.col("word").alias("w"),
                F.coalesce(F.col("bits"), F.lit(0)).alias("b"),
            ).alias("e")
        )
    )
    return dense.agg(
        F.array_sort(F.collect_list("e")).alias("_es")
    ).select(
        F.transform(F.col("_es"), lambda e: e["b"]).alias("_bf_bits")
    )


def _membership_cond(
    bits: Column, key: Column, num_bits: int, num_hashes: int
) -> Column:
    """k getbit lookups against ``bits`` (array<long> column) — pure JVM
    expression inside whole-stage codegen."""
    conds = []
    for i in range(num_hashes):
        h = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
        word = (h / _WORD_BITS).cast("int")
        bit = F.pmod(h, F.lit(_WORD_BITS)).cast("int")
        # getbit's pos argument is expression-valued, unlike shiftright's
        conds.append(
            F.getbit(F.element_at(bits, word + F.lit(1)), bit) == F.lit(1)
        )
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def might_contain(
    words: list[int], key: Column, num_hashes: int = 5
) -> Column:
    """Membership predicate over a ``build_bloom_words`` filter: true for
    every inserted key (no false negatives), true for a non-key with
    probability fpp.

    PLAN-LITERAL mode: the word array folds into the expression tree as
    one CreateArray per hash condition — fine for small filters (≤ ~2^20
    bits), but the tree grows as num_hashes × num_words, so big filters
    must go through ``bloom_semi_join``'s broadcast path instead, which
    binds the array ONCE as a single-row broadcast relation."""
    # a literal list whose words all fit 32 bits infers array<int>, and
    # getbit on an int refuses positions >= 32 — pin the word type
    return _membership_cond(
        F.lit(words).cast("array<bigint>"),
        key,
        len(words) * _WORD_BITS,
        num_hashes,
    )


def size_bloom(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Textbook Bloom sizing for ``n_keys`` at target false-positive rate
    ``fpp``: m = -n·ln(p)/ln(2)² bits (rounded up to a 64-bit word
    boundary, floor 2^12), k = round(m/n·ln 2) hashes. Returns
    (num_bits, num_hashes)."""
    import math

    if not 0 < fpp < 1:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, n_keys)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(1 << 12, ((m + _WORD_BITS - 1) // _WORD_BITS) * _WORD_BITS)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    num_bits: int | None = 1 << 20,
    num_hashes: int = 5,
    exact: bool = True,
    fpp: float = 0.01,
) -> DataFrame:
    """``fact`` rows whose ``fact_key`` appears in ``keys[dim_key]``.

    Plan shape: Bloom build over ``keys`` (eager — the sketch is
    hyperparameter-sized driver traffic), map-side ``might_contain``
    prefilter on ``fact``, then (``exact=True``) a left-semi join against
    ``keys`` to kill false positives. Result is EXACTLY the plain
    semi-join; the prefilter only shrinks what the semi-join shuffles —
    from |fact| rows to |matches| + fpp·|fact|.

    ``exact=False`` skips the verification join (zero shuffle end to
    end) and returns a superset containing every true match — the right
    half of the trade when downstream is itself a join that re-verifies
    (e.g. enrichment lookups) or when fpp-rate overcount is acceptable.

    ``num_bits=None`` auto-sizes: one distinct-count over the key side
    (bounded driver traffic — a scalar), then ``size_bloom(n, fpp)``
    picks bits/hashes for the target false-positive rate. Pass explicit
    sizes when the key count is already known or composition must stay
    fully lazy.
    """
    dim_key = dim_key or fact_key
    key_frame = keys.select(F.col(dim_key).alias(dim_key)).where(
        F.col(dim_key).isNotNull()
    )
    if num_bits is None:
        n_keys = key_frame.distinct().count()
        num_bits, num_hashes = size_bloom(n_keys, fpp)
    # bind the word array ONCE as a single-row broadcast relation — the
    # DataFrame spelling of a broadcast variable. A plan-literal array
    # would be copied into the tree once per hash condition (num_hashes ×
    # num_words expression nodes: analysis-time poison at 2^30 bits); the
    # broadcast ships the bits once per executor and the predicate
    # references one attribute. The relation is built ENTIRELY JVM-side
    # (build_bloom_bits_relation) — the bits never round-trip driver
    # Python, so filter size is bounded by executor memory, not py4j
    # payloads (r6 advice item 6; measured in SURVEY §6). The cross join
    # is a 1-row broadcast nested loop — a constant attach, not a join
    # fan-out.
    bf = build_bloom_bits_relation(key_frame, dim_key, num_bits, num_hashes)
    # null fact keys can never semi-join (the key side is filtered to
    # non-null above), but xxhash64 SKIPS null inputs, so every null key
    # would hash to the same k constant positions — likely set in any
    # populated filter — and the exact=False "superset" would admit ALL
    # null-key rows rather than an fpp-sized trickle. Exclude them here,
    # matching the key-side null handling.
    pre = (
        fact.where(F.col(fact_key).isNotNull())
        .crossJoin(F.broadcast(bf))
        .where(
            _membership_cond(
                F.col("_bf_bits"), F.col(fact_key), num_bits, num_hashes
            )
        )
        .drop("_bf_bits")
    )
    if not exact:
        return pre
    # verification as an INNER join against the DISTINCT key set (then
    # dropping the key column) — semantically identical to a left-semi
    # join, chosen deliberately: Catalyst's PushDownLeftSemiAntiJoin
    # rewrites a LeftSemi ABOVE the prefilter into one BELOW it (pushed
    # through the bits cross join into the fact side), which re-orders
    # the plan to shuffle the UNFILTERED fact — the exact thing this
    # operator exists to avoid. The rule does not apply to inner joins,
    # and the membership predicate keeps the bits join "conditioned" so
    # the join-reorder heuristic leaves the chain alone; the plan-quality
    # gate (tests/test_plan_quality.py::TestBloomSemiJoinPlan) pins the
    # verification join above the membership filter.
    dedup_keys = key_frame.distinct()
    joined = pre.join(
        dedup_keys, on=pre[fact_key] == dedup_keys[dim_key], how="inner"
    )
    if dim_key == fact_key:
        # same-named key columns: drop the dim side's by reference
        return joined.drop(dedup_keys[dim_key])
    return joined.drop(dim_key)

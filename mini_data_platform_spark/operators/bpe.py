"""Distributed BPE vocabulary induction (Sennrich et al., ACL 2016,
"Neural Machine Translation of Rare Words with Subword Units").

Tokenizer training is the first model-shaped artifact a pretraining
pipeline produces, and the reference implementation is a single-process
dict loop — unusable when the corpus does not fit one machine. The
standard factoring (Sennrich's own) makes it distributable: BPE
statistics depend only on the WORD-FREQUENCY table, not the corpus, so

1. ONE corpus pass builds ``(word, freq)`` — a distributed aggregate
   whose output is vocabulary-sized (≪ corpus; the 100 TB input is
   touched exactly once);
2. each merge round runs on the word table only: adjacent-symbol pair
   counts (explode + one sum aggregate, shuffle bounded by the pair
   vocabulary), a driver-side argmax of ONE row (model-parameter-sized
   driver traffic, the IVF-centroid doctrine), and a per-word merge
   projection;
3. the merge itself is a pure JVM fold (``F.aggregate`` with a
   carry-one-symbol accumulator) implementing greedy left-to-right
   non-overlapping pair replacement — bit-identical to the reference's
   regex substitution, with zero Python in the executor path.

Each round ends in ``localCheckpoint`` (the graph.py convergence-loop
pattern), so the lineage stays shallow across k rounds instead of
nesting k aggregates.

Determinism: ties in the pair argmax break on (count desc, left asc,
right asc) — a total order, so the learned merge sequence is a pure
function of the corpus. The declared query ``doc_bpe_vocab`` is checked
against a VALUES oracle computed by an independent sequential Python
reference over the same fixture (the lazy-builder pattern of
doc_unigram_lm): the distributed loop must reproduce the reference
merge-for-merge, count-for-count.

Encoding reuses the same economics: ``bpe_segment_words`` applies the
frozen merge list to the DISTINCT-word table (vocabulary-sized work),
and ``bpe_token_counts`` maps a corpus through it with one
(guarded-broadcast) join — documents are never re-segmented
char-by-char.

No reference-repo counterpart (§2.8 LLM-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .resources import bounded_rows

#: end-of-word marker, per Sennrich — lets merges distinguish suffixes
#: ("est</w>") from infixes ("est"), and makes decoding unambiguous
EOW = "</w>"

_SYM = "syms"


def word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """The one corpus pass: whitespace-tokenize and count word
    occurrences. Output is (word, freq) — vocabulary-sized."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.col(text_col).cast("string")), r"\s+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """word → [c1, c2, ..., cn, EOW]."""
    chars = F.split(word, "")
    # Spark's split on "" leaves no trailing empty element (unlike some
    # engines); append the end-of-word marker
    return F.concat(chars, F.array(F.lit(EOW)))


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency — one
    explode + one aggregate; the shuffle carries (left, right, partial
    count) rows, bounded by the pair vocabulary."""
    n = F.size(F.col(_SYM))
    pairs = F.arrays_zip(
        F.slice(F.col(_SYM), 1, n - 1).alias("l"),
        F.slice(F.col(_SYM), 2, n - 1).alias("r"),
    )
    return (
        words.where(n >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .select(
            F.col("p.l").alias("left"),
            F.col("p.r").alias("right"),
            "freq",
        )
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_count"))
    )


def _merge_expr(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (left, right) by their concatenation — the reference's
    ``re.sub`` semantics as a pure JVM fold: the accumulator carries the
    previous unmerged symbol; seeing ``right`` while carrying ``left``
    emits the merged symbol and clears the carry (so a merged token
    cannot be the left side of another merge in the same pass:
    A A A --(A,A)--> AA A, exactly like the reference)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("carry"),
        ),
        lambda st, s: F.when(
            st["carry"].eqNullSafe(F.lit(left)) & (s == F.lit(right)),
            F.struct(
                F.concat(st["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    st["carry"].isNotNull(),
                    F.concat(st["out"], F.array(st["carry"])),
                )
                .otherwise(st["out"])
                .alias("out"),
                s.alias("carry"),
            )
        ),
        lambda st: F.when(
            st["carry"].isNotNull(),
            F.concat(st["out"], F.array(st["carry"])),
        ).otherwise(st["out"]),
    )


#: word-frequency tables at or under this row count run the merge loop
#: on the driver (see bpe_learn); 0 disables the fast path
DRIVER_MAX_WORDS = 20_000


def bpe_learn(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from a corpus. Returns the
    ordered merge list ``[(left, right, pair_count), ...]`` — the
    tokenizer artifact (rank = list position). Stops early when the
    best remaining pair falls under ``min_count`` (merging singletons
    memorizes noise, Sennrich's stopping rule).

    Cost shape: one corpus scan, then per round one vocabulary-sized
    aggregate + a one-row driver argmax + a projection; lineage is cut
    every round with ``localCheckpoint`` so round k's plan does not
    embed rounds 1..k-1.

    SMALL-VOCAB FAST PATH (r15, guide §1.2): the merge rounds depend
    only on the word-frequency table, and every round is a driver
    round-trip (argmax collect + checkpoint job). When that table is
    driver-sized — one bounded collect of at most ``DRIVER_MAX_WORDS``
    rows decides (resources.bounded_rows) — the rounds run as the
    sequential loop (:func:`reference_merges`, the test-pinned
    identical algorithm: same tie order, same stopping rule) over that
    one collect: 2 Spark jobs per merge collapse to one job total.
    Corpus-scale vocabularies overflow the probe and take the
    distributed loop unchanged."""
    wf = word_freqs(docs, text_col)
    head = bounded_rows(wf, DRIVER_MAX_WORDS)
    if head is not None:
        return reference_merges(
            {r["word"]: r["freq"] for r in head}, n_merges, min_count
        )
    words = (
        wf
        .select(_initial_symbols(F.col("word")).alias(_SYM), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    try:
        for _ in range(n_merges):
            best = (
                _pair_counts(words)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best or best[0]["pair_count"] < min_count:
                break
            left, right = best[0]["left"], best[0]["right"]
            merges.append((left, right, int(best[0]["pair_count"])))
            nxt = words.select(
                _merge_expr(F.col(_SYM), left, right).alias(_SYM), "freq"
            ).localCheckpoint(eager=True)
            words.unpersist(False)
            words = nxt
    finally:
        words.unpersist(False)
    return merges


def merges_frame(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The merge list as a DataFrame (rank, left, right, merged,
    pair_count) — the persistable/declarable tokenizer artifact."""
    rows = [
        (i, l, r, l + r, c) for i, (l, r, c) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, "
        "pair_count bigint",
    )


def bpe_segment_words(
    words: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Apply a FROZEN merge list, in rank order, to a word table —
    vocabulary-sized work however large the corpus. Returns the input
    plus ``syms`` (the word's BPE segmentation) and ``n_tokens``.
    Lineage is cut every few merges (the fold expression nests
    per-merge; checkpointing keeps codegen units bounded)."""
    out = words.withColumn(
        _SYM, _initial_symbols(F.col("word"))
    )
    for i, (left, right, _c) in enumerate(merges):
        out = out.withColumn(
            _SYM, _merge_expr(F.col(_SYM), left, right)
        )
        if (i + 1) % 8 == 0:
            out = out.localCheckpoint(eager=False)
    return out.withColumn("n_tokens", F.size(F.col(_SYM)))


def reference_merges(
    word_freq: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str, int]]:
    """INDEPENDENT sequential reference (the Sennrich dict loop) used by
    the oracle builder and tests — deliberately not sharing one line of
    plan code with :func:`bpe_learn`, so agreement between the two is
    evidence, not tautology. Same tie order: count desc, then
    lexicographically smallest (left, right)."""
    words: dict[tuple[str, ...], int] = {}
    for w, f in word_freq.items():
        k = tuple(list(w) + [EOW])
        words[k] = words.get(k, 0) + f
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if cnt < min_count:
            break
        merges.append((left, right, cnt))
        nxt: dict[tuple[str, ...], int] = {}
        for syms, f in words.items():
            out: list[str] = []
            carry: str | None = None
            for s in syms:
                if carry == left and s == right:
                    out.append(left + right)
                    carry = None
                else:
                    if carry is not None:
                        out.append(carry)
                    carry = s
            if carry is not None:
                out.append(carry)
            k = tuple(out)
            nxt[k] = nxt.get(k, 0) + f
        words = nxt
    return merges


def reference_segment(
    word: str, merges: list[tuple[str, str, int]]
) -> list[str]:
    """Reference encoder: apply the frozen merges in rank order to one
    word (greedy left-to-right per merge)."""
    syms: list[str] = list(word) + [EOW]
    for left, right, _c in merges:
        out: list[str] = []
        carry: str | None = None
        for s in syms:
            if carry == left and s == right:
                out.append(left + right)
                carry = None
            else:
                if carry is not None:
                    out.append(carry)
                carry = s
        if carry is not None:
            out.append(carry)
        syms = out
    return syms


def bpe_token_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str, int]],
) -> DataFrame:
    """Per-document BPE token counts under a frozen merge list — the
    sequence-length/packing/costing input. Segments only the DISTINCT
    words (vocabulary-sized), then one join maps word occurrences to
    token counts; documents are never re-segmented char-by-char."""
    occurrences = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(F.trim(F.col(text_col).cast("string")), r"\s+")
        ).alias("word"),
    ).where(F.col("word") != "")
    words = occurrences.select("word").distinct()
    # small-vocab fast path (r15, mirrors bpe_learn): segmenting a
    # driver-sized vocabulary through the frozen merges as |merges|
    # nested JVM fold expressions is almost pure plan-compile cost;
    # the sequential encoder (reference_segment — the test-pinned
    # identical greedy loop) over one bounded collect yields the same
    # (word, n_tokens) table as a broadcast local relation. Corpus-
    # scale vocabularies overflow the probe and take the distributed
    # fold unchanged.
    head = bounded_rows(words, DRIVER_MAX_WORDS)
    if head is not None:
        rows = [
            (r["word"], len(reference_segment(r["word"], merges)))
            for r in head
        ]
        vocab = F.broadcast(
            docs.sparkSession.createDataFrame(
                rows, "word string, n_tokens int"
            )
        )
    else:
        vocab = bpe_segment_words(words, merges).select(
            "word", "n_tokens"
        )
    return (
        occurrences.join(vocab, "word")
        .groupBy("id")
        .agg(
            F.sum("n_tokens").alias("n_bpe_tokens"),
            F.count("*").alias("n_words"),
        )
    )

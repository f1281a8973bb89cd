"""Streaming near-duplicate candidate detection (MinHash-LSH over a
document stream).

The batch near-dup pipeline (operators/dedup_fuzzy.py) is a corpus-level
self-join; a STREAM needs the incremental formulation: as each document
arrives, does any LSH band bucket already contain an earlier document?
This module implements it as

1. a shuffle-free per-row projection computing the MinHash signature
   (``dedup_fuzzy.minhash_signature_columns`` — array expressions, no
   aggregate) and its banded bucket keys;
2. one explode to (band_id, band_key) rows;
3. ``applyInPandasWithState`` keyed on the bucket: state = the FIRST
   document ever seen in that bucket; every later arrival emits a
   candidate edge ``(doc_id -> first_doc_id)``.

Output is a stream of candidate EDGES, star-shaped per bucket (everyone
links to the bucket's first document) rather than the batch clique
(all pairs). The two shapes are interchangeable for deduplication: a
star and a clique over the same members have identical connected
components, so downstream clustering (operators/graph.py) produces the
same duplicate clusters — pinned by
tests/test_streaming.py::TestNearDupStream. Exact Jaccard verification
stays a batch job over the flagged pairs (the standard lambda split:
stream flags cheaply, batch verifies exactly).

Scale story (the 100 TB/day version):
- signature + banding are projections — scan-speed, no shuffle;
- the only shuffle keys are (band_id, band_key) — bucket keys, not text;
- state is ONE row per active bucket (first_id, first_ts), evicted by a
  processing-time TTL, so state size tracks distinct buckets within the
  TTL window, not stream lifetime — same bounded-state argument as
  ``dedup_stream``'s watermark;
- dedup against history is free: the first-seen id persists in state, so
  a duplicate arriving hours later still links to the original without
  re-scanning the corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mini_data_platform_spark.functions.text import shingles_of, tokens
from mini_data_platform_spark.operators.dedup_fuzzy import (
    minhash_signature_columns,
)

#: (doc_id, first_doc_id, band_id) candidate edges
CANDIDATE_SCHEMA = "doc_id long, first_doc_id long, band_id int"
_STATE_SCHEMA = "first_id long, first_ts_ms long, first_seed boolean"

#: default bucket-state TTL: buckets idle this long are evicted
DEFAULT_TTL_MS = 6 * 3_600_000


def export_index_seed(spark, index_dir: str, seed_dir: str) -> dict:
    """BRIDGE, batch → stream (round-7 verdict item 7): export a
    persisted near-dup index's committed band-bucket table
    (operators/incremental.py) as a SEED parquet directory the streaming
    operator can bootstrap from (``near_dup_candidates_stream(...,
    seed_dir=...)``). Seed rows carry ts = epoch 0, so every seeded
    bucket's first member IS the settled corpus member — a streaming doc
    that near-dups a corpus doc links to the CORPUS id, exactly as a
    batch increment would resolve it, and the corpus text is never
    re-shingled (the index's band keys are reused as-is; batch and
    stream share the same signature/band construction, see
    ``banded_bucket_keys``).

    Returns the index meta dict — the stream MUST run with the same
    num_hashes/bands/shingle_n or the bucket keys are incomparable
    (same rule as the index itself)."""
    from mini_data_platform_spark.operators.incremental import (
        _NEARDUP,
        _kind_of,
        _read_live,
        _recover_meta,
    )

    meta = _recover_meta(index_dir)
    _kind_of(meta, index_dir, _NEARDUP)
    # _read_live, not _read_table: tombstoned (deleted/taken-down) corpus
    # docs must not seed the stream's bucket state
    buckets = _read_live(spark, index_dir, "buckets", meta)
    (
        buckets.select(
            F.col("id").alias("doc_id"),
            F.timestamp_seconds(F.lit(0)).alias("ts"),
            "band_id",
            "band_key",
        ).write.mode("overwrite").parquet(seed_dir)
    )
    return meta


def banded_bucket_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, ts, band_id, band_key) rows for every document — the
    projection + one-explode prefix shared by the streaming operator and
    its static-mode parity tests. Same shingle/hash/band construction as
    the batch ``lsh_candidate_pairs``, so bucket keys are comparable
    across the two pipelines."""
    r = num_hashes // bands
    assert bands * r == num_hashes, "bands must divide num_hashes"
    toked = docs.select(
        F.col(id_col), F.col(ts_col), tokens(F.col(text_col)).alias("_toks")
    )
    shingled = toked.select(
        F.col(id_col), F.col(ts_col), shingles_of(F.col("_toks"), shingle_n).alias("_sh")
    )
    sigs = minhash_signature_columns(shingled, [id_col, ts_col], num_hashes)
    banded = sigs.select(
        F.col(id_col),
        F.col(ts_col),
        *[
            F.md5(
                F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)])
            ).alias(f"band_{b}")
            for b in range(bands)
        ],
    )
    return banded.select(
        F.col(id_col),
        F.col(ts_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"), F.col(f"band_{b}").alias("band_key")
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, ts_col, "bk.band_id", "bk.band_key")


def _make_bucket_fn(ttl_ms: int):
    def bucket_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        band_id = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return
        rows: list[tuple[int, int, bool]] = []  # (ts_ms, doc_id, is_seed)
        for pdf in pdfs:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
            seeds = (
                pdf["_seed"].astype(bool).tolist()
                if "_seed" in pdf.columns
                else [False] * len(pdf)
            )
            rows.extend(zip(ts_ms, pdf["doc_id"].tolist(), seeds))
        rows.sort(key=lambda r: (r[0], r[1]))
        if state.exists:
            first_id, first_ts, first_seed = state.get
            # a SEED arriving after a live doc claimed the bucket
            # displaces it (seeds carry ts 0 — the settled corpus is
            # always "first"); the displaced live doc is re-emitted as a
            # candidate against the seed, so out-of-order seed delivery
            # never loses an edge
            if rows and (rows[0][0], rows[0][1]) < (first_ts, first_id):
                new_ts, new_id, new_seed = rows[0]
                if not first_seed:
                    rows.append((first_ts, first_id, False))
                first_ts, first_id, first_seed = new_ts, new_id, new_seed
        else:
            first_ts, first_id, first_seed = rows[0]
        later = sorted(
            {int(d) for _, d, s in rows if not s and d != first_id}
        )
        state.update((int(first_id), int(first_ts), bool(first_seed)))
        state.setTimeoutDuration(ttl_ms)
        if later:
            yield pd.DataFrame(
                {
                    "doc_id": later,
                    "first_doc_id": [int(first_id)] * len(later),
                    "band_id": [band_id] * len(later),
                }
            )

    return bucket_fn


def near_dup_candidates_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    state_ttl_ms: int = DEFAULT_TTL_MS,
    seed_dir: str | None = None,
) -> DataFrame:
    """Streaming LSH near-dup candidates: emits one
    ``(doc_id, first_doc_id, band_id)`` edge per band bucket a document
    shares with that bucket's first-ever member. See module docstring for
    semantics and the scale argument. ``id_col`` must be long-typed (the
    fixture/document contract); rename upstream otherwise.

    ``seed_dir`` bootstraps the bucket state from a persisted batch
    index exported by ``export_index_seed``: the seed's PRE-BANDED rows
    (ts = epoch 0, flagged ``_seed``) stream in alongside the live
    documents, claim first-member for their buckets, and emit NO edges
    themselves — so streamed docs link against the settled corpus ids
    without the corpus ever being re-shingled, and corpus-corpus pairs
    stay a batch concern (``neardup_index_pairs``). The stream's
    hyperparameters must equal the index's (export returns the meta).

    One-shot (availableNow) runs MUST go through
    ``streaming.run.run_available_now``: the TTL's processing-time timeout
    makes Spark schedule continuous no-data micro-batches, so a plain
    availableNow query never terminates (streaming/run.py docstring)."""
    banded = banded_bucket_keys(
        docs, id_col, text_col, ts_col, num_hashes, bands, shingle_n
    ).select(
        F.col(id_col).alias("doc_id"), F.col(ts_col).alias("ts"),
        "band_id", "band_key", F.lit(False).alias("_seed"),
    )
    if seed_dir is not None:
        seed = (
            docs.sparkSession.readStream.schema(
                "doc_id long, ts timestamp, band_id int, band_key string"
            )
            .parquet(seed_dir)
            .withColumn("_seed", F.lit(True))
        )
        banded = banded.unionByName(seed)
    return banded.groupBy("band_id", "band_key").applyInPandasWithState(
        _make_bucket_fn(state_ttl_ms),
        outputStructType=CANDIDATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )

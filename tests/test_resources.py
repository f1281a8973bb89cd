"""operators/resources.py: the bounded collect, the row bound, the
listed bytes, and the release of what a returned plan holds (persisted
frames, scratch directories)."""

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mini_data_platform_spark.operators.resources import (
    attach_plan,
    bounded_rows,
    carry_plan,
    listed_bytes,
    release_plan,
    row_bound,
    with_row_bound,
)
from mini_data_platform_spark.plans import llm
from tests.conftest import SF_SMOKE

N_ROWS = 5


@pytest.mark.parametrize("arrow", [False, True], ids=["rows", "arrow"])
@pytest.mark.parametrize("cap", [N_ROWS - 1, N_ROWS, N_ROWS + 1])
def test_bounded_rows_at_cap_boundary(spark, cap, arrow):
    df = spark.range(N_ROWS).select(F.col("id").alias("k"))
    got = bounded_rows(df, cap, arrow=arrow)
    if cap < N_ROWS:
        assert got is None
        return
    ks = got["k"].to_pylist() if arrow else [r["k"] for r in got]
    assert sorted(ks) == list(range(N_ROWS))


def test_bounded_rows_zero_cap_runs_no_job(spark):
    # executing this frame raises, so a None result proves no job ran
    df = spark.range(1).select(F.raise_error(F.lit("executed")))
    assert bounded_rows(df, 0) is None
    assert bounded_rows(df, 0, arrow=True) is None


def test_row_bound_round_trip(spark):
    df = spark.range(3)
    assert row_bound(df) is None
    assert with_row_bound(df, 7) is df
    assert row_bound(df) == 7
    # the bound describes this frame only; a derived frame has none
    assert row_bound(df.where(F.col("id") > 0)) is None


def test_listed_bytes_local_only(tmp_path):
    """Local files and ``file:`` URIs are summed; a remote or missing
    path has no listed size."""
    a, b = tmp_path / "a.csv", tmp_path / "b.json"
    a.write_bytes(b"x" * 10)
    b.write_bytes(b"y" * 5)
    assert listed_bytes([str(a), f"file://{b}"]) == 15
    for odd in ("s3a://bucket/d.csv", str(tmp_path / "none")):
        assert listed_bytes([str(a), odd]) is None


def test_release_deletes_attached_directory(spark, tmp_path):
    d = tmp_path / "scratch"
    d.mkdir()
    (d / "part-0").write_text("x")
    held = attach_plan(spark.range(1), spark.range(2).persist(), str(d))
    out = carry_plan(spark.range(1), held)
    assert release_plan(out) == 2
    assert not d.exists()
    assert release_plan(out) == 0  # idempotent


@pytest.mark.parametrize(
    "query, prefix",
    [
        ("emb_neardup_incremental", "mdp_embidx_"),
        ("doc_neardup_delete", "mdp_nddel_"),
        ("doc_exact_dedup_incremental", "mdp_exidx_"),
        ("doc_neardup_incremental", "mdp_ndidx_"),
        ("doc_curated_incremental", "mdp_curidx_"),
    ],
)
def test_query_index_dir_released(spark, query, prefix):
    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    df = llm.QUERIES[query](spark, SF_SMOKE)
    built = set(glob.glob(pattern)) - before
    assert len(built) == 1
    release_plan(df)
    assert not any(os.path.exists(p) for p in built)

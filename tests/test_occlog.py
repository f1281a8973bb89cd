"""The shared commit log (operators/occlog.py), once per store kind:
merge table, IVM view, dedup index. Each case leaves the store with a
stale checkpoint and one unabsorbed ticket — a writer that won its
ticket and crashed before its checkpoint write — and checks that vacuum
keeps the ticketed segment and that a consumer who cannot write the
checkpoint still reads the ticketed batch."""

import json
import os

import pytest

from mini_data_platform_spark.operators import occlog
from mini_data_platform_spark.operators.incremental import (
    exact_index_build,
    exact_index_increment,
    index_docs,
    vacuum_index,
)
from mini_data_platform_spark.operators.ivm import (
    vacuum_view,
    view_build,
    view_increment,
    view_read,
)
from mini_data_platform_spark.operators.mergetable import (
    table_apply,
    table_build,
    table_read,
    vacuum_table,
)


def _rows(spark, ks):
    return spark.createDataFrame(
        [(k, float(k)) for k in ks], "k bigint, v double"
    )


def _docs(spark, ks):
    return spark.createDataFrame(
        [(k, f"document number {k}") for k in ks], "id bigint, text string"
    )


# kind -> (table, build, commit, read keys, vacuum)
STORES = {
    "mergetable": (
        "rows",
        lambda spark, d: table_build(_rows(spark, [1, 2]), d, ["k"]),
        lambda spark, d: table_apply(_rows(spark, [3]), d),
        lambda spark, d: {r["k"] for r in table_read(spark, d).collect()},
        vacuum_table,
    ),
    "view": (
        "agg",
        lambda spark, d: view_build(
            _rows(spark, [1, 2]), d, ["k"], {"s": ("sum", "v")}
        ),
        lambda spark, d: view_increment(_rows(spark, [3]), d),
        lambda spark, d: {r["k"] for r in view_read(spark, d).collect()},
        vacuum_view,
    ),
    "index": (
        "hashes",
        lambda spark, d: exact_index_build(
            _docs(spark, [1, 2]), d, "id", "text"
        ),
        lambda spark, d: exact_index_increment(_docs(spark, [3]), d).collect(),
        lambda spark, d: {r["id"] for r in index_docs(spark, d).collect()},
        vacuum_index,
    ),
}


def _checkpointed_batches(d):
    with open(os.path.join(d, "meta.json"), encoding="utf-8") as f:
        return json.load(f)["n_batches"]


def _stale_checkpoint(spark, d, kind):
    """Build, commit one batch, then put back the pre-commit checkpoint:
    the batch is committed by its ticket alone."""
    _table, build, commit, _read, _vacuum = STORES[kind]
    build(spark, d)
    with open(os.path.join(d, "meta.json"), encoding="utf-8") as f:
        stale = f.read()
    commit(spark, d)
    with open(os.path.join(d, "meta.json"), "w", encoding="utf-8") as f:
        f.write(stale)
    assert _checkpointed_batches(d) == 1


@pytest.mark.parametrize("kind", sorted(STORES))
def test_vacuum_keeps_ticketed_segment(spark, tmp_path, kind):
    table, _build, _commit, read, vacuum = STORES[kind]
    d = str(tmp_path / kind)
    _stale_checkpoint(spark, d, kind)
    orphan = os.path.join(d, table, "seg-9-orphan")
    os.makedirs(orphan)
    assert vacuum(d) == [orphan]
    assert read(spark, d) == {1, 2, 3}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_read_only_consumer_reads_ticketed_batch(
    spark, tmp_path, monkeypatch, kind
):
    _table, _build, _commit, read, _vacuum = STORES[kind]
    d = str(tmp_path / kind)
    _stale_checkpoint(spark, d, kind)

    def denied(*a, **kw):
        raise PermissionError("checkpoint is read-only")

    monkeypatch.setattr(os, "replace", denied)
    assert read(spark, d) == {1, 2, 3}
    monkeypatch.undo()
    # the checkpoint write was skipped, not half-done
    assert _checkpointed_batches(d) == 1


def test_merge_table_refuses_view_with_pending_ticket(spark, tmp_path):
    """The store kind is checked before any ticket is replayed: a view's
    pending ticket must not reach the merge table's record vocabulary."""
    d = str(tmp_path / "view")
    _stale_checkpoint(spark, d, "view")
    with pytest.raises(ValueError, match="is not a merge table"):
        table_read(spark, d)


def test_overlapping_checkpoint_writes_both_land(tmp_path, monkeypatch):
    """Two committers' checkpoint writes overlap (as the threads of
    ``TestOptimisticConcurrency`` can): the second starts and finishes
    between the first one's temp write and its ``os.replace``."""
    d = str(tmp_path)
    occlog.write_meta(d, {"version": 0})
    replace = os.replace
    inner = []

    def interleaved(src, dst):
        if not inner:
            inner.append(1)
            occlog.write_meta(d, {"version": 2})
        replace(src, dst)

    monkeypatch.setattr(os, "replace", interleaved)
    occlog.write_meta(d, {"version": 1})
    monkeypatch.undo()
    assert json.load(open(os.path.join(d, "meta.json")))["version"] == 1
    assert os.listdir(d) == ["meta.json"]

"""Parquet directory statistics for sizing segment compactions.

Streaming/incremental ingestion produces many small files; at scale the
cost is real — every file is a scan task, a footer read, an object-store
request. The segment stores (``operators/mergetable.py``,
``operators/incremental.py``) compact to ~``DEFAULT_TARGET_BYTES`` files
(the same reasoning behind ``spark.sql.files.maxPartitionBytes``: one
healthy-sized task per file), sized from these driver-side counts.
"""

from __future__ import annotations

import os

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def dir_parquet_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the parquet data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def dir_parquet_rows(path: str) -> int:
    """Total row count of the parquet data files under ``path``, read
    from the file FOOTERS (pyarrow, driver-local metadata) — no Spark
    job. The cheap exact count the commit-log operators use to bound
    broadcast decisions and size compactions without paying a driver
    action per segment (optimization guide §1.2: don't spend a
    distributed pass on what metadata already knows)."""
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, f)).num_rows
    return n

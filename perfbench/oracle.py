"""Independent DuckDB check of the ingest workload's target table.

The expected table is computed from the landed files alone, with the
reference cleaning rules (FIXTURES.md A2) written out in SQL: trim and
"nan"/empty to NULL on strings, amount to double with default 0.0, rows
with a NULL key dropped, and for a key seen more than once the row of the
latest batch, then the latest file in listing order, wins (the
generator never repeats a key inside one file).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq

from perfbench.fixtures import SALES_COLUMNS


def _relation(con, path: str):
    """One landed file as all-varchar canonical columns."""
    if path.endswith(".csv"):
        rel = con.read_csv(path, header=True, all_varchar=True)
    elif path.endswith(".ndjson"):
        rel = con.sql(
            f"SELECT * FROM read_json('{path}', format='newline_delimited', "
            "columns={" + ", ".join(f"'{c}': 'VARCHAR'" for c in SALES_COLUMNS)
            + "})"
        )
    else:
        rel = con.read_parquet(path)
    names = {c.strip().lower(): c for c in rel.columns}
    return rel.select(", ".join(
        f'CAST("{names[c]}" AS VARCHAR) AS {c}' for c in SALES_COLUMNS))


def expected_target(batches, bad_files: set[str]) -> dict[str, float]:
    """sale_id -> amount that the target must hold after every batch in
    ``batches`` (lists of file paths in listing order) was ingested."""
    con = duckdb.connect()
    try:
        parts = []
        for b, files in enumerate(batches):
            for f, path in enumerate(files):
                if path in bad_files:
                    continue
                con.register(f"f{b}_{f}", _relation(con, path))
                parts.append(
                    f"SELECT *, {b * 1000 + f} AS rank FROM f{b}_{f}")
        rows = con.sql(f"""
            WITH raw AS ({' UNION ALL '.join(parts)}),
            clean AS (
              SELECT NULLIF(NULLIF(trim(sale_id), 'nan'), '') AS sale_id,
                     COALESCE(TRY_CAST(NULLIF(NULLIF(trim(amount), 'nan'), '')
                                       AS DOUBLE), 0.0) AS amount,
                     rank
              FROM raw)
            SELECT sale_id, arg_max(amount, rank) FROM clean
            WHERE sale_id IS NOT NULL GROUP BY sale_id
        """).fetchall()
    finally:
        con.close()
    return {k: round(v, 2) for k, v in rows}


def actual_target(target_dir: str) -> dict[str, float]:
    """sale_id -> amount as the ingest target holds it."""
    files = [os.path.join(target_dir, f) for f in os.listdir(target_dir)
             if f.endswith(".parquet")]
    out: dict[str, float] = {}
    for path in files:
        t = pq.read_table(path, columns=["sale_id", "amount"]).to_pydict()
        for k, v in zip(t["sale_id"], t["amount"]):
            if k in out:  # a key twice in the target is a defect
                out[k] = float("nan")
            else:
                out[k] = round(v, 2)
    return out

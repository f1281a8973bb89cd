"""Seeded benchmark inputs.

Two families, both written with pyarrow so generating them costs no Spark
job:

- ``write_tables``: the ten star-schema tables the query library reads
  (region .. lineitem, events, documents, embeddings), with the shapes and
  value ranges of the repo's TESTDATA fixtures at a given scale factor.
- ``write_sales_batches``: sales-file batches for the ingest workload, in
  rotating CSV / NDJSON / Parquet form, with FIXTURES.md A2 dirty values,
  re-sent keys of the previous batch, and a few malformed files per batch.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "hot", "large", "old", "red", "small", "cold", "green")
PART_NOUN = ("bolt", "gizmo", "plate", "ring", "rod", "widget", "nut", "gear")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the star-schema fixture tables for scale factor ``sf`` under
    ``out_dir``; returns rows per table. Same (sf, seed), same files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                       rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", order_days * 86400.0),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts(
            "1995-01-02", (order_days[l_order] + rng.integers(0, 120, n_line))
            .clip(0, 2497) * 86400.0
        ),
    })
    ev_sec = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_sec),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    # ~5% near-duplicates: an earlier document plus a trailing token
    for i in rng.choice(np.arange(n_docs // 2, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs // 2))] + " dup"
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return rows


# ---- sales-file batches ---------------------------------------------------

SALES_COLUMNS = ("sale_id", "sale_date", "customer_id", "product_id",
                 "quantity", "amount")
FORMATS = ("csv", "ndjson", "parquet")


@dataclass
class Batch:
    """One landing of sales files: ``files`` in listing order (the order
    that decides cross-file precedence); ``bad`` lists the malformed ones."""
    files: list[str] = field(default_factory=list)
    bad: list[str] = field(default_factory=list)
    rows: int = 0
    input_bytes: int = 0


def _sales_rows(rng, n: int, id_base: str) -> dict[str, list]:
    secs = rng.integers(0, 31_622_400, n)
    qty = rng.integers(1, 21, n)
    return {
        "sale_id": [f"{id_base}-{i:06d}" for i in range(n)],
        "sale_date": [
            str(np.datetime64("2024-01-01T00:00:00") + np.timedelta64(int(s), "s"))
            .replace("T", " ") for s in secs
        ],
        "customer_id": [f"CUST-{c}" for c in rng.integers(1000, 10000, n)],
        "product_id": [f"PROD-{p}" for p in rng.integers(100, 1000, n)],
        "quantity": [str(q) for q in qty],
        "amount": [f"{a:.2f}" for a in np.round(rng.uniform(10, 500, n) * qty, 2)],
    }


def _dirty(rng, cols: dict[str, list], typed: bool) -> None:
    """FIXTURES.md A2 cleaning cases on ~2% of the rows. Typed (Parquet)
    files only carry the string-column cases."""
    n = len(cols["sale_id"])
    for i in rng.choice(n, max(1, n // 50), replace=False):
        case = int(rng.integers(0, 3 if typed else 6))
        if case == 0:
            cols["customer_id"][i] = f"  {cols['customer_id'][i]}  "
        elif case == 1:
            cols["product_id"][i] = "nan"
        elif case == 2:
            cols["sale_id"][i] = f" {cols['sale_id'][i]} "
        elif case == 3:
            cols["quantity"][i] = "12.5"
        elif case == 4:
            cols["amount"][i] = "abc"
        else:
            cols["sale_id"][i] = ""  # null key: the row is dropped


def _write_sales(path: str, fmt: str, cols: dict[str, list], header=None) -> None:
    names = list(cols)
    if fmt == "csv":
        hdr = header or names
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(",".join(hdr) + "\n")
            for row in zip(*(cols[c] for c in names)):
                fh.write(",".join(row) + "\n")
    elif fmt == "ndjson":
        with open(path, "w", encoding="utf-8") as fh:
            for row in zip(*(cols[c] for c in names)):
                fh.write(json.dumps(dict(zip(names, row))) + "\n")
    else:
        typed = dict(cols)
        if "quantity" in typed:
            typed["quantity"] = pa.array([int(q) for q in cols["quantity"]], pa.int32())
        if "amount" in typed:
            typed["amount"] = pa.array([float(a) for a in cols["amount"]], pa.float64())
        if "sale_date" in typed:
            typed["sale_date"] = pa.array(
                np.array(cols["sale_date"], dtype="datetime64[us]"))
        pq.write_table(pa.table(typed), path)


def _malformed(path_base: str, kind: int, rng) -> str:
    """One file the validator must reject (FIXTURES.md A3)."""
    cols = _sales_rows(rng, 20, "bad")
    if kind == 0:  # CSV without the amount column
        path = path_base + ".csv"
        _write_sales(path, "csv", {c: v for c, v in cols.items() if c != "amount"})
    elif kind == 1:  # NDJSON whose records lack product_id
        path = path_base + ".ndjson"
        _write_sales(path, "ndjson",
                     {c: v for c, v in cols.items() if c != "product_id"})
    else:  # Parquet without the sale_id column
        path = path_base + ".parquet"
        _write_sales(path, "parquet",
                     {c: v for c, v in cols.items() if c != "sale_id"})
    return path


def write_sales_batches(
    root: str,
    seed: int,
    n_batches: int,
    rows_per_batch: int,
    files_per_batch: int = 4,
    bad_per_batch: int = 2,
    resend_frac: float = 0.2,
) -> list[Batch]:
    """Write ``n_batches`` batch directories under ``root``. Each holds
    ``files_per_batch`` data files (formats rotate by file) and
    ``bad_per_batch`` malformed ones; about ``resend_frac`` of a batch's
    rows re-send keys of the previous batch with changed amounts."""
    rng = np.random.default_rng(seed)
    batches: list[Batch] = []
    prev_ids: list[str] = []
    for b in range(n_batches):
        bdir = os.path.join(root, f"batch_{b:03d}")
        os.makedirs(bdir)
        cols = _sales_rows(rng, rows_per_batch, f"S{seed}-{b:03d}")
        if prev_ids:
            k = int(rows_per_batch * resend_frac)
            cols["sale_id"][:k] = list(rng.choice(prev_ids, k, replace=False))
        prev_ids = list(cols["sale_id"])
        per = rows_per_batch // files_per_batch
        batch = Batch(rows=per * files_per_batch)
        for f in range(files_per_batch):
            fmt = FORMATS[(b + f) % len(FORMATS)]
            part = {c: v[f * per:(f + 1) * per] for c, v in cols.items()}
            _dirty(rng, part, typed=fmt == "parquet")
            header = None
            names = list(part)
            if fmt == "csv" and f % 2:
                # A2 header cases: padded mixed-case names, shuffled
                # order, an extra column the final projection drops
                names = names[::-1]
                part = {c: part[c] for c in names}
                part["comment"] = ["x"] * per
                header = [f" {c.title()} " for c in names] + ["comment"]
            path = os.path.join(bdir, f"b{b:03d}_part_{f:02d}.{fmt}")
            _write_sales(path, fmt, part, header)
            batch.files.append(path)
        for k in range(bad_per_batch):
            batch.bad.append(_malformed(
                os.path.join(bdir, f"b{b:03d}_zz_bad_{k:02d}"), (b + k) % 3, rng))
        batch.files = sorted(batch.files + batch.bad)
        batch.input_bytes = sum(os.path.getsize(p) for p in batch.files)
        batches.append(batch)
    return batches

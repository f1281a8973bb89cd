"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at sf0.01 (or --sf-dir), then compares:
row count, sorted column-name sets, and the exact multiset of row values
(column-name-sorted tuples, canonicalized). Stricter than any reasonable
hash compare — if this passes, the driver's hash passes.

Usage: python tools/verify_local.py [query ...] [--sf-dir DIR]
                                    [--record-round N]

``--record-round N`` additionally MERGES each query's outcome into
``VERIFY_LOCAL_r{N}.json`` at the repo root: {name: {"ok": bool,
"oracle": bool, "rows": int, "secs": float, "sf_dir": str}}. This is
the mechanical evidence the rotation staleness test accepts for
OVERFLOW queries — rounds where more queries exceed the age bound than
the 50-slot driver window can hold (round 11 skipped its rotation, so
round 12 owes 84 slots) get their remainder verified here instead, and
tests/test_entry.py checks the artifact, not prose.
"""

from __future__ import annotations

import argparse
import os
import datetime
import decimal
import math
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mini_data_platform_spark.catalog import TABLES  # noqa: E402


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # bit-exact
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


#: type → comparison kind. The driver fetches both sides into pandas and
#: value-hashes; int width differences are harmless (both land as intNN and
#: hash equal), but DuckDB HUGEINT/DECIMAL fetch as float64/object and hash
#: differently from Spark's bigint/double — the events_sessionize round-1
#: failure mode. Flag any kind mismatch.
_DUCK_KINDS = {
    "TINYINT": "i", "SMALLINT": "i", "INTEGER": "i", "BIGINT": "i",
    "UTINYINT": "i", "USMALLINT": "i", "UINTEGER": "i", "UBIGINT": "i",
    "HUGEINT": "hugeint!", "UHUGEINT": "hugeint!",
    "FLOAT": "f", "DOUBLE": "f", "VARCHAR": "s", "BOOLEAN": "b",
    "DATE": "d", "TIMESTAMP": "t", "TIMESTAMP_NS": "t", "BLOB": "y",
}


def duck_kind(type_name: str) -> str:
    t = str(type_name).upper()
    if t.startswith("DECIMAL"):
        return "decimal!"
    return _DUCK_KINDS.get(t, t)


def spark_kind(dt) -> str:
    name = dt.simpleString()
    if name in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if name in ("float", "double"):
        return "f"
    if name == "string":
        return "s"
    if name == "boolean":
        return "b"
    if name == "date":
        return "d"
    if name.startswith("timestamp"):
        return "t"
    if name == "binary":
        return "y"
    if name.startswith("decimal"):
        return "decimal!"
    return name


def record_outcome(
    round_no: int, name: str, ok: bool, oracle: bool, rows: int, secs: float,
    sf_dir: str,
) -> None:
    """Merge one query's outcome into VERIFY_LOCAL_r{N}.json (read-
    modify-write; the file is tiny and this tool is single-process)."""
    import json

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"VERIFY_LOCAL_r{round_no}.json",
    )
    data = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            data = json.load(fh)
    data[name] = {
        "ok": ok, "oracle": oracle, "rows": rows,
        "secs": round(secs, 2), "sf_dir": sf_dir,
    }
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names to check")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--record-round", type=int, default=None,
        help="merge outcomes into VERIFY_LOCAL_r{N}.json (rotation "
        "overflow evidence)",
    )
    args = ap.parse_args()

    # lazy oracle builders fold fixture-trained constants (PQ codebooks,
    # SQ8 mins/scales, BM25 stats) — they must train on the SAME sf_dir
    # the Spark queries run at, or a --sf-dir run compares two different
    # models (the env default is the driver's sf0.01)
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf_dir

    import __spark_entry__ as entry_mod
    from mini_data_platform_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(queries)

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_noracle = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            if args.record_round:
                record_outcome(
                    args.record_round, name, False, True, 0,
                    time.time() - t0, args.sf_dir,
                )
            continue
        if name not in oracles:
            print(f"weak  {name}: no oracle; spark rows={len(srows)} ({time.time()-t0:.1f}s)")
            n_noracle += 1
            if args.record_round:
                record_outcome(
                    args.record_round, name, True, False, len(srows),
                    time.time() - t0, args.sf_dir,
                )
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            if args.record_round:
                record_outcome(
                    args.record_round, name, False, True, len(srows),
                    time.time() - t0, args.sf_dir,
                )
            continue

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        else:
            skinds = {f.name: spark_kind(f.dataType) for f in sdf.schema.fields}
            dtypes = con.execute(
                f"DESCRIBE {oracles[name]}"  # noqa: S608 — local tool
            ).fetchall()
            dkinds = {r[0]: duck_kind(r[1]) for r in dtypes}
            for c in scols:
                if skinds[c] != dkinds.get(c):
                    problems.append(
                        f"dtype kind mismatch on {c!r}: spark={skinds[c]} "
                        f"duckdb={dkinds.get(c)} (driver hash will diverge)"
                    )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if not problems:
            sm, dm = rows_to_multiset(scols, srows), rows_to_multiset(dcols, drows)
            if sm != dm:
                only_s = list((sm - dm).items())[:3]
                only_d = list((dm - sm).items())[:3]
                problems.append(f"values differ; spark-only={only_s} duckdb-only={only_d}")
        if problems:
            print(f"FAIL  {name}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        if args.record_round:
            record_outcome(
                args.record_round, name, not problems, True, len(srows),
                time.time() - t0, args.sf_dir,
            )

    print(f"\n{n_pass} ok, {n_fail} fail, {n_noracle} weak (no oracle)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""End-to-end batch ingestion: mixed formats, dirty data, quarantine
routing, cross-file precedence, idempotent re-runs. Golden semantics from
/root/reference/dags/process_sales_dags.py + processor.py."""

import functools
import json
import os
import shutil
import sqlite3

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mini_data_platform_spark.runner import run_batch_ingest
from mini_data_platform_spark.sinks.audit import AuditLog
from mini_data_platform_spark.sinks.upsert import sqlite_conn_factory, upsert_parquet


def _make_lake(root):
    d = {
        "incoming": str(root / "incoming"),
        "processed": str(root / "processed"),
        "failed": str(root / "failed"),
        "target": str(root / "sales_target"),
        "audit_db": str(root / "audit.db"),
    }
    os.makedirs(d["incoming"])
    return d


@pytest.fixture()
def lake(tmp_path):
    return _make_lake(tmp_path)


def _put(lake, name, text):
    p = os.path.join(lake["incoming"], name)
    with open(p, "w") as f:
        f.write(text)
    return p


def _sink(spark, lake):
    def sink(df):
        return upsert_parquet(spark, df, lake["target"], ["sale_id"])

    return sink


def _run(spark, lake, **kw):
    audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))
    return run_batch_ingest(
        spark,
        lake["incoming"],
        lake["processed"],
        lake["failed"],
        sink=_sink(spark, lake),
        audit=audit,
        **kw,
    ), audit


# 49 clean filler rows keep the dirty rows outside the validator's 50-row
# date sample (the reference's errors="raise" probe would quarantine a file
# with a bad date in the first 50 rows — validator.py:56 parity).
_FILLER = "".join(
    f"f{i},2024-01-01 00:00:00,CF,PF,1,1.0\n" for i in range(49)
)
FILLER_KEYS = {f"f{i}" for i in range(49)}

DIRTY_CSV = (
    "Sale_ID , sale_date,customer_id,product_id,quantity,amount\n"
    "s1,2024-01-01 10:00:00,  C1  ,P1,2,20.0\n"        # clean row
    + _FILLER +
    "s2,not-a-date,C2,P2,12.5,oops\n"                   # bad date->null, qty 12.5->12, amount->0.0
    "s3,2024-01-03 00:00:00,nan,P3,,5\n"                # nan customer->null, empty qty->1
    ",2024-01-04 00:00:00,C4,P4,1,1\n"                  # null sale_id -> dropped
    "s1,2024-02-01 00:00:00,C1,P1,3,30.0\n"             # dup: later date wins
)

GOOD_NDJSON = "\n".join(
    json.dumps(
        {
            "sale_id": f"n{i}",
            "sale_date": f"2024-05-0{i} 00:00:00",
            "customer_id": f"C{i}",
            "product_id": "PX",
            "quantity": i,
            "amount": i * 10.0,
        }
    )
    for i in (1, 2)
)

BAD_CSV = "sale_id,amount\nx,1\n"


def _land_mixed(lake):
    _put(lake, "a_dirty.csv", DIRTY_CSV)
    _put(lake, "b_good.json", GOOD_NDJSON)
    _put(lake, "c_bad.csv", BAD_CSV)
    pq.write_table(
        pa.table(
            {
                "sale_id": ["p1"],
                "sale_date": ["2024-06-01 00:00:00"],
                "customer_id": ["CP"],
                "product_id": ["PP"],
                "quantity": [7],
                "amount": [70.0],
            }
        ),
        os.path.join(lake["incoming"], "d_good.parquet"),
    )


def _file_rows(report, lake):
    """basename -> rows, from the report and from the audit log."""
    got = {os.path.basename(o.path): o.rows for o in report.loaded}
    with sqlite3.connect(lake["audit_db"]) as conn:
        logged = {
            os.path.basename(k): n
            for k, n, st in conn.execute(
                "SELECT file_key, rows_processed, status "
                "FROM file_ingestion_log"
            )
            if st == "loaded"
        }
    return got, logged


def _outcomes(spark, lake):
    """A finished batch's audit rows (basename, status, rows) and its
    target rows, both sorted."""
    with sqlite3.connect(lake["audit_db"]) as conn:
        audit = sorted(
            (os.path.basename(k), st, n)
            for k, st, n in conn.execute(
                "SELECT file_key, status, rows_processed "
                "FROM file_ingestion_log"
            )
        )
    target = sorted(
        tuple(r) for r in spark.read.parquet(lake["target"]).collect()
    )
    return audit, target


def _scale_and_per_file(spark, tmp_path, land):
    """Ingest the batch ``land(lake)`` writes in scale mode and in
    per-file mode, each into its own lake. Returns both lakes and the
    explain text of the frame the scale-mode sink received."""
    from tests.explain import explain_str

    scale, per_file = _make_lake(tmp_path / "scale"), _make_lake(
        tmp_path / "per_file"
    )
    plans = []

    def sink(df):
        plans.append(explain_str(df, "simple"))
        return upsert_parquet(spark, df, scale["target"], ["sale_id"])

    land(scale)
    run_batch_ingest(
        spark, scale["incoming"], scale["processed"], scale["failed"],
        sink=sink,
        audit=AuditLog(functools.partial(sqlite_conn_factory, scale["audit_db"])),
    )
    land(per_file)
    _run(spark, per_file, per_file=True)
    return scale, per_file, plans[0]


_HDR = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"


class TestBatchIngest:
    def test_mixed_batch(self, spark, lake):
        _land_mixed(lake)

        report, audit = _run(spark, lake)

        statuses = {os.path.basename(o.path): o.status for o in report.outcomes}
        assert statuses == {
            "a_dirty.csv": "loaded",
            "b_good.json": "loaded",
            "c_bad.csv": "validation_failed",
            "d_good.parquet": "loaded",
        }
        # physical routing
        assert sorted(os.listdir(lake["processed"])) == [
            "a_dirty.csv", "b_good.json", "d_good.parquet",
        ]
        assert os.listdir(os.path.join(lake["failed"], "validation_failed")) == ["c_bad.csv"]
        assert os.listdir(lake["incoming"]) == []

        # sink state: coercion + dedup semantics
        got = {r["sale_id"]: r.asDict() for r in spark.read.parquet(lake["target"]).collect()}
        assert set(got) == {"s1", "s2", "s3", "n1", "n2", "p1"} | FILLER_KEYS
        assert got["s1"]["amount"] == 30.0 and got["s1"]["quantity"] == 3  # latest date won
        assert got["s2"]["sale_date"] is None
        assert got["s2"]["quantity"] == 12 and got["s2"]["amount"] == 0.0
        assert got["s3"]["customer_id"] is None and got["s3"]["quantity"] == 1
        assert got["s1"]["customer_id"] == "C1"  # trimmed

        # audit trail
        st = audit.statuses()
        assert st[os.path.join(lake["incoming"], "c_bad.csv")] == "validation_failed"
        assert sum(1 for v in st.values() if v == "loaded") == 3

    def test_cross_file_precedence_later_file_wins(self, spark, lake):
        # same key, EARLIER date in the later file: the reference's
        # sequential upserts make the later file win anyway.
        _put(
            lake,
            "1_first.csv",
            "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
            "k,2024-12-31 00:00:00,EARLY,P,1,1.0\n",
        )
        _put(
            lake,
            "2_second.csv",
            "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
            "k,2024-01-01 00:00:00,LATE,P,2,2.0\n",
        )
        _run(spark, lake)
        rows = spark.read.parquet(lake["target"]).collect()
        assert len(rows) == 1 and rows[0]["customer_id"] == "LATE"

    def test_null_date_wins_within_file(self, spark, lake):
        _put(
            lake,
            "f.csv",
            "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
            "k,2024-06-01 00:00:00,REAL,P,1,1.0\n"
            + _FILLER +
            "k,bogus-date,NULLED,P,2,2.0\n",
        )
        _run(spark, lake)
        rows = {r["sale_id"]: r for r in spark.read.parquet(lake["target"]).collect()}
        assert rows["k"]["customer_id"] == "NULLED"

    def test_idempotent_rerun(self, spark, lake):
        _put(lake, "f.csv", DIRTY_CSV)
        _run(spark, lake)
        first = sorted(
            (r["sale_id"], r["amount"]) for r in spark.read.parquet(lake["target"]).collect()
        )
        # same file re-lands (e.g. replayed upstream) -> same sink state
        _put(lake, "f.csv", DIRTY_CSV)
        report, _ = _run(spark, lake)
        assert [o.status for o in report.outcomes] == ["loaded"]
        second = sorted(
            (r["sale_id"], r["amount"]) for r in spark.read.parquet(lake["target"]).collect()
        )
        assert first == second

    def test_per_file_mode(self, spark, lake):
        _put(lake, "a.csv", DIRTY_CSV)
        _put(lake, "bad.csv", BAD_CSV)
        report, _ = _run(spark, lake, per_file=True)
        statuses = {os.path.basename(o.path): o.status for o in report.outcomes}
        assert statuses == {"a.csv": "loaded", "bad.csv": "validation_failed"}
        assert spark.read.parquet(lake["target"]).count() == 3 + len(FILLER_KEYS)

    def test_empty_incoming(self, spark, lake):
        report, _ = _run(spark, lake)
        assert report.outcomes == [] and report.rows_upserted == 0

    def test_grouped_staging_equals_per_file_mode(self, spark, lake):
        """Round-14 staging rewrite (signature-grouped multi-path scans
        replacing the per-file read + O(n²) union): the sink state of a
        heterogeneous batch — two CSV header signatures incl. a
        REORDERED one, ndjson, parquet, cross-file key collisions —
        must equal per-file mode's sequential loop exactly."""
        def land():
            _put(lake, "a_dirty.csv", DIRTY_CSV)
            _put(
                lake, "b_reordered.csv",
                "amount,sale_id,sale_date,customer_id,product_id,quantity\n"
                "55.0,s1,2025-01-01 00:00:00,CR,PR,5\n"  # beats a_dirty's s1
                "7.0,r1,2024-07-01 00:00:00,C7,P7,7\n",
            )
            _put(lake, "c_good.json", GOOD_NDJSON)
            pq.write_table(
                pa.table({
                    "sale_id": ["p1"], "sale_date": ["2024-06-01 00:00:00"],
                    "customer_id": ["CP"], "product_id": ["PP"],
                    "quantity": [7], "amount": [70.0],
                }),
                os.path.join(lake["incoming"], "d_good.parquet"),
            )

        land()
        _run(spark, lake)
        scale = sorted(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(lake["target"]).collect()
        )
        shutil.rmtree(lake["target"])
        land()
        _run(spark, lake, per_file=True)
        per_file = sorted(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(lake["target"]).collect()
        )
        assert scale == per_file
        # the reordered later file's s1 really won (rank precedence)
        s1 = dict([t for t in scale if dict(t)["sale_id"] == "s1"][0])
        assert s1["customer_id"] == "CR"

    def test_parquet_type_drift_and_json_layout_groups(self, spark, lake):
        """Signature grouping edges: two parquet files with the SAME
        columns but DRIFTED types land in different groups (footer
        signature includes types), meet only after the all-string cast
        — the legacy per-file semantics; a JSON array file and an
        ndjson file are separate layout groups read with the right
        reader each."""
        pq.write_table(
            pa.table({
                "sale_id": ["t1"], "sale_date": ["2024-06-01 00:00:00"],
                "customer_id": ["CA"], "product_id": ["PA"],
                "quantity": pa.array([7], type=pa.int64()),
                "amount": pa.array([70.0], type=pa.float64()),
            }),
            os.path.join(lake["incoming"], "a_int.parquet"),
        )
        pq.write_table(
            pa.table({
                "sale_id": ["t2"], "sale_date": ["2024-06-02 00:00:00"],
                "customer_id": ["CB"], "product_id": ["PB"],
                "quantity": pa.array(["8"], type=pa.string()),
                "amount": pa.array(["80.5"], type=pa.string()),
            }),
            os.path.join(lake["incoming"], "b_str.parquet"),
        )
        _put(
            lake, "c_array.json",
            json.dumps([
                {"sale_id": "t3", "sale_date": "2024-06-03 00:00:00",
                 "customer_id": "CC", "product_id": "PC",
                 "quantity": 9, "amount": 90.0},
            ]),
        )
        _put(lake, "d_nd.json", GOOD_NDJSON)
        report, _ = _run(spark, lake)
        assert {o.status for o in report.outcomes} == {"loaded"}
        got = {r["sale_id"]: r.asDict()
               for r in spark.read.parquet(lake["target"]).collect()}
        assert set(got) == {"t1", "t2", "t3", "n1", "n2"}
        assert got["t1"]["quantity"] == 7 and got["t2"]["quantity"] == 8
        assert got["t2"]["amount"] == 80.5 and got["t3"]["quantity"] == 9

    def test_json_type_drift_groups_stage_like_per_file(self, spark, lake):
        """JSON grouping must key on the merged top-level key/type
        signature, not layout alone: sale_id is a long in file A and a
        double in file B, so one shared scan would infer double
        group-wide and render A's key '123.0' where per-file staging
        gives '123' — silently splitting dedup keys. Drifted files land
        in separate groups; sink state equals per-file mode exactly."""
        def land():
            _put(lake, "a_long.json", json.dumps(
                {"sale_id": 123, "sale_date": "2024-06-01 00:00:00",
                 "customer_id": "CA", "product_id": "PA",
                 "quantity": 1, "amount": 10.0}))
            _put(lake, "b_double.json", json.dumps(
                {"sale_id": 456.5, "sale_date": "2024-06-02 00:00:00",
                 "customer_id": "CB", "product_id": "PB",
                 "quantity": 2, "amount": 20.0}))

        land()
        _run(spark, lake)
        scale = sorted(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(lake["target"]).collect()
        )
        shutil.rmtree(lake["target"])
        land()
        _run(spark, lake, per_file=True)
        per_file = sorted(
            tuple(sorted(r.asDict().items()))
            for r in spark.read.parquet(lake["target"]).collect()
        )
        assert scale == per_file
        ids = {dict(t)["sale_id"] for t in scale}
        assert "123" in ids and "456.5" in ids  # no group-wide widening

    def test_same_signature_json_files_share_one_scan(self, spark, lake,
                                                      monkeypatch):
        """The drift guard must not tax the homogeneous common case:
        ndjson files with identical key/type signatures still batch
        into ONE multi-path scan (plus one for the drifted layout)."""
        import mini_data_platform_spark.runner as runner_mod

        calls = []
        real = runner_mod._read_group

        def spy(spark_, sig, paths, stage_dirs=None):
            calls.append(sorted(os.path.basename(p) for p in paths))
            return real(spark_, sig, paths, stage_dirs)

        monkeypatch.setattr(runner_mod, "_read_group", spy)
        _put(lake, "a_nd.json", GOOD_NDJSON)
        _put(lake, "b_nd.json", GOOD_NDJSON.replace("n1", "m1")
             .replace("n2", "m2"))
        report, _ = _run(spark, lake)
        assert {o.status for o in report.outcomes} == {"loaded"}
        assert calls == [["a_nd.json", "b_nd.json"]]

    def test_large_group_hardlink_staged_scan(self, spark, lake):
        """Groups at/above scanstage.STAGE_MIN_FILES read through a
        hardlink-staged DIRECTORY (one listStatus) instead of an
        explicit path list (~1.8 ms/path JVM qualification each — the
        INGEST_SCALE r15 4096/10k-file wall). Semantics must be
        unchanged: per-file provenance ranks (later file wins), all
        rows present, and the staging dirs removed after the batch."""
        import glob as _glob
        import tempfile

        from mini_data_platform_spark.sources.scanstage import (
            STAGE_MIN_FILES,
        )

        hdr = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
        n = STAGE_MIN_FILES + 4
        for i in range(n):
            # same key 'k' in every file: the LAST file must win
            _put(
                lake, f"{i:04d}.csv",
                hdr + f"k,2024-01-01 00:00:00,C{i},P,1,{i}.0\n"
                f"u{i},2024-01-02 00:00:00,CU,P,1,1.0\n",
            )
        before = set(
            _glob.glob(os.path.join(tempfile.gettempdir(), "mdp_scanstage_*"))
        )
        report, _ = _run(spark, lake)
        after = set(
            _glob.glob(os.path.join(tempfile.gettempdir(), "mdp_scanstage_*"))
        )
        assert {o.status for o in report.outcomes} == {"loaded"}
        assert after == before, "staging dirs leaked"
        got = {r["sale_id"]: r.asDict()
               for r in spark.read.parquet(lake["target"]).collect()}
        assert len(got) == n + 1  # k + one unique key per file
        assert got["k"]["customer_id"] == f"C{n - 1}"  # last file won

    def test_gzip_csv_stages_correctly(self, spark, lake):
        """A .csv.gz lands as its own solo group (the raw header-line
        signature would be codec bytes), Spark decompresses it in the
        scan, and validation must not falsely quarantine it."""
        import gzip

        p = os.path.join(lake["incoming"], "g.csv.gz")
        with gzip.open(p, "wb") as fh:
            fh.write(DIRTY_CSV.encode())
        report, _ = _run(spark, lake)
        assert [o.status for o in report.outcomes] == ["loaded"]
        got = {r["sale_id"]
               for r in spark.read.parquet(lake["target"]).collect()}
        assert {"s1", "s2", "s3"} <= got

    def test_non_uri_safe_basename_falls_back_losslessly(self, spark, lake):
        """A filename whose URI spelling differs from its basename
        (space -> %20) must not silently drop rows through the rank
        join — such a file is scanned on its own."""
        _put(lake, "sp ace.csv", DIRTY_CSV)
        report, _ = _run(spark, lake)
        assert [o.status for o in report.outcomes] == ["loaded"]
        got = {r["sale_id"] for r in spark.read.parquet(lake["target"]).collect()}
        assert {"s1", "s2", "s3"} | FILLER_KEYS <= got

    def test_unjoinable_basename_scans_alone(self, spark, tmp_path):
        """Only the file whose basename cannot be joined back by
        provenance is scanned alone, with its rank as a literal: the
        two same-header files still share one scan, and the last file
        still wins a cross-file key."""
        def land(lk):
            for name, c in (("a.csv", "A"), ("b.csv", "B"), ("c d.csv", "C")):
                _put(
                    lk, name,
                    _HDR + f"k,2024-01-01 00:00:00,C{c},P,1,1.0\n"
                    f"{c}1,2024-01-02 00:00:00,C{c},P,1,2.0\n",
                )

        scale, per_file, plan = _scale_and_per_file(spark, tmp_path, land)
        assert plan.count("FileScan csv") == 2
        audit, target = _outcomes(spark, scale)
        assert (audit, target) == _outcomes(spark, per_file)
        assert {st for _, st, _ in audit} == {"loaded"}
        assert [r for r in target if r[0] == "k"][0][2] == "CC"

    def test_stage_fallback_on_unreadable_signature(self, spark, tmp_path):
        """A file whose signature cannot be derived — here a CSV header
        with an empty name, which Spark renames ``_cN`` — is staged on
        its own by ``read_file``; the other files still group, and
        outcomes and target equal per-file mode."""
        def land(lk):
            _put(lk, "a_good.csv", _HDR + "g1,2024-03-01 00:00:00,CG,PG,2,4.0\n")
            _put(lk, "b_good.csv", _HDR + "s1,2024-03-02 00:00:00,CH,PH,1,3.0\n")
            _put(
                lk, "c_unsigned.csv",
                _HDR.rstrip("\n") + ",\n"
                "s1,2024-04-01 00:00:00,CU,PU,3,9.0,x\n",
            )

        scale, per_file, plan = _scale_and_per_file(spark, tmp_path, land)
        assert plan.count("FileScan csv") == 2
        audit, target = _outcomes(spark, scale)
        assert (audit, target) == _outcomes(spark, per_file)
        assert {st for _, st, _ in audit} == {"loaded"}

    @pytest.mark.parametrize("fmt", ["csv", "ndjson", "parquet"])
    def test_group_that_fails_to_plan_quarantines_only_itself(
        self, spark, tmp_path, fmt
    ):
        """Column names that collide only after normalization pass
        validation but cannot be planned. Like per-file mode, scale mode
        quarantines only that file as processing_failed and loads the
        rest of the batch."""
        odd = {"csv": "b_odd.csv", "ndjson": "b_odd.json",
               "parquet": "b_odd.parquet"}[fmt]
        row = {"sale_id": "o1", "sale_date": "2024-06-01 00:00:00",
               "customer_id": "CO", "product_id": "PO",
               "quantity": "1", "amount": "1.0"}

        def land(lk):
            _put(lk, "a_good.csv", _HDR + "g1,2024-03-01 00:00:00,CG,PG,2,4.0\n")
            if fmt == "csv":
                _put(
                    lk, odd,
                    _HDR.rstrip("\n") + ", sale_id\n"
                    + ",".join(row.values()) + ",o2\n",
                )
            elif fmt == "ndjson":
                _put(lk, odd, json.dumps({**row, "Sale_ID": "o2"}))
            else:
                pq.write_table(
                    pa.table({**{k: [v] for k, v in row.items()},
                              "Sale_ID ": ["o2"]}),
                    os.path.join(lk["incoming"], odd),
                )

        scale, per_file, _ = _scale_and_per_file(spark, tmp_path, land)
        audit, target = _outcomes(spark, scale)
        assert (audit, target) == _outcomes(spark, per_file)
        assert [(b, st) for b, st, _ in audit] == [
            ("a_good.csv", "loaded"), (odd, "processing_failed"),
        ]

    @pytest.mark.parametrize("per_file", [False, True])
    def test_ambiguous_date_column_fails_validation_alone(
        self, spark, lake, per_file
    ):
        """A CSV whose timestamp column name collides after normalization
        (``sale_date`` and `` sale_date``) gets a validation_failed
        verdict from its date probe; the rest of the batch loads."""
        _put(lake, "a_good.csv", _HDR + "g1,2024-03-01 00:00:00,CG,PG,2,4.0\n")
        _put(
            lake, "b_odd.csv",
            _HDR.rstrip("\n") + ", sale_date\n"
            "o1,2024-06-01 00:00:00,CO,PO,1,1.0,2024-06-02 00:00:00\n",
        )
        report, _ = _run(spark, lake, per_file=per_file)
        assert sorted(
            (os.path.basename(o.path), o.status) for o in report.outcomes
        ) == [("a_good.csv", "loaded"), ("b_odd.csv", "validation_failed")]
        assert os.listdir(os.path.join(lake["failed"], "validation_failed")) == [
            "b_odd.csv"
        ]
        assert [r.sale_id for r in spark.read.parquet(lake["target"]).collect()] == [
            "g1"
        ]

    def test_sink_failure_quarantines_to_loading_failed(self, spark, lake):
        _put(lake, "f.csv", DIRTY_CSV)
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))

        def boom(df):
            raise RuntimeError("sink down")

        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=boom, audit=audit,
        )
        assert [o.status for o in report.outcomes] == ["loading_failed"]
        assert os.listdir(os.path.join(lake["failed"], "loading_failed")) == ["f.csv"]


class TestPerFileRows:
    """Per-file ``rows`` of a real batch: the cleaned rows of each file,
    before the cross-row dedup, in the report and in the audit log."""

    def test_mixed_batch_counts(self, spark, lake):
        _land_mixed(lake)
        report, _ = _run(spark, lake)
        # a_dirty: s1, the fillers, s2, s3 and s1's in-file duplicate;
        # its null-key row is dropped
        want = {
            "a_dirty.csv": 1 + len(FILLER_KEYS) + 3,
            "b_good.json": 2,
            "d_good.parquet": 1,
        }
        assert _file_rows(report, lake) == (want, want)

    def test_many_files_counts(self, spark, lake):
        from mini_data_platform_spark.sources.scanstage import (
            STAGE_MIN_FILES,
        )

        hdr = "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
        want = {}
        for i in range(STAGE_MIN_FILES + 2):
            n = i % 3 + 1  # plus the key 'k' every file shares
            _put(lake, f"{i:04d}.csv", hdr + "".join(
                f"{key},2024-01-01 00:00:00,C,P,1,1.0\n"
                for key in ["k"] + [f"u{i}_{j}" for j in range(n)]
            ))
            want[f"{i:04d}.csv"] = n + 1
        report, _ = _run(spark, lake)
        assert _file_rows(report, lake) == (want, want)

    def test_sink_that_never_runs_its_frame(self, spark, lake, monkeypatch):
        import time

        import mini_data_platform_spark.runner as runner_mod

        waits = []
        real = runner_mod.observed

        def timed(spark_, obs):
            t0 = time.monotonic()
            try:
                return real(spark_, obs)
            finally:
                waits.append(time.monotonic() - t0)

        monkeypatch.setattr(runner_mod, "observed", timed)
        _put(lake, "a_dirty.csv", DIRTY_CSV)
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))
        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=lambda df: 0, audit=audit,
        )
        assert [o.status for o in report.outcomes] == ["loaded"]
        assert _file_rows(report, lake) == ({"a_dirty.csv": None},) * 2
        assert len(waits) == 1 and waits[0] < 5


_VALID_MIXED = ("a_dirty.csv", "b_good.json", "d_good.parquet")


def _planned_batch(spark, lake, monkeypatch, land, cap=None):
    """Seed the target with one batch, land ``land(lake)`` and ingest it
    with ``runner.ONE_TASK_MAX_ROWS`` at ``cap(lake)`` (read after
    landing; ``None`` keeps the default). Returns the second batch's
    report, the explain text of the frame its sink received and of the
    frame the sink wrote."""
    import pyspark.sql.readwriter as rw

    from mini_data_platform_spark import runner
    from tests.explain import explain_str

    _put(lake, "0_seed.csv", DIRTY_CSV)
    _run(spark, lake)
    land(lake)
    plans = {}
    real_parquet = rw.DataFrameWriter.parquet

    def capture(self, path, *a, **kw):
        plans["written"] = explain_str(self._df, "simple")
        return real_parquet(self, path, *a, **kw)

    def sink(df):
        plans["sink"] = explain_str(df, "simple")
        return upsert_parquet(spark, df, lake["target"], ["sale_id"])

    with monkeypatch.context() as m:
        m.setattr(rw.DataFrameWriter, "parquet", capture)
        if cap is not None:
            m.setattr(runner, "ONE_TASK_MAX_ROWS", cap(lake))
        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=sink,
            audit=AuditLog(
                functools.partial(sqlite_conn_factory, lake["audit_db"])
            ),
        )
    return report, plans


def _one_task_plan(plans) -> bool:
    """True for the one-task plan: no shuffle under the dedup window, no
    cache, and the batch keys broadcast into the anti-join against the
    target scan. False for the shuffled plan: a window exchange and a
    cached batch, the join left to the planner. Any other mix fails."""
    from tests.explain import count_exchanges_in

    window_shuffles = count_exchanges_in(plans["sink"])
    cached = "InMemoryRelation" in plans["written"]
    if window_shuffles == 0:
        anti = [ln for ln in plans["written"].splitlines() if "LeftAnti" in ln]
        assert len(anti) == 1 and "BroadcastHashJoin" in anti[0]
        assert "Coalesce 1" in plans["sink"] and not cached
        assert count_exchanges_in(plans["written"]) == 0
        return True
    assert window_shuffles == 1 and cached
    return False


class TestOneTaskBatch:
    """``runner.ONE_TASK_MAX_ROWS``: a batch whose listing bounds its
    rows (parquet footer rows, CSV and JSON bytes) at most the cap is
    deduped in one task and its keys are broadcast into the sink's
    anti-join; a larger, compressed or remote batch keeps the shuffled
    plan."""

    def test_cap_boundary(self, spark, tmp_path, monkeypatch):
        def bound(lake):
            paths = [os.path.join(lake["incoming"], f) for f in _VALID_MIXED]
            return sum(map(os.path.getsize, paths[:2])) + (
                pq.read_metadata(paths[2]).num_rows
            )

        seen = {}
        for delta in (-1, 0, 1):
            lake = _make_lake(tmp_path / f"cap{delta}")
            report, plans = _planned_batch(
                spark, lake, monkeypatch, _land_mixed,
                cap=lambda lk, d=delta: bound(lk) + d,
            )
            assert _one_task_plan(plans) is (delta >= 0), delta
            assert "ExistingRDD" not in plans["sink"]
            with sqlite3.connect(lake["audit_db"]) as conn:
                audit_rows = sorted(
                    (os.path.basename(k), st, n, err)
                    for k, st, n, err in conn.execute(
                        "SELECT file_key, status, rows_processed, error "
                        "FROM file_ingestion_log"
                    )
                )
            seen[delta] = (
                [(os.path.basename(o.path), o.status, o.rows, o.error)
                 for o in report.outcomes],
                report.rows_upserted,
                audit_rows,
                sorted(
                    tuple(r) for r in
                    spark.read.parquet(lake["target"]).collect()
                ),
            )
        assert seen[-1] == seen[0] == seen[1]

    def test_parquet_counts_footer_rows_not_bytes(
        self, spark, tmp_path, monkeypatch
    ):
        """A parquet file holds far more rows than bytes: the cap
        compares its footer's row count, so a file under the cap in
        bytes but over it in rows keeps the shuffled plan."""
        n = 20_000
        size = []

        def land(lk):
            path = os.path.join(lk["incoming"], "many.parquet")
            pq.write_table(
                pa.table({
                    "sale_id": ["m1"] * n,
                    "sale_date": ["2024-06-01 00:00:00"] * n,
                    "customer_id": ["CM"] * n,
                    "product_id": ["PM"] * n,
                    "quantity": [1] * n,
                    "amount": [1.0] * n,
                }),
                path,
            )
            size.append(os.path.getsize(path))

        for cap, one_task in (("bytes", False), ("rows", True)):
            lake = _make_lake(tmp_path / cap)
            report, plans = _planned_batch(
                spark, lake, monkeypatch, land,
                cap=lambda lk, c=cap: size[-1] if c == "bytes" else n,
            )
            assert size[-1] < n
            assert [o.rows for o in report.loaded] == [n]
            assert _one_task_plan(plans) is one_task, cap

    def test_compressed_batch_keeps_shuffled_plan(
        self, spark, lake, monkeypatch
    ):
        import gzip

        def land(lk):
            with gzip.open(os.path.join(lk["incoming"], "g.csv.gz"), "wb") as fh:
                fh.write(DIRTY_CSV.encode())

        report, plans = _planned_batch(spark, lake, monkeypatch, land)
        assert [o.status for o in report.outcomes] == ["loaded"]
        assert _one_task_plan(plans) is False


class TestRunnerCli:
    def test_metrics_textfile(self, spark, lake, tmp_path):
        from mini_data_platform_spark.runner import main

        _put(lake, "good.ndjson", GOOD_NDJSON)
        prom = str(tmp_path / "ingest.prom")
        assert main([
            "--incoming", lake["incoming"], "--target", lake["target"],
            "--metrics-textfile", prom,
        ]) == 0
        with open(prom) as f:
            text = f.read()
        assert 'mdp_ingest_rows_upserted_total{table="sales"} 2\n' in text


class TestNotificationHook:
    """on_complete parity with the reference's notify_success/notify_failure
    callbacks (process_sales_dags.py:37-62): fires on success AND failure
    outcomes with the final report, and can never fail the pipeline."""

    def test_invoked_on_success(self, spark, lake):
        _put(lake, "good.ndjson", GOOD_NDJSON)
        seen = []
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))
        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit, on_complete=seen.append,
        )
        assert seen == [report]
        assert not report.failed and len(report.loaded) == 1

    def test_invoked_on_failure(self, spark, lake):
        _put(lake, "bad.csv", BAD_CSV)
        seen = []
        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), on_complete=seen.append,
        )
        assert seen == [report]
        assert report.failed and report.failed[0].status == "validation_failed"

    def test_raising_hook_never_fails_run(self, spark, lake):
        _put(lake, "good.ndjson", GOOD_NDJSON)

        def hook(_report):
            raise RuntimeError("smtp down")

        report = run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), on_complete=hook,
        )
        assert len(report.loaded) == 1  # pipeline outcome unaffected


class TestReprocessFailed:
    """Failed-file reprocessing (round-9 verdict item 5; the reference's
    own declared future work — README.md "Add reprocessing DAG for
    failed files"): quarantine -> fix -> requeue -> loaded, with the
    audit table telling the file's whole story under ONE key."""

    def _audit_rows(self, lake):
        import sqlite3

        conn = sqlite3.connect(lake["audit_db"])
        try:
            return dict(
                conn.execute(
                    "SELECT file_key, status FROM file_ingestion_log"
                ).fetchall()
            )
        finally:
            conn.close()

    def test_sink_outage_fix_reprocess_loads(self, spark, lake):
        from mini_data_platform_spark.runner import reprocess_failed

        _put(lake, "f.csv", DIRTY_CSV)
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))

        def boom(df):
            raise RuntimeError("sink down")

        run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=boom, audit=audit,
        )
        key = os.path.join(lake["incoming"], "f.csv")
        assert self._audit_rows(lake)[key] == "loading_failed"
        # "fix the sink", then reprocess: requeued out of quarantine,
        # re-validated, loaded; quarantine dir drains
        report = reprocess_failed(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit,
        )
        assert [o.status for o in report.outcomes] == ["loaded"]
        assert os.listdir(os.path.join(lake["failed"], "loading_failed")) == []
        assert os.listdir(lake["processed"]) == ["f.csv"]
        assert self._audit_rows(lake)[key] == "loaded"
        # the upserted rows are the ordinary full-pipeline result
        got = {
            r["sale_id"]
            for r in spark.read.parquet(lake["target"]).collect()
        }
        assert got == {"s1", "s2", "s3"} | FILLER_KEYS

    def test_validation_failure_fix_reprocess(self, spark, lake):
        """A file quarantined for a BAD SCHEMA is fixed in place inside
        the quarantine dir (the operator's edit), requeued, and loads."""
        from mini_data_platform_spark.runner import reprocess_failed

        _put(lake, "bad.csv", BAD_CSV)
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))
        run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit,
        )
        q = os.path.join(lake["failed"], "validation_failed", "bad.csv")
        assert os.path.exists(q)
        with open(q, "w") as f:  # the fix
            f.write(DIRTY_CSV)
        report = reprocess_failed(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit,
        )
        assert [o.status for o in report.outcomes] == ["loaded"]

    def test_noop_when_no_quarantined_files(self, spark, lake):
        from mini_data_platform_spark.runner import reprocess_failed

        report = reprocess_failed(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake),
        )
        assert report.outcomes == [] and report.rows_upserted == 0

    def test_refailing_file_requarantines(self, spark, lake):
        """A requeued file whose cause was NOT fixed goes straight back
        to quarantine through the ordinary routing — reprocessing loops
        are safe to schedule blindly."""
        from mini_data_platform_spark.runner import reprocess_failed

        _put(lake, "bad.csv", BAD_CSV)
        audit = AuditLog(functools.partial(sqlite_conn_factory, lake["audit_db"]))
        run_batch_ingest(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit,
        )
        report = reprocess_failed(
            spark, lake["incoming"], lake["processed"], lake["failed"],
            sink=_sink(spark, lake), audit=audit,
        )
        assert [o.status for o in report.outcomes] == ["validation_failed"]
        assert os.listdir(
            os.path.join(lake["failed"], "validation_failed")
        ) == ["bad.csv"]

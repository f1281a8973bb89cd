"""Sources layer: format detection (S1), multi-format readers (S2-S5),
file-granularity validators (V1-V3). Parity cases from
/root/reference/dags/src/validator.py and processor.py:15-41."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mini_data_platform_spark.sources import (
    detect_format,
    read_file,
    read_file_as_strings,
    validate_file,
)
from mini_data_platform_spark.sources.formats import sniff_json_layout

GOOD_CSV = (
    "sale_id,sale_date,customer_id,product_id,quantity,amount\n"
    "a1,2024-01-02 03:04:05,CUST-1,PROD-1,2,10.5\n"
    "a2,2024-02-03 04:05:06,CUST-2,PROD-2,1,99.0\n"
)

RECORDS = [
    {
        "sale_id": "j1",
        "sale_date": "2024-03-01 00:00:00",
        "customer_id": "CUST-3",
        "product_id": "PROD-3",
        "quantity": 3,
        "amount": 30.0,
    },
    {
        "sale_id": "j2",
        "sale_date": "2024-03-02 00:00:00",
        "customer_id": "CUST-4",
        "product_id": "PROD-4",
        "quantity": 4,
        "amount": 40.0,
    },
]


def _write(tmp_path, name, text):
    p = os.path.join(tmp_path, name)
    with open(p, "w") as f:
        f.write(text)
    return p


@pytest.fixture()
def tmpdir_str(tmp_path):
    return str(tmp_path)


class TestDetectFormat:
    def test_extensions(self):
        assert detect_format("a/b.CSV") == "csv"
        assert detect_format("x.json") == "json"
        assert detect_format("x.NDJSON") == "json"
        assert detect_format("y.parquet") == "parquet"

    def test_magic_bytes(self):
        assert detect_format("noext", b"PAR1....") == "parquet"
        assert detect_format("noext", b"PK\x03\x04") == "parquet"
        assert detect_format("noext", b"a,b,c\n1,2,3") == "csv"
        assert detect_format("noext", None) == "csv"

    def test_json_layout_sniff(self):
        assert sniff_json_layout(b'  \n [{"a": 1}]') == "array"
        assert sniff_json_layout(b'{"a": 1}\n{"a": 2}') == "ndjson"


class TestReaders:
    def test_csv_all_string(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "s.csv", GOOD_CSV)
        df = read_file(spark, p)
        assert df.columns == list(GOOD_CSV.splitlines()[0].split(","))
        assert all(t == "string" for _, t in df.dtypes)
        assert df.count() == 2

    def test_csv_header_normalization(self, spark, tmpdir_str):
        p = _write(
            tmpdir_str, "h.csv", " Sale_ID , AMOUNT \nx,1\n"
        )
        df = read_file(spark, p)
        assert df.columns == ["sale_id", "amount"]

    def test_json_array(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "a.json", json.dumps(RECORDS, indent=2))
        df = read_file_as_strings(spark, p)
        assert df.count() == 2
        assert set(df.columns) >= {"sale_id", "quantity", "amount"}
        assert all(t == "string" for _, t in df.dtypes)

    def test_ndjson(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "n.json", "\n".join(json.dumps(r) for r in RECORDS))
        df = read_file(spark, p)
        assert df.count() == 2
        assert {r["sale_id"] for r in df.collect()} == {"j1", "j2"}

    def test_parquet(self, spark, tmpdir_str):
        p = os.path.join(tmpdir_str, "t.parquet")
        pq.write_table(pa.table({"Sale_ID": ["p1"], "AMOUNT": [1.5]}), p)
        df = read_file(spark, p)
        assert df.columns == ["sale_id", "amount"]
        assert df.count() == 1


class TestValidate:
    def test_csv_ok(self, spark, tmpdir_str):
        ok, err = validate_file(spark, _write(tmpdir_str, "ok.csv", GOOD_CSV))
        assert ok, err

    def test_csv_missing_columns(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "m.csv", "sale_id,amount\nx,1\n")
        ok, err = validate_file(spark, p)
        assert not ok and "Missing required columns" in err
        assert "customer_id" in err and "sale_date" in err

    def test_csv_bad_dates(self, spark, tmpdir_str):
        bad = GOOD_CSV + "a3,NOT A DATE,CUST-5,PROD-5,1,1.0\n"
        ok, err = validate_file(spark, _write(tmpdir_str, "bd.csv", bad))
        assert not ok and "sale_date parse issue" in err

    def test_csv_date_check_sampled(self, spark, tmpdir_str):
        # bad date past row 50 is not sampled -> file still valid (parity
        # with the reference's iloc[:50] probe, validator.py:56)
        rows = [GOOD_CSV.strip()] + [
            f"b{i},2024-01-01 00:00:00,C,P,1,1.0" for i in range(60)
        ] + ["zz,NOT A DATE,C,P,1,1.0"]
        ok, err = validate_file(spark, _write(tmpdir_str, "late.csv", "\n".join(rows)))
        assert ok, err

    def test_ndjson_ok(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "ok.json", "\n".join(json.dumps(r) for r in RECORDS))
        ok, err = validate_file(spark, p)
        assert ok, err

    def test_ndjson_missing_key_in_one_record(self, spark, tmpdir_str):
        recs = [dict(RECORDS[0]), {k: v for k, v in RECORDS[1].items() if k != "amount"}]
        p = _write(tmpdir_str, "mk.json", "\n".join(json.dumps(r) for r in recs))
        ok, err = validate_file(spark, p)
        assert not ok and "amount" in err

    def test_json_array_ok(self, spark, tmpdir_str):
        p = _write(tmpdir_str, "arr.json", json.dumps(RECORDS))
        ok, err = validate_file(spark, p)
        assert ok, err

    def test_parquet_ok_and_missing(self, spark, tmpdir_str):
        ok_p = os.path.join(tmpdir_str, "ok.parquet")
        pq.write_table(
            pa.table({c: ["x"] for c in
                      ("sale_id", "sale_date", "customer_id", "product_id", "quantity", "amount")}),
            ok_p,
        )
        ok, err = validate_file(spark, ok_p)
        assert ok, err

        bad_p = os.path.join(tmpdir_str, "bad.parquet")
        pq.write_table(pa.table({"sale_id": ["x"]}), bad_p)
        ok, err = validate_file(spark, bad_p)
        assert not ok and "Missing required columns" in err

    def test_garbage_csv_is_quarantined_not_raised(self, spark, tmpdir_str):
        p = os.path.join(tmpdir_str, "junk.bin")
        with open(p, "wb") as f:
            f.write(b"\x00\x01\x02 not a csv at all \xff")
        ok, err = validate_file(spark, p)
        # PERMISSIVE csv parses garbage into one string column -> fails the
        # required-column check, not an exception
        assert not ok


class TestValidateFilesBatched:
    """validate_files — the file-count-scale validation entry point
    (round-13 verdict item 5): small-CSV header checks run driver-side
    and date probes batch into one job per header group. Its contract
    is verdict EQUIVALENCE with the per-file validate_file path."""

    def _mixed_fixture(self, tmpdir_str):
        paths = [
            _write(tmpdir_str, "ok.csv", GOOD_CSV),
            _write(tmpdir_str, "m.csv", "sale_id,amount\nx,1\n"),
            _write(
                tmpdir_str, "bd.csv",
                GOOD_CSV + "a3,NOT A DATE,CUST-5,PROD-5,1,1.0\n",
            ),
            _write(
                tmpdir_str, "late.csv",
                "\n".join(
                    [GOOD_CSV.strip()]
                    + [f"b{i},2024-01-01 00:00:00,C,P,1,1.0"
                       for i in range(60)]
                    + ["zz,NOT A DATE,C,P,1,1.0"]
                ),
            ),
            _write(
                tmpdir_str, "hdr_only.csv",
                "sale_id,sale_date,customer_id,product_id,quantity,amount\n",
            ),
            _write(
                tmpdir_str, "reordered.csv",
                "amount,sale_id,sale_date,customer_id,product_id,quantity\n"
                "1.0,r1,2024-05-06 07:08:09,C,P,1\n",
            ),
            _write(
                tmpdir_str, "nd.json",
                "\n".join(json.dumps(r) for r in RECORDS),
            ),
            _write(
                tmpdir_str, "nd_bad.json",
                "\n".join(
                    json.dumps(r) for r in [
                        dict(RECORDS[0]),
                        {k: v for k, v in RECORDS[1].items()
                         if k != "amount"},
                    ]
                ),
            ),
            _write(tmpdir_str, "arr.json", json.dumps(RECORDS)),
        ]
        bad_pq = os.path.join(tmpdir_str, "bad.parquet")
        pq.write_table(pa.table({"sale_id": ["x"]}), bad_pq)
        paths.append(bad_pq)
        return paths

    def test_verdicts_match_per_file_path(self, spark, tmpdir_str):
        from mini_data_platform_spark.sources.validate import validate_files

        paths = self._mixed_fixture(tmpdir_str)
        batched = validate_files(spark, paths)
        per_file = [validate_file(spark, p) for p in paths]
        assert batched == per_file
        # and the fixture genuinely exercises both verdict polarities
        assert {ok for ok, _ in batched} == {True, False}

    def test_big_csv_takes_per_file_probe(self, spark, tmpdir_str, monkeypatch):
        """Files over the batch size cap keep the per-file SAMPLED
        probe — validation must stay O(1) data per file at any file
        size, so the batched full-scan path is for small files only."""
        from mini_data_platform_spark.sources import validate as v

        p = _write(tmpdir_str, "big.csv", GOOD_CSV)
        monkeypatch.setattr(v, "CSV_BATCH_MAX_BYTES", 1)  # everything is big
        called = []
        real = v.validate_file

        def spy(spark_, path, spec=v.SALES_SPEC):
            called.append(path)
            return real(spark_, path, spec=spec)

        monkeypatch.setattr(v, "validate_file", spy)
        assert v.validate_files(spark, [p]) == [(True, "")]
        assert called == [p]

    def test_ndjson_blank_interleaved_sampling_parity(
        self, spark, tmpdir_str
    ):
        """The batched probe's min-anchor rank must sample the first
        JSON_SAMPLE_RECORDS NON-EMPTY lines exactly like the per-file
        path: a file whose only bad record sits past the sample window
        because of interleaved blank lines must stay VALID in both."""
        from mini_data_platform_spark.sources.validate import (
            JSON_SAMPLE_RECORDS,
            validate_files,
        )

        good = json.dumps(RECORDS[0])
        bad = json.dumps(
            {k: v for k, v in RECORDS[1].items() if k != "amount"}
        )
        # blanks between every record: the raw-line index of the Nth
        # non-empty record is ~2N, so an index-based window would admit
        # only ~N/2 records and judge the wrong sample
        body = "\n\n".join([good] * JSON_SAMPLE_RECORDS) + "\n\n" + bad
        p_ok = _write(tmpdir_str, "blanks_ok.json", body)
        # and the bad record INSIDE the window must still quarantine
        body2 = (
            "\n\n".join([good] * (JSON_SAMPLE_RECORDS - 1))
            + "\n\n" + bad
        )
        p_bad = _write(tmpdir_str, "blanks_bad.json", body2)
        got = validate_files(spark, [p_ok, p_bad])
        want = [validate_file(spark, p_ok), validate_file(spark, p_bad)]
        assert got == want
        assert got[0] == (True, "")
        assert not got[1][0] and "amount" in got[1][1]

    def test_gzip_csv_is_not_falsely_quarantined(self, spark, tmpdir_str):
        """.csv.gz: Spark's reader decompresses transparently, but a
        raw driver-side header read sees codec bytes that could slip
        past the guards as a garbage header — the local fast path must
        decline (return None) and let the Spark path validate."""
        import gzip

        from mini_data_platform_spark.sources.scanstage import (
            csv_header_names as _local_csv_header_columns,
        )
        from mini_data_platform_spark.sources.validate import validate_files

        p = os.path.join(tmpdir_str, "ok_gz.csv.gz")
        with gzip.open(p, "wb") as fh:
            fh.write(GOOD_CSV.encode())
        assert _local_csv_header_columns(p) is None
        assert validate_files(spark, [p]) == [(True, "")]

    def test_backtick_header_group_probe(self, spark, tmpdir_str):
        """Header names are arbitrary user bytes: a backtick in a
        column name must not break the batched group probe (the schema
        is built programmatically, never as quoted DDL)."""
        from mini_data_platform_spark.sources.validate import validate_files

        csv = (
            "sale_id,sale_date,customer_id,product_id,quantity,amount,"
            "`note`\n"
        )
        p1 = _write(
            tmpdir_str, "bt1.csv", csv + "a1,2024-01-02 03:04:05,C,P,1,1.0,x\n"
        )
        p2 = _write(
            tmpdir_str, "bt2.csv", csv + "a2,NOT A DATE,C,P,1,1.0,y\n"
        )
        got = validate_files(spark, [p1, p2])
        assert got[0] == (True, "")
        assert not got[1][0] and "sale_date parse issue" in got[1][1]

    def test_csv_group_probe_failure_falls_back_per_file(
        self, spark, tmpdir_str, monkeypatch
    ):
        """A Spark failure in the grouped probe (file deleted between
        listing and probe, ...) must degrade to per-file verdicts, not
        abort the whole ingest batch."""
        from mini_data_platform_spark.sources import validate as v

        p1 = _write(tmpdir_str, "x1.csv", GOOD_CSV)
        p2 = _write(
            tmpdir_str, "x2.csv",
            GOOD_CSV + "a3,NOT A DATE,CUST-5,PROD-5,1,1.0\n",
        )

        def boom(*a, **k):
            raise RuntimeError("file vanished")

        monkeypatch.setattr(v, "_grouped_probe", boom)
        got = v.validate_files(spark, [p1, p2])
        assert got[0] == (True, "")
        assert not got[1][0] and "sale_date parse issue" in got[1][1]

    def test_duplicate_basenames_fall_back(self, spark, tmpdir_str):
        """Two files with one basename in different dirs: provenance
        joins on basename, so the second routes to the per-file path —
        verdicts still correct for both."""
        from mini_data_platform_spark.sources.validate import validate_files

        d1 = os.path.join(tmpdir_str, "d1")
        d2 = os.path.join(tmpdir_str, "d2")
        os.makedirs(d1)
        os.makedirs(d2)
        p1 = _write(d1, "same.csv", GOOD_CSV)
        p2 = _write(
            d2, "same.csv",
            GOOD_CSV + "a3,NOT A DATE,CUST-5,PROD-5,1,1.0\n",
        )
        got = validate_files(spark, [p1, p2])
        assert got[0] == (True, "")
        assert not got[1][0] and "sale_date parse issue" in got[1][1]


class TestOrcSupport:
    """ORC — beyond the reference's format set (Spark-native columnar)."""

    def _write_orc(self, spark, tmp_path, dirname="orc_sales"):
        d = str(tmp_path / dirname)
        spark.createDataFrame(
            [("s1", "2024-01-01 00:00:00", "C1", "P1", 1, 10.0)],
            "sale_id string, sale_date string, customer_id string, "
            "product_id string, quantity int, amount double",
        ).coalesce(1).write.orc(d)
        import glob

        return glob.glob(os.path.join(d, "*.orc"))[0]

    def test_detect_by_extension_and_magic(self, spark, tmp_path):
        from mini_data_platform_spark.sources.formats import (
            detect_format,
            detect_format_path,
        )

        p = self._write_orc(spark, tmp_path)
        assert detect_format("any/key.orc", None) == "orc"
        assert detect_format_path(p) == "orc"  # .orc extension
        # magic-byte fallback: extensionless copy still detected
        import shutil

        noext = str(tmp_path / "mystery_file")
        shutil.copy(p, noext)
        assert detect_format_path(noext) == "orc"

    def test_read_and_validate(self, spark, tmp_path):
        from mini_data_platform_spark.sources.readers import read_file_as_strings
        from mini_data_platform_spark.sources.validate import validate_file

        p = self._write_orc(spark, tmp_path)
        ok, err = validate_file(spark, p)
        assert ok, err
        rows = read_file_as_strings(spark, p).collect()
        assert len(rows) == 1
        assert rows[0]["sale_id"] == "s1"
        assert rows[0]["quantity"] == "1"  # strings for the cleaning pipeline

    def test_validate_rejects_missing_columns(self, spark, tmp_path):
        d = str(tmp_path / "orc_bad")
        spark.createDataFrame([("x",)], "sale_id string").coalesce(1).write.orc(d)
        import glob

        from mini_data_platform_spark.sources.validate import validate_file

        p = glob.glob(os.path.join(d, "*.orc"))[0]
        ok, err = validate_file(spark, p)
        assert not ok and "Missing required columns" in err

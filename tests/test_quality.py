"""Data-quality checks (operators/quality.py): violation counting,
uniqueness via the same single pass, null semantics, one-scan plan."""

from pyspark.sql import Row

from tests.explain import count_exchanges
from mini_data_platform_spark.operators.quality import (
    dq_report,
    in_range,
    in_set,
    matches,
    not_null,
)


def _df(spark):
    rows = [
        Row(k=1, amount=10.0, status="OK", code="1-A"),
        Row(k=1, amount=-5.0, status="OK", code="9-Z"),    # dup key, range, regex
        Row(k=None, amount=None, status="BAD", code=None),  # null key, bad status
        Row(k=3, amount=99.0, status="OK", code="2-B"),
    ]
    return spark.createDataFrame(rows, "k long, amount double, status string, code string")


class TestDqReport:
    def test_counts_and_pass_flags(self, spark):
        out = {
            r["check_name"]: r
            for r in dq_report(
                _df(spark),
                checks=[
                    not_null("k"),
                    in_range("amount", 0.0, 100.0),
                    in_set("status", ["OK"]),
                    matches("code", "^[1-5]-"),
                ],
                unique_keys=["k"],
            ).collect()
        }
        assert all(r["n_rows"] == 4 for r in out.values())
        assert out["not_null_k"]["n_violations"] == 1
        assert out["in_range_amount"]["n_violations"] == 1  # null amount ok
        assert out["in_set_status"]["n_violations"] == 1
        assert out["matches_code"]["n_violations"] == 1  # null code ok
        # 3 non-null keys, 2 distinct -> 1 duplicate
        assert out["unique_k"]["n_violations"] == 1
        assert all(not r["passed"] for r in out.values())

    def test_clean_data_passes(self, spark):
        df = spark.createDataFrame(
            [Row(k=1, amount=1.0), Row(k=2, amount=2.0)], "k long, amount double"
        )
        out = dq_report(
            df, [not_null("k"), in_range("amount", 0.0, 10.0)], unique_keys=["k"]
        ).collect()
        assert all(r["passed"] and r["n_violations"] == 0 for r in out)

    def test_no_checks_is_a_clear_error(self, spark):
        import pytest

        with pytest.raises(ValueError, match="at least one check"):
            dq_report(_df(spark), checks=[])

    def test_single_pass_plan(self, spark):
        # every check compiles into ONE aggregation: no per-check scans
        df = _df(spark)
        report = dq_report(
            df,
            [not_null("k"), in_range("amount", 0.0, 100.0), in_set("status", ["OK"])],
            unique_keys=["k"],
        )
        assert count_exchanges(report) == 1

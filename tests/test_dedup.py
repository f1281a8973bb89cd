"""Dedup semantics tests (SURVEY.md §2.3 D1-D2): keep-latest argmax,
null-date-wins parity with pandas NaT-sorts-last (processor.py:74-77),
deterministic _ingest_order tie-break."""

import datetime

from mini_data_platform_spark.operators.dedup import (
    dedup_keep_latest,
    with_ingest_order,
)

D = datetime.datetime


def _sales(spark, rows):
    return spark.createDataFrame(rows, "sale_id string, sale_date timestamp, amount double")


def test_keep_latest_greatest_date_wins(spark):
    df = _sales(
        spark,
        [("a", D(2024, 1, 1), 1.0), ("a", D(2024, 5, 1), 2.0), ("b", D(2024, 2, 2), 3.0)],
    )
    out = {r.sale_id: r.amount for r in dedup_keep_latest(df).collect()}
    assert out == {"a": 2.0, "b": 3.0}


def test_null_date_wins(spark):
    df = _sales(spark, [("a", D(2024, 12, 31), 1.0), ("a", None, 2.0)])
    out = dedup_keep_latest(df).collect()
    assert len(out) == 1 and out[0].amount == 2.0 and out[0].sale_date is None


def test_null_loses_when_disabled(spark):
    df = _sales(spark, [("a", D(2024, 12, 31), 1.0), ("a", None, 2.0)])
    out = dedup_keep_latest(df, null_wins=False).collect()
    assert out[0].amount == 1.0


def test_tie_breaks_to_last_ingested(spark):
    df = _sales(
        spark,
        [("a", D(2024, 1, 1), 1.0), ("a", D(2024, 1, 1), 2.0), ("a", D(2024, 1, 1), 3.0)],
    ).coalesce(1)
    out = dedup_keep_latest(with_ingest_order(df)).collect()
    assert len(out) == 1 and out[0].amount == 3.0  # pandas keep="last" parity
    assert "_ingest_order" not in dedup_keep_latest(with_ingest_order(df)).columns


def test_key_uniqueness_property(spark):
    # row-count conservation: output keys == distinct input keys
    rows = [(f"k{i % 7}", D(2024, 1, 1 + i % 5), float(i)) for i in range(100)]
    df = _sales(spark, rows)
    out = dedup_keep_latest(df)
    assert out.count() == 7
    assert out.select("sale_id").distinct().count() == 7

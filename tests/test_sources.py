"""Declared-schema CSV/JSON reads with the corrupt-record channel."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartbots_etl_facturas_spark.sources.readers import (
    read_csv_table,
    read_json_table,
)

SCHEMA = T.StructType([
    T.StructField("invoice_number", T.StringType(), True),
    T.StructField("total", T.DoubleType(), True),
])


def test_csv_declared_schema_and_error_channel(spark, tmp_path):
    p = tmp_path / "inv.csv"
    p.write_text("invoice_number,total\nF-1,100.5\nF-2,not-a-number\nF-3,7\n")
    df = read_csv_table(spark, str(p), SCHEMA).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r.invoice_number for r in good.collect()} == {"F-1", "F-3"}
    assert bad.count() == 1 and "not-a-number" in bad.collect()[0]._corrupt_record


def test_csv_failfast(spark, tmp_path):
    p = tmp_path / "inv.csv"
    p.write_text("invoice_number,total\nF-1,abc\n")
    with pytest.raises(Exception):
        read_csv_table(spark, str(p), SCHEMA, permissive=False).collect()


def test_json_lines(spark, tmp_path):
    p = tmp_path / "inv.jsonl"
    p.write_text('{"invoice_number":"F-1","total":1.5}\n{"broken\n')
    # Spark disallows querying ONLY the corrupt column off a raw scan;
    # materialize first (same pattern the CSV test uses)
    df = read_json_table(spark, str(p), SCHEMA).cache()
    assert df.filter(F.col("_corrupt_record").isNull()).count() == 1
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1

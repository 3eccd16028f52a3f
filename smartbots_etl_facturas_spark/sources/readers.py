"""S1/S2 — reading with the explicit row-order invariant.

Spark has no implicit row order, so order-sensitive operators (P8
take-while, U4 first-wins dedup, S8 append position) need an explicit
order column. For file formats that carry natural order (CSV/XLSX
line order), attach it at read time; parquet testdata carries
domain order columns instead (e.g. l_linenumber).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_row_idx(df: DataFrame, order_cols: list[str], idx_name: str = "row_idx") -> DataFrame:
    """Attach a dense 0-based row index from explicit order columns.

    A global window sort — use only on per-file-sized frames (the
    reference's inputs are tens of rows per file). Large frames should
    keep their natural order columns instead.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(idx_name, F.row_number().over(w) - 1)


class SchemaValidationError(ValueError):
    """U2 — declared-schema mismatch (exceptions.py:14-22)."""

    def __init__(self, missing, extra):
        self.missing, self.extra = missing, extra
        super().__init__(f"schema mismatch: missing={missing} extra={extra}")


def validate_schema(df: DataFrame, expected_columns, strict: bool = True):
    """U2 column-set validation (excel_handler.py:168-183): compare the
    frame's columns against the declared set; returns sorted
    (missing, extra). ``strict`` raises on any difference — the
    reference's SchemaValidationError path. Metadata-only: touches
    df.columns, never the data."""
    actual = set(df.columns)
    expected = set(expected_columns)
    missing = sorted(expected - actual)
    extra = sorted(actual - expected)
    if strict and (missing or extra):
        raise SchemaValidationError(missing, extra)
    return missing, extra


def read_csv_table(
    spark,
    path: str,
    schema,
    header: bool = True,
    permissive: bool = True,
    corrupt_col: str = "_corrupt_record",
):
    """S1/S2 for CSV: declared-schema read (never inferSchema — schema
    is config, per the reference's expected_columns contract).

    ``permissive=True`` routes malformed lines into ``corrupt_col``
    instead of failing the job — the P10 error side-channel at the
    scan. ``permissive=False`` is FAILFAST (SchemaValidationError-like
    abort on first bad record).
    """
    from pyspark.sql import types as T

    mode = "PERMISSIVE" if permissive else "FAILFAST"
    full_schema = schema
    if permissive and corrupt_col not in [f.name for f in schema.fields]:
        full_schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
        )
    return (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def read_json_table(spark, path: str, schema, permissive: bool = True,
                    corrupt_col: str = "_corrupt_record"):
    """S1/S2 for JSON-lines, same declared-schema + error-channel
    contract as :func:`read_csv_table`."""
    from pyspark.sql import types as T

    mode = "PERMISSIVE" if permissive else "FAILFAST"
    full_schema = schema
    if permissive and corrupt_col not in [f.name for f in schema.fields]:
        full_schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
        )
    return (
        spark.read.schema(full_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )

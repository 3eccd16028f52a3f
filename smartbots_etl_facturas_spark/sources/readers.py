"""S1/S2/S4 — reading with the explicit row-order invariant.

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


def read_parquet_table(spark, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def discover_header(
    raw: DataFrame,
    known_headers,
    idx_col: str = "row_idx",
    max_scan: int = 15,
    min_hits: int = 3,
    fallback_idx: int = 10,
) -> DataFrame:
    """S4 header-row discovery (official_format_extractor.py:372-407).

    Scans the first ``max_scan`` raw rows for one whose cells contain
    ≥ ``min_hits`` known header names; rows after it are re-headered
    with that row's cell values. Falls back to the reference's
    "skip 10 rows, row 11 is header" rule (:402-405) when no row
    qualifies.

    The two driver-side ``collect()`` calls fetch ≤ 1 tiny row each —
    header position/names are *schema metadata*, not data; the data
    rows themselves never leave the cluster.
    """
    known_upper = [h.upper() for h in known_headers]
    cell_cols = [c for c in raw.columns if c != idx_col]
    hits = None
    for c in cell_cols:
        h = F.when(F.upper(F.trim(F.col(c))).isin(known_upper), 1).otherwise(0)
        hits = h if hits is None else hits + h
    found = (
        raw.filter(F.col(idx_col) < max_scan)
        .filter(hits >= min_hits)
        .agg(F.min(idx_col).alias("__hdr"))
        .collect()[0]["__hdr"]
    )
    header_idx = fallback_idx if found is None else found
    hdr_rows = raw.filter(F.col(idx_col) == header_idx).collect()
    mapping = {
        c: (str(hdr_rows[0][c]) if hdr_rows and hdr_rows[0][c] is not None else c)
        for c in cell_cols
    }
    return raw.filter(F.col(idx_col) > header_idx).select(
        idx_col, *[F.col(c).alias(mapping[c]) for c in cell_cols]
    )


def attach_fixed_cells(detail: DataFrame, fixed: DataFrame) -> DataFrame:
    """S3 fixed-cell scan (official_format_extractor.py:455-476):
    scalar header cells become literal columns on every detail row —
    a broadcast cross join of a 1-row frame (no shuffle of detail)."""
    return detail.crossJoin(F.broadcast(fixed))


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

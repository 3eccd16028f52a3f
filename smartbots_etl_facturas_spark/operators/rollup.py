"""A3-A6 — report aggregations and derived-total logic.

References: dtos.py:9-57 (counters/rollup), consolidate_invoices.py:140-145
(SUCCESS/PARTIAL/ERROR derivation), :418-424 (per-file counts),
official_format_extractor.py:478-494 (A6 component-sum override).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def status_counts(df: DataFrame, status_col: str = "status") -> DataFrame:
    """A3 — inserted/updated/unchanged counters as one row."""
    c = F.col(status_col)
    return df.agg(
        F.sum(F.when(c == "NEW", 1).otherwise(0)).alias("inserted"),
        F.sum(F.when(c == "UPDATED", 1).otherwise(0)).alias("updated"),
        F.sum(F.when(c == "UNCHANGED", 1).otherwise(0)).alias("unchanged"),
        F.count(F.lit(1)).alias("total_processed"),
    )


def per_file_counts(df: DataFrame, file_col: str = "source_file",
                    valid_col: str = "valid") -> DataFrame:
    """A4 — rows_total / rows_valid / rows_error per source file."""
    v = F.col(valid_col)
    return df.groupBy(file_col).agg(
        F.count(F.lit(1)).alias("rows_total"),
        F.sum(F.when(v, 1).otherwise(0)).alias("rows_valid"),
        F.sum(F.when(~v, 1).otherwise(0)).alias("rows_error"),
    )


def run_report(per_file: DataFrame) -> DataFrame:
    """A5 — run-level rollup + SUCCESS/PARTIAL/ERROR status derivation.

    A file is an 'error file' when it produced any invalid rows; the
    run is ERROR when every file errored, PARTIAL when some did,
    SUCCESS otherwise (consolidate_invoices.py:140-145 shape).
    """
    agg = per_file.agg(
        F.count(F.lit(1)).alias("total_files"),
        F.sum("rows_total").alias("total_records"),
        F.sum("rows_valid").alias("total_valid"),
        F.sum("rows_error").alias("total_errors"),
        F.sum(F.when(F.col("rows_error") > 0, 1).otherwise(0)).alias("error_files"),
    )
    status = (
        F.when(F.col("total_files") == 0, F.lit("NO_FILES"))
        .when(F.col("error_files") == 0, F.lit("SUCCESS"))
        .when(F.col("error_files") < F.col("total_files"), F.lit("PARTIAL"))
        .otherwise(F.lit("ERROR"))
    )
    return agg.withColumn("run_status", status)


def derived_total(total_col: Column, components: Sequence[Column]) -> Column:
    """A6 — explicit total wins when > 0, else the null-safe component sum
    (the 7 money components of the mixed-format extractor).

    Callers pass components already cast to exact decimal types; this
    function never casts or narrows (engine determinism invariant —
    see plans/invoices.py docstring)."""
    comp_sum = None
    for c in components:
        term = F.coalesce(c, F.lit(0))
        comp_sum = term if comp_sum is None else comp_sum + term
    return F.when(total_col.isNotNull() & (total_col > 0), total_col).otherwise(comp_sum)

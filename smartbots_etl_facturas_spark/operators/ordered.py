"""P5-P8, U4 — row filters, including the order-sensitive operators.

Spark has no implicit row order, so the order-sensitive operators (P8
take-while, U4 first-wins dedup) require an explicit order column —
the engine invariant from SURVEY.md §7 step 3. For file-shaped inputs
attach one at read time (sources.readers.with_row_idx); the TPC-H-ish
testdata carries natural order columns (e.g. l_linenumber).

References: official_format_extractor.py:164-177 (P5/P6/P7),
:255-264 (P8 take-while break), consolidate_invoices.py:486-495
(U4 first-wins within a batch).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def drop_all_null_rows(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """P5 — drop rows where every (given) column is null."""
    return df.na.drop(how="all", subset=list(cols) if cols else None)


def filter_nonblank_key(df: DataFrame, key: str) -> DataFrame:
    """P6 — keep rows whose key is non-null and non-blank."""
    c = F.col(key)
    return df.filter(c.isNotNull() & (F.trim(c.cast("string")) != ""))


def filter_summary_rows(
    df: DataFrame, cols: Sequence[str], keywords: Sequence[str] = ("NETO", "IVA", "TOTAL")
) -> DataFrame:
    """P7 — drop rows whose concatenated uppercased values contain any
    summary keyword (reference drops NETO/IVA/TOTAL footer rows)."""
    joined = F.upper(F.concat_ws(" ", *[F.col(c).cast("string") for c in cols]))
    pattern = "|".join(keywords)
    return df.filter(~joined.rlike(pattern))


def take_while(
    df: DataFrame,
    order_col: str,
    stop_cond: Column,
    partition_by: Sequence[str],
) -> DataFrame:
    """P8 — keep rows strictly before the first row matching ``stop_cond``
    in ``order_col`` order, per ``partition_by`` group. Rows at or after
    the group's first stop row are dropped; if no row stops, all rows
    pass.

    Implemented as a windowed min-of-stop-position + filter — a single
    shuffle per partition key (none when partition keys align with the
    existing partitioning), no driver-side iteration.

    SCALE GUARD: an empty ``partition_by`` would make the window GLOBAL
    — Spark would move every row through ONE task — so it raises
    ``ValueError``. A frame that really is one group passes a constant
    group column.
    """
    if not partition_by:
        raise ValueError(
            "take_while needs a non-empty partition_by: an empty one "
            "is a GLOBAL window (single-task sort/scan of the whole frame)"
        )
    stop_at = F.min(F.when(stop_cond, F.col(order_col))).over(
        Window.partitionBy(*[F.col(c) for c in partition_by])
    )
    return (
        df.withColumn("__stop_at", stop_at)
        .filter(F.col("__stop_at").isNull() | (F.col(order_col) < F.col("__stop_at")))
        .drop("__stop_at")
    )


def dedup_first_wins(
    df: DataFrame, keys: Sequence[str], order_cols: str | Sequence[str]
) -> DataFrame:
    """U4 — keep the first-occurring row per key (order-sensitive;
    mirrors the reference's 'first inserted wins inside one batch').

    ``order_cols`` must be a TOTAL order within each key group (add
    tie-break columns if the primary order column can repeat) —
    otherwise the surviving row is nondeterministic across runs and
    engines."""
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

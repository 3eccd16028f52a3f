"""J3/J4/A1/A2 — financial reconciliation.

Reference (smartbots-etl/src/application/use_cases/consolidate_invoices.py:550-572):
1. zero-data-loss: every source PK must exist in the result
   (set difference must be empty) — J3 anti-join.
2. amount cross-check: sum of source totals vs sum of result totals
   *restricted to source PKs* (J4 semi-join), exact Decimal sums (A1),
   variance **strictly greater than 1 fails** (A2 — exclusive, unlike
   the row-level P9 check which is inclusive;
   tests/integration/test_consolidation_flow.py:451-462).

Decimal sums are exact and order-independent — safe under any
partitioning / AQE re-plan, unlike a double sum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.upsert import PK

DEC = "decimal(18,2)"


def reconcile(
    source: DataFrame,
    result: DataFrame,
    keys: Sequence[str] = PK,
    amount_col: str = "total_amount",
    amount_type: str = DEC,
    by: str | None = None,
) -> DataFrame:
    """One-row reconciliation report DataFrame.

    Columns: source_total, result_total, variance, missing_pk_count,
    no_data_loss, amounts_match, reconciled.

    ``by``: a column of both inputs to reconcile per group instead —
    one report row per ``by`` value present in ``source`` (leading
    ``by`` column), each equal to the one-row report of that group's
    ``source`` rows against that group's ``result`` rows.

    ``amount_type`` must be a decimal type wide enough to hold the
    amounts WITHOUT narrowing the scale (narrowing rounds, and
    different engines round differently); the default suits raw
    2-decimal money columns.
    """
    groups = [by] if by else []
    keys = list(keys)
    # Single-pass formulation: pre-aggregate each side per PK, join the
    # (small) per-PK frames once, and derive all three checks from that
    # one join. The naive anti-join + semi-join + two sums shape
    # evaluates the (expensive) `result` subtree twice and scans
    # `source` three times; this shape evaluates each input ONCE, the
    # two groupBys shuffle on the same keys (co-partitioned join), and
    # decimal sums-of-sums stay exact. Semantics identical:
    #   missing_pk_count = Σ n_src over PKs absent from result (≡ J3
    #   anti-join row count), result_total = Σ result amounts over PKs
    #   present in source (≡ J4 semi-join sum).
    src_pk = source.groupBy(*groups, *keys).agg(
        F.sum(F.col(amount_col).cast(amount_type)).alias("__s"),
        F.count(F.lit(1)).alias("__n_src"),
    )
    res_pk = result.groupBy(*groups, *keys).agg(
        F.sum(F.col(amount_col).cast(amount_type)).alias("__r"),
        F.count(F.lit(1)).alias("__n_res"),   # presence marker (amounts may be NULL)
    )
    joined = src_pk.join(res_pk, on=[*groups, *keys], how="left")
    report = joined.groupBy(*groups).agg(
        F.coalesce(F.sum("__s"), F.lit(0).cast(amount_type)).alias("source_total"),
        F.coalesce(F.sum("__r"), F.lit(0).cast(amount_type)).alias("result_total"),
        F.coalesce(F.sum(F.when(F.col("__n_res").isNull(), F.col("__n_src"))),
                   F.lit(0).cast("long")).alias("missing_pk_count"),
    )
    diff = F.abs(F.col("source_total") - F.col("result_total"))
    no_loss = F.col("missing_pk_count") == 0
    return report.select(
        *groups,
        F.col("source_total").cast("double").alias("source_total"),
        F.col("result_total").cast("double").alias("result_total"),
        diff.cast("double").alias("variance"),
        "missing_pk_count",
        no_loss.alias("no_data_loss"),
        (diff <= 1).alias("amounts_match"),
        (no_loss & (diff <= 1)).alias("reconciled"),
    )

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
    return _report_select(report, *groups)


def _report_select(report: DataFrame, *groups: str) -> DataFrame:
    """Shared final projection of the reconciliation report."""
    return report.select(
        *groups,
        F.col("source_total").cast("double").alias("source_total"),
        F.col("result_total").cast("double").alias("result_total"),
        F.abs(F.col("source_total") - F.col("result_total")).cast("double").alias("variance"),
        F.col("missing_pk_count"),
        (F.col("missing_pk_count") == 0).alias("no_data_loss"),
        (F.abs(F.col("source_total") - F.col("result_total")) <= 1).alias("amounts_match"),
        ((F.col("missing_pk_count") == 0)
         & (F.abs(F.col("source_total") - F.col("result_total")) <= 1)).alias("reconciled"),
    )


def reconcile_insert_only(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str] = PK,
    amount_col: str = "total_amount",
    amount_type: str = DEC,
) -> DataFrame:
    """Fused J1+J3/J4 reconciliation: the same one-row report as
    ``reconcile(incoming, upsert_insert_only(existing, incoming))``
    computed from ONE tagged aggregation over the two inputs, instead
    of evaluating the upsert union (which re-derives ``incoming`` and
    ``existing`` a second time each) and then re-aggregating it.

    Plan shape: 2 input scans → union → one keyed agg → global agg
    (2 exchanges total) vs the composed form's 4 input subtree
    evaluations, anti-join, and ~5 exchanges.

    Algebra (exact for ANY input, duplicate PKs and NULL amounts
    included — every step of both formulations is a groupBy or a
    per-PK presence test, so there is no join fan-out to preserve):

    - insert-only result rows for PK p are the existing rows when
      ``n_e(p) > 0``, else the incoming rows (the anti-join keeps all
      incoming duplicates of an absent PK);
    - hence the per-PK result amount is ``S_e if n_e > 0 else S_i``
      and the result PK set is ``{p : n_e > 0 or n_i > 0}``, a
      superset of the source PK set — the J3 missing count is still
      expressed literally below over the same per-PK frame;
    - decimal sums are exact and associative, so regrouping the same
      row multisets cannot move an ulp.

    Pinned equal to the composed form on adversarial frames by
    tests/test_validation_reconcile.py.
    """
    keys = list(keys)
    amt = F.col(amount_col).cast(amount_type)
    tagged = existing.select(
        *keys, amt.alias("__amt"), F.lit(1).alias("__is_ex")
    ).unionByName(
        incoming.select(*keys, amt.alias("__amt"), F.lit(0).alias("__is_ex"))
    )
    ex = F.col("__is_ex") == 1
    per_pk = tagged.groupBy(*keys).agg(
        F.sum(F.when(~ex, F.col("__amt"))).alias("__s"),
        F.count(F.when(~ex, F.lit(1))).alias("__n_src"),
        F.sum(F.when(ex, F.col("__amt"))).alias("__se"),
        F.count(F.when(ex, F.lit(1))).alias("__n_ex"),
    )
    src = F.col("__n_src") > 0
    in_result = (F.col("__n_ex") > 0) | src
    report = per_pk.agg(
        F.coalesce(F.sum(F.when(src, F.col("__s"))),
                   F.lit(0).cast(amount_type)).alias("source_total"),
        F.coalesce(F.sum(F.when(src & (F.col("__n_ex") > 0), F.col("__se"))
                          .when(src, F.col("__s"))),
                   F.lit(0).cast(amount_type)).alias("result_total"),
        F.coalesce(F.sum(F.when(src & ~in_result, F.col("__n_src"))),
                   F.lit(0).cast("long")).alias("missing_pk_count"),
    )
    return _report_select(report)

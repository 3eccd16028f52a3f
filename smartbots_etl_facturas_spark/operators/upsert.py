"""J1/J2/J6 — the consolidation joins.

J1 insert-only upsert (the reference's flagship operator,
smartbots-etl/src/application/use_cases/consolidate_invoices.py:475-515):
incoming rows whose composite PK already exists are SKIPPED — existing
wins ("Solo insertar nuevos registros"); new PKs are appended. Proven
behavior: an updated source row keeps the OLD value in the output
(tests/integration/test_consolidation_flow.py:296-306).

J2 full upsert with change detection (entities.py:101-111 +
ARCHITECTURE.md:591-626): PK exists & business fields differ → UPDATED
(incoming wins); exists & identical → UNCHANGED; else NEW. Comparison
ignores ``description`` and metadata.

J6 audit-action join (consolidate_invoices.py:517-548): map each
incoming row to INSERT/UPDATE/UNCHANGED for the record_log.

Scale notes: PK-side joins hash-partition on the composite key; when
the existing/master side is small relative to incoming (or vice versa)
AQE picks broadcast-hash automatically. The anti-join only needs the
PK projection of the existing side — Catalyst prunes to 2 columns, so
at 100 TB the build side is the *distinct key set*, not the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PK = ("invoice_number", "reference_number")


def upsert_insert_only(
    existing: DataFrame, incoming: DataFrame, keys: Sequence[str] = PK
) -> DataFrame:
    """J1 — existing ∪ (incoming ⟕̸ existing). Existing rows win."""
    keys = list(keys)
    new_rows = incoming.join(existing.select(*keys).distinct(), on=keys, how="left_anti")
    return existing.unionByName(new_rows.select(*existing.columns))


def upsert_full(
    existing: DataFrame,
    incoming: DataFrame,
    keys: Sequence[str] = PK,
    compare_cols: Sequence[str] = (
        "carrier_name",
        "ship_name",
        "dispatch_guides",
        "invoice_date",
        "net_amount",
        "tax_amount",
        "total_amount",
    ),
) -> DataFrame:
    """J2 — full-outer upsert with NEW/UPDATED/UNCHANGED status.

    Returns the merged table plus a ``status`` column; UPDATED and NEW
    take the incoming values, UNCHANGED and existing-only rows keep the
    existing values (existing-only rows get status UNCHANGED).
    """
    keys = list(keys)
    compare_cols = [c for c in compare_cols if c in incoming.columns and c in existing.columns]
    value_cols = [c for c in existing.columns if c not in keys]

    ex = existing.select(*keys, *[F.col(c).alias(f"__ex_{c}") for c in value_cols])
    inc = incoming.select(*keys, *[F.col(c).alias(f"__in_{c}") for c in value_cols])

    differs = None
    for c in compare_cols:
        # null-safe inequality, mirroring Python != on possibly-None fields
        d = ~F.col(f"__in_{c}").eqNullSafe(F.col(f"__ex_{c}"))
        differs = d if differs is None else (differs | d)

    # presence is decided by the join via dedicated markers, not by data
    # nullability — a row can legitimately be all-null in compare cols.
    status = (
        F.when(F.col("__ex_present").isNull(), F.lit("NEW"))
        .when(F.col("__in_present").isNull(), F.lit("UNCHANGED"))
        .when(differs, F.lit("UPDATED"))
        .otherwise(F.lit("UNCHANGED"))
    )

    joined = (
        inc.withColumn("__in_present", F.lit(1))
        .join(ex.withColumn("__ex_present", F.lit(1)), on=keys, how="full_outer")
        .withColumn("status", status)
    )
    picked = [
        F.when(F.col("status").isin("NEW", "UPDATED"), F.col(f"__in_{c}"))
        .otherwise(F.col(f"__ex_{c}"))
        .alias(c)
        for c in value_cols
    ]
    return joined.select(*keys, *picked, "status")


def audit_actions(
    incoming: DataFrame, result: DataFrame, keys: Sequence[str] = PK
) -> DataFrame:
    """J6 — per-incoming-row action via status lookup join."""
    keys = list(keys)
    lookup = result.select(*keys, F.col("status").alias("__status"))
    action = (
        F.when(F.col("__status") == "NEW", F.lit("INSERT"))
        .when(F.col("__status") == "UPDATED", F.lit("UPDATE"))
        .otherwise(F.lit("UNCHANGED"))
    )
    return (
        incoming.join(lookup, on=keys, how="left")
        .withColumn("action", action)
        .drop("__status")
    )

"""J1/J2/J6 semantics, mirroring the reference's integration proofs
(tests/integration/test_consolidation_flow.py:230-306)."""

from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.upsert import (
    audit_actions,
    upsert_full,
    upsert_insert_only,
)

SCHEMA = "invoice_number string, reference_number string, carrier_name string, total_amount double"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_insert_only_existing_wins(spark):
    existing = _df(spark, [("F1", "R1", "OldCarrier", 100.0)])
    incoming = _df(spark, [("F1", "R1", "NewCarrier", 999.0), ("F2", "R2", "C2", 50.0)])
    result = upsert_insert_only(existing, incoming)
    rows = {(r.invoice_number, r.reference_number): r for r in result.collect()}
    assert len(rows) == 2
    # the updated source row keeps the OLD value — append-only proof
    assert rows[("F1", "R1")].carrier_name == "OldCarrier"
    assert rows[("F1", "R1")].total_amount == 100.0
    assert rows[("F2", "R2")].carrier_name == "C2"


def test_full_upsert_statuses(spark):
    existing = _df(spark, [("F1", "R1", "Same", 10.0), ("F2", "R2", "WillChange", 20.0),
                           ("F4", "R4", "ExistingOnly", 40.0)])
    incoming = _df(spark, [("F1", "R1", "Same", 10.0), ("F2", "R2", "Changed", 20.0),
                           ("F3", "R3", "Fresh", 30.0)])
    result = upsert_full(existing, incoming, compare_cols=["carrier_name", "total_amount"])
    rows = {(r.invoice_number, r.reference_number): r for r in result.collect()}
    assert rows[("F1", "R1")].status == "UNCHANGED"
    assert rows[("F2", "R2")].status == "UPDATED"
    assert rows[("F2", "R2")].carrier_name == "Changed"   # incoming wins on UPDATE
    assert rows[("F3", "R3")].status == "NEW"
    assert rows[("F4", "R4")].status == "UNCHANGED"       # untouched master row survives


def test_audit_actions(spark):
    existing = _df(spark, [("F1", "R1", "Same", 10.0), ("F2", "R2", "Old", 20.0)])
    incoming = _df(spark, [("F1", "R1", "Same", 10.0), ("F2", "R2", "New", 20.0),
                           ("F3", "R3", "Fresh", 30.0)])
    merged = upsert_full(existing, incoming, compare_cols=["carrier_name", "total_amount"])
    acts = {
        (r.invoice_number, r.reference_number): r.action
        for r in audit_actions(incoming, merged).collect()
    }
    assert acts == {("F1", "R1"): "UNCHANGED", ("F2", "R2"): "UPDATE", ("F3", "R3"): "INSERT"}


class TestApplyChangelog:
    """CDC MERGE (operators/cdc.py): I/U/D changelog onto a snapshot."""

    def test_insert_update_delete_last_wins(self, spark):
        from smartbots_etl_facturas_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, name string, bal double",
        )
        changes = spark.createDataFrame(
            [
                (2, "U", 5, 100, "b2", 21.0),   # update 2
                (3, "D", 5, 101, "x", 0.0),     # delete 3
                (4, "I", 5, 102, "d", 40.0),    # insert 4
                (4, "U", 6, 103, "d2", 41.0),   # later update of 4 wins
                (2, "D", 4, 99, "x", 0.0),      # EARLIER delete: superseded
            ],
            "k long, op string, ts long, tie long, name string, bal double",
        )
        out = {r.k: (r.name, r.bal)
               for r in apply_changelog(snap, changes, ["k"], "ts", "tie").collect()}
        assert out == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d2", 41.0)}

    def test_same_ts_tie_breaks(self, spark):
        from smartbots_etl_facturas_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        changes = spark.createDataFrame(
            [(1, "U", 7, 1, "first"), (1, "D", 7, 2, "x")],
            "k long, op string, ts long, tie long, v string",
        )
        # same ts: higher tie wins -> the delete lands
        assert apply_changelog(snap, changes, ["k"], "ts", "tie").count() == 0

    def test_missing_payload_columns_rejected(self, spark):
        import pytest as _pytest

        from smartbots_etl_facturas_spark.operators.cdc import apply_changelog

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        changes = spark.createDataFrame(
            [(1, "U", 7, 1)], "k long, op string, ts long, tie long"
        )
        with _pytest.raises(ValueError, match="changelog lacks"):
            apply_changelog(snap, changes, ["k"], "ts", "tie")

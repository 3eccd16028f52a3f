"""P9/P10 validation rules incl. ±1 boundary semantics, and J3/J4/A1/A2
reconciliation with its *exclusive* tolerance.

Boundary proofs mirrored from the reference:
- row-level total≈net+tax is INCLUSIVE at 1 (entities.py:67,
  tests/unit/test_entities.py:77-92)
- reconciliation variance is EXCLUSIVE at 1
  (consolidate_invoices.py:570-572)
"""

import duckdb
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.reconcile import reconcile
from smartbots_etl_facturas_spark.operators.upsert import upsert_insert_only
from smartbots_etl_facturas_spark.operators.validation import split_valid, with_validation

SCHEMA = ("invoice_number string, reference_number string, carrier_name string, "
          "net_amount double, tax_amount double, total_amount double")


def test_validation_rule_order_and_boundaries(spark):
    rows = [
        ("", "R", "C", 100.0, 19.0, 119.0),        # rule 1
        ("F", " ", "C", 100.0, 19.0, 119.0),       # rule 2 (blank, not just empty)
        ("F", "R", None, 100.0, 19.0, 119.0),      # rule 3
        ("F", "R", "C", 100.0, 19.0, -5.0),        # rule 4
        ("F", "R", "C", 100.0, 19.0, 121.0),       # rule 5: |121-119| = 2 > 1
        ("F", "R", "C", 100.0, 19.0, 120.0),       # |120-119| = 1 → VALID (inclusive)
        ("F", "R", "C", 100.0, 19.0, 119.0),       # exact
        ("", "", "", -1.0, 0.0, -1.0),             # multiple failures → FIRST rule wins
    ]
    df = with_validation(spark.createDataFrame(rows, SCHEMA))
    got = [r.error_reason for r in df.collect()]
    assert got[0] == "invoice_number no puede estar vacío"
    assert got[1] == "reference_number no puede estar vacío"
    assert got[2] == "carrier_name no puede estar vacío"
    assert got[3] == "total_amount no puede ser negativo"
    assert got[4] == "total_amount no coincide con net + tax"
    assert got[5] is None
    assert got[6] is None
    assert got[7] == "invoice_number no puede estar vacío"

    valid, errors = split_valid(df)
    assert valid.count() == 2
    assert errors.count() == 6


def test_reconcile_pass_and_exclusive_tolerance(spark):
    schema = "invoice_number string, reference_number string, total_amount double"
    source = spark.createDataFrame(
        [("F1", "R1", 100.0), ("F2", "R2", 200.0)], schema)
    # result contains both PKs; totals differ by exactly 1 → PASSES (exclusive)
    result = spark.createDataFrame(
        [("F1", "R1", 100.0), ("F2", "R2", 199.0), ("F9", "R9", 777.0)], schema)
    rep = reconcile(source, result).collect()[0]
    assert rep.missing_pk_count == 0
    assert rep.no_data_loss
    assert rep.variance == 1.0
    assert rep.amounts_match          # exactly 1 passes
    assert rep.reconciled
    # result_total must exclude F9 (semi-join restriction)
    assert rep.result_total == 299.0


def _reconcile_oracle(existing_rows, incoming_rows):
    """The ``reconciliation`` registry oracle (``SQL_RECONCILIATION``)
    run by DuckDB over two literal ``existing``/``incoming`` tables in
    place of its lineitem-derived CTEs."""
    from __spark_entry__ import SQL_RECONCILIATION

    con = duckdb.connect()
    for name, rows in (("existing", existing_rows), ("incoming", incoming_rows)):
        con.execute(f"CREATE TABLE {name} (invoice_number VARCHAR, "
                    "reference_number VARCHAR, total_amount DOUBLE)")
        if rows:
            con.executemany(f"INSERT INTO {name} VALUES (?, ?, ?)", rows)
    body = SQL_RECONCILIATION[SQL_RECONCILIATION.index("result AS ("):]
    return con.execute("WITH " + body).fetchall()


def test_reconcile_of_insert_only_upsert_matches_duckdb(spark):
    """reconcile(incoming, upsert_insert_only(existing, incoming)) —
    the ``reconciliation`` query's form — equals its DuckDB oracle on
    duplicate PKs on both sides (the lineitem testdata has ~24% dup
    (orderkey, linenumber) pairs), NULL amounts, existing-only,
    incoming-only and overlapping PKs, and each side empty."""
    schema = "invoice_number string, reference_number string, total_amount double"
    existing = [("F1", "R1", 100.0), ("F1", "R1", 50.0),   # dup PK in existing
                ("F2", "R2", 200.0),
                ("F5", "R5", None),                         # NULL amount
                ("F6", "R6", 66.0)]                         # existing-only
    incoming = [("F1", "R1", 101.0),                        # overlaps (existing wins)
                ("F3", "R3", 300.0), ("F3", "R3", 301.0),   # dup PK, new
                ("F4", "R4", None),                         # NULL amount, new
                ("F5", "R5", 55.0)]                         # overlaps a NULL-amount PK

    reports = []
    for ex, src in [(existing, incoming), ([], incoming), (existing, [])]:
        ex_df, src_df = (spark.createDataFrame(rows, schema) for rows in (ex, src))
        got = [tuple(r) for r in reconcile(src_df, upsert_insert_only(ex_df, src_df),
                                           amount_type="decimal(27,6)").collect()]
        assert got == _reconcile_oracle(ex, src), (len(ex), len(src))
        reports.append(got)
    # existing wins F1 (150 for 101) and F5 (NULL for 55): 757 vs 751
    assert reports[0] == [(757.0, 751.0, 6.0, 0, True, False, False)]
    assert reports[2] == [(0.0, 0.0, 0.0, 0, True, True, True)]


def test_reconcile_by_equals_per_group_calls(spark):
    """reconcile(by=g) gives, for each g present in the source, the
    one-row report of reconcile() over that group's rows alone — on
    duplicate PKs on both sides, NULL amounts, PKs missing from the
    result, a group with no result rows and a PK shared by groups."""
    schema = "g int, invoice_number string, reference_number string, total_amount double"
    source = spark.createDataFrame(
        [(0, "F1", "R1", 100.0), (0, "F1", "R1", 5.0),    # dup PK
         (0, "F2", "R2", None),                            # NULL amount
         (0, "F3", "R3", 30.0),                            # missing in g0's result
         (1, "F1", "R1", 100.0),                           # PK shared with g0
         (1, "F4", "R4", 40.0), (1, "F4", "R4", 41.0),
         (2, "F5", "R5", 50.0)],                           # no result rows at all
        schema)
    result = spark.createDataFrame(
        [(0, "F1", "R1", 104.0), (0, "F1", "R1", 0.5),    # dup PK in result
         (0, "F2", "R2", 7.0),
         (0, "F9", "R9", 999.0),                           # not a source PK
         (1, "F1", "R1", None),                            # NULL result amount
         (1, "F3", "R3", 30.0),                            # g0's missing PK, other group
         (1, "F4", "R4", 81.0)],
        schema)

    got = {r.g: r.asDict() for r in reconcile(source, result, by="g").collect()}
    assert sorted(got) == [0, 1, 2]
    for g in got:
        want = reconcile(source.filter(F.col("g") == g),
                         result.filter(F.col("g") == g)).collect()[0].asDict()
        assert {k: v for k, v in got[g].items() if k != "g"} == want, g
    assert got[0]["missing_pk_count"] == 1 and got[2]["missing_pk_count"] == 1
    # g1: F1's only result amount is NULL, so 100 of its 181 is unmatched
    assert got[1]["missing_pk_count"] == 0 and got[1]["variance"] == 100.0


def test_reconcile_detects_loss_and_variance(spark):
    schema = "invoice_number string, reference_number string, total_amount double"
    source = spark.createDataFrame([("F1", "R1", 100.0), ("F2", "R2", 200.0)], schema)
    result = spark.createDataFrame([("F1", "R1", 97.0)], schema)
    rep = reconcile(source, result).collect()[0]
    assert rep.missing_pk_count == 1
    assert not rep.no_data_loss
    assert rep.variance == 203.0      # 300 - 97
    assert not rep.amounts_match
    assert not rep.reconciled


# --- data-quality suite + table diff (operators/quality.py) ------------------

def test_dq_checks_pass_and_fail_paths(spark):
    from smartbots_etl_facturas_spark.operators.quality import (
        check_accepted_values,
        check_not_null,
        check_referential,
        check_unique,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "A"), (1, "A"), (2, None), (3, "Z")], ["k", "status"]
    )
    parent = spark.createDataFrame([(1,), (2,)], ["k"])
    rep = {r.check_name: (r.n_violations, r.passed)
           for r in run_checks([
               check_unique(df, ["k"]),            # k=1 duplicated once
               check_not_null(df, "status"),       # one null
               check_accepted_values(df, "status", ["A"]),  # None + 'Z'
               check_referential(df, "k", parent, "k"),     # k=3 orphan
           ]).collect()}
    assert rep["unique:k"] == (1, False)
    assert rep["not_null:status"] == (1, False)
    assert rep["accepted_values:status"] == (2, False)
    assert rep["referential:k"] == (1, False)
    clean = spark.createDataFrame([(1, "A"), (2, "A")], ["k", "status"])
    rep2 = {r.check_name: r.passed
            for r in run_checks([check_unique(clean, ["k"]),
                                 check_not_null(clean, "status")]).collect()}
    assert all(rep2.values())


def test_table_diff_statuses(spark):
    from smartbots_etl_facturas_spark.operators.quality import table_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(2, 21.0), (3, None), (4, 40.0)], "k long, v double"
    )
    got = {r.status: r.n_rows
           for r in table_diff(old, new, ["k"], ["v"]).collect()}
    # 1 removed, 4 added, 2 changed, 3 unchanged (null == null null-safely)
    assert got == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}

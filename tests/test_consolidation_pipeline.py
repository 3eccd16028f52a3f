"""End-to-end consolidation pipeline — the engine twin of the
reference's integration suite
(tests/integration/test_consolidation_flow.py): fresh insert,
append-only proof (old value wins), validation-error audit trail,
reconciliation, idempotent re-run, NO_FILES — plus the round's
equivalence to a sequential per-file loop, a crash in publish, two
overlapping runs and a corrupt workbook, each checked against a DuckDB
oracle.
"""

import glob
import os
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.plans import consolidation
from smartbots_etl_facturas_spark.plans.consolidation import consolidate, consolidate_inbox
from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
from smartbots_etl_facturas_spark.sinks.staged import (
    PublishConflictError,
    current_version,
    read_published,
)

SCHEMA = (
    "row_idx long, invoice_number string, reference_number string, "
    "carrier_name string, net_amount double, tax_amount double, total_amount double"
)


def _file(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def env(spark, tmp_path):
    return AuditWriter(spark, str(tmp_path / "audit")), str(tmp_path / "consolidated")


def test_fresh_insert_and_totals(spark, env):
    audit, base = env
    f1 = _file(spark, [
        (0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0),
        (1, "F-2", "R-1", "TransCo", 200.0, 38.0, 238.0),
        (2, "F-3", "R-2", "OtherCo", 50.0, 9.5, 59.5),
    ])
    report = consolidate(spark, [("a.xlsx", "t1", f1)], base, audit)
    assert report.status == "SUCCESS"
    assert report.inserted == 3 and report.validation_errors == 0
    out = read_published(spark, base)
    assert out.count() == 3
    total = out.agg(F.sum(F.col("total_amount"))).collect()[0][0]
    assert total == Decimal("416.5")


def test_append_only_existing_wins(spark, env):
    audit, base = env
    f1 = _file(spark, [(0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0)])
    consolidate(spark, [("a.xlsx", "t1", f1)], base, audit)
    # same PK arrives with a DIFFERENT carrier (amounts equal, so the
    # financial reconciliation still passes — the reference's
    # append-only proof changes non-amount fields) → old row wins
    f2 = _file(spark, [
        (0, "F-1", "R-1", "ChangedCo", 100.0, 19.0, 119.0),
        (1, "F-9", "R-9", "NewCo", 10.0, 0.0, 10.0),
    ])
    report = consolidate(spark, [("b.xlsx", "t2", f2)], base, audit)
    assert report.inserted == 1                       # only F-9
    rows = {r.invoice_number: (r.carrier_name, r.total_amount)
            for r in read_published(spark, base).collect()}
    assert rows["F-1"] == ("TransCo", Decimal("119.0"))   # old row retained
    assert rows["F-9"] == ("NewCo", Decimal("10.0"))


def test_validation_errors_logged_not_inserted(spark, env):
    audit, base = env
    f1 = _file(spark, [
        (0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0),
        (1, "", "R-1", "TransCo", 1.0, 0.0, 1.0),           # blank PK
        (2, "F-3", "R-1", "TransCo", 100.0, 19.0, 500.0),   # total mismatch
        (3, "F-4", "R-1", "", 1.0, 0.0, 1.0),               # blank carrier
    ])
    report = consolidate(spark, [("a.xlsx", "t1", f1)], base, audit)
    assert report.status == "SUCCESS"
    assert report.inserted == 1 and report.validation_errors == 3
    rec = audit.table("record_log")
    errs = {r.error_message for r in rec.filter(F.col("action") == "VALIDATION_ERROR").collect()}
    assert any("vacío" in e for e in errs)
    assert any("no coincide" in e for e in errs)
    assert rec.filter(F.col("action") == "INSERT").count() == 1


def test_idempotent_rerun_skips(spark, env):
    audit, base = env
    f1 = _file(spark, [(0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0)])
    consolidate(spark, [("a.xlsx", "t1", f1)], base, audit)
    report2 = consolidate(spark, [("a.xlsx", "t1", f1)], base, audit)
    assert report2.files_skipped == 1 and report2.inserted == 0
    assert read_published(spark, base).count() == 1
    # same name, NEW modified_time → reprocessed (but upsert inserts 0)
    report3 = consolidate(spark, [("a.xlsx", "t2", f1)], base, audit)
    assert report3.files_skipped == 0 and report3.inserted == 0


def test_partial_status_on_bad_schema(spark, env):
    audit, base = env
    good = _file(spark, [(0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0)])
    bad = spark.createDataFrame([(1, "x")], "row_idx long, junk string")
    report = consolidate(spark, [("good.xlsx", "t1", good), ("bad.xlsx", "t1", bad)], base, audit)
    assert report.status == "PARTIAL"
    assert report.files_ok == 1 and report.files_error == 1
    fl = audit.table("file_log")
    assert fl.filter((F.col("file_name") == "bad.xlsx")
                     & (F.col("status") == "ERROR")).count() == 1
    assert read_published(spark, base).count() == 1


def test_many_files_flat_cost(spark, tmp_path):
    """A round is one plan over the materialized inbox: from 4 to 24
    files the published plan stays the same size (within 10 %) and
    the round runs at most a few more Spark jobs; the accumulated
    upsert is still correct."""
    sc = spark.sparkContext

    def run(n):
        files = [
            (
                f"f{i:03d}.xlsx",
                f"t{i}",
                _file(spark, [
                    (0, f"F-{i}", "R-1", "TransCo", 10.0, 0.0, 10.0),
                    (1, "F-dup", "R-0", "TransCo", 5.0, 0.0, 5.0),  # same PK every file
                ]),
            )
            for i in range(n)
        ]
        base = str(tmp_path / f"consolidated-{n}")
        sizes: list[int] = []
        sc.setJobGroup(f"flat-cost-{n}", f"{n}-file round")
        try:
            audit = AuditWriter(spark, str(tmp_path / f"audit-{n}"))
            report = consolidate(spark, files, base, audit, plan_sizes=sizes)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert report.status == "SUCCESS" and report.files_ok == n
        # n distinct F-i rows + one F-dup (first file wins)
        assert read_published(spark, base).count() == n + 1
        assert report.inserted == n + 1
        assert len(sizes) == n
        return max(sizes), len(sc.statusTracker().getJobIdsForGroup(f"flat-cost-{n}"))

    plan4, jobs4 = run(4)
    plan24, jobs24 = run(24)
    assert abs(plan24 - plan4) <= 0.1 * plan4, (plan4, plan24)
    assert jobs24 <= jobs4 + 3, (jobs4, jobs24)


def test_no_files(spark, env):
    audit, base = env
    report = consolidate(spark, [], base, audit)
    assert report.status == "NO_FILES"
    runs = audit.table("execution_runs")
    assert runs.filter(F.col("status") == "NO_FILES").count() == 1


def _master(spark, base):
    return {(r.invoice_number, r.reference_number, r.carrier_name, r.total_amount)
            for r in read_published(spark, base).collect()}


def _completed_inserts(audit):
    """record_log INSERT rows per file, counting only rows whose
    file_log row is COMPLETED (a failed run's rows do not count)."""
    fl = audit.table("file_log").filter(F.col("status") == "COMPLETED")
    log = audit.table("record_log").filter(F.col("action") == "INSERT")
    return dict(log.join(fl, "file_log_id").groupBy("file_name").count().collect())


# P9 row validity, as DuckDB SQL over the inbox columns
VALID_SQL = """trim(invoice_number) <> '' AND trim(reference_number) <> ''
    AND trim(carrier_name) <> '' AND total_amount >= 0
    AND abs(total_amount - (net_amount + tax_amount)) <= 1"""


def _oracle(inbox):
    """DuckDB insert-only consolidation of ``inbox`` = [(name, rows)]
    in commit order into an empty master: (master rows, INSERT count
    per file)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE inbox (pos INT, source_file VARCHAR, row_idx BIGINT, "
                "invoice_number VARCHAR, reference_number VARCHAR, carrier_name VARCHAR, "
                "net_amount DECIMAL(18,2), tax_amount DECIMAL(18,2), total_amount DECIMAL(18,2))")
    con.executemany("INSERT INTO inbox VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
                    [(pos, name, *r) for pos, (name, rows) in enumerate(inbox) for r in rows])
    con.execute("""
CREATE TABLE inserted AS
SELECT * FROM (SELECT *, row_number() OVER (
    PARTITION BY invoice_number, reference_number ORDER BY pos, row_idx) AS k
  FROM inbox WHERE """ + VALID_SQL + """)
WHERE k = 1""")
    master = set(con.execute("SELECT invoice_number, reference_number, carrier_name, "
                             "total_amount FROM inserted").fetchall())
    per_file = dict(con.execute(
        "SELECT source_file, count(*) FROM inserted GROUP BY 1").fetchall())
    return master, per_file


A_ROWS = [(0, "F-1", "R-1", "TransCo", 100.0, 19.0, 119.0),
          (1, "F-2", "R-1", "TransCo", 10.0, 0.0, 10.0)]
B_ROWS = [(0, "F-2", "R-1", "TransCo", 10.0, 0.0, 10.0),      # already in a
          (1, "F-3", "R-1", "OtherCo", 50.0, 9.5, 59.5),
          (2, "F-3", "R-1", "OtherCo", 70.0, 0.0, 70.0),      # in-file repeat: first wins
          (3, "", "R-1", "OtherCo", 1.0, 0.0, 1.0)]           # validation error
C_ROWS = [(0, "F-3", "R-1", "ThirdCo", 50.0, 9.5, 59.5),      # in b
          (1, "F-4", "R-2", "ThirdCo", 20.0, 0.0, 20.0)]


def test_round_equals_sequential_loop(spark, env, tmp_path):
    """File 1 re-sends a master PK with its total off by more than $1
    (fails reconciliation) and carries a new PK p; file 2 carries p
    with another amount. Sequentially file 1 fails, so file 2 inserts
    ITS p, and file 3 is unaffected: the one-round result must be
    exactly that, and equal to three one-file rounds."""
    seed = [(0, "M-1", "R-1", "TransCo", 100.0, 0.0, 100.0)]
    f1 = [(0, "M-1", "R-1", "TransCo", 150.0, 0.0, 150.0),   # master PK, total +50
          (1, "P-1", "R-1", "TransCo", 10.0, 0.0, 10.0)]
    f2 = [(0, "P-1", "R-1", "TransCo", 20.0, 0.0, 20.0),
          (1, "Q-1", "R-1", "TransCo", 5.0, 0.0, 5.0)]
    f3 = [(0, "S-1", "R-1", "TransCo", 7.0, 0.0, 7.0),
          (1, "M-1", "R-1", "TransCo", 100.0, 0.0, 100.0)]
    inbox = [("f1.xlsx", f1), ("f2.xlsx", f2), ("f3.xlsx", f3)]
    audit, base = env
    seq_audit, seq_base = AuditWriter(spark, str(tmp_path / "seq-audit")), str(tmp_path / "seq")
    for a, b in ((audit, base), (seq_audit, seq_base)):
        consolidate(spark, [("m.xlsx", "t0", _file(spark, seed))], b, a)

    report = consolidate(spark, [(n, "t1", _file(spark, r)) for n, r in inbox], base, audit)
    assert report.status == "PARTIAL"
    assert (report.files_ok, report.files_error, report.inserted) == (2, 1, 3)
    assert report.total_records == 4 and report.validation_errors == 0
    assert report.messages and report.messages[0].startswith("f1.xlsx: reconciliation failed")
    fl = {r.file_name: r for r in audit.table("file_log").collect()}
    assert fl["f1.xlsx"].status == "ERROR" and fl["f1.xlsx"].schema_valid
    assert (fl["f2.xlsx"].status, fl["f2.xlsx"].rows_total) == ("COMPLETED", 2)
    assert (fl["f3.xlsx"].status, fl["f3.xlsx"].rows_total) == ("COMPLETED", 2)
    assert _completed_inserts(audit) == {"m.xlsx": 1, "f2.xlsx": 2, "f3.xlsx": 1}
    want = {("M-1", "R-1", "TransCo", Decimal(100)), ("P-1", "R-1", "TransCo", Decimal(20)),
            ("Q-1", "R-1", "TransCo", Decimal(5)), ("S-1", "R-1", "TransCo", Decimal(7))}
    assert _master(spark, base) == want

    statuses = [consolidate(spark, [(n, "t1", _file(spark, r))], seq_base, seq_audit).status
                for n, r in inbox]
    assert statuses == ["ERROR", "SUCCESS", "SUCCESS"]
    assert _master(spark, seq_base) == want
    assert _completed_inserts(seq_audit) == _completed_inserts(audit)


# The round of test_round_equals_sequential_loop: f1 re-sends the
# master's M-1 with its total off by 50, so it fails reconciliation.
RECONCILE_SEED = [(0, "M-1", "R-1", "TransCo", 100.0, 0.0, 100.0)]
RECONCILE_ROUND = [("f1.xlsx", [(0, "M-1", "R-1", "TransCo", 150.0, 0.0, 150.0),
                                (1, "P-1", "R-1", "TransCo", 10.0, 0.0, 10.0)]),
                   ("f2.xlsx", [(0, "P-1", "R-1", "TransCo", 20.0, 0.0, 20.0),
                                (1, "Q-1", "R-1", "TransCo", 5.0, 0.0, 5.0)]),
                   ("f3.xlsx", [(0, "S-1", "R-1", "TransCo", 7.0, 0.0, 7.0),
                                (1, "M-1", "R-1", "TransCo", 100.0, 0.0, 100.0)])]


def _reconcile_round(spark, env):
    """Seed the master, run RECONCILE_ROUND as one round; returns its
    report and its finish_run row."""
    audit, base = env
    consolidate(spark, [("m.xlsx", "t0", _file(spark, RECONCILE_SEED))], base, audit)
    report = consolidate(spark, [(n, "t1", _file(spark, r)) for n, r in RECONCILE_ROUND],
                         base, audit)
    assert report.status == "PARTIAL" and report.files_error == 1
    [finish] = audit.table("execution_runs").filter(F.col("status") == "PARTIAL").collect()
    return report, finish


def test_round_output_total_matches_published_master(spark, env):
    """RunReport.output_total and the finish_run row's
    output_total_amount both equal DuckDB's sum(total_amount) over the
    published master's files."""
    report, finish = _reconcile_round(spark, env)
    files = glob.glob(os.path.join(env[1], current_version(env[1]), "*.parquet"))
    want = duckdb.connect().execute(
        "SELECT sum(total_amount) FROM read_parquet(?)", [files]).fetchone()[0]
    assert want == Decimal(132)                     # M-1 100 + P-1 20 + Q-1 5 + S-1 7
    assert Decimal(report.output_total) == want
    assert Decimal(finish.output_total_amount) == want


def test_round_source_total_matches_committed_valid_rows(spark, env):
    """RunReport.source_total and the finish_run row's
    source_total_amount both equal DuckDB's sum(total_amount) over the
    valid, in-file-deduped rows of the files the round COMPLETED (f2
    and f3; f1 failed reconciliation)."""
    report, finish = _reconcile_round(spark, env)
    done = [r.file_name for r in env[0].table("file_log").filter(
        (F.col("status") == "COMPLETED") & (F.col("file_name") != "m.xlsx")).collect()]
    assert sorted(done) == ["f2.xlsx", "f3.xlsx"]
    con = duckdb.connect()
    con.execute("CREATE TABLE inbox (source_file VARCHAR, row_idx BIGINT, "
                "invoice_number VARCHAR, reference_number VARCHAR, carrier_name VARCHAR, "
                "net_amount DECIMAL(18,2), tax_amount DECIMAL(18,2), total_amount DECIMAL(18,2))")
    con.executemany("INSERT INTO inbox VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
                    [(name, *r) for name, rows in RECONCILE_ROUND for r in rows])
    want = con.execute("""
SELECT sum(total_amount) FROM (SELECT *, row_number() OVER (
    PARTITION BY source_file, invoice_number, reference_number ORDER BY row_idx) AS k
  FROM inbox WHERE list_contains(?, source_file) AND """ + VALID_SQL + """)
WHERE k = 1""", [done]).fetchone()[0]
    assert want == Decimal(132)                     # f2: 20 + 5, f3: 7 + 100
    assert Decimal(report.source_total) == want
    assert Decimal(finish.source_total_amount) == want


def test_publish_crash_then_rerun_reprocesses(spark, env, monkeypatch):
    """A file is done only once the version holding it is published: a
    run whose publish raises logs the file ERROR, and the re-run
    processes it again."""
    audit, base = env
    consolidate(spark, [("a.xlsx", "t1", _file(spark, A_ROWS))], base, audit)

    def crash(*args, **kwargs):
        raise RuntimeError("disk full")

    monkeypatch.setattr(consolidation, "publish", crash)
    report = consolidate(spark, [("b.xlsx", "t1", _file(spark, B_ROWS))], base, audit)
    assert report.status == "ERROR" and report.files_error == 1 and report.files_ok == 0
    monkeypatch.undo()

    report = consolidate(spark, [("b.xlsx", "t1", _file(spark, B_ROWS))], base, audit)
    assert report.status == "SUCCESS" and report.files_skipped == 0
    master, per_file = _oracle([("a.xlsx", A_ROWS), ("b.xlsx", B_ROWS)])
    assert report.inserted == per_file["b.xlsx"]
    assert _master(spark, base) == master
    assert _completed_inserts(audit) == per_file


def test_overlapping_runs_conflict_then_converge(spark, env, monkeypatch):
    """Two runs start from one published version; the second to
    publish gets a compare-and-swap conflict (status ERROR) instead of
    silently dropping the first one's rows, and its re-run converges."""
    audit, base = env
    consolidate(spark, [("a.xlsx", "t1", _file(spark, A_ROWS))], base, audit)
    real_publish = consolidation.publish

    def overlapped(df, base_, **kwargs):
        # the other run, started from the same version, publishes first
        monkeypatch.setattr(consolidation, "publish", real_publish)
        other = consolidate(spark, [("b.xlsx", "t1", _file(spark, B_ROWS))], base, audit)
        assert other.status == "SUCCESS"
        return real_publish(df, base_, **kwargs)

    monkeypatch.setattr(consolidation, "publish", overlapped)
    report = consolidate(spark, [("c.xlsx", "t1", _file(spark, C_ROWS))], base, audit)
    assert report.status == "ERROR" and report.files_ok == 0
    assert PublishConflictError.__name__ in report.messages[-1]

    report = consolidate(spark, [("c.xlsx", "t1", _file(spark, C_ROWS))], base, audit)
    assert report.status == "SUCCESS"
    master, per_file = _oracle([("a.xlsx", A_ROWS), ("b.xlsx", B_ROWS), ("c.xlsx", C_ROWS)])
    assert _master(spark, base) == master
    assert _completed_inserts(audit) == per_file


def test_row_error_fails_only_its_file(spark, env):
    """A file whose rows raise at run time (here an amount that
    overflows decimal(12,2) under ANSI casts) is logged ERROR alone;
    the other files of the round are still published."""
    audit, base = env
    huge = [(0, "H-1", "R-1", "TransCo", 1e10, 0.0, 1e10)]
    inbox = [("a.xlsx", A_ROWS), ("huge.xlsx", huge), ("c.xlsx", C_ROWS)]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        report = consolidate(spark, [(n, "t1", _file(spark, r)) for n, r in inbox], base, audit)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert report.status == "PARTIAL"
    assert (report.files_ok, report.files_error) == (2, 1)
    assert len(report.messages) == 1 and report.messages[0].startswith("huge.xlsx: ")
    status = {r.file_name: r.status for r in audit.table("file_log").collect()}
    assert status == {"a.xlsx": "COMPLETED", "huge.xlsx": "ERROR", "c.xlsx": "COMPLETED"}
    master, per_file = _oracle([("a.xlsx", A_ROWS), ("c.xlsx", C_ROWS)])
    assert _master(spark, base) == master
    assert _completed_inserts(audit) == per_file


def test_repeated_file_in_round(spark, env):
    """A file listed twice (same name and modified time) once a version
    exists is skipped after its first copy completes, and processed
    again after its first copy fails — as a per-file loop's J5 probe."""
    audit, base = env
    seed = [(0, "M-1", "R-1", "TransCo", 100.0, 0.0, 100.0)]
    consolidate(spark, [("m.xlsx", "t0", _file(spark, seed))], base, audit)
    bad = [(0, "M-1", "R-1", "TransCo", 150.0, 0.0, 150.0)]  # master PK, total +50
    inbox = [("bad.xlsx", bad), ("a.xlsx", A_ROWS), ("bad.xlsx", bad), ("a.xlsx", A_ROWS)]
    report = consolidate(spark, [(n, "t1", _file(spark, r)) for n, r in inbox], base, audit)
    assert report.status == "PARTIAL"
    assert (report.files_ok, report.files_error, report.files_skipped) == (1, 2, 1)
    assert (report.inserted, report.total_records) == (2, 2)
    fl = audit.table("file_log").filter(F.col("file_name") != "m.xlsx")
    assert sorted((r.file_name, r.status) for r in fl.collect()) == [
        ("a.xlsx", "COMPLETED"), ("bad.xlsx", "ERROR"), ("bad.xlsx", "ERROR")]
    assert _completed_inserts(audit) == {"m.xlsx": 1, "a.xlsx": 2}


def test_corrupt_workbook_fails_alone(spark, tmp_path, perfbench_workloads):
    """A truncated workbook between two good ones (the benchmark's
    generated inbox) is logged ERROR as unreadable; the other two
    files commit, and the master and their record_log counts equal the
    benchmark's DuckDB ingest oracle over the good files."""
    wl = perfbench_workloads.IngestWorkload(str(tmp_path / "bench"), seed=7, sf=0.001,
                                            n_files=2, rows_per_file=40, master_rows=100)
    wl.generate()
    wl.prepare(spark)
    good = [os.path.basename(p) for p in wl.inbox.files]
    bad = "invoices-0000-truncated.xlsx"
    with open(wl.inbox.files[0], "rb") as src, open(os.path.join(wl.inbox_dir, bad), "wb") as dst:
        content = src.read()
        dst.write(content[: len(content) // 2])
    audit = AuditWriter(spark, str(tmp_path / "audit"))
    report = consolidate_inbox(spark, wl.inbox_dir, wl.template, audit)

    assert report.status == "PARTIAL"
    assert (report.files_ok, report.files_error) == (2, 1)
    fl = {r.file_name: r for r in audit.table("file_log").collect()}
    assert fl[bad].status == "ERROR"
    assert fl[bad].error_message.startswith("unreadable workbook: ")
    assert [fl[n].status for n in good] == ["COMPLETED", "COMPLETED"]

    truth = wl._oracle(len(good))
    out = read_published(spark, wl.template)
    assert tuple(out.agg(F.count(F.lit(1)), F.sum("total_amount")).collect()[0]) == (
        truth["n"], truth["total"])
    assert {tuple(r) for r in out.select("invoice_number", "reference_number").collect()} == (
        truth["pks"])
    log = audit.table("record_log").join(audit.table("file_log"), "file_log_id")
    counts = dict(((f, a), c) for f, a, c in log.groupBy("file_name", "action").count().collect())
    assert {n: [counts.get((n, "INSERT"), 0), counts.get((n, "VALIDATION_ERROR"), 0)]
            for n in good} == truth["per_file"]


def test_inbox_skips_hidden_and_temp_files(spark, env, tmp_path):
    """An editor's lock file (``.~lock.xlsx``) and a half-copied temp
    file (``_tmp.xlsx``) in the inbox hold corrupt bytes: the round
    reads only the two real workbooks and succeeds."""
    from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

    audit, base = env
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    header = ["N° Factura", "N° Referencia", "Transportista",
              "Monto Neto", "IVA", "Monto Total", "Fecha Factura"]
    for name, inv in (("a.xlsx", "F-A"), ("b.xlsx", "F-B")):
        grid = [[None] * 7 for _ in range(10)]
        grid += [header, [inv, "R-1", "Car", "100", "19", "119", "2026-02-15"]]
        write_xlsx(str(inbox / name), {"Hoja1": grid})
    for name in ("_tmp.xlsx", ".~lock.xlsx"):
        (inbox / name).write_bytes(b"PK\x03\x04 not a workbook")

    report = consolidate_inbox(spark, str(inbox), base, audit)
    assert report.status == "SUCCESS"
    assert (report.files_ok, report.files_error, report.inserted) == (2, 0, 2)
    assert sorted((r.file_name, r.status) for r in audit.table("file_log").collect()) == [
        ("a.xlsx", "COMPLETED"), ("b.xlsx", "COMPLETED")]

"""End-to-end: the reference's ENTIRE workflow from real XLSX files,
through the program entry point ``consolidate_inbox`` — distributed
raw-grid scan → set-based extraction (format detection, header
discovery, parsing, error channel) → per-file consolidation
(validation, dedup, insert-only upsert, reconciliation, audit) →
staged atomic publish."""

from smartbots_etl_facturas_spark.plans.consolidation import consolidate_inbox
from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files
from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
from smartbots_etl_facturas_spark.sinks.staged import read_published
from smartbots_etl_facturas_spark.sources.xlsx import (
    read_xlsx_grid_distributed,
    write_xlsx,
)


def _simple_workbook(path, rows):
    grid = [[None] * 7 for _ in range(10)]
    grid.append(["N° Factura", "N° Referencia", "Transportista",
                 "Monto Neto", "IVA", "Monto Total", "Fecha Factura"])
    grid.extend(rows)
    write_xlsx(str(path), {"Hoja1": grid})


def test_xlsx_to_published_consolidated(spark, tmp_path):
    src = tmp_path / "inbox"
    src.mkdir()
    _simple_workbook(src / "f1.xlsx", [
        ["F-1", "R-1", "CarA", "1000", "190", "1190", "2026-02-15"],
        ["F-2", "R-2", "CarB", "200", "38", "238", "2026-02-15"],
        ["F-9", "R-9", "CarX", "oops", "0", "1", "2026-02-15"],   # money error
    ])
    _simple_workbook(src / "f2.xlsx", [
        ["F-2", "R-2", "CarB", "200", "38", "238", "2026-02-15"],  # re-sent PK
        ["F-3", "R-3", "CarC", "50", "9", "59", "16/02/2026"],
    ])

    _simple_workbook(src / "f3.xlsx", [
        ["F-8", "R-8", "CarX", "1", "0", "1", "never"],          # its only row errs
    ])

    raw = read_xlsx_grid_distributed(spark, str(src / "*.xlsx"), n_cols=9)
    _valid, errors = extract_invoice_files(raw)

    # extraction: error rows captured, not silently dropped
    errs = sorted((r.source_file.rsplit("/", 1)[-1], r.error) for r in errors.collect())
    assert [f for f, _ in errs] == ["f1.xlsx", "f3.xlsx"]
    assert "Monto Neto" in errs[0][1] and "date" in errs[1][1]

    # the program entry point: one round over the inbox, file by file
    base = str(tmp_path / "consolidated")
    audit = AuditWriter(spark, str(tmp_path / "audit"))
    report = consolidate_inbox(spark, str(src), base, audit)
    assert report.status == "SUCCESS"
    assert report.files_ok == 3 and report.inserted == 3   # F-2 re-send skipped
    # a file with no valid row is still a file of the round
    fl = {r.file_name: r for r in audit.table("file_log").collect()}
    assert (fl["f3.xlsx"].status, fl["f3.xlsx"].rows_total) == ("COMPLETED", 0)

    out = {r.invoice_number: r for r in read_published(spark, base).collect()}
    assert set(out) == {"F-1", "F-2", "F-3"}
    assert float(out["F-1"].total_amount) == 1190.0
    assert out["F-2"].source_file == "f1.xlsx"             # first file won the PK

    # re-run over the same inbox: idempotency (J5) skips every file
    report2 = consolidate_inbox(spark, str(src), base, audit)
    assert report2.files_skipped == 3 and report2.inserted == 0
    assert read_published(spark, base).count() == 3

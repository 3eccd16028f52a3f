"""Composed mixed/simple extraction plan (plans/extract.py) — runtime
format detection + both layout paths + the error side-channel."""

import datetime

from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files

MIXED_SCHEMA = "row_idx long, " + ", ".join(f"c{i} string" for i in range(9))
SIMPLE_SCHEMA = "row_idx long, " + ", ".join(f"c{i} string" for i in range(7))


def _mixed_sheet(spark):
    rows = [
        (0, None, None, None, None, None, None, None, None, None),
        (1, None, None, None, None, None, None, None, None, None),
        (2, None, None, None, None, None, None, "15-02-2026", None, None),
        (3, None, None, None, None, None, "Aprobado por: J", None, None, None),
        (4, None, None, None, None, None, None, None, None, None),
        (5, None, None, "TransCo", None, None, None, None, "MV Ship", None),
        (6, None, None, None, None, None, None, None, "Puerto", None),
        (7, None, None, "F-1", None, None, None, None, None, None),
        (8, None, None, None, None, None, None, None, None, None),
        (9, "Fecha Servicio", "Órdenes de Embarque", "Guías de Despacho",
         "Flete ($)", "Porteo ($)", "Total Servicio ($)", "Observaciones",
         None, None),
        (10, "01-02-2026", "OE-1", "GD-1", "100", "5", None, "o1", None, None),
        (11, "02-02-2026", "OE-2", "GD-2", "50", None, "999", "o2", None, None),
        (12, "x", "OE-9", None, None, None, "1", "TOTAL GENERAL", None, None),
        (13, "x", "", "GD-4", "7", None, None, None, None, None),
        (14, None, None, None, None, None, None, None, None, None),
        (15, "x", "OE-3", "GD-5", "bad$money$x", None, None, None, None, None),
    ]
    return spark.createDataFrame(rows, MIXED_SCHEMA)


def _simple_sheet(spark):
    rows = (
        [(0, "Titulo", None, None, None, None, None, None)]
        + [(i, None, None, None, None, None, None, None) for i in range(1, 10)]
        + [
            (10, "N° Factura", "N° Referencia", "Transportista", "Monto Neto",
             "IVA", "Monto Total", "Fecha Factura"),
            (11, "F-10", "R-1", "CarA", "1000", "190", "1190", "2026-02-15"),
            (12, "F-11", "", "CarB", "2000", "380", "2380", "16/02/2026"),
            (13, "F-12", "R-3", "CarC", "no", "0", "10", "15-02-2026"),
            (14, "F-13", "R-4", "CarD", "10", "1", "11", "nope"),
            (15, "", None, None, None, None, None, None),
            (16, "F-15", "R-6", "CarE", "5", "1", "6", "15-02-2026"),
        ]
    )
    return spark.createDataFrame(rows, SIMPLE_SCHEMA)


def _extract_one(sheet, name):
    return extract_invoice_files(sheet.select(F.lit(name).alias("source_file"), "*"))


def test_mixed_detection_and_extraction(spark):
    valid, errors = _extract_one(_mixed_sheet(spark), "m.xlsx")
    rows = {r.row_idx: r for r in valid.collect()}
    # P7 dropped 12 (TOTAL keyword), P6 dropped 13 (blank ordenes),
    # P5 dropped 14 (all-null), error channel took 15
    assert sorted(rows) == [10, 11]
    r10, r11 = rows[10], rows[11]
    # fixed cells broadcast onto every detail row
    assert r10.invoice_number == "F-1" and r10.carrier_name == "TransCo"
    assert r10.ship_name == "MV Ship"
    assert r10.invoice_date == datetime.date(2026, 2, 15)
    # A6: no explicit total → component sum; explicit total wins
    assert float(r10.total_amount) == 105.0
    assert float(r11.total_amount) == 999.0
    assert float(r10.tax_amount) == 0.0
    errs = errors.collect()
    assert [(e.row_idx, "Flete" in e.error) for e in errs] == [(15, True)]
    assert errs[0].source_file == "m.xlsx"


def test_simple_detection_and_extraction(spark):
    valid, errors = _extract_one(_simple_sheet(spark), "s.xlsx")
    rows = {r.row_idx: r for r in valid.collect()}
    # take-while stopped at 15 (blank invoice) → 16 never extracted;
    # 13 (money) and 14 (date) went to the error channel
    assert sorted(rows) == [11, 12]
    assert rows[11].invoice_number == "F-10"
    assert rows[11].reference_number == "R-1"
    assert rows[12].reference_number == "N/A"          # blank → N/A
    assert float(rows[11].net_amount) == 1000.0
    assert rows[12].invoice_date == datetime.date(2026, 2, 16)
    assert rows[11].currency == "CLP"                  # Moneda column absent
    errs = {e.row_idx: e.error for e in errors.collect()}
    assert set(errs) == {13, 14}
    assert "Monto Neto" in errs[13]
    assert "date" in errs[14]


def test_simple_header_discovered_above_fallback_row(spark):
    """S4 away from the fallback row: a simple sheet whose header sits
    at row 4 extracts rows 5+ (with the fallback header at row 10 it
    would extract nothing). It stops at row 6: a carrier at row 7 too
    would fill both C6 and C8 and make the sheet MIXED."""
    blank = (None,) * 7
    rows = [
        (0, "Reporte Mensual", *blank[1:]),
        (1, *blank),
        (2, "Empresa:", "ACME Logistics", *blank[2:]),
        (3, *blank),
        (4, "N° Factura", "N° Referencia", "Transportista", "Monto Neto",
         "IVA", "Monto Total", "Fecha Factura"),
        (5, "F-20", "R-1", "CarA", "100", "19", "119", "2026-02-15"),
        (6, "F-21", "R-2", "CarB", "200", "38", "238", "16/02/2026"),
    ]
    valid, errors = _extract_one(spark.createDataFrame(rows, SIMPLE_SCHEMA), "h4.xlsx")
    got = sorted((r.row_idx, r.invoice_number, r.carrier_name, float(r.total_amount))
                 for r in valid.collect())
    assert got == [(5, "F-20", "CarA", 119.0), (6, "F-21", "CarB", 238.0)]
    assert errors.count() == 0


def test_simple_sheet_missing_invoice_column(spark):
    """No recognizable header → discovery falls back to row 11; a grid
    whose fallback header lacks 'N° Factura' yields empty outputs, not
    a crash (the reference returns [] when nothing extracts)."""
    rows = [(i, None, None) for i in range(12)] + [(12, "a", "b")]
    raw = spark.createDataFrame(rows, "row_idx long, c0 string, c1 string")
    valid, errors = _extract_one(raw, "x.xlsx")
    assert valid.count() == 0
    assert errors.count() == 0


def test_mixed_bad_fixed_date_errors_every_row(spark):
    """A bad G3 fixed date errors EVERY surviving detail row, mirroring
    the reference's per-record _parse_date raise."""
    sheet = _mixed_sheet(spark)
    bad = spark.createDataFrame(
        [(r.row_idx, r.c0, r.c1, r.c2, r.c3, r.c4, r.c5,
          ("never-a-date" if r.row_idx == 2 else r.c6), r.c7, r.c8)
         for r in sheet.collect()],
        MIXED_SCHEMA,
    )
    valid, errors = _extract_one(bad, "bad.xlsx")
    assert valid.count() == 0
    errs = {r.row_idx: r.error for r in errors.collect()}
    assert sorted(errs) == [10, 11, 15]                # every surviving row
    assert "date" in errs[10] and "date" in errs[11]
    # row 15's money error wins the message (the reference's pydantic
    # coercion raises before the date parse is ever reached)
    assert "Flete" in errs[15]


def test_extract_matches_duckdb_oracle(spark, sf_dir):
    """The extract over the two golden sheets (one mixed-layout, one
    simple-layout, as one union grid) must equal its DuckDB oracle SQL
    row for row — valid rows and the error side-channel — including
    per-file format detection, header discovery and take-while."""
    import __spark_entry__ as entry
    from scripts.check_parity import compare

    queries, oracle = entry.queries(), entry.oracle_sql()
    for name in ("invoice_extract_golden", "invoice_extract_errors"):
        problems = compare(name, spark, queries[name], oracle[name], sf_dir, verbose=False)
        assert not problems, (name, problems)


def test_multi_file_extract_from_distributed_xlsx(spark, tmp_path):
    """End-to-end 100TB shape: write real XLSX workbooks, scan them
    with the binaryFile raw-grid reader (parse on executors), extract
    with the set-based multi-file plan — one Catalyst plan, no
    driver-side per-file work."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        read_xlsx_grid_distributed,
        write_xlsx,
    )

    # simple-layout workbook ×2 (header at row 11 per the reference)
    for fname, inv in (("a.xlsx", "F-A"), ("b.xlsx", "F-B")):
        grid = [[None] * 7 for _ in range(10)]
        grid.append(["N° Factura", "N° Referencia", "Transportista",
                     "Monto Neto", "IVA", "Monto Total", "Fecha Factura"])
        grid.append([inv, "R-1", "Car", "100", "19", "119", "2026-02-15"])
        write_xlsx(str(tmp_path / fname), {"Hoja1": grid})

    raw = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=9)
    valid, errors = extract_invoice_files(raw)
    rows = {r.invoice_number: r for r in valid.collect()}
    assert set(rows) == {"F-A", "F-B"}
    assert all(float(r.total_amount) == 119.0 for r in rows.values())
    assert errors.count() == 0


def test_multi_file_duplicate_headers_first_wins(spark):
    """A sheet with two identical header names must NOT abort the
    multi-file job (map_from_entries would throw under the default
    EXCEPTION dedup policy); the left-most column wins."""

    simple = _simple_sheet(spark)
    # duplicate the 'Monto Neto' header into c5 (was 'Monto Total')
    dup = spark.createDataFrame(
        [(r.row_idx, r.c0, r.c1, r.c2, r.c3, r.c4,
          ("Monto Neto" if r.row_idx == 10 else r.c5), r.c6)
         for r in simple.collect()],
        SIMPLE_SCHEMA,
    )
    multi = dup.select(F.lit("dup.xlsx").alias("source_file"), "*")
    valid, errors = extract_invoice_files(multi)
    rows = {r.row_idx: r for r in valid.collect()}
    assert sorted(rows) == [11, 12]
    # left-most duplicate (c3) wins: net 1000, total falls back to 0
    assert float(rows[11].net_amount) == 1000.0
    assert float(rows[11].total_amount) == 0.0


def test_multi_file_summary_keyword_in_unheadered_column(spark):
    """P7 must scan ALL columns, including cells under a blank header
    — the reference's every-value keyword scan."""
    mixed = _mixed_sheet(spark)
    # put a summary keyword into unheadered c7 of data row 10
    edited = spark.createDataFrame(
        [(r.row_idx, r.c0, r.c1, r.c2, r.c3, r.c4, r.c5, r.c6,
          ("TOTAL NETO" if r.row_idx == 10 else r.c7), r.c8)
         for r in mixed.collect()],
        MIXED_SCHEMA,
    )
    rows = sorted(r.row_idx for r in _extract_one(edited, "e.xlsx")[0].collect())
    assert rows == [11]                                 # row 10 dropped


def test_excel_serial_date_accepted(spark):
    """Date-styled numeric cells surface as serial strings from the
    stdlib codec — the extractor must decode them (F3 fallback)."""
    import datetime

    simple = _simple_sheet(spark)
    serial = spark.createDataFrame(
        [(r.row_idx, r.c0, r.c1, r.c2, r.c3, r.c4, r.c5,
          ("46068" if r.row_idx == 11 else r.c6), )  # 2026-02-15
         for r in simple.collect()],
        SIMPLE_SCHEMA,
    )
    valid, _ = _extract_one(serial, "ser.xlsx")
    rows = {r.row_idx: r for r in valid.collect()}
    assert rows[11].invoice_date == datetime.date(2026, 2, 15)


def test_extract_parses_inbox_once(spark, tmp_path, perfbench_workloads):
    """extract_invoice_files materializes the parsed grid and the
    assembled rows, so a per-file filter over ``valid`` carries no
    Python-eval node: an action on it does not parse the workbooks
    again."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        read_xlsx_grid_distributed,
        write_xlsx,
    )

    for fname, inv in (("a.xlsx", "F-A"), ("b.xlsx", "F-B")):
        grid = [[None] * 7 for _ in range(10)]
        grid.append(["N° Factura", "N° Referencia", "Transportista",
                     "Monto Neto", "IVA", "Monto Total", "Fecha Factura"])
        grid.append([inv, "R-1", "Car", "100", "19", "119", "2026-02-15"])
        write_xlsx(str(tmp_path / fname), {"Hoja1": grid})

    raw = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=9)
    raw = raw.withColumn("source_file", F.element_at(F.split("source_file", "/"), -1))
    assert perfbench_workloads.python_nodes(raw) > 0    # the parse itself
    valid, _errors = extract_invoice_files(raw)
    for name, inv in (("a.xlsx", "F-A"), ("b.xlsx", "F-B")):
        frame = valid.filter(F.col("source_file") == name)
        assert [r.invoice_number for r in frame.collect()] == [inv]
        assert perfbench_workloads.python_nodes(frame) == 0


def test_unreadable_marker_goes_to_errors(spark):
    """A reader's marker row (row_idx -1, c0 = the parse error) becomes
    one ``unreadable workbook`` error row; it yields no valid row and
    leaves the other files' detection and extraction unchanged."""

    mixed, simple = _mixed_sheet(spark), _simple_sheet(spark)
    simple9 = simple.select(
        "*", F.lit(None).cast("string").alias("c7"), F.lit(None).cast("string").alias("c8")
    )
    multi = (
        mixed.select(F.lit("m.xlsx").alias("source_file"), "*")
        .unionByName(simple9.select(F.lit("s.xlsx").alias("source_file"), "*"))
    )
    marker = spark.createDataFrame(
        [("bad.xlsx", -1, "BadZipFile: File is not a zip file") + (None,) * 8],
        "source_file string, " + MIXED_SCHEMA,
    )
    want_valid, want_errors = extract_invoice_files(multi)
    got_valid, got_errors = extract_invoice_files(multi.unionByName(marker))

    def rows(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    assert rows(got_valid) == rows(want_valid)
    assert rows(got_errors) == sorted(rows(want_errors) + [
        ("bad.xlsx", "-1", "unreadable workbook: BadZipFile: File is not a zip file")])

"""Distributed XLSX ingestion (S1/S2): stdlib OOXML codec + binaryFile
+ mapInPandas executor-side parse, vs the driver-side codec."""

from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.sources.xlsx import (
    parse_xlsx_grid,
    read_xlsx_grid_distributed,
    write_xlsx,
)

ROWS_A = [
    ["invoice_number", "carrier", "total"],
    ["F-001", "ACME", 1500],
    ["F-002", "TRANSPORTES LTDA", 2500.5],
    [None, None, None],           # sparse row (dropped cells)
    ["F-003", "ACME", 99],
]
ROWS_B = [
    ["invoice_number", "carrier", "total"],
    ["G-001", "NIPPON", 7],
]
ROWS_C = [
    ["invoice_number", "carrier", "total"],
    ["H-001", "söñé & <cia>", 0.25],
    ["H-002", "ACME", True],
]


def _write_three(tmp_path):
    write_xlsx(tmp_path / "a.xlsx", ROWS_A)
    write_xlsx(tmp_path / "b.xlsx", ROWS_B, use_shared_strings=True)
    write_xlsx(tmp_path / "c.xlsx", ROWS_C)
    return [tmp_path / n for n in ("a.xlsx", "b.xlsx", "c.xlsx")]


def _rows(df):
    return sorted((r.source_file.split("/")[-1], r.row_idx, *r[2:]) for r in df.collect())


def test_grid_roundtrip(tmp_path):
    p = tmp_path / "g.xlsx"
    write_xlsx(p, ROWS_A)
    grid = parse_xlsx_grid(p.read_bytes())
    assert grid[0] == ["invoice_number", "carrier", "total"]
    assert grid[1] == ["F-001", "ACME", "1500"]
    assert grid[2] == ["F-002", "TRANSPORTES LTDA", "2500.5"]
    assert grid[3] == [None, None, None]


def test_shared_strings_and_escaping(tmp_path):
    p = tmp_path / "s.xlsx"
    write_xlsx(p, ROWS_C, use_shared_strings=True)
    grid = parse_xlsx_grid(p.read_bytes())
    assert grid[1][1] == "söñé & <cia>"
    assert grid[2][2] == "TRUE"


def test_multi_sheet_resolution(spark, tmp_path):
    p = tmp_path / "m.xlsx"
    write_xlsx(p, {"Datos": ROWS_B, "Resumen": ROWS_A})
    assert len(parse_xlsx_grid(p.read_bytes(), sheet_name="Resumen")) == 5
    assert len(parse_xlsx_grid(p.read_bytes(), sheet_name=1)) == 5
    assert len(parse_xlsx_grid(p.read_bytes(), sheet_name=0)) == 2
    # reference S2 fallback: unknown sheet (by name or index) -> first sheet
    assert len(parse_xlsx_grid(p.read_bytes(), sheet_name="NoExiste")) == 2
    assert len(parse_xlsx_grid(p.read_bytes(), sheet_name=7)) == 2
    by_name = read_xlsx_grid_distributed(spark, str(p), n_cols=3, sheet_name="Resumen")
    assert [r.c0 for r in by_name.orderBy("row_idx").collect()] == [
        "invoice_number", "F-001", "F-002", None, "F-003"]
    fallback = read_xlsx_grid_distributed(spark, str(p), n_cols=3, sheet_name="NoExiste")
    assert [r.c0 for r in fallback.orderBy("row_idx").collect()] == ["invoice_number", "G-001"]


def test_distributed_matches_driver_codec_row_for_row(spark, tmp_path):
    paths = _write_three(tmp_path)
    dist = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=3)
    expected = sorted(
        (p.name, ri, *row)
        for p in paths
        for ri, row in enumerate(parse_xlsx_grid(p.read_bytes()))
    )
    assert _rows(dist) == expected
    assert len(expected) == 5 + 2 + 3


def test_distributed_row_idx_restarts_per_file(spark, tmp_path):
    _write_three(tmp_path)
    dist = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=3)
    mins = dist.groupBy("source_file").agg(F.min("row_idx").alias("lo")).collect()
    assert len(mins) == 3 and all(r["lo"] == 0 for r in mins)


def test_directory_load_row_idx_restarts_per_file(spark, tmp_path):
    """Loading the inbox directory (not a glob) numbers each file's
    rows 0..n-1 on its own."""
    paths = _write_three(tmp_path)
    dist = read_xlsx_grid_distributed(spark, str(tmp_path), n_cols=3)
    got = {}
    for name, ri, *_ in _rows(dist):
        got.setdefault(name, []).append(ri)
    assert got == {
        p.name: list(range(len(parse_xlsx_grid(p.read_bytes())))) for p in paths
    }


def test_distributed_runs_in_executors_not_driver(spark, tmp_path):
    """The plan must be a binaryFile scan + ArrowEvalPython-style map,
    with no driver-side collect: assert lazily-built DataFrame exposes
    the mapInPandas node and only materializes on action."""
    _write_three(tmp_path)
    df = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert df.count() == 10


def test_corrupt_workbook_marker_row(spark, tmp_path):
    """A workbook that does not parse is one marker row (row_idx -1,
    c0 = the error); the good files' rows are unchanged."""
    _write_three(tmp_path)
    (tmp_path / "bad.xlsx").write_bytes((tmp_path / "a.xlsx").read_bytes()[:100])
    rows = _rows(read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=3))
    bad = [r for r in rows if r[0] == "bad.xlsx"]
    assert bad == [("bad.xlsx", -1, "BadZipFile: File is not a zip file", None, None)]
    assert [r for r in rows if r[0] != "bad.xlsx"] == _rows(
        read_xlsx_grid_distributed(spark, str(tmp_path / "[abc].xlsx"), n_cols=3))


def test_error_and_date_typed_cells_do_not_crash():
    """t="e" (formula error) and t="d" (ISO date) cells must survive
    the stdlib codec as text, not kill a distributed scan."""
    import io
    import zipfile

    from smartbots_etl_facturas_spark.sources.xlsx import parse_xlsx_grid, write_xlsx
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.xlsx")
        write_xlsx(p, {"Hoja1": [["a", "1"]]})
        blob = open(p, "rb").read()
    # splice error- and date-typed cells into the sheet XML
    buf = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(blob)) as zin, zipfile.ZipFile(buf, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item.endswith("sheet1.xml"):
                data = data.replace(
                    b"</sheetData>",
                    b'<row r="2"><c r="A2" t="e"><v>#DIV/0!</v></c>'
                    b'<c r="B2" t="d"><v>2026-02-15</v></c></row></sheetData>',
                )
            zout.writestr(item, data)
    grid = parse_xlsx_grid(buf.getvalue())
    assert grid[1] == ["#DIV/0!", "2026-02-15"]


def test_distributed_scan_skips_blank_workbook(spark, tmp_path):
    """One blank workbook among good ones yields zero rows and does
    not abort the scan."""
    write_xlsx(str(tmp_path / "ok.xlsx"), {"Hoja1": [["A", "B"], ["1", "2"]]})
    write_xlsx(str(tmp_path / "blank.xlsx"), {"Hoja1": []})
    out = read_xlsx_grid_distributed(spark, str(tmp_path / "*.xlsx"), n_cols=2)
    assert _rows(out) == [("ok.xlsx", 0, "A", "B"), ("ok.xlsx", 1, "1", "2")]


# --- S8 presentation fidelity: per-column number formats --------------------

from smartbots_etl_facturas_spark.sources.xlsx import read_column_formats  # noqa: E402


def test_column_formats_roundtrip(tmp_path):
    """The reference pins per-column number formats
    (excel_handler.py:17-36); write_xlsx must carry them through
    styles.xml and read_column_formats must recover the exact codes."""
    path = str(tmp_path / "fmt.xlsx")
    fmts = {
        0: "0",
        2: r'_ "$"* #,##0_ ;_ "$"* \-#,##0_ ;_ "$"* "-"_ ;_ @_ ',
        3: "dd/mm/yyyy",
    }
    rows = [
        ["invoice", "carrier", "total", "issued"],
        [1001, "ACME", 1500, "2024-01-05"],
        [1002, "BETA", 25, "2024-02-11"],
    ]
    write_xlsx(path, rows, column_formats=fmts)
    assert read_column_formats(path) == fmts


def test_column_formats_header_row_unstyled_and_values_intact(tmp_path, spark):
    path = str(tmp_path / "fmt2.xlsx")
    write_xlsx(
        path,
        [["n", "d"], [7, "2024-03-01"], [8, "2024-03-02"]],
        column_formats={0: "0", 1: "dd/mm/yyyy"},
    )
    # values unchanged by styling — the existing grid reader sees the
    # same canonical strings
    df = read_xlsx_grid_distributed(spark, path, n_cols=2)
    got = sorted((r.row_idx, r.c0, r.c1) for r in df.collect())
    assert got == [
        (0, "n", "d"), (1, "7", "2024-03-01"), (2, "8", "2024-03-02")
    ]
    # header cells carry no style ref: only data rows are formatted
    import zipfile
    from xml.etree import ElementTree as ET

    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    by_row = {}
    for row in sheet.iter(f"{ns}row"):
        by_row[row.get("r")] = [c.get("s") for c in row.iter(f"{ns}c")]
    assert by_row["1"] == [None, None]
    assert all(s is not None for s in by_row["2"])


def test_no_formats_means_no_styles_part(tmp_path):
    path = str(tmp_path / "plain.xlsx")
    write_xlsx(path, [["a"], ["1"]])
    import zipfile

    with zipfile.ZipFile(path) as zf:
        assert "xl/styles.xml" not in zf.namelist()
    assert read_column_formats(path) == {}


# --- S8 remainder: template-preserving in-place append ----------------------

def _styled_template_with_image(path):
    """A styled workbook with an embedded image part + drawing rels —
    built with write_xlsx then augmented with the media/drawing
    members a real template carries (content is what matters for the
    byte-identity assertions; a real PNG is not required for the
    archive surgery under test)."""
    import zipfile

    from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

    write_xlsx(
        path,
        [["id", "name", "amount"], [1, "alpha", 10.5], [2, "beta", 20.25]],
        column_formats={0: "0", 2: "#,##0.00"},
    )
    fake_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    drawing = (
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<xdr:wsDr xmlns:xdr="http://schemas.openxmlformats.org/'
        b'drawingml/2006/spreadsheetDrawing"/>'
    )
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("xl/media/image1.png", fake_png)
        zf.writestr("xl/drawings/drawing1.xml", drawing)
    return {"xl/media/image1.png": fake_png,
            "xl/drawings/drawing1.xml": drawing}


def test_append_rows_preserves_untouched_members_byte_for_byte(tmp_path):
    import zipfile

    from smartbots_etl_facturas_spark.sources.xlsx import append_rows_xlsx

    p = str(tmp_path / "t.xlsx")
    injected = _styled_template_with_image(p)
    with zipfile.ZipFile(p) as zf:
        before = {i.filename: zf.read(i.filename) for i in zf.infolist()}

    n = append_rows_xlsx(p, [[3, "gamma", 30.75], [4, "delta", 40.0]])
    assert n == 2
    with zipfile.ZipFile(p) as zf:
        after = {i.filename: zf.read(i.filename) for i in zf.infolist()}
    assert set(after) == set(before)
    changed = [f for f in before if after[f] != before[f]]
    assert changed == ["xl/worksheets/sheet1.xml"]
    for f, content in injected.items():
        assert after[f] == content  # images/drawings byte-identical


def test_append_rows_values_and_style_inheritance(tmp_path):
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        read_column_formats,
    )

    p = str(tmp_path / "t.xlsx")
    _styled_template_with_image(p)
    append_rows_xlsx(p, [[3, "gamma", 30.75], [None, "delta", 40.0]])

    grid = parse_xlsx_grid(open(p, "rb").read())
    assert grid[3] == ["3", "gamma", "30.75"]
    assert grid[4] == [None, "delta", "40"] or grid[4] == [None, "delta", "40.0"]
    # number formats still resolve for the appended rows' columns (the
    # appended cells carry the template's s= refs)
    fmts = read_column_formats(p)
    assert fmts[0] == "0" and fmts[2] == "#,##0.00"
    # and the appended numeric cell itself is styled: strip the first
    # data rows and the format must STILL be discoverable from the
    # appended cells alone
    import re
    import zipfile

    with zipfile.ZipFile(p) as zf:
        xml = zf.read("xl/worksheets/sheet1.xml").decode()
    appended = re.search(r'<row r="4">(.*?)</row>', xml).group(1)
    assert 's="' in appended


def test_append_rows_sequential_appends_accumulate(tmp_path):
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, [["h1", "h2"]])
    append_rows_xlsx(p, [["a", 1]])
    append_rows_xlsx(p, [["b", 2], ["c", 3]])
    grid = parse_xlsx_grid(open(p, "rb").read())
    assert grid == [["h1", "h2"], ["a", "1"], ["b", "2"], ["c", "3"]]


def test_append_rows_out_path_leaves_template_intact(tmp_path):
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    src = str(tmp_path / "template.xlsx")
    dst = str(tmp_path / "filled.xlsx")
    write_xlsx(src, [["h"], ["x"]])
    before = open(src, "rb").read()
    append_rows_xlsx(src, [["y"]], out_path=dst)
    assert open(src, "rb").read() == before
    assert parse_xlsx_grid(open(dst, "rb").read()) == [["h"], ["x"], ["y"]]


def _munge_sheet1(path, fn):
    """Rewrite xl/worksheets/sheet1.xml through fn(xml_text)."""
    import zipfile

    with zipfile.ZipFile(path) as zf:
        members = {i.filename: zf.read(i.filename) for i in zf.infolist()}
    members["xl/worksheets/sheet1.xml"] = fn(
        members["xl/worksheets/sheet1.xml"].decode()
    ).encode()
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            zf.writestr(name, data)


def test_append_rows_implied_row_positions(tmp_path):
    """Round-11 ADVICE: OOXML row r= is OPTIONAL (implied sequential
    positions). A template whose writer omits r must append BELOW the
    existing rows, not collide at r=1."""
    import re

    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, [["h1", "h2"], ["a", 1], ["b", 2]])
    # strip every r= from <row> AND cell refs' rows stay (cells keep r=
    # "A1"-style refs; only the row index attribute goes away)
    _munge_sheet1(p, lambda xml: re.sub(r'(<row) r="\d+"', r"\1", xml))
    append_rows_xlsx(p, [["c", 3]])
    grid = parse_xlsx_grid(open(p, "rb").read())
    assert grid == [["h1", "h2"], ["a", "1"], ["b", "2"], ["c", "3"]]


def test_append_rows_sheetdata_with_attributes(tmp_path):
    """The opening <sheetData> tag may legally carry attributes; the
    splice must still find it (and not read it as self-closed)."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, [["h"], ["x"]])
    _munge_sheet1(
        p, lambda xml: xml.replace("<sheetData>", '<sheetData foo="bar">')
    )
    append_rows_xlsx(p, [["y"]])
    grid = parse_xlsx_grid(open(p, "rb").read())
    assert grid == [["h"], ["x"], ["y"]]


def test_append_rows_sheetdata_attr_value_with_slash_gt(tmp_path):
    """Round-11 review: '>' and '/' are legal inside attribute values;
    the tag-end scan must respect quotes or a plain tag reads as
    self-closed and the splice tears the sheet XML."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, [["h"], ["x"]])
    _munge_sheet1(
        p, lambda xml: xml.replace("<sheetData>", '<sheetData foo="a/>b">')
    )
    append_rows_xlsx(p, [["y"]])
    grid = parse_xlsx_grid(open(p, "rb").read())
    assert grid == [["h"], ["x"], ["y"]]


def test_column_alignments_and_header_style_authoring(tmp_path):
    """Round-12: new-workbook STYLE AUTHORING (the last recorded S8
    non-goal) — the alignment half of the reference's COLUMN_FORMATS
    (excel_handler.py:17-36) and the pandas-default bold/bordered
    header row (excel_handler.py:70-72) are authored into styles.xml
    for workbooks never touched by a template; formats+alignments
    compose per column and both round-trip."""
    import zipfile
    from xml.etree import ElementTree as ET

    from smartbots_etl_facturas_spark.sources.xlsx import (
        parse_xlsx_grid,
        read_column_alignments,
        read_column_formats,
        write_xlsx,
    )

    path = str(tmp_path / "styled.xlsx")
    rows = [
        ["N° Factura", "Empresa", "Órdenes de Embarque", "Total"],
        ["123", "ACME", "OE-1", 4500],
        ["456", "Beta", "OE-2", 980],
    ]
    fmts = {0: "0", 3: "#,##0"}
    aligns = {0: "center", 2: "left", 3: "right"}
    write_xlsx(path, rows, column_formats=fmts,
               column_alignments=aligns, header_style=True)
    # values untouched by styling
    grid = parse_xlsx_grid(open(path, "rb").read())
    assert grid[1][0] == "123" and grid[2][3] == "980"
    # both halves round-trip; column 0 carries BOTH format and align
    assert read_column_formats(path) == fmts
    assert read_column_alignments(path) == aligns
    # header xf: bold font + thin border, applied to row 1 cells
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        styles = ET.fromstring(zf.read("xl/styles.xml"))
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    fonts = styles.find(f"{ns}fonts").findall(f"{ns}font")
    assert len(fonts) == 2 and fonts[1].find(f"{ns}b") is not None
    borders = styles.find(f"{ns}borders").findall(f"{ns}border")
    assert len(borders) == 2
    assert borders[1].find(f"{ns}top").get("style") == "thin"
    xfs = styles.find(f"{ns}cellXfs").findall(f"{ns}xf")
    header_s = str(len(xfs) - 1)          # header xf appended last
    assert xfs[-1].get("fontId") == "1" and xfs[-1].get("borderId") == "1"
    row1 = next(r for r in sheet.iter(f"{ns}row") if r.get("r") == "1")
    assert all(c.get("s") == header_s for c in row1.findall(f"{ns}c"))
    # data rows never reference the header xf
    row2 = next(r for r in sheet.iter(f"{ns}row") if r.get("r") == "2")
    assert all(c.get("s") != header_s for c in row2.findall(f"{ns}c"))


def test_alignment_only_and_invalid_alignment(tmp_path):
    from smartbots_etl_facturas_spark.sources.xlsx import (
        read_column_alignments,
        read_column_formats,
        write_xlsx,
    )

    path = str(tmp_path / "a.xlsx")
    write_xlsx(path, [["h"], ["v"]], column_alignments={0: "center"})
    assert read_column_alignments(path) == {0: "center"}
    assert read_column_formats(path) == {}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported alignment"):
        write_xlsx(str(tmp_path / "b.xlsx"), [["h"]],
                   column_alignments={0: "middle"})

"""S1/S2 — distributed XLSX ingestion (the reference's native input
format; official_format_extractor.py:354-453, excel_handler.py:40-59).

The reference reads one workbook at a time on a single process through
an engine fallback chain (fastexcel -> pandas+calamine -> openpyxl).
Here one reader, :func:`read_xlsx_grid_distributed`, replaces the
chain: ``spark.read.format("binaryFile")`` lists and reads the workbook
bytes on EXECUTORS, and ``mapInPandas`` parses each file with a stdlib
zip+XML codec inside an Arrow batch. The driver never touches workbook
content, so ingesting 100k workbooks parallelizes across the cluster
instead of serializing on one pandas loop.

Order invariant: every emitted row carries ``source_file`` and a
0-based per-file ``row_idx`` (sheet row order), feeding the
order-sensitive operators (P8 take-while, U4 first-wins dedup).

XLSX is ECMA-376 OOXML: a zip of XML parts. The stdlib codec reads
``xl/workbook.xml`` (+ its rels) to resolve sheets,
``xl/sharedStrings.xml`` for the shared-string table, and the sheet
XML's ``<row r=..><c r=.. t=..><v>``/``<is>`` cells. Cells are emitted
as strings (typing is the projection layer's job — F1/F2/F3 parse
money/dates/serials downstream).

Scale notes: ``binaryFile`` is non-splittable (one row per workbook —
correct, a zip can't be split); small files are packed into partitions
by ``spark.sql.files.maxPartitionBytes``. Keep that sized so a
partition of workbook payloads fits executor memory.
"""

from __future__ import annotations

import io
import os
import re
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_DOC_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


# ---------------------------------------------------------------------------
# stdlib OOXML codec
# ---------------------------------------------------------------------------

def _col_ord(cell_ref: str) -> int:
    """'BC12' -> 0-based column index (54)."""
    n = 0
    for ch in cell_ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>; concatenate all text nodes
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _resolve_sheet_path(zf: zipfile.ZipFile, sheet_name) -> str:
    """Sheet resolution with the reference's fallback (S2,
    excel_handler.py:147-166: missing sheet -> first sheet)."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target") for rel in rels.findall(f"{_REL_NS}Relationship")
    }
    sheets = []  # (name, target) in workbook order
    for sh in wb.iter(f"{_NS}sheet"):
        target = rid_to_target.get(sh.get(f"{_DOC_REL}id"), "")
        if target.startswith("/"):
            target = target.lstrip("/")
        elif not target.startswith("xl/"):
            target = f"xl/{target}"
        sheets.append((sh.get("name"), target))
    if not sheets:
        raise ValueError("workbook has no sheets")
    if isinstance(sheet_name, int):
        idx = sheet_name if 0 <= sheet_name < len(sheets) else 0
        return sheets[idx][1]
    for name, target in sheets:
        if name == sheet_name:
            return target
    return sheets[0][1]  # reference fallback: first sheet


_INT_RE = re.compile(r"^-?\d+$")


def _cell_str(cell, shared: list[str]) -> str | None:
    """Cell -> canonical string (int-collapsed numerics)."""
    t = cell.get("t", "n")
    if t == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        if is_el is None:
            return None
        return "".join(x.text or "" for x in is_el.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "str":  # cached formula string
        return v.text
    if t == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    if t == "e":  # formula error cell (#DIV/0!, #N/A, ...) — keep the text
        return v.text
    if t == "d":  # ISO-8601 date-typed cell (rare, spec-legal)
        return v.text.strip()
    txt = v.text.strip()
    if _INT_RE.match(txt):
        return txt
    try:
        f = float(txt)
    except ValueError:
        # defensive: a non-spec cell type/value must not kill a
        # 100k-file distributed scan — surface the raw text instead
        return txt
    return str(int(f)) if f.is_integer() else repr(f)


def parse_xlsx_grid(content: bytes, sheet_name=0) -> list[list]:
    """Workbook bytes -> dense row-major grid of canonical-string cells
    (None for empties), stdlib engine. Sheet rows/cells may be sparse
    in the XML (`r` attributes carry position); gaps become None."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(_resolve_sheet_path(zf, sheet_name)))
        rows: dict[int, dict[int, str]] = {}
        max_col = -1
        next_r = 0  # r is OPTIONAL: an attr-less row is implied next
        for row_el in root.iter(f"{_NS}row"):
            rv = row_el.get("r")
            r = int(rv) - 1 if rv is not None else next_r
            next_r = r + 1
            cells: dict[int, str] = {}
            next_ci = 0
            for c in row_el.findall(f"{_NS}c"):
                ref = c.get("r")
                ci = _col_ord(ref) if ref else next_ci
                next_ci = ci + 1
                val = _cell_str(c, shared)
                if val is not None:
                    cells[ci] = val
                    max_col = max(max_col, ci)
            if cells:
                rows[r] = cells
    if not rows:
        return []
    n_rows = max(rows) + 1
    return [
        [rows.get(ri, {}).get(ci) for ci in range(max_col + 1)] for ri in range(n_rows)
    ]


def grid_rows(content: bytes, sheet_name=0) -> list[tuple[int, list]]:
    """Workbook bytes -> ``(row_idx, cells)`` pairs of
    :func:`parse_xlsx_grid`, guarded per workbook: a workbook that does
    not parse yields ONE marker row ``(-1, ["<ExcType>: <msg>"])``
    instead of raising, so one corrupt file cannot fail the scan of
    the others. :func:`read_xlsx_grid_distributed` emits rows through
    here; ``extract_invoice_files`` turns a marker into an
    ``unreadable workbook`` error row."""
    try:
        grid = parse_xlsx_grid(content, sheet_name)
    except Exception as exc:  # noqa: BLE001 - any parse failure is the file's
        return [(-1, [f"{type(exc).__name__}: {exc}"])]
    return list(enumerate(grid))


# ---------------------------------------------------------------------------
# distributed reader
# ---------------------------------------------------------------------------

def read_xlsx_grid_distributed(
    spark,
    path: str | list[str],
    n_cols: int,
    sheet_name=0,
) -> DataFrame:
    """Executor-side RAW-GRID XLSX scan: ``binaryFile`` + per-file
    parse into the positional cell-grid shape
    ``(source_file, row_idx, c0..c{n_cols-1})`` all-string — the input
    contract of :mod:`..plans.extract`. No header row is assumed: header
    DISCOVERY and format DETECTION happen downstream as set-based
    dataflow (``extract_invoice_files``), so many files with different
    layouts go through ONE plan with no driver-side per-file loop.

    ``path`` is a directory, a glob or a list of files. A list skips
    the metadata-directory probe Spark makes for a glob (one failed
    lookup and a logged stack trace per read).

    ``n_cols`` pads/truncates every sheet to a fixed grid width (the
    static schema Spark needs); size it to the widest expected layout.
    ``sheet_name`` picks the sheet by name or 0-based index; an unknown
    one falls back to the first sheet (the reference's S2 rule). A
    workbook that does not parse becomes one marker row
    (``row_idx = -1``, ``c0`` = the error; see :func:`grid_rows`).
    """
    binary = spark.read.format("binaryFile").load(path).select("path", "content")
    schema = T.StructType(
        [T.StructField("source_file", T.StringType(), False),
         T.StructField("row_idx", T.LongType(), False)]
        + [T.StructField(f"c{i}", T.StringType(), True) for i in range(n_cols)]
    )
    # Executor workers may not have the package importable (driver
    # launched from another cwd); inject its root before the import —
    # the local-mode stand-in for shipping the package via --py-files.
    pkg_root = _PKG_ROOT

    def _parse(batches: Iterator) -> Iterator:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        import pandas as pd

        from smartbots_etl_facturas_spark.sources.xlsx import grid_rows

        for pdf in batches:
            for path_val, content in zip(pdf["path"], pdf["content"]):
                rows = grid_rows(bytes(content), sheet_name)
                out = {
                    "source_file": [path_val] * len(rows),
                    "row_idx": [ri for ri, _ in rows],
                }
                for i in range(n_cols):
                    out[f"c{i}"] = [
                        (row[i] if i < len(row) else None) for _, row in rows
                    ]
                yield pd.DataFrame(out)

    return binary.mapInPandas(_parse, schema)


# ---------------------------------------------------------------------------
# minimal writer (test-fixture + S8-adjacent sink primitive)
# ---------------------------------------------------------------------------

_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "{sheet_overrides}{ss_override}{styles_override}</Types>"
)
_SHEET_CT = (
    '<Override PartName="/xl/worksheets/sheet{i}.xml" '
    'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
)
_STYLES_CT = (
    '<Override PartName="/xl/styles.xml" '
    'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
)
_SS_CT = (
    '<Override PartName="/xl/sharedStrings.xml" '
    'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _esc_attr(s: str) -> str:
    return _esc(s).replace('"', "&quot;")


def read_column_formats(path, sheet_name=0) -> dict[int, str]:
    """Round-trip probe for ``column_formats``: {0-based column index
    -> number-format code} as carried by the workbook's styles part.
    Resolves each cell's ``s=`` ref through cellXfs -> numFmtId ->
    numFmts formatCode (custom ids only — exactly what write_xlsx
    emits); first formatted cell per column wins. Empty dict when the
    workbook has no styles part."""
    with zipfile.ZipFile(path) as zf:
        try:
            styles = ET.fromstring(zf.read("xl/styles.xml"))
        except KeyError:
            return {}
        code_of_fmt = {
            nf.get("numFmtId"): nf.get("formatCode")
            for nf in styles.iter(f"{_NS}numFmt")
        }
        cellxfs = styles.find(f"{_NS}cellXfs")
        code_of_style: dict[str, str] = {}
        if cellxfs is not None:
            for i, xf in enumerate(cellxfs.findall(f"{_NS}xf")):
                code = code_of_fmt.get(xf.get("numFmtId"))
                if code is not None:
                    code_of_style[str(i)] = code
        out: dict[int, str] = {}
        sheet = ET.fromstring(zf.read(_resolve_sheet_path(zf, sheet_name)))
        for cell in sheet.iter(f"{_NS}c"):
            code = code_of_style.get(cell.get("s", ""))
            if code is not None:
                out.setdefault(_col_ord(cell.get("r", "A1")), code)
    return out


def read_column_alignments(path, sheet_name=0) -> dict[int, str]:
    """Round-trip probe for ``column_alignments``: {0-based column
    index -> horizontal alignment} resolved through each cell's ``s=``
    ref into cellXfs <alignment horizontal=..> (round-12 authored-
    style surface); first aligned cell per column wins. Empty dict
    when the workbook has no styles part."""
    with zipfile.ZipFile(path) as zf:
        try:
            styles = ET.fromstring(zf.read("xl/styles.xml"))
        except KeyError:
            return {}
        cellxfs = styles.find(f"{_NS}cellXfs")
        align_of_style: dict[str, str] = {}
        if cellxfs is not None:
            for i, xf in enumerate(cellxfs.findall(f"{_NS}xf")):
                al = xf.find(f"{_NS}alignment")
                if al is not None and al.get("horizontal"):
                    align_of_style[str(i)] = al.get("horizontal")
        out: dict[int, str] = {}
        sheet = ET.fromstring(zf.read(_resolve_sheet_path(zf, sheet_name)))
        for cell in sheet.iter(f"{_NS}c"):
            al = align_of_style.get(cell.get("s", ""))
            if al is not None:
                out.setdefault(_col_ord(cell.get("r", "A1")), al)
    return out


def _ref(ri: int, ci: int) -> str:
    col = ""
    ci += 1
    while ci:
        ci, rem = divmod(ci - 1, 26)
        col = chr(65 + rem) + col
    return f"{col}{ri + 1}"


def write_xlsx(
    path,
    sheets,
    use_shared_strings: bool = False,
    column_formats: dict[int, str] | None = None,
    column_alignments: dict[int, str] | None = None,
    header_style: bool = False,
) -> None:
    """Write a minimal ECMA-376 workbook. ``sheets`` is either a list
    of row-lists (single 'Sheet1') or a dict {sheet_name: rows}.
    Cell typing: str -> inline/shared string, bool -> b, int/float ->
    numeric, None -> omitted (sparse).

    ``column_formats`` maps 0-based column index -> Excel number-
    format code (e.g. ``{0: "0", 4: "dd/mm/yyyy"}``) — the S8
    presentation-fidelity surface the reference pins per column
    (excel_handler.py:17-36 COLUMN_FORMATS, applied at :119-131).
    Every code is emitted as a CUSTOM numFmt (ids from 164) in
    xl/styles.xml; ``read_column_formats`` round-trips them.

    ``column_alignments`` maps 0-based column index ->
    left|center|right — the alignment half of the reference's
    COLUMN_FORMATS dict (excel_handler.py:17-36), AUTHORED into
    cellXfs (round-12: new-workbook style authoring, previously the
    recorded non-goal); ``read_column_alignments`` round-trips them.
    A column may carry a format, an alignment, or both — one cellXf
    per distinct combination, applied to data cells (row >= 1).

    ``header_style=True`` styles the header row (row 0) bold with a
    thin border on all sides — the new-workbook header presentation
    the reference inherits from pandas ``to_excel``
    (excel_handler.py:70-72). Images and template-preserving append
    remain on the append path (``append_rows_xlsx``)."""
    if not isinstance(sheets, dict):
        sheets = {"Sheet1": sheets}
    shared: dict[str, int] = {}
    fmts = dict(column_formats or {})
    aligns = dict(column_alignments or {})
    for a in aligns.values():
        if a not in ("left", "center", "right"):
            raise ValueError(f"unsupported alignment {a!r}")
    # one cellXf per DISTINCT (format, alignment) combination used by
    # any column; style index 0 stays the default xf
    codes = sorted(set(fmts.values()))
    fmt_id = {c: 164 + i for i, c in enumerate(codes)}
    combos = sorted(
        {(fmts.get(ci), aligns.get(ci)) for ci in set(fmts) | set(aligns)},
        key=lambda t: (t[0] or "", t[1] or ""),
    )
    style_of_combo = {t: i + 1 for i, t in enumerate(combos)}
    style_of_col = {
        ci: style_of_combo[(fmts.get(ci), aligns.get(ci))]
        for ci in set(fmts) | set(aligns)
    }
    header_xf = len(combos) + 1 if header_style else 0
    has_styles = bool(combos) or header_style

    def cell_xml(ri: int, ci: int, v) -> str:
        ref = _ref(ri, ci)
        style = style_of_col.get(ci, 0) if ri >= 1 else header_xf
        s_attr = f' s="{style}"' if style else ""
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}"{s_attr} t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"{s_attr}><v>{v}</v></c>'
        s = str(v)
        if use_shared_strings:
            idx = shared.setdefault(s, len(shared))
            return f'<c r="{ref}"{s_attr} t="s"><v>{idx}</v></c>'
        return f'<c r="{ref}"{s_attr} t="inlineStr"><is><t xml:space="preserve">{_esc(s)}</t></is></c>'

    sheet_parts = []
    for rows in sheets.values():
        body = "".join(
            f'<row r="{ri + 1}">' + "".join(cell_xml(ri, ci, v) for ci, v in enumerate(row)) + "</row>"
            for ri, row in enumerate(rows)
        )
        sheet_parts.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>{body}</sheetData></worksheet>'
        )

    wb_sheets = "".join(
        f'<sheet name="{_esc(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(sheets)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS[1:-1]}" xmlns:r="{_DOC_REL[1:-1]}">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    next_rid = len(sheets) + 1
    if use_shared_strings:
        rels += (
            f'<Relationship Id="rId{next_rid}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" '
            'Target="sharedStrings.xml"/>'
        )
        next_rid += 1
    if has_styles:
        rels += (
            f'<Relationship Id="rId{next_rid}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" '
            'Target="styles.xml"/>'
        )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{_REL_NS[1:-1]}">{rels}</Relationships>'
    )

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            _CT.format(
                sheet_overrides="".join(_SHEET_CT.format(i=i + 1) for i in range(len(sheets))),
                ss_override=_SS_CT if use_shared_strings else "",
                styles_override=_STYLES_CT if has_styles else "",
            ),
        )
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, part in enumerate(sheet_parts):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", part)
        if has_styles:
            # every code becomes a CUSTOM numFmt (ids from 164, even
            # codes that shadow built-ins like "0") so read-back never
            # needs the implicit built-in format table
            num_fmts = "".join(
                f'<numFmt numFmtId="{fmt_id[c]}" formatCode="{_esc_attr(c)}"/>'
                for c in codes
            )
            xfs = []
            for code, align in combos:
                attrs = 'fontId="0" fillId="0" borderId="0" xfId="0"'
                if code is not None:
                    attrs = f'numFmtId="{fmt_id[code]}" {attrs} applyNumberFormat="1"'
                else:
                    attrs = f'numFmtId="0" {attrs}'
                if align is not None:
                    xfs.append(
                        f'<xf {attrs} applyAlignment="1">'
                        f'<alignment horizontal="{align}"/></xf>'
                    )
                else:
                    xfs.append(f"<xf {attrs}/>")
            if header_style:
                # fontId=1 (bold) + borderId=1 (thin all sides) — the
                # pandas-default new-workbook header the reference
                # writes through df.to_excel (excel_handler.py:70-72)
                xfs.append(
                    '<xf numFmtId="0" fontId="1" fillId="0" borderId="1" '
                    'xfId="0" applyFont="1" applyBorder="1"/>'
                )
            fonts = "<font/>" + ("<font><b/></font>" if header_style else "")
            thin = ("<border><left style=\"thin\"/><right style=\"thin\"/>"
                    "<top style=\"thin\"/><bottom style=\"thin\"/>"
                    "<diagonal/></border>")
            borders = "<border/>" + (thin if header_style else "")
            zf.writestr(
                "xl/styles.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<styleSheet xmlns="{_NS[1:-1]}">'
                f'<numFmts count="{len(codes)}">{num_fmts}</numFmts>'
                f'<fonts count="{2 if header_style else 1}">{fonts}</fonts>'
                '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
                f'<borders count="{2 if header_style else 1}">{borders}</borders>'
                '<cellStyleXfs count="1"><xf/></cellStyleXfs>'
                f'<cellXfs count="{len(xfs) + 1}">'
                '<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
                f"{''.join(xfs)}</cellXfs></styleSheet>",
            )
        if use_shared_strings:
            items = "".join(
                f'<si><t xml:space="preserve">{_esc(s)}</t></si>'
                for s, _ in sorted(shared.items(), key=lambda kv: kv[1])
            )
            zf.writestr(
                "xl/sharedStrings.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<sst xmlns="{_NS[1:-1]}" count="{len(shared)}" uniqueCount="{len(shared)}">{items}</sst>',
            )


def append_rows_xlsx(
    path,
    rows,
    sheet_name=0,
    out_path=None,
) -> int:
    """TEMPLATE-PRESERVING in-place append — the S8 presentation-
    fidelity remainder (reference excel_handler.py:61-132 opens the
    existing workbook and appends below the last row; :185-233
    preserves embedded images across the save).

    Appends ``rows`` to one sheet of an EXISTING workbook by
    rewriting ONLY that sheet's XML part: every other archive member
    — xl/styles.xml, xl/media/* images, drawings and their rels,
    themes, charts, the other sheets — is copied BYTE-FOR-BYTE, so
    fonts, fills, borders, alignment, column widths, merged cells
    and pictures survive untouched without this writer understanding
    any of them. Within the rewritten sheet the original XML text is
    kept verbatim too (string surgery: the new ``<row>`` elements are
    spliced in before ``</sheetData>``; only the ``<dimension>`` ref
    is updated), so row heights, pane freezes and conditional-
    formatting blocks in the sheet part also survive.

    STYLE INHERITANCE (the template-row discipline): each appended
    cell carries the style ref (``s=``) of the last existing styled
    cell in its column, so new rows render with the template's number
    formats/fonts/borders. Cell typing matches :func:`write_xlsx`
    (str -> inline string, bool -> b, int/float -> n, None ->
    omitted; inline strings are spec-legal alongside sharedStrings).

    Atomic: stages to ``<out>.tmp-<pid>`` and ``os.replace``s into
    place (the sinks/staged.py discipline) — a crash mid-append never
    leaves a torn workbook. Returns the number of appended rows.

    Spec tolerance (round-11): a ``<row>`` without an ``r`` attribute
    takes the IMPLIED position (previous row + 1) per OOXML, so
    templates from writers that omit ``r`` append below the data
    instead of colliding at row 1; the opening ``<sheetData>`` tag may
    carry attributes.

    Scale note: one workbook is one driver/task-local file (workbooks
    are not splittable); the DISTRIBUTED surface stays
    :func:`read_xlsx_grid_distributed` — this function is the per-file finishing step the
    reference's submission flow needs, O(workbook size) I/O.
    """
    rows = list(rows)
    src = path
    dst = out_path or path
    with zipfile.ZipFile(src) as zf:
        infos = zf.infolist()
        members = {i.filename: zf.read(i.filename) for i in infos}
        sheet_path = _resolve_sheet_path(zf, sheet_name)

    sheet_xml = members[sheet_path].decode("utf-8")
    root = ET.fromstring(members[sheet_path])

    # analysis (namespace-aware, prefix-agnostic): last row index and
    # the last styled cell per column
    last_r = 0
    style_of_col: dict[int, str] = {}
    max_col = -1
    seq = 0  # OOXML: a <row> without r is IMPLIED at previous + 1
    for row_el in root.iter(f"{_NS}row"):
        rv = row_el.get("r")
        seq = int(rv) if rv is not None else seq + 1
        r = seq
        last_r = max(last_r, r)
        for c in row_el.findall(f"{_NS}c"):
            ref = c.get("r")
            if ref is None:
                continue
            ci = _col_ord(ref)
            max_col = max(max_col, ci)
            s = c.get("s")
            if s is not None:
                style_of_col[ci] = s

    # the closing sheetData tag carries the document's prefix (if
    # any); inserted elements must use the same prefix to stay in the
    # spreadsheetml namespace
    # accept attributes on the opening tag (spec-legal for extension
    # writers). The tag end is found by a quote-aware scan, not a
    # [^>]* regex: '>' and '/' are legal INSIDE attribute values, so a
    # bare regex could end the match mid-value and misread a plain tag
    # as self-closed — splicing on that span would tear the sheet XML
    # (round-11 review)
    m0 = re.search(r"<(?:(\w+):)?sheetData\b", sheet_xml)
    if m0 is None:
        raise ValueError(f"{sheet_path}: no sheetData element")
    i = m0.end()
    quote = None
    while i < len(sheet_xml):
        ch = sheet_xml[i]
        if quote is not None:
            if ch == quote:
                quote = None
        elif ch in "\"'":
            quote = ch
        elif ch == ">":
            break
        i += 1
    else:
        raise ValueError(f"{sheet_path}: unterminated sheetData tag")
    pfx = f"{m0.group(1)}:" if m0.group(1) else ""
    self_closed = sheet_xml[m0.end():i].rstrip().endswith("/")
    tag_start, tag_end = m0.start(), i + 1  # span of the opening tag

    def cell_xml(ri: int, ci: int, v) -> str:
        if v is None:
            return ""
        ref = _ref(ri, ci)
        s = style_of_col.get(ci)
        s_attr = f' s="{s}"' if s is not None else ""
        if isinstance(v, bool):
            return f'<{pfx}c r="{ref}"{s_attr} t="b"><{pfx}v>{1 if v else 0}</{pfx}v></{pfx}c>'
        if isinstance(v, (int, float)):
            return f'<{pfx}c r="{ref}"{s_attr}><{pfx}v>{v}</{pfx}v></{pfx}c>'
        return (
            f'<{pfx}c r="{ref}"{s_attr} t="inlineStr"><{pfx}is>'
            f'<{pfx}t xml:space="preserve">{_esc(str(v))}</{pfx}t>'
            f"</{pfx}is></{pfx}c>"
        )

    new_rows = []
    for i, row in enumerate(rows):
        ri = last_r + i  # 0-based ref index == 1-based last_r + offset
        body = "".join(cell_xml(ri, ci, v) for ci, v in enumerate(row))
        new_rows.append(f'<{pfx}row r="{ri + 1}">{body}</{pfx}row>')
        max_col = max(max_col, len(row) - 1)
    splice = "".join(new_rows)

    if self_closed:  # self-closed <sheetData .../> (empty template sheet)
        # re-open with the ORIGINAL attributes (minus the trailing '/')
        # — rebuilding as a bare <sheetData> would silently drop
        # spec-legal extension attributes (round-11 review)
        attrs = sheet_xml[m0.end():i].rstrip()
        attrs = attrs[:-1].rstrip() if attrs.endswith("/") else attrs
        sheet_xml = (
            sheet_xml[: tag_start]
            + f"<{pfx}sheetData{attrs}>{splice}</{pfx}sheetData>"
            + sheet_xml[tag_end:]
        )
    else:
        close = re.search(rf"</\s*{re.escape(pfx[:-1]) + ':' if pfx else ''}sheetData\s*>", sheet_xml)
        if close is None:
            raise ValueError(f"{sheet_path}: unclosed sheetData")
        sheet_xml = sheet_xml[: close.start()] + splice + sheet_xml[close.start():]

    if rows and max_col >= 0:
        new_dim = f"A1:{_ref(last_r + len(rows) - 1, max_col)}"
        sheet_xml = re.sub(
            r'(<(?:\w+:)?dimension\s+ref=")[^"]*(")',
            lambda dm: dm.group(1) + new_dim + dm.group(2),
            sheet_xml,
            count=1,
        )

    tmp = f"{dst}.tmp-{os.getpid()}"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as out:
        for info in infos:
            if info.filename == sheet_path:
                out.writestr(info, sheet_xml.encode("utf-8"))
            else:
                out.writestr(info, members[info.filename])
    os.replace(tmp, dst)
    return len(rows)

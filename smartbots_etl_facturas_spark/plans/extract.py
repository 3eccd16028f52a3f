"""Composed mixed-format invoice extraction (the reference's single
entry point for reading a sheet, re-expressed as one set-based Spark
dataflow over many files).

Reference: official_format_extractor.py:91-125 (entry + runtime format
detection :111-121), :130-246 (mixed path: fixed cells + tabular
detail), :248-326 (simple tabular path), :455-476 (fixed-cell read),
:479-495 (A6 total derivation), :499-525 (F2 date formats).

Input contract: the union grid of many sheets as positional cells —
``DataFrame(source_file string, row_idx long, c0..cN string)`` — the
shape produced by ``sources.xlsx`` (the distributed
binaryFile+mapInPandas reader emits it for a whole inbox glob). A
one-sheet extract is the same call over a one-file grid.

Detection (official_format_extractor.py:111-121): both the
``numero_factura`` (C8) and ``empresa_transporte`` (C6) fixed cells
non-blank → MIXED layout (fixed header cells broadcast onto the
tabular detail); otherwise SIMPLE tabular (header discovered/row 11,
stop at first blank invoice). The fixed cells and the layout flag are
per-file columns of one groupBy — no driver-side collect or branch.

DOCUMENTED DEVIATION — whitespace-only fixed cells: the reference
tests only ``is not None`` (official_format_extractor.py:111-113), so
a whitespace-only C8/C6 cell routes it to the MIXED path, where every
detail row then errors on the blank invoice metadata. This engine
treats whitespace-only as blank (``trim != ''``) and routes such
sheets to the SIMPLE path instead — deliberately stricter, since an
all-whitespace invoice number can never produce a valid mixed-layout
record.

Both paths normalize into ONE StructType (the InvoiceRecord shape,
entities.py:19-111) plus the P10 error side-channel
``(source_file, row_idx, error)`` — Spark cannot raise per row, so the
reference's try/except-per-row becomes a predicate split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.functions.dates import (
    EXTRACTOR_FORMATS,
    excel_serial_to_date,
    parse_date_multi,
)
from smartbots_etl_facturas_spark.functions.money import parse_money
from smartbots_etl_facturas_spark.operators.ordered import take_while
from smartbots_etl_facturas_spark.operators.rollup import derived_total

# cell coordinate -> logical name (official_format_extractor.py:77-84)
FIXED_CELLS = {
    "C6": "empresa_transporte",
    "G3": "fecha_emision",
    "C8": "numero_factura",
    "H6": "nave",
    "H7": "puerto_embarque",
    "F4": "responsable",
}

# header-row discovery markers (official_format_extractor.py:384-396)
MIXED_KNOWN_HEADERS = (
    "Órdenes de Embarque",
    "Fecha Servicio",
    "Unidad",
    "Conductor",
    "Contenedor",
    "Guías de Despacho",
)

SIMPLE_KNOWN_HEADERS = (
    "N° Factura",
    "N° Referencia",
    "Transportista",
    "Monto Neto",
    "IVA",
    "Monto Total",
    "Fecha Factura",
)

# the 7 money components of the A6 total derivation
# (official_format_extractor.py:480-488; column aliases :39-68)
MONEY_COMPONENT_COLS = (
    "Flete ($)",
    "Underslung ($)",
    "Planta Adicional ($)",
    "Retiro Cruzado ($)",
    "Porteo ($)",
    "Sobre Estadía Planta ($)",
    "Sobre Estadía Puerto ($)",
)

TOTAL_COL = "Total Servicio ($)"
ORDENES_COL = "Órdenes de Embarque"

DEC = "decimal(18,2)"


def _cell_ref(ref: str) -> tuple[int, str]:
    """Excel A1-style reference → (0-based row_idx, grid column name).
    ``"C6"`` → ``(5, "c2")``."""
    letters = "".join(ch for ch in ref if ch.isalpha()).upper()
    row = int("".join(ch for ch in ref if ch.isdigit())) - 1
    ci = 0
    for ch in letters:
        ci = ci * 26 + (ord(ch) - 64)
    return row, f"c{ci - 1}"


def parse_sheet_date(col: Column) -> Column:
    """F2 multi-format date parse with an F3 Excel-serial fallback.

    A date cell reaches the grid as the raw serial string when it is a
    date-STYLED number (the stdlib OOXML codec cannot see number
    formats), or as text in whatever form the workbook's writer used,
    e.g. ``YYYY-MM-DD HH:MM:SS`` or an ISO date — so the extractor
    accepts all three. Serials are accepted only within
    1990-01-01..2100-01-01 (32874..73051), so ordinary small amounts
    cannot masquerade as dates."""
    s = F.trim(col.cast("string"))
    serial = s.try_cast("int")
    serial_ok = serial.isNotNull() & (serial >= 32874) & (serial <= 73051)
    return F.coalesce(
        parse_date_multi(col, EXTRACTOR_FORMATS),
        F.when(serial_ok, excel_serial_to_date(s)),
    )


def extract_invoice_files(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """MANY files through ONE plan — the reference's per-sheet
    ``extract()`` (official_format_extractor.py:91-125) over a whole
    inbox. Input: ``(source_file, row_idx, c0..cN)`` — the union grid
    of many sheets (e.g. from
    ``sources.xlsx.read_xlsx_grid_distributed``). Per-file
    fixed-cell read, format DETECTION, header DISCOVERY, re-headering,
    filtering, parsing and normalization all happen as set-based
    dataflow: no driver-side per-file loop, no per-file collect — the
    only shuffles are groupBys keyed on (source_file[, row_idx]), so
    adding files adds partitions, not plan depth.

    Schema-on-read becomes DATA: each data row carries a
    ``map<header_name, cell>`` built by joining cells against their
    file's discovered header row — the per-file dynamic column layout
    that a static StructType cannot express.

    Semantics are the reference's, proven against the DuckDB golden
    oracle (``SQL_INVOICE_EXTRACT`` / ``SQL_INVOICE_EXTRACT_ERRORS`` in
    ``__spark_entry__.py``, run in tests/test_extract.py); one
    documented deviation: with duplicate header names within one sheet
    the map keeps the LEFT-MOST column (deterministic first-wins dedup
    below — without it ``map_from_entries`` would throw under the
    default ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` and one malformed
    sheet would abort the whole multi-file job).

    Materialized at call time: the function runs two Spark actions, a
    ``localCheckpoint`` of ``raw`` (so an XLSX parse under it runs once)
    and one of the assembled per-row frame (so the extract's shuffles
    run once). The returned frames, and every per-file filter a caller
    takes over them, scan those materialized rows.

    A marker row (``row_idx = -1``, ``c0`` = the error; see
    ``sources.xlsx.grid_rows``) stands for a workbook that did not
    parse: it takes no part in detection and yields no valid row, only
    an ``errors`` row ``unreadable workbook: <c0>`` with ``row_idx`` -1.
    """
    raw = raw.localCheckpoint()
    cell_cols = [c for c in raw.columns if c not in ("source_file", "row_idx")]
    marker = F.col("row_idx") < 0
    unreadable = raw.filter(marker).select(
        "source_file", F.col("row_idx").cast("long").alias("row_idx"),
        F.concat(F.lit("unreadable workbook: "), F.col(cell_cols[0])).alias("error"),
    )
    cells = raw.filter(~marker).select(
        "source_file",
        "row_idx",
        F.posexplode(F.array(*[F.col(c) for c in cell_cols])).alias("col_idx", "val"),
    )

    # fixed cells + per-file layout detection (one groupBy)
    fixed_aggs = []
    for ref, name in FIXED_CELLS.items():
        r, cname = _cell_ref(ref)
        ci = int(cname[1:])
        fixed_aggs.append(
            F.max(
                F.when((F.col("row_idx") == r) & (F.col("col_idx") == ci), F.col("val"))
            ).alias(name)
        )
    nonblank = lambda c: c.isNotNull() & (F.trim(c) != "")  # noqa: E731
    fixed = cells.groupBy("source_file").agg(*fixed_aggs)

    # header discovery per file: known-header hit counts per row, min
    # qualifying row per file, reference fallback row 10
    km = [h.upper() for h in MIXED_KNOWN_HEADERS]
    ks = [h.upper() for h in SIMPLE_KNOWN_HEADERS]
    up = F.upper(F.trim(F.col("val")))
    row_hits = cells.groupBy("source_file", "row_idx").agg(
        F.sum(F.when(up.isin(km), 1).otherwise(0)).alias("hm"),
        F.sum(F.when(up.isin(ks), 1).otherwise(0)).alias("hs"),
    )
    hdr = (
        row_hits.filter(F.col("row_idx") < 15)
        .groupBy("source_file")
        .agg(
            F.min(F.when(F.col("hm") >= 3, F.col("row_idx"))).alias("hdr_m"),
            F.min(F.when(F.col("hs") >= 3, F.col("row_idx"))).alias("hdr_s"),
        )
    )
    meta = (
        fixed.join(hdr, "source_file", "left")
        .select(
            "source_file",
            *[F.col(n) for n in FIXED_CELLS.values()],
            # F2+F3 parse of the G3 fixed date, ONCE per file on the
            # (tiny, pre-broadcast) meta side — never per data row
            parse_sheet_date(F.col("fecha_emision")).alias("fecha_parsed"),
            (nonblank(F.col("numero_factura")) & nonblank(F.col("empresa_transporte")))
            .alias("is_mixed"),
            F.coalesce(
                F.when(
                    nonblank(F.col("numero_factura"))
                    & nonblank(F.col("empresa_transporte")),
                    F.col("hdr_m"),
                ).otherwise(F.col("hdr_s")),
                F.lit(10),
            ).alias("header_idx"),
        )
    )

    # header names per (file, col) from the discovered header row;
    # duplicate header names keep the left-most column (map keys must
    # be unique — see docstring)
    hdr_w = Window.partitionBy("source_file", "hdr_name").orderBy("col_idx")
    hdr_names = (
        cells.join(F.broadcast(meta.select("source_file", "header_idx")), "source_file")
        .filter((F.col("row_idx") == F.col("header_idx")) & F.col("val").isNotNull())
        .select("source_file", "col_idx", F.col("val").alias("hdr_name"))
        .withColumn("__rn", F.row_number().over(hdr_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # data rows as map<header_name, cell>; empty map = all-null row
    # (kept — the simple path's take-while must SEE it to stop there)
    data_cells = cells.join(
        F.broadcast(meta.select("source_file", "header_idx")), "source_file"
    ).filter(F.col("row_idx") > F.col("header_idx"))
    named = data_cells.join(hdr_names, ["source_file", "col_idx"], "left")

    # Parse at the EXPLODED per-cell level, BEFORE the row-assembly
    # shuffle: ONE parse_money and ONE parse_sheet_date expression
    # tree serve every money/date cell in the dataset, and the map
    # carries typed struct values downstream. Besides being the right
    # 100 TB shape (map-side parse, partial work before the shuffle),
    # this is the janino-64 KB guard for this plan: per-column parse
    # trees downstream of the map (8 money columns × ~27 KB of
    # generated Java each, uncollapsible once filter pushdown
    # re-inlines them) blew the whole-stage method limit and silently
    # dropped the hottest path to interpreted mode.
    money_keys = list(
        dict.fromkeys([*MONEY_COMPONENT_COLS, TOTAL_COL, "Monto Neto", "IVA", "Monto Total"])
    )
    typed = named.select(
        "*",
        F.when(F.col("hdr_name").isin(money_keys), parse_money(F.col("val"))).alias(
            "__pmoney"
        ),
        F.when(
            F.col("hdr_name") == "Fecha Factura", parse_sheet_date(F.col("val"))
        ).alias("__pdate"),
    )
    rows = typed.groupBy("source_file", "row_idx").agg(
        F.map_from_entries(
            F.array_compact(
                F.collect_list(
                    F.when(
                        F.col("val").isNotNull() & F.col("hdr_name").isNotNull(),
                        F.struct(
                            F.col("hdr_name"),
                            F.struct(
                                F.col("val").alias("v"),
                                F.col("__pmoney").alias("money"),
                                F.col("__pdate").alias("date"),
                            ),
                        ),
                    )
                )
            )
        ).alias("m"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0)).alias("n_nonnull"),
        # P7 summary flag over ALL cells — including unheadered
        # passthrough columns, matching the reference's scan of every
        # value in the row (official_format_extractor.py:174-177)
        F.max(
            F.when(
                F.col("val").isNotNull()
                & F.upper(F.col("val")).rlike("NETO|IVA|TOTAL"),
                1,
            ).otherwise(0)
        ).alias("__summary_hit"),
    )
    r = rows.join(F.broadcast(meta), "source_file").localCheckpoint()

    def g(key):  # raw-cell getter (absent key → NULL struct → NULL)
        return F.element_at(F.col("m"), F.lit(key)).getField("v")

    def gp(key):  # parsed-money getter
        return F.element_at(F.col("m"), F.lit(key)).getField("money")

    def money_err(key):
        raw_v, parsed = g(key), gp(key)
        bad = raw_v.isNotNull() & (F.trim(raw_v) != "") & parsed.isNull()
        return F.coalesce(parsed, F.lit(0).cast(DEC)), bad

    # ---- mixed branch --------------------------------------------------
    mx = r.filter(F.col("is_mixed"))
    mx = mx.filter(F.col("n_nonnull") > 0)                              # P5
    mx = mx.filter(nonblank(g(ORDENES_COL)))                            # P6
    mx = mx.filter(F.col("__summary_hit") == 0)                         # P7
    comps, errs = [], []
    for c in MONEY_COMPONENT_COLS:
        p, bad = money_err(c)
        comps.append(p)
        errs.append((f"unparseable money: {c}", bad))
    total_raw = gp(TOTAL_COL)
    total_cell = g(TOTAL_COL)
    total_bad = (
        total_cell.isNotNull() & (F.trim(total_cell) != "") & total_raw.isNull()
    )
    total = derived_total(total_raw, comps).cast(DEC)                   # A6
    date_m = F.col("fecha_parsed")  # F2+F3, parsed once in `meta`
    date_bad_m = ~nonblank(F.col("fecha_emision")) | date_m.isNull()
    err_cond_m = total_bad | date_bad_m
    err_msg_m = F.when(total_bad, F.lit(f"unparseable money: {TOTAL_COL}"))
    for msg, bad in errs:
        err_cond_m = err_cond_m | bad
        err_msg_m = err_msg_m.when(bad, F.lit(msg))
    date_msg = F.concat(
        F.lit("invalid invoice date: "), F.coalesce("fecha_emision", F.lit("None"))
    )
    # a BLANK fixed date takes message priority over per-row money
    # errors (the reference's per-record _parse_date raise,
    # official_format_extractor.py:191); a merely unparseable
    # non-blank date ranks after money, like the reference's
    # pydantic-coercion-raises-first ordering
    err_msg_m = F.when(~nonblank(F.col("fecha_emision")), date_msg).otherwise(
        F.coalesce(err_msg_m, F.when(date_bad_m, date_msg))
    )
    mixed_errors = mx.filter(err_cond_m).select(
        "source_file", F.col("row_idx").cast("long").alias("row_idx"),
        err_msg_m.alias("error"),
    )
    mixed_valid = mx.filter(~err_cond_m).select(
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("numero_factura").alias("invoice_number"),
        F.coalesce(
            F.when(F.trim(g(ORDENES_COL)) != "", F.trim(g(ORDENES_COL))), F.lit("N/A")
        ).alias("reference_number"),
        F.col("empresa_transporte").alias("carrier_name"),
        F.coalesce(F.col("nave"), F.lit("")).alias("ship_name"),
        date_m.alias("invoice_date"),
        total.alias("net_amount"),
        F.lit(0).cast(DEC).alias("tax_amount"),
        total.alias("total_amount"),
        F.lit("CLP").alias("currency"),
        F.coalesce(g("Observaciones"), F.lit("")).alias("description"),
        "source_file",
    )

    # ---- simple branch -------------------------------------------------
    sp = r.filter(~F.col("is_mixed"))
    inv = g("N° Factura")
    stop = inv.isNull() | (F.trim(inv) == "")
    sp = take_while(sp, "row_idx", stop, partition_by=["source_file"])  # P8 per file
    sp = sp.filter(F.col("n_nonnull") > 0)                              # P5
    net, net_bad = money_err("Monto Neto")
    tax, tax_bad = money_err("IVA")
    stotal, stotal_bad = money_err("Monto Total")
    date_s = F.element_at(F.col("m"), F.lit("Fecha Factura")).getField("date")
    date_bad_s = date_s.isNull()
    err_cond_s = net_bad | tax_bad | stotal_bad | date_bad_s
    err_msg_s = (
        F.when(net_bad, F.lit("unparseable money: Monto Neto"))
        .when(tax_bad, F.lit("unparseable money: IVA"))
        .when(stotal_bad, F.lit("unparseable money: Monto Total"))
        .when(date_bad_s, F.lit("invalid invoice date"))
    )
    simple_errors = sp.filter(err_cond_s).select(
        "source_file", F.col("row_idx").cast("long").alias("row_idx"),
        err_msg_s.alias("error"),
    )

    def opt(key, default=""):
        return F.coalesce(g(key), F.lit(default))

    simple_valid = sp.filter(~err_cond_s).select(
        F.col("row_idx").cast("long").alias("row_idx"),
        F.trim(inv).alias("invoice_number"),
        F.coalesce(
            F.when(F.trim(opt("N° Referencia")) != "", F.trim(opt("N° Referencia"))),
            F.lit("N/A"),
        ).alias("reference_number"),
        opt("Transportista").alias("carrier_name"),
        opt("Nave").alias("ship_name"),
        date_s.alias("invoice_date"),
        net.alias("net_amount"),
        tax.alias("tax_amount"),
        stotal.alias("total_amount"),
        opt("Moneda", "CLP").alias("currency"),
        opt("Descripción").alias("description"),
        "source_file",
    )

    return (
        mixed_valid.unionByName(simple_valid),
        unreadable.unionByName(mixed_errors).unionByName(simple_errors),
    )


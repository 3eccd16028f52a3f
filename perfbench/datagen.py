"""Seeded input generation for every workload.

Everything the program reads is made here from ``--seed``: the XLSX
invoice inbox of the ingest workload (from a TPC-H-shaped ``lineitem``)
together with its ground truth, and the event files of the stream
workload in the shape of the engine's ``events`` table
(``scripts/expected_schemas.json``). The same seed gives the same
inputs.

Money carries two decimals and timestamps are whole microseconds, so
Spark and DuckDB agree exactly.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def lineitem(seed: int, sf: float) -> pa.Table:
    """The columns of a seeded TPC-H-shaped ``lineitem`` of
    ``6,000,000 × sf`` rows that the invoice view reads."""
    rng = np.random.default_rng(seed)
    n_supp, n_ord, n = int(10_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
        "l_extendedprice": rng.integers(90_000, 10_500_001, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _DAY_US),
    })


def event_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``n`` events over 30 days in time order (the contract's shape)."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def event_files(out_dir: str, seed: int, n: int, n_files: int) -> int:
    """Write ``n`` seeded events as ``n_files`` equal parquet slices.

    File ``i`` holds the ``i``-th event-time slice and is stamped
    with modification time ``i``: the file source drains oldest first,
    so a stream reading one file per trigger never sees an event
    behind its watermark. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 7)
    table = event_table(rng, n, max(15, n // 67))
    # UTC-adjusted, so the stream reads ``ts`` as a session timestamp
    table = table.set_column(1, "ts", table.column("ts").cast(pa.timestamp("us", "UTC")))
    size = 0
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        path = os.path.join(out_dir, f"events-{i:04d}.parquet")
        size += _write(path, table.slice(lo, hi - lo))
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return size


# --- invoice inbox ---------------------------------------------------------

HEADER = ["N° Factura", "N° Referencia", "Transportista", "Monto Neto",
          "IVA", "Monto Total", "Fecha Factura"]

#: per-row fault classes of the generated inbox and their shares
EXTRACT_FAULTS = {"bad_money": 0.02, "bad_date": 0.02}
VALIDATION_FAULTS = {"blank_carrier": 0.02, "negative": 0.01, "mismatch": 0.02}
EXISTING_SHARE = 0.10   # rows re-sending a PK already in the master
DUP_SHARE = 0.03        # rows repeating a PK earlier in the same file


@dataclass
class Inbox:
    """The generated master and inbox, plus the ground truth the
    ingest oracle needs: ``master`` and ``rows`` as column dicts with
    exact ``Decimal`` amounts; ``rows['extract_ok']`` marks the rows
    the extractor must keep."""

    master: dict[str, list]
    rows: dict[str, list]
    files: list[str]
    input_bytes: int


def _money(cents: int, style: str) -> str:
    neg, cents = ("-" if cents < 0 else ""), abs(cents)
    units, frac = divmod(cents, 100)
    if style == "CLP":  # whole pesos, dot thousands, optional sign
        return f"{neg}$ {units:,}".replace(",", ".")
    if style == "US":
        return f"{neg}{units:,}.{frac:02d}"
    return f"{neg}{units:,}".replace(",", ".") + f",{frac:02d}"  # EU


def _date(day_us: int, style: int) -> str:
    d = np.datetime64(day_us, "us").astype("datetime64[D]").item()
    return (d.strftime("%Y-%m-%d"), d.strftime("%d/%m/%Y"),
            d.strftime("%d-%m-%Y"))[style]


def invoice_inbox(li: pa.Table, out_dir: str, seed: int,
                  n_files: int, rows_per_file: int,
                  master_rows: int) -> Inbox:
    """Write ``n_files`` simple-layout XLSX invoice sheets and return
    the master to publish with the per-row ground truth.

    The master is the invoice view of ``master_rows`` seeded ``li``
    rows (PK ``(l_orderkey, l_linenumber)``, first wins). Inbox rows
    come from the remaining lineitem rows; a share re-sends a master
    invoice unchanged, a share repeats a PK earlier in the same file,
    and a share carries one extraction or validation fault. New PKs
    never repeat across files, so every file reconciles."""
    from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

    os.makedirs(out_dir, exist_ok=True)
    ship_us = li.column("l_shipdate").cast(pa.int64()).to_pylist()
    li = li.to_pydict()
    rng = np.random.default_rng(seed + 11)
    order = rng.permutation(len(ship_us))

    def invoice(i: int) -> tuple:
        net = int(round(li["l_extendedprice"][i] * 100))
        tax = int(round(net * li["l_tax"][i]))
        return (str(li["l_orderkey"][i]), str(li["l_linenumber"][i]),
                f"SUPP-{li['l_suppkey'][i]}", net, tax, ship_us[i])

    master: dict[tuple, tuple] = {}
    pos = 0
    while len(master) < master_rows:
        inv = invoice(int(order[pos]))
        master.setdefault(inv[:2], inv)
        pos += 1
    master_keys = list(master)
    fresh = (invoice(int(i)) for i in order[pos:])

    cols = ["source_file", "row_idx", "invoice_number", "reference_number",
            "carrier_name", "net_amount", "tax_amount", "total_amount",
            "extract_ok"]
    rows: dict[str, list] = {c: [] for c in cols}
    used: set[tuple] = set(master_keys)
    faults = [*EXTRACT_FAULTS, *VALIDATION_FAULTS]
    fault_cdf = np.cumsum([*EXTRACT_FAULTS.values(), *VALIDATION_FAULTS.values()])
    files, size = [], 0
    for f in range(n_files):
        name = f"invoices-{f:04d}.xlsx"
        sheet = [["Informe de Facturas"], *([[None]] * 9), HEADER]
        in_file: list[tuple] = []
        for r in range(rows_per_file):
            u = rng.random()
            if u < EXISTING_SHARE:
                inv = master[master_keys[rng.integers(len(master_keys))]]
                style = ("US", "EU")[int(rng.integers(2))]
            elif u < EXISTING_SHARE + DUP_SHARE and in_file:
                # a re-sent PK carries its first amounts, so the file
                # reconciles whichever copy survives validation
                inv = in_file[rng.integers(len(in_file))]
                style = ("US", "EU")[int(rng.integers(2))]
            else:
                inv = next(fresh)
                while inv[:2] in used:
                    inv = next(fresh)
                used.add(inv[:2])
                style = ("CLP", "US", "EU")[int(rng.integers(3))]
                if style == "CLP":  # whole pesos
                    inv = (*inv[:3], inv[3] // 100 * 100, inv[4] // 100 * 100, inv[5])
            in_file.append(inv)
            key_no, ref_no, carrier, net, tax, day = inv
            total = net + tax
            k = int(np.searchsorted(fault_cdf, rng.random(), side="right"))
            fault = faults[k] if k < len(faults) else None
            if fault == "blank_carrier":
                carrier = None
            elif fault == "negative":
                net, tax, total = -net, -tax, -total
            elif fault == "mismatch":  # 7.00 off net + tax
                total += 700
            cells = [key_no, ref_no, carrier, _money(net, style),
                     _money(tax, style), _money(total, style),
                     _date(day, int(rng.integers(3)))]
            if fault == "bad_money":
                cells[3 + int(rng.integers(3))] = "x!"
            elif fault == "bad_date":
                cells[6] = "bad-date"
            sheet.append(cells)
            for c, val in zip(cols, (
                    name, 11 + r, key_no, ref_no, carrier or "",
                    Decimal(net) / 100, Decimal(tax) / 100,
                    Decimal(total) / 100, fault not in EXTRACT_FAULTS)):
                rows[c].append(val)
        path = os.path.join(out_dir, name)
        write_xlsx(path, sheet, use_shared_strings=bool(f % 2))
        files.append(path)
        size += os.path.getsize(path)

    m = list(master.values())
    master_cols = {
        "invoice_number": [x[0] for x in m],
        "reference_number": [x[1] for x in m],
        "carrier_name": [x[2] for x in m],
        "net_amount": [Decimal(x[3]) / 100 for x in m],
        "tax_amount": [Decimal(x[4]) / 100 for x in m],
        "total_amount": [Decimal(x[3] + x[4]) / 100 for x in m],
        "source_file": ["master"] * len(m),
    }
    return Inbox(master_cols, rows, files, size)

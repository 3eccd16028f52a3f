"""XLSX as a first-class Spark DataSource (Spark 4 Python Data Source
API) — the "ExcelScan DataSource V2" SURVEY §4 deferred, now closed.

``spark.read.format("xlsx_grid")`` puts the stdlib OOXML codec
(sources/xlsx.py — zipfile+ElementTree, no third-party deps) behind
the engine's native reader surface: Catalyst sees a real relation
with a declared schema (column pruning and downstream pushdown work
normally), planning lists one InputPartition PER FILE so N workbooks
parse on N cores, and the per-partition reader streams rows out as
tuples — no driver-side loop, no mapInPandas plumbing at the call
site.

Output contract matches read_xlsx_grid_distributed exactly
(``source_file, row_idx, c0..c{n_cols-1}`` all-string positional
grid, row_idx restarting per file, one ``row_idx = -1`` marker row
for a workbook that does not parse — both emit through ``grid_rows``),
so the whole header-discovery/extract stack (plans/extract.py) runs
unchanged on top of either scan — pinned by
tests/test_xlsx_datasource.py.

Options: ``path`` (file, directory, or glob), ``n_cols`` (grid
width, default 12), ``sheet`` (index or name, default first).

Scale note: partition granularity is the workbook — XLSX is a ZIP
(deflate streams have no split points), so one file = one task is
the correct parallelism unit; a 100 TB inbox parallelizes across
files, which is how the reference's corpus actually arrives
(many small invoices, SURVEY §2.1 S1).

Usage::

    spark.dataSource.register(XlsxGridDataSource)
    df = (spark.read.format("xlsx_grid")
          .option("n_cols", 6).load("/inbox/*.xlsx"))
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

__all__ = ["XlsxGridDataSource"]


class _XlsxFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _expand(path: str) -> list[str]:
    """File, directory, or glob → sorted concrete file list (sorted:
    deterministic partition numbering across runs)."""
    if os.path.isdir(path):
        pattern = os.path.join(path, "*.xlsx")
    else:
        pattern = path
    return sorted(p for p in _glob.glob(pattern) if os.path.isfile(p))


class XlsxGridReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx_grid requires a path (load(path) or .option('path', ...))")
        self.n_cols = int(options.get("n_cols", 12))
        sheet = options.get("sheet", "0")
        self.sheet = int(sheet) if str(sheet).isdigit() else sheet

    def partitions(self) -> list[InputPartition]:
        files = _expand(self.path)
        if not files:
            raise FileNotFoundError(f"xlsx_grid: no files match {self.path}")
        return [_XlsxFilePartition(p) for p in files]

    def read(self, partition: _XlsxFilePartition) -> Iterator[tuple]:
        # executed on the executor; import inside so the class pickles
        # without dragging the parser into the plan description
        from smartbots_etl_facturas_spark.sources.xlsx import grid_rows

        with open(partition.path, "rb") as f:
            rows = grid_rows(f.read(), self.sheet)
        n = self.n_cols
        for row_idx, row in rows:
            cells = tuple(
                row[i] if i < len(row) else None for i in range(n)
            )
            yield (partition.path, row_idx) + cells


class XlsxGridDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "xlsx_grid"

    def schema(self) -> str:
        n = int(self.options.get("n_cols", 12))
        cols = ", ".join(f"c{i} string" for i in range(n))
        return f"source_file string not null, row_idx bigint not null, {cols}"

    def reader(self, schema) -> DataSourceReader:
        return XlsxGridReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        return XlsxGridWriter(dict(self.options), schema, overwrite)


# --- writer half ------------------------------------------------------------
# df.write.format("xlsx_grid").save(dir): each task writes ONE
# workbook (part-{n}.xlsx, header row = column names) through the
# stdlib OOXML writer, into hidden staging names; the driver's
# commit() renames them into place (and clears prior parts under
# overwrite) so a failed job never leaves a half-written output —
# the same stage-then-publish discipline as sinks/staged.py.

import uuid as _uuid

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _XlsxCommit(WriterCommitMessage):
    def __init__(self, staged: str, rows: int):
        self.staged = staged
        self.rows = rows


class XlsxGridWriter(DataSourceWriter):
    def __init__(self, options: dict, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx_grid write requires a path")
        self.columns = [f.name for f in schema.fields]
        self.overwrite = overwrite
        sheet = options.get("sheet_name", "Sheet1")
        self.sheet_name = sheet
        # S8 presentation fidelity: option column_formats is a JSON
        # object {column NAME: Excel number-format code} (the
        # reference's COLUMN_FORMATS table keyed the same way);
        # resolved here to 0-based indices against the write schema.
        # Unknown names fail fast — a silently dropped format is the
        # presentation bug this option exists to prevent.
        self.column_formats: dict[int, str] = {}
        raw = options.get("column_formats")
        if raw:
            import json

            by_name = json.loads(raw)
            unknown = sorted(set(by_name) - set(self.columns))
            if unknown:
                raise ValueError(
                    f"column_formats names not in write schema: {unknown}"
                )
            self.column_formats = {
                self.columns.index(n): code for n, code in by_name.items()
            }

    def write(self, iterator) -> _XlsxCommit:
        from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

        rows = [list(r) for r in iterator]
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(
            self.path, f".staging-{_uuid.uuid4().hex}.xlsx"
        )
        write_xlsx(
            staged,
            {self.sheet_name: [list(self.columns)] + rows},
            column_formats=self.column_formats,
        )
        return _XlsxCommit(staged, len(rows))

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in _glob.glob(os.path.join(self.path, "part-*.xlsx")):
                os.remove(f)
        # Append must not clobber a previous job's workbooks: continue
        # part numbering after the highest existing part-N index.
        start = 0
        if not self.overwrite:
            for f in _glob.glob(os.path.join(self.path, "part-*.xlsx")):
                stem = os.path.basename(f)[len("part-"):-len(".xlsx")]
                if stem.isdigit():
                    start = max(start, int(stem) + 1)
        for i, m in enumerate(messages):
            os.replace(
                m.staged,
                os.path.join(self.path, f"part-{start + i:05d}.xlsx"),
            )

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)

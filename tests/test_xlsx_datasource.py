"""The xlsx_grid Python DataSource (sources/xlsx_datasource.py):
format registration, parity with the mapInPandas grid scan,
per-file partitioning, option handling."""

import pytest
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.sources.xlsx import (
    read_xlsx_grid_distributed,
    write_xlsx,
)
from smartbots_etl_facturas_spark.sources.xlsx_datasource import (
    XlsxGridDataSource,
)

ROWS1 = [["invoice", "carrier", "total"],
         ["F-1", "ACME", "1.234"],
         ["F-2", "BETA", "99"]]
ROWS2 = [["invoice", "carrier", "total"],
         ["F-9", "GAMMA", "5"]]


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(XlsxGridDataSource)
    return spark


def _write_two(tmp_path):
    write_xlsx(tmp_path / "one.xlsx", ROWS1)
    write_xlsx(tmp_path / "two.xlsx", ROWS2, use_shared_strings=True)
    return str(tmp_path)


def test_matches_mapinpandas_grid_scan(registered, tmp_path):
    base = _write_two(tmp_path)
    via_ds = (
        registered.read.format("xlsx_grid").option("n_cols", 4)
        .load(f"{base}/*.xlsx")
    )
    via_mip = read_xlsx_grid_distributed(registered, f"{base}/*.xlsx", n_cols=4)
    a = sorted(
        (r.source_file.split("/")[-1], r.row_idx, r.c0, r.c1, r.c2, r.c3)
        for r in via_ds.collect()
    )
    b = sorted(
        (r.source_file.split("/")[-1], r.row_idx, r.c0, r.c1, r.c2, r.c3)
        for r in via_mip.collect()
    )
    assert a == b and len(a) == 5


def test_corrupt_workbook_marker_in_both_readers(registered, tmp_path):
    """A workbook that does not parse is one marker row (row_idx -1,
    c0 = the error) in both scans; the good file's rows are unchanged."""
    base = _write_two(tmp_path)
    (tmp_path / "bad.xlsx").write_bytes((tmp_path / "one.xlsx").read_bytes()[:100])
    scans = (
        registered.read.format("xlsx_grid").option("n_cols", 4).load(f"{base}/*.xlsx"),
        read_xlsx_grid_distributed(registered, f"{base}/*.xlsx", n_cols=4),
    )
    for df in scans:
        rows = sorted((r.source_file.split("/")[-1], r.row_idx, r.c0) for r in df.collect())
        assert rows[0] == ("bad.xlsx", -1, "BadZipFile: File is not a zip file")
        assert len(rows) == 6


def test_one_partition_per_file(registered, tmp_path):
    base = _write_two(tmp_path)
    df = registered.read.format("xlsx_grid").load(f"{base}/*.xlsx")
    assert df.rdd.getNumPartitions() == 2


def test_row_idx_restarts_per_file(registered, tmp_path):
    base = _write_two(tmp_path)
    df = registered.read.format("xlsx_grid").load(f"{base}/*.xlsx")
    firsts = (
        df.groupBy("source_file").agg(F.min("row_idx").alias("lo")).collect()
    )
    assert all(r.lo == 0 for r in firsts) and len(firsts) == 2


def test_column_pruning_projection(registered, tmp_path):
    base = _write_two(tmp_path)
    out = (
        registered.read.format("xlsx_grid").option("n_cols", 3)
        .load(f"{base}/one.xlsx")
        .select("c0")
        .collect()
    )
    assert [r.c0 for r in out] == ["invoice", "F-1", "F-2"]


def test_directory_path_and_missing_files(registered, tmp_path):
    base = _write_two(tmp_path)
    df = registered.read.format("xlsx_grid").load(base)  # directory form
    assert df.count() == 5
    with pytest.raises(Exception):
        registered.read.format("xlsx_grid").load(f"{base}/nope-*.xlsx").collect()


def test_extract_stack_runs_on_datasource_scan(registered, tmp_path):
    # the downstream header-discovery contract: same positional grid,
    # so discover-and-reheader dataflow works unchanged
    base = _write_two(tmp_path)
    df = (
        registered.read.format("xlsx_grid").option("n_cols", 3)
        .load(f"{base}/one.xlsx")
    )
    header = df.filter(F.col("row_idx") == 0).select("c0", "c1", "c2").collect()[0]
    assert list(header) == ["invoice", "carrier", "total"]
    body = df.filter(F.col("row_idx") > 0)
    assert body.count() == 2


# --- writer half ------------------------------------------------------------


def test_write_then_read_roundtrip(registered, tmp_path):
    out = str(tmp_path / "out")
    df = registered.createDataFrame(
        [("F-1", "ACME", "1500"), ("F-2", "BETA", "25.5")],
        "invoice string, carrier string, total string",
    ).coalesce(1)
    df.write.format("xlsx_grid").mode("append").save(out)
    back = (
        registered.read.format("xlsx_grid").option("n_cols", 3).load(out)
    )
    rows = sorted(
        (r.row_idx, r.c0, r.c1, r.c2) for r in back.collect()
    )
    assert rows == [
        (0, "invoice", "carrier", "total"),
        (1, "F-1", "ACME", "1500"),
        (2, "F-2", "BETA", "25.5"),
    ]


def test_write_one_workbook_per_partition(registered, tmp_path):
    import glob

    out = str(tmp_path / "parts")
    df = registered.range(0, 40).selectExpr(
        "CAST(id AS STRING) AS id_s"
    ).repartition(4)
    df.write.format("xlsx_grid").mode("append").save(out)
    parts = sorted(glob.glob(f"{out}/part-*.xlsx"))
    assert len(parts) == 4
    back = registered.read.format("xlsx_grid").option("n_cols", 1).load(out)
    # 4 header rows + 40 data rows; no hidden staging files picked up
    assert back.count() == 44
    assert not glob.glob(f"{out}/.staging-*")


def test_write_overwrite_clears_previous_parts(registered, tmp_path):
    import glob

    out = str(tmp_path / "ovw")
    a = registered.createDataFrame([("x",)], "v string").repartition(3)
    a.write.format("xlsx_grid").mode("append").save(out)
    n_first = len(glob.glob(f"{out}/part-*.xlsx"))
    b = registered.createDataFrame([("y",)], "v string").coalesce(1)
    b.write.format("xlsx_grid").mode("overwrite").save(out)
    parts = glob.glob(f"{out}/part-*.xlsx")
    assert n_first == 3 and len(parts) == 1
    back = registered.read.format("xlsx_grid").option("n_cols", 1).load(out)
    assert sorted(r.c0 for r in back.collect()) == ["v", "y"]


def test_append_into_nonempty_dir_keeps_both_jobs(registered, tmp_path):
    # regression: commit() used to restart part numbering at 0 on
    # every job, os.replace-clobbering the previous append's workbooks
    import glob

    out = str(tmp_path / "appends")
    a = registered.createDataFrame([("A-1",), ("A-2",)], "v string").coalesce(1)
    a.write.format("xlsx_grid").mode("append").save(out)
    b = registered.createDataFrame([("B-1",)], "v string").coalesce(1)
    b.write.format("xlsx_grid").mode("append").save(out)
    parts = sorted(glob.glob(f"{out}/part-*.xlsx"))
    assert len(parts) == 2, "second append must not clobber the first"
    back = registered.read.format("xlsx_grid").option("n_cols", 1).load(out)
    vals = sorted(r.c0 for r in back.collect())
    assert vals == ["A-1", "A-2", "B-1", "v", "v"]


def test_append_numbering_continues_after_multifile_job(registered, tmp_path):
    import glob

    out = str(tmp_path / "appends3")
    a = registered.range(0, 30).selectExpr(
        "CAST(id AS STRING) AS s"
    ).repartition(3)
    a.write.format("xlsx_grid").mode("append").save(out)
    b = registered.createDataFrame([("tail",)], "s string").coalesce(1)
    b.write.format("xlsx_grid").mode("append").save(out)
    parts = sorted(glob.glob(f"{out}/part-*.xlsx"))
    assert len(parts) == 4
    back = registered.read.format("xlsx_grid").option("n_cols", 1).load(out)
    assert back.count() == 30 + 1 + 4  # data + 4 header rows


def test_writer_column_formats_option_roundtrip(registered, tmp_path):
    """S8 fidelity through the DataSource writer: the column_formats
    option (JSON {column name: number-format code}) lands in every
    part's styles, keyed by schema position."""
    import glob
    import json

    from smartbots_etl_facturas_spark.sources.xlsx import (
        read_column_formats,
    )

    out = str(tmp_path / "fmt-ds")
    df = registered.createDataFrame(
        [("F-1", 1500, "2024-01-05"), ("F-2", 25, "2024-02-11")],
        "invoice string, total long, issued string",
    ).coalesce(1)
    fmts = {"total": '"$"#,##0', "issued": "dd/mm/yyyy"}
    (
        df.write.format("xlsx_grid")
        .option("column_formats", json.dumps(fmts))
        .mode("append")
        .save(out)
    )
    parts = glob.glob(f"{out}/part-*.xlsx")
    assert len(parts) == 1
    assert read_column_formats(parts[0]) == {1: '"$"#,##0', 2: "dd/mm/yyyy"}


def test_writer_column_formats_unknown_name_fails_fast(registered, tmp_path):
    import json

    df = registered.createDataFrame([("x",)], "v string").coalesce(1)
    with pytest.raises(Exception, match="column_formats"):
        (
            df.write.format("xlsx_grid")
            .option("column_formats", json.dumps({"nope": "0"}))
            .mode("append")
            .save(str(tmp_path / "bad"))
        )

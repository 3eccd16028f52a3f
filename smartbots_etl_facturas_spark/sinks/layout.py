"""Physical data layout for scale: partitioned and bucketed writes.

The two levers that make 100 TB queries cheap BEFORE any execution
cleverness:

- ``write_partitioned``: hive-style directory partitioning. A filter
  on the partition column prunes entire directories at planning time
  (`PartitionFilters` in the scan node) — the scan never lists, opens
  or reads excluded partitions. The right key is the one queries
  filter on (ingest date, region), with cardinality low enough that
  files stay large (avoid small-file explosion: thousands of
  partitions × tiny files beats neither).

- ``write_bucketed``: pre-shuffled table layout (``bucketBy`` +
  ``saveAsTable``). Two tables bucketed on the same key with the same
  bucket count join WITHOUT an Exchange on either side — the shuffle
  was paid once at write time and amortizes over every subsequent
  join/aggregation on that key. This is the standing answer to the
  reference's repeated upsert-by-PK pattern at scale: keep the
  consolidated table bucketed by the PK, and each incremental upsert
  joins co-located.

Both are thin wrappers — the value is the CONTRACT tested in
tests/test_layout.py: partition filters actually prune, bucketed
joins actually drop the Exchange.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def zorder_value(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of k non-negative int columns:
    bit b of column j lands at position b·k + j of the z-value.

    Sorting by this value clusters data in ALL interleaved dimensions
    at once, so per-file parquet min/max stats become tight on every
    one of them — a filter on ANY z-ordered column skips files, where
    a linear sort only ever serves its leading column. The standard
    multi-dimensional data-skipping layout (Delta/Iceberg OPTIMIZE
    ZORDER), here as a pure Column expression.

    Inputs are taken mod 2^bits (``pmod``, so negatives wrap into
    range too) — out-of-range values can degrade clustering locality
    but can never corrupt the interleave silently in a way the caller
    didn't opt into; k·bits must fit a long.
    """
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds long range")
    z = F.lit(0).cast("long")
    masked = [F.pmod(c.cast("long"), F.lit(1 << bits).cast("long")) for c in cols]
    for b in range(bits):
        for j, c in enumerate(masked):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: range-partition on the Morton
    value (contiguous z-ranges per file), sort within partitions, and
    write ``n_files`` files whose per-column min/max stats are tight
    in every z-ordered dimension. The write costs one range shuffle —
    paid once, amortized over every subsequent selective scan."""
    z = zorder_value([F.col(c) for c in zorder_cols], bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(int(n_files), F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet write."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table write.

    ``sort_cols`` additionally sorts within each bucket file, letting
    sort-merge joins skip the per-task sort too.

    Overwrite is crash-robust AND failure-atomic: the new data is
    written to a staging table FIRST, then the old table is dropped
    and the staging table renamed into place — a failed write never
    loses the previous table. A session killed between creating the
    warehouse directory and registering a table leaves an ORPHAN
    location that makes every later ``saveAsTable`` fail with
    LOCATION_ALREADY_EXISTS; an orphan is detected as "managed
    location exists but the catalog has no such table" (checked
    BEFORE any drop — after a drop the check would be vacuously true
    and could clear live data) and only then cleared. The managed
    location is resolved per-database (``warehouse/<db>.db/<tbl>``
    for a non-default database, ``warehouse/<tbl>`` otherwise) so a
    database-qualified overwrite never touches a same-named
    default-database table's directory.
    """
    spark = df.sparkSession
    parts = [p.strip("`") for p in table.split(".")]
    quoted = ".".join(f"`{p}`" for p in parts)
    if mode != "overwrite":
        writer = df.write.mode(mode).bucketBy(int(n_buckets), *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.format("parquet").saveAsTable(table)
        return

    import shutil
    from urllib.parse import urlparse

    if len(parts) == 1:
        db = (spark.catalog.currentDatabase() or "default").lower()
        tbl = parts[0].lower()
    else:
        db, tbl = parts[-2].lower(), parts[-1].lower()

    def _managed_location(name: str) -> str:
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        if db == "default":
            return os.path.join(warehouse, name)
        return os.path.join(warehouse, f"{db}.db", name)

    def _clear_orphan(name: str, qualified: str) -> None:
        # orphan = directory exists but the catalog holds no entry —
        # checked while the table (if any) is still registered, so a
        # live table's data can never match this predicate
        loc = _managed_location(name)
        if not spark.catalog.tableExists(qualified) and os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)

    staging_tbl = f"{tbl}__staging_{uuid.uuid4().hex[:12]}"
    staging_q = (
        f"`{db}`.`{staging_tbl}`" if len(parts) > 1 else f"`{staging_tbl}`"
    )
    _clear_orphan(staging_tbl, staging_q)
    writer = df.write.mode("errorifexists").bucketBy(
        int(n_buckets), *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(staging_q.replace("`", ""))
    try:
        _clear_orphan(tbl, quoted)
        spark.sql(f"DROP TABLE IF EXISTS {quoted}")
        spark.sql(f"ALTER TABLE {staging_q} RENAME TO {quoted}")
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {staging_q}")
        raise


def scan_partition_filters(df: DataFrame) -> str:
    """The PartitionFilters fragment of the frame's scan node —
    empty string when nothing prunes (test/diagnostic helper)."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            start = line.index("PartitionFilters")
            return line[start:].split("]", 1)[0] + "]"
    return ""


def plan_exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle) nodes in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.count("Exchange")


# --- append-only table compaction (round-12 verdict #3) ----------------------
#
# The S9 audit tables and the streaming `stream_batches` table append
# ONE small parquet file per batch / micro-batch — a month-long stream
# accretes tens of thousands of tiny files. `compact_published`
# (sinks/staged.py) already solves this for versioned-sink layouts;
# these plain append DIRECTORIES need their own maintenance path that
# preserves every row and survives a crash at any step.
#
# Protocol (intent-log two-phase move, all inside the table dir —
# underscore/dot-prefixed names are invisible to Spark readers):
#   1. snapshot the current data files; read EXACTLY them
#   2. write the compacted files into a hidden `.compact_<id>/` dir
#      and VERIFY the row count matches the snapshot
#   3. write `_compact_<id>.intent.json` (outputs + inputs)
#   4. move outputs into place          (not yet committed)
#   5. create `_compact_<id>.committed` (THE commit point)
#   6. unlink the snapshot inputs, then the intent/marker
# Recovery (`recover_compactions`, run before every compaction):
#   marker present  -> roll FORWARD  (finish input deletes + cleanup)
#   marker absent   -> roll BACK     (delete moved outputs; inputs
#                                     were never touched)
# Caller contract: same single-writer discipline the audit sinks
# already assume — compaction runs from the table's owning process or
# a quiet maintenance window; a concurrent reader in the step-5→6
# window could transiently see a row twice, never lose one.


def _append_dir_data_files(path: str) -> list[str]:
    return sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(), "double": pa.float64(),
                "boolean": pa.bool_(), "timestamp": pa.timestamp("us", tz="UTC")}


def append_driver_rows(path: str, schema: T.StructType, rows: list[tuple],
                       created_at: datetime | None = None) -> None:
    """Append rows the driver already holds (tuples in ``schema``
    order) to the append-only parquet table at ``path`` as ONE new
    ``part-<uuid>.parquet`` file written by pyarrow: no Spark job for
    a metadata-sized write. ``created_at``, when given, stamps every
    row in a trailing column of that name.

    The Arrow schema is derived from ``schema`` and matches what
    Spark's writer leaves: every field nullable, timestamps as
    UTC-adjusted microseconds (read back as TimestampType, not
    TimestampNTZType). The file is written under a ``.``-prefixed name
    and renamed into place, so Spark, ``_append_dir_data_files`` and
    compaction never see a partial file — local-filesystem scope, like
    the staged sink's pointer flip."""
    fields = [(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in schema]
    if created_at is not None:
        fields.append(("created_at", _ARROW_TYPES["timestamp"]))
        rows = [(*r, created_at) for r in rows]
    arrow = pa.schema(fields)
    table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, f".{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def recover_compactions(path: str) -> int:
    """Finish or roll back compactions interrupted by a crash; returns
    the number of intent logs resolved. Idempotent."""
    import glob as _glob
    import json
    import shutil

    resolved = 0
    for intent in sorted(_glob.glob(os.path.join(path, "_compact_*.intent.json"))):
        cid = os.path.basename(intent)[len("_compact_"):-len(".intent.json")]
        with open(intent) as fh:
            st = json.load(fh)
        marker = os.path.join(path, f"_compact_{cid}.committed")
        if os.path.exists(marker):
            for f in st["inputs"]:           # roll forward
                try:
                    os.unlink(os.path.join(path, f))
                except FileNotFoundError:
                    pass
        else:
            for f in st["outputs"]:          # roll back
                try:
                    os.unlink(os.path.join(path, f))
                except FileNotFoundError:
                    pass
        shutil.rmtree(os.path.join(path, f".compact_{cid}"),
                      ignore_errors=True)
        for p in (marker, intent):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass
        resolved += 1
    return resolved


def compact_append_dir(
    spark,
    path: str,
    target_files: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a plain append-only parquet directory to
    ``target_files`` files (default: sized from on-disk bytes at
    ``target_bytes`` per file) — rows preserved exactly, crash-safe
    via the intent-log protocol above. Appends that land AFTER the
    snapshot are untouched (they are not in the input list)."""
    import json
    import shutil

    if not os.path.isdir(path):  # never-written table: nothing to do
        return {"files_before": 0, "files_after": 0, "rows": None,
                "compacted": False}
    recover_compactions(path)
    inputs = _append_dir_data_files(path)
    if target_files is None:
        size = sum(os.path.getsize(os.path.join(path, f)) for f in inputs)
        target_files = max(1, -(-size // target_bytes))
    if len(inputs) <= int(target_files):
        return {"files_before": len(inputs), "files_after": len(inputs),
                "rows": None, "compacted": False}

    cid = uuid.uuid4().hex[:12]
    tmp = os.path.join(path, f".compact_{cid}")
    snap = spark.read.parquet(*[os.path.join(path, f) for f in inputs])
    snap.coalesce(int(target_files)).write.mode("error").parquet(tmp)
    written = spark.read.parquet(tmp)
    n_in, n_out = snap.count(), written.count()
    if n_in != n_out:  # pragma: no cover - defensive
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch under {path}: "
            f"{n_in} in vs {n_out} out"
        )
    tmp_files = _append_dir_data_files(tmp)
    out_names = [
        f"compact-{cid}-{i:05d}.parquet" for i in range(len(tmp_files))
    ]
    intent = os.path.join(path, f"_compact_{cid}.intent.json")
    staged = intent + ".tmp"
    with open(staged, "w") as fh:
        json.dump({"outputs": out_names, "inputs": inputs}, fh)
    os.replace(staged, intent)
    for src, dst in zip(tmp_files, out_names):
        os.replace(os.path.join(tmp, src), os.path.join(path, dst))
    with open(os.path.join(path, f"_compact_{cid}.committed"), "w"):
        pass                                  # commit point
    for f in inputs:
        os.unlink(os.path.join(path, f))
    shutil.rmtree(tmp, ignore_errors=True)
    os.unlink(os.path.join(path, f"_compact_{cid}.committed"))
    os.unlink(intent)
    return {"files_before": len(inputs), "files_after": len(out_names),
            "rows": n_out, "compacted": True}

"""S9 — append-only audit trail as three parquet tables.

Schemas mirror the reference's SQLite DDL
(smartbots-etl/src/infrastructure/sqlite_tracker.py:15-67):
execution_runs / file_log / record_log, FK-linked by run_uuid and
file_log_id. The reference batches small SQLite inserts under WAL.
Here the rows the driver already holds (a run's start and finish
rows, a round's file_log rows) are written by the driver as one
parquet file per call, with no Spark job; record_log, which is
data-sized, is one Spark ``df.write.mode("append")`` per batch. Both
kinds of file sit side by side in one table directory, with one schema.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .layout import append_driver_rows, compact_append_dir, recover_compactions

RUN_SCHEMA = T.StructType([
    T.StructField("run_uuid", T.StringType(), False),
    T.StructField("started_at", T.TimestampType(), True),
    T.StructField("finished_at", T.TimestampType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("total_files", T.LongType(), True),
    T.StructField("total_records", T.LongType(), True),
    T.StructField("inserted", T.LongType(), True),
    T.StructField("updated", T.LongType(), True),
    T.StructField("unchanged", T.LongType(), True),
    T.StructField("errors", T.LongType(), True),
    T.StructField("source_total_amount", T.StringType(), True),
    T.StructField("output_total_amount", T.StringType(), True),
    T.StructField("message", T.StringType(), True),
])

FILE_LOG_SCHEMA = T.StructType([
    T.StructField("file_log_id", T.StringType(), False),
    T.StructField("run_uuid", T.StringType(), False),
    T.StructField("file_name", T.StringType(), True),
    T.StructField("file_modified_time", T.StringType(), True),
    T.StructField("schema_valid", T.BooleanType(), True),
    T.StructField("missing_columns", T.StringType(), True),
    T.StructField("extra_columns", T.StringType(), True),
    T.StructField("rows_total", T.LongType(), True),
    T.StructField("rows_valid", T.LongType(), True),
    T.StructField("rows_error", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("error_message", T.StringType(), True),
])

RECORD_LOG_ACTIONS = ("INSERT", "UPDATE", "UNCHANGED", "VALIDATION_ERROR", "TRANSFORM_ERROR")

RECORD_LOG_SCHEMA = T.StructType([
    T.StructField("run_uuid", T.StringType(), False),
    T.StructField("file_log_id", T.StringType(), True),
    T.StructField("row_index", T.LongType(), True),
    T.StructField("invoice_number", T.StringType(), True),
    T.StructField("reference_number", T.StringType(), True),
    T.StructField("action", T.StringType(), True),
    T.StructField("error_message", T.StringType(), True),
])


class AuditWriter:
    """Append-only audit sink rooted at ``base_dir`` (one parquet table
    per audit relation, each row stamped with ``created_at`` — F8).

    Appends never rewrite existing files. The driver-written rows
    (``start_run``, ``finish_run``, ``log_files``) land through a
    rename on the local filesystem, so ``base_dir`` is a local path;
    ``log_records`` is a Spark append.
    """

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base = base_dir

    def start_run(self, run_uuid: str | None = None) -> str:
        run_uuid = run_uuid or str(uuid.uuid4())
        now = datetime.now(timezone.utc)
        row = (run_uuid, now, None, "RUNNING", None, None, None, None, None, None,
               None, None, None)
        append_driver_rows(os.path.join(self.base, "execution_runs"), RUN_SCHEMA, [row],
                           created_at=now)
        return run_uuid

    def finish_run(self, run_uuid: str, report_row: dict) -> None:
        now = datetime.now(timezone.utc)
        row = (
            run_uuid, None, now, report_row.get("status"),
            report_row.get("total_files"), report_row.get("total_records"),
            report_row.get("inserted"), report_row.get("updated"),
            report_row.get("unchanged"), report_row.get("errors"),
            str(report_row.get("source_total_amount", "")),
            str(report_row.get("output_total_amount", "")),
            report_row.get("message"),
        )
        append_driver_rows(os.path.join(self.base, "execution_runs"), RUN_SCHEMA, [row],
                           created_at=now)

    def log_file(self, run_uuid: str, file_name: str, **fields) -> str:
        return self.log_files(run_uuid, [{"file_name": file_name, **fields}])[0]

    def log_files(self, run_uuid: str, entries: list[dict]) -> list[str]:
        """Append one file_log row per entry (``file_name`` plus the
        ``log_file`` fields, and optionally a pre-allocated
        ``file_log_id``) as ONE file; returns the ids in order."""
        ids = [e.get("file_log_id") or str(uuid.uuid4()) for e in entries]
        rows = [(
            file_log_id, run_uuid, e["file_name"],
            str(e.get("file_modified_time", "")),
            e.get("schema_valid", True),
            str(e.get("missing_columns", "[]")),
            str(e.get("extra_columns", "[]")),
            e.get("rows_total"), e.get("rows_valid"),
            e.get("rows_error"), e.get("status", "COMPLETED"),
            e.get("error_message"),
        ) for file_log_id, e in zip(ids, entries)]
        if rows:
            append_driver_rows(os.path.join(self.base, "file_log"), FILE_LOG_SCHEMA, rows,
                               created_at=datetime.now(timezone.utc))
        return ids

    def log_records(self, records: DataFrame) -> None:
        """J6 output → record_log append. ``records`` must carry the
        RECORD_LOG_SCHEMA columns (validated here, fail-fast)."""
        missing = set(f.name for f in RECORD_LOG_SCHEMA) - set(records.columns)
        if missing:
            raise ValueError(f"record_log append missing columns: {sorted(missing)}")
        (records.select(*[f.name for f in RECORD_LOG_SCHEMA])
         .withColumn("created_at", F.current_timestamp())
         .write.mode("append").parquet(os.path.join(self.base, "record_log")))

    def table(self, name: str) -> DataFrame:
        """Read one audit relation. Resolves any compaction interrupted
        by a crash FIRST (roll forward / roll back via the intent log),
        so a restart reader never double-counts rows from the step-4..6
        window — the same single-writer contract as compact() itself."""
        path = os.path.join(self.base, name)
        if os.path.isdir(path):
            recover_compactions(path)
        return self.spark.read.parquet(path)

    def compact(self, table: str | None = None,
                target_files: int | None = None) -> dict[str, dict]:
        """Small-file maintenance for the audit tables (round-12
        verdict #3): every run/file/record append writes its own tiny
        parquet file; fold each table through the crash-safe
        intent-log protocol (sinks/layout.py:compact_append_dir).
        Rows are preserved exactly; pass ``table`` to compact one
        relation, default sweeps all three that exist on disk."""
        names = [table] if table else ["execution_runs", "file_log",
                                       "record_log"]
        out: dict[str, dict] = {}
        for name in names:
            path = os.path.join(self.base, name)
            if os.path.isdir(path):
                out[name] = compact_append_dir(self.spark, path,
                                               target_files=target_files)
        return out

    def completed_files(self) -> set[tuple[str, str]]:
        """J5 idempotency set: every COMPLETED ``(file_name,
        file_modified_time)`` in file_log, read in one job (empty when
        the audit table does not exist yet — first-ever run)."""
        if not os.path.isdir(os.path.join(self.base, "file_log")):
            return set()
        done = self.table("file_log").filter(F.col("status") == "COMPLETED")
        return {(r.file_name, r.file_modified_time)
                for r in done.select("file_name", "file_modified_time").distinct().collect()}

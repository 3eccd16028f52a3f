"""The reference's whole use case as one composable pipeline.

Mirrors ConsolidateInvoicesUseCase.execute
(smartbots-etl/src/application/use_cases/consolidate_invoices.py:45-160)
as ONE set-based plan per round, keyed by file: idempotency skip (J5)
→ schema validation (U2) → clean (P2-P4) → validate/split (P9/P10) →
first-wins dedup (U4) → insert-only upsert (J1) → per-file
reconciliation (J3/J4/A1/A2) → audit logging (S9/A3/A4/J6) → staged
atomic publish (S11) → run status (A5).

The file stays the reference's transaction unit: the master, report
counters and audit rows equal those of processing ``files`` one at a
time in order. Only the driver loop is gone — Catalyst sees the round
as one plan over the materialized inbox (like
``__spark_entry__.q_flagship_consolidation``), so jobs and plan size
stay flat as files are added.

:func:`consolidate_inbox` is the program's entry point (the
reference's scripts/run_consolidation.py): it reads and extracts an
XLSX inbox directory once, then runs :func:`consolidate` over one
frame per file; a workbook that does not parse fails alone.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.operators.ordered import dedup_first_wins
from smartbots_etl_facturas_spark.operators.reconcile import reconcile
from smartbots_etl_facturas_spark.operators.upsert import PK
from smartbots_etl_facturas_spark.operators.validation import split_valid, with_validation
from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files
from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
from smartbots_etl_facturas_spark.sinks.staged import current_version, publish, read_published
from smartbots_etl_facturas_spark.sources.readers import validate_schema
from smartbots_etl_facturas_spark.sources.xlsx import read_xlsx_grid_distributed

EXPECTED_COLUMNS = ["row_idx", "invoice_number", "reference_number", "carrier_name",
                    "net_amount", "tax_amount", "total_amount"]

AMOUNT = "decimal(27,6)"

GRID_COLS = 9  # grid width of the widest invoice layout (mixed: columns A..I)


@dataclass
class RunReport:
    """A5 — ExecutionReport twin (dtos.py:21-88)."""

    status: str = "SUCCESS"
    total_files: int = 0
    files_ok: int = 0
    files_error: int = 0
    files_skipped: int = 0
    total_records: int = 0
    inserted: int = 0
    validation_errors: int = 0
    source_total: str = "0"
    output_total: str = "0"
    messages: list[str] = field(default_factory=list)


def _empty_consolidated(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "invoice_number string, reference_number string, "
                                 "carrier_name string, net_amount decimal(12,2), "
                                 "tax_amount decimal(18,6), total_amount decimal(18,6), "
                                 "source_file string")


def consolidate_inbox(
    spark: SparkSession, inbox_dir: str, consolidated_base: str, audit: AuditWriter,
) -> RunReport:
    """The reference's ``run_consolidation.py``: consolidate every
    ``*.xlsx`` in ``inbox_dir``, in file-name order, as one round.

    The inbox is read and extracted once (``extract_invoice_files``
    materializes it); each file's frame filters those rows, and its
    ``file_modified_time`` is its mtime (UTC, ISO 8601). A workbook
    that does not parse goes to :func:`consolidate` as a failed entry,
    so it is logged ERROR and the other files still commit."""
    names = sorted(n for n in os.listdir(inbox_dir)  # skip what Spark's file listing hides
                   if n.endswith(".xlsx") and not n.startswith((".", "_")))
    files: list[tuple[str, str, DataFrame | Exception]] = []
    if names:
        paths = [os.path.join(inbox_dir, n) for n in names]
        grid = read_xlsx_grid_distributed(spark, paths, GRID_COLS)
        grid = grid.withColumn("source_file", F.element_at(F.split("source_file", "/"), -1))
        valid, errors = extract_invoice_files(grid)
        unreadable = dict(errors.filter(F.col("row_idx") < 0).select("source_file", "error").collect())
        for n in names:
            mtime = os.path.getmtime(os.path.join(inbox_dir, n))
            frame = (RuntimeError(unreadable[n]) if n in unreadable
                     else valid.filter(F.col("source_file") == n).select(*EXPECTED_COLUMNS))
            files.append((n, datetime.fromtimestamp(mtime, timezone.utc).isoformat(), frame))
    return consolidate(spark, files, consolidated_base, audit)


def consolidate(
    spark: SparkSession,
    files: list[tuple[str, str, DataFrame | Exception]],
    consolidated_base: str,
    audit: AuditWriter,
    plan_sizes: list[int] | None = None,
) -> RunReport:
    """Run the consolidation over ``files`` = [(name, modified_time,
    frame)] as one round and publish the new consolidated version. A
    file whose frame is an exception (it could not be read) is logged
    ERROR with that exception's message.

    Within a file the first row per PK (by ``row_idx``) wins, across
    files the earlier file, and master rows always win. A file failing
    its schema, its rows' casts or its reconciliation is logged ERROR
    and its rows excluded; the files after a failed reconciliation are
    reconciled again without it (one extra pass per failed file).

    The round commits as one record_log append, the publish (a
    compare-and-swap against the version read at the start, so an
    overlapping run fails instead of dropping the other run's rows),
    then one file_log append: a file is COMPLETED only once its rows
    are published; if the publish raises, the run is ERROR.
    ``plan_sizes``, when a list is supplied, gets len(plan-string) of
    the published frame once per committed file.
    """
    report = RunReport(total_files=len(files))
    run_uuid = audit.start_run()
    start_version = current_version(consolidated_base)
    master = (read_published(spark, consolidated_base) if start_version
              else _empty_consolidated(spark))
    done = audit.completed_files() if start_version else set()

    entries: dict[int, dict] = {}  # position → its file_log row
    frames: dict[int, DataFrame] = {}
    ident = {p: (name, str(modified)) for p, (name, modified, _) in enumerate(files)}

    def fail(pos: int, exc: Exception) -> None:
        report.files_error += 1
        report.messages.append(f"{entries[pos]['file_name']}: {exc}")
        entries[pos].update(status="ERROR", schema_valid="schema mismatch" not in str(exc),
                            error_message=str(exc))

    for pos, (file_name, modified_time, raw) in enumerate(files):
        if ident[pos] in done:  # J5 — idempotent skip
            report.files_skipped += 1
            continue
        entries[pos] = {"file_log_id": str(uuid.uuid4()), "file_name": file_name,
                        "file_modified_time": modified_time}
        try:  # the file could not be read, else U2 — declared schema
            if isinstance(raw, Exception):
                raise raw
            validate_schema(raw, EXPECTED_COLUMNS)
        except Exception as exc:
            fail(pos, exc)
            continue
        frames[pos] = raw.select(
            "row_idx", *[F.trim(F.coalesce(F.col(c), F.lit(""))).alias(c)
                         for c in ("invoice_number", "reference_number", "carrier_name")],
            F.col("net_amount").cast("decimal(12,2)").alias("net_amount"),
            F.col("tax_amount").cast("decimal(18,6)").alias("tax_amount"),
            F.col("total_amount").cast("decimal(18,6)").alias("total_amount"),
            F.lit(file_name).alias("source_file"),
            F.lit(pos).alias("__pos"),
            F.lit(entries[pos]["file_log_id"]).alias("file_log_id"),
        )

    def materialize(parts) -> DataFrame:
        return with_validation(reduce(DataFrame.unionByName, parts)).localCheckpoint()

    def unfailed() -> list[int]:
        return [p for p in frames if "status" not in entries[p]]

    def live() -> list[int]:  # J5 within the round: a repeat runs once its earlier copies failed
        first: dict = {}
        return [p for p in unfailed() if first.setdefault(ident[p] if start_version else p, p) == p]

    def keep(df: DataFrame) -> DataFrame:  # only the files live in this pass
        return df.filter(~F.col("__pos").isin(off)) if off else df

    off, rows, consolidated = [], {}, None
    try:
        try:
            validated = materialize(frames.values()) if frames else None
        except Exception:  # a file whose rows raise fails alone, as in a per-file loop
            parts = []
            for p, frame in frames.items():
                try:
                    parts.append(materialize([frame]))
                except Exception as exc:
                    fail(p, exc)
            validated = reduce(DataFrame.unionByName, parts) if parts else None
        if validated is not None:
            valid, errors = split_valid(validated)
            valid = dedup_first_wins(valid, ["__pos", *PK], ["row_idx"])
            counts = validated.groupBy("__pos").agg(
                F.count(F.lit(1)).alias("n_total"),
                F.count(F.when(~F.col("valid"), 1)).alias("n_errors"),
            )
            w = Window.partitionBy(*PK)
            while True:  # drop the earliest unreconciled file, re-run the rest
                off = [p for p in frames if p not in live()]
                # PK owner in a sequential insert-only loop: master (-1), else earliest file
                won = keep(valid).unionByName(
                    master.select(*PK, "total_amount", F.lit(-1).alias("__pos")),
                    allowMissingColumns=True,
                ).withColumn("__first", F.min("__pos").over(w))
                own = F.col("__pos") == F.col("__first")
                amount = F.col("total_amount").cast(AMOUNT)
                result = won.withColumn(
                    "total_amount", F.sum(F.when(own, amount)).over(w)
                ).filter(F.col("__pos") >= 0)
                # per position, master (-1) included: the owned rows (the published
                # ones) and the sum of all rows (reconcile's source side, exact)
                sums = won.groupBy("__pos").agg(
                    F.count(F.when(own, 1)).alias("n_inserted"),
                    F.sum(F.when(own, amount)).alias("inserted_total"),
                    F.sum(amount).alias("valid_total"))
                recs = reconcile(keep(valid), result, PK, amount_type=AMOUNT, by="__pos")
                stats = counts.join(sums, "__pos", "full").join(recs, "__pos", "left")
                rows = {r["__pos"]: r for r in stats.collect()}
                bad = [p for p in live() if p in rows and rows[p].reconciled is False]
                if not bad:
                    break
                rec = rows[bad[0]]
                fail(bad[0], RuntimeError(f"reconciliation failed: missing={rec.missing_pk_count} "
                                          f"variance={rec.variance}"))

            # J6 + P10 → record_log, one append for the round
            inserted = won.filter(own & (F.col("__pos") >= 0))
            records = inserted.withColumn("action", F.lit("INSERT")).unionByName(
                keep(errors).withColumn("action", F.lit("VALIDATION_ERROR")),
                allowMissingColumns=True)
            audit.log_records(records.select(
                F.lit(run_uuid).alias("run_uuid"), "file_log_id",
                F.col("row_idx").alias("row_index"), *PK, "action",
                F.col("error_reason").alias("error_message")))
            consolidated = master.unionByName(inserted.select(*master.columns))
    except Exception as exc:  # per-file failure unit, like the reference
        for p in unfailed():
            fail(p, exc)

    committed = live()
    source_total = Decimal(0)
    for p in unfailed():
        if p not in committed:  # a repeat of a file this round completed
            report.files_skipped += 1
            del entries[p]
            continue
        r = rows[p].asDict() if p in rows else {}  # a file with no rows has no stats row
        n_total, n_errors = r.get("n_total", 0), r.get("n_errors", 0)
        entries[p].update(status="COMPLETED", rows_total=n_total,
                          rows_valid=n_total - n_errors, rows_error=n_errors)
        report.files_ok += 1
        report.total_records += n_total
        report.inserted += r.get("n_inserted") or 0
        report.validation_errors += n_errors
        source_total += r.get("valid_total") or 0
    report.source_total = str(source_total)

    # A5 — status derivation (consolidate_invoices.py:140-145)
    report.status = ("NO_FILES" if not files else "SUCCESS" if not report.files_error
                     else "PARTIAL" if report.files_ok or report.files_skipped else "ERROR")

    # S11 — reconcile-before-publish: the check re-runs on the WRITTEN
    # bytes; a failure leaves the previous version current.
    if report.files_ok > 0:
        if plan_sizes is not None:
            plan = len(consolidated._jdf.queryExecution().toString())  # noqa: SLF001
            plan_sizes.extend([plan] * report.files_ok)
        published = [rows[p] for p in (-1, *committed) if p in rows]
        n = sum(r.n_inserted or 0 for r in published)
        total = sum((r.inserted_total for r in published
                     if r.inserted_total is not None), Decimal(0))
        try:
            def check(written: DataFrame) -> None:
                if written.count() != n:
                    raise RuntimeError("published row count != computed row count")

            publish(consolidated, consolidated_base, check=check, expected_version=start_version)
            report.output_total = str(total)
        except Exception as exc:  # nothing of the round is published
            msg = f"publish failed: {type(exc).__name__}: {exc}"
            for p in committed:
                entries[p].update(status="ERROR", error_message=msg)
            report.messages.append(msg)
            report.files_error += report.files_ok
            report.files_ok = report.inserted = 0
            report.status = "ERROR"

    audit.log_files(run_uuid, list(entries.values()))
    audit.finish_run(run_uuid, {
        "status": report.status, "total_files": report.total_files,
        "total_records": report.total_records, "inserted": report.inserted,
        "errors": report.validation_errors, "source_total_amount": report.source_total,
        "output_total_amount": report.output_total,
        "message": "; ".join(report.messages) or None,
    })
    return report

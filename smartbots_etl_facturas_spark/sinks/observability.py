"""Engine observability: per-query run reports (plan fingerprint +
wall time) appended to the audit trail.

The reference makes every run auditable through structlog timestamps
(src/infrastructure/logging_config.py:1-27) and its SQLite tracker
(src/infrastructure/sqlite_tracker.py): each execution leaves a row a
human can query later. The engine's analog: every registered query
execution can emit one row into a ``query_runs`` parquet table —
query name, a STABLE fingerprint of the optimized plan, wall-clock
seconds, row count, status, and timestamp — using the same
append-only parquet discipline as sinks/audit.py (S9).

Why a plan fingerprint and not the plan text: the fingerprint is the
drift detector. Two rounds of the same query with different
fingerprints means Catalyst picked a different plan (a regressed
broadcast, a new shuffle) even when the answer is identical — exactly
the thing BENCH comparisons can only see as a latency blip.
Expression ids (``#123``), plan ids and codegen ids are
session-assigned and differ run-to-run, so they are normalized out
before hashing; the fingerprint is stable across sessions for the
same logical plan, and changes when the plan shape changes.

Scale: one driver-side plan-string render + one 1-row parquet file
per query, written by the driver without a Spark job
(sinks/layout.py:append_driver_rows) — O(plan size), independent of
data volume. Like the driver-written audit rows, the table lives on
the local filesystem.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .layout import append_driver_rows, compact_append_dir, recover_compactions

QUERY_RUN_SCHEMA = T.StructType([
    T.StructField("run_uuid", T.StringType(), False),
    T.StructField("query_name", T.StringType(), False),
    T.StructField("plan_fingerprint", T.StringType(), True),
    T.StructField("wall_seconds", T.DoubleType(), True),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("error_message", T.StringType(), True),
])

# session-assigned identifiers that must not perturb the fingerprint:
# expression ids (`name#123`, `#123L`), plan ids (`[plan_id=42]`),
# codegen stage ids, and bare object addresses
_VOLATILE = [
    (re.compile(r"#\d+[A-Za-z]*"), "#?"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"\[id=#?\d+\]"), "[id=?]"),
    (re.compile(r"@[0-9a-f]{6,}"), "@?"),
]


def normalize_plan(plan: str) -> str:
    """The plan string with session-volatile ids masked out — what
    two executions of the same logical plan have in common."""
    for rx, sub in _VOLATILE:
        plan = rx.sub(sub, plan)
    return plan


def plan_fingerprint(df: DataFrame) -> str:
    """Stable 16-hex-char fingerprint of the frame's OPTIMIZED plan
    (post-Catalyst, pre-AQE): same logical plan → same fingerprint
    across sessions; a changed join strategy, a new Exchange, or a
    lost pushed filter changes it."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    return hashlib.sha256(normalize_plan(plan).encode()).hexdigest()[:16]


class QueryRunReporter:
    """Append-only ``query_runs`` reporter rooted at ``base_dir`` —
    the engine's own executions become audit rows, like the
    reference's tracker made its runs queryable."""

    def __init__(self, spark: SparkSession, base_dir: str, run_uuid: str | None = None):
        import uuid

        self.spark = spark
        self.base = base_dir
        self.run_uuid = run_uuid or str(uuid.uuid4())

    def _append(self, row: tuple) -> None:
        append_driver_rows(os.path.join(self.base, "query_runs"), QUERY_RUN_SCHEMA,
                           [row], created_at=datetime.now(timezone.utc))

    def run(self, query_name: str, df: DataFrame) -> int:
        """Execute ``df`` (count action), report one row, return the
        row count. Failures are reported too (status=ERROR) and
        re-raised — an invisible failed run is the observability gap
        this module closes."""
        fp = plan_fingerprint(df)
        t0 = time.perf_counter()
        try:
            n = df.count()
        except Exception as exc:  # report, then propagate
            self._append((
                self.run_uuid, query_name, fp,
                time.perf_counter() - t0, None, "ERROR", str(exc)[:500],
            ))
            raise
        self._append((
            self.run_uuid, query_name, fp,
            time.perf_counter() - t0, n, "COMPLETED", None,
        ))
        return n

    def table(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.base, "query_runs"))

    def drifted(self, other_run_uuid: str) -> DataFrame:
        """Queries whose plan fingerprint differs between this run and
        ``other_run_uuid`` — the round-over-round plan-drift report,
        as one self-join on the audit table."""
        t = self.table()
        a = t.filter(F.col("run_uuid") == self.run_uuid).select(
            "query_name", F.col("plan_fingerprint").alias("fp_now")
        )
        b = t.filter(F.col("run_uuid") == other_run_uuid).select(
            "query_name", F.col("plan_fingerprint").alias("fp_then")
        )
        return a.join(b, "query_name").filter(
            F.col("fp_now") != F.col("fp_then")
        )


# ---------------------------------------------------------------------------
# Streaming per-micro-batch audit (round-11, r10 verdict #8)

STREAM_BATCH_SCHEMA = T.StructType([
    T.StructField("run_uuid", T.StringType(), False),
    T.StructField("monitor", T.StringType(), False),
    T.StructField("batch_id", T.LongType(), False),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("wall_seconds", T.DoubleType(), True),
    T.StructField("status", T.StringType(), True),
])


class StreamBatchAuditor:
    """Per-MICRO-BATCH audit rows for the streaming monitors, through
    the same append-only parquet discipline as the batch S9 sinks —
    the reference's tracker logs every file event
    (sqlite_tracker.py:70-257); with this, every micro-batch a
    streaming monitor folds leaves one queryable ``stream_batches``
    row (who, which batch id, how many rows, how long, status).

    Exactly-once under foreachBatch redelivery: emission is
    IDEMPOTENT per (run_uuid, monitor, batch_id) — so a redelivered
    batch (same process or post-restart) never double-logs, and a
    crash BETWEEN a monitor's state commit and its audit append is
    repaired on redelivery (the monitor skips the fold, the auditor
    back-fills the missing row). For that to hold ACROSS RESTARTS the
    run_uuid must be restart-stable, so the default is a DETERMINISTIC
    uuid5 of (base_dir, monitor, lineage) (round-11 review: a random
    uuid4 default made pre-crash rows invisible to the back-fill probe
    and duplicated them; see ``__init__`` for the uniqueness contract
    the determinism implies). Single-writer per (run_uuid, monitor) is
    assumed — the same assumption the monitors' own JSON state files
    make.

    Cost: COMPLETED batch ids are cached in memory after ONE load of
    this lineage's ids at construction, so steady-state emission is an
    in-memory probe + a 1-row append per micro-batch — the audit-table
    read does not grow with stream age (round-11 review), and the
    in-memory set itself is compacted behind the monitor family's
    LOW-WATERMARK discipline (streaming/_batchlog.py): foreachBatch
    ids are contiguous-monotone, every id at/below ``_low`` counts as
    completed, and only a bounded recent tail is held explicitly — a
    month-long stream's id set stays O(SEEN_CAP), not O(batches)
    (round-11 verdict #2). Monitors
    that cannot derive the batch row count from their own collected
    aggregates pay one extra ``count()`` action per batch when
    auditing is enabled (opt-in, documented per monitor).
    """

    def __init__(self, spark: SparkSession, base_dir: str, monitor: str,
                 run_uuid: str | None = None, lineage: str | None = None):
        """``monitor`` (plus the optional ``lineage`` discriminator,
        e.g. a checkpoint path) must uniquely name ONE stream lineage
        within ``base_dir``: the restart-stable default run_uuid is
        derived from them, so two live streams sharing both would
        suppress each other's rows (the flip side of restart
        idempotency — round-11 review). Pass ``lineage`` when one
        monitor name legitimately serves several streams, or an
        explicit ``run_uuid`` to separate deliberate logical runs."""
        import uuid

        self.spark = spark
        self.base = base_dir
        self.monitor = monitor
        self.run_uuid = run_uuid or str(
            uuid.uuid5(uuid.NAMESPACE_URL,
                       f"stream-batch-auditor:{os.path.abspath(base_dir)}:"
                       f"{monitor}:{lineage or ''}")
        )
        self._completed: set[int] | None = None  # lazy one-time load
        self._low = -1  # seen-id compaction watermark (_batchlog)

    def _path(self) -> str:
        return os.path.join(self.base, "stream_batches")

    def table(self) -> DataFrame:
        """Read the stream_batches relation. Resolves any compaction
        interrupted by a crash FIRST (intent-log roll forward / roll
        back, sinks/layout.py), so a restart reader — including
        :meth:`_load_completed` rebuilding the completed-id set — never
        sees duplicated rows from the step-4..6 window."""
        if os.path.isdir(self._path()):
            recover_compactions(self._path())
        return self.spark.read.schema(STREAM_BATCH_SCHEMA).parquet(
            self._path()
        )

    def _load_completed(self) -> set[int]:
        """This lineage's COMPLETED batch ids, loaded from the table
        ONCE (restart recovery), compacted behind the low watermark,
        and maintained in memory after. foreachBatch ids per lineage
        are contiguous-monotone (the _batchlog contract the whole
        monitor family relies on), so every id at/below ``_low`` is
        completed by construction and only a recent tail is kept."""
        from smartbots_etl_facturas_spark.streaming._batchlog import (
            SEEN_CAP, SEEN_KEEP,
        )

        if self._completed is None:
            if os.path.isdir(self._path()):
                self._completed = {
                    int(r.batch_id)
                    for r in self.table()
                    .filter(
                        (F.col("run_uuid") == self.run_uuid)
                        & (F.col("monitor") == self.monitor)
                        & (F.col("status") == "COMPLETED")
                    )
                    .select("batch_id")
                    .collect()
                }
                if len(self._completed) > SEEN_CAP:
                    self._low = max(self._completed) - SEEN_KEEP
                    self._completed = {
                        i for i in self._completed if i > self._low
                    }
            else:
                self._completed = set()
        return self._completed

    def already_emitted(self, batch_id: int) -> bool:
        """True when the batch already has its COMPLETED row (held
        explicitly or at/below the compaction watermark). ERROR rows
        do not count: each failure is logged as evidence, and a later
        successful redelivery still gets its one COMPLETED row."""
        # _load_completed must run BEFORE the watermark test: on a
        # freshly constructed auditor _low is still -1, and the load is
        # what (re)establishes the compaction watermark — testing the
        # stale -1 first lets an id below the real watermark slip
        # through as "not emitted" and back-fill a duplicate row.
        completed = self._load_completed()
        return int(batch_id) <= self._low or int(batch_id) in completed

    def emit(self, batch_id: int, n_rows: int | None = None,
             wall_seconds: float | None = None,
             status: str = "COMPLETED") -> bool:
        """Append one audit row; COMPLETED emission is idempotent per
        (run_uuid, monitor, batch_id) — returns whether a row was
        written. ERROR rows append unconditionally (one per failure)."""
        if status == "COMPLETED" and self.already_emitted(batch_id):
            return False
        row = (self.run_uuid, self.monitor, int(batch_id),
               None if n_rows is None else int(n_rows),
               None if wall_seconds is None else float(wall_seconds),
               status)
        append_driver_rows(self._path(), STREAM_BATCH_SCHEMA, [row])
        if status == "COMPLETED":
            from smartbots_etl_facturas_spark.streaming._batchlog import (
                mark_merged,
            )

            self._low = mark_merged(
                self._load_completed(), self._low, int(batch_id)
            )
        return True

    def compact(self, target_files: int | None = None) -> dict:
        """Small-file maintenance for the stream_batches table (round-12
        verdict #3): one parquet file per micro-batch accretes over a
        long stream; fold them through the crash-safe intent-log
        protocol (sinks/layout.py:compact_append_dir) — rows preserved
        exactly, appends racing the snapshot untouched. Safe to call
        from the owning process between batches; the in-memory
        completed-id cache is unaffected (same rows)."""
        return compact_append_dir(self.spark, self._path(),
                                  target_files=target_files)

    def audited_sink(self, inner=None):
        """A foreachBatch callable that logs every micro-batch then
        delegates to ``inner`` — the audit hook for stateful streaming
        queries (funnel / ordered folds) whose OUTPUT stream is the
        natural per-batch boundary. ``inner`` failures log an ERROR
        row for the batch (a later redelivery back-fills the
        COMPLETED row under at-least-once replay)."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            t0 = time.perf_counter()
            n = batch_df.count()
            if inner is not None:
                try:
                    inner(batch_df, batch_id)
                except Exception:
                    self.emit(batch_id, n, time.perf_counter() - t0,
                              status="ERROR")
                    raise
            self.emit(batch_id, n, time.perf_counter() - t0)
        return sink

"""S9 audit trail and S11 staged publish/rollback semantics."""

import glob
import os
from datetime import datetime, timezone

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartbots_etl_facturas_spark.sinks.audit import FILE_LOG_SCHEMA, RUN_SCHEMA, AuditWriter
from smartbots_etl_facturas_spark.sinks.layout import _append_dir_data_files
from smartbots_etl_facturas_spark.sinks.staged import (
    current_version,
    list_versions,
    publish,
    read_published,
    rollback,
)


def test_audit_trail_roundtrip(spark, tmp_path):
    aw = AuditWriter(spark, str(tmp_path / "audit"))
    run = aw.start_run()
    flid = aw.log_file(run, "batch1.parquet", rows_total=3, rows_valid=2,
                       rows_error=1, file_modified_time="2026-01-01",
                       status="COMPLETED")
    records = spark.createDataFrame(
        [(run, flid, 0, "F1", "R1", "INSERT", None),
         (run, flid, 1, "F2", "R2", "UNCHANGED", None),
         (run, flid, 2, "", "R3", "VALIDATION_ERROR", "invoice_number vacío")],
        "run_uuid string, file_log_id string, row_index long, invoice_number string,"
        "reference_number string, action string, error_message string",
    )
    aw.log_records(records)
    aw.finish_run(run, {"status": "PARTIAL", "total_files": 1, "total_records": 3,
                        "inserted": 1, "updated": 0, "unchanged": 1, "errors": 1})

    runs = aw.table("execution_runs")
    assert runs.filter(F.col("run_uuid") == run).count() == 2   # start + finish rows
    assert aw.table("file_log").count() == 1
    rl = aw.table("record_log")
    assert rl.count() == 3
    assert {r.action for r in rl.collect()} == {"INSERT", "UNCHANGED", "VALIDATION_ERROR"}
    # created_at stamped everywhere (F8)
    assert rl.filter(F.col("created_at").isNull()).count() == 0


def test_audit_idempotency_probe(spark, tmp_path):
    aw = AuditWriter(spark, str(tmp_path / "audit"))
    run = aw.start_run()
    aw.log_file(run, "f.parquet", file_modified_time="t1", status="COMPLETED")
    aw.log_file(run, "g.parquet", file_modified_time="t1", status="ERROR")
    done = aw.completed_files()
    assert ("f.parquet", "t1") in done
    assert ("f.parquet", "t2") not in done    # modified → reprocess
    assert ("g.parquet", "t1") not in done    # errored → reprocess
    assert ("h.parquet", "t1") not in done    # never seen


def test_log_records_schema_failfast(spark, tmp_path):
    aw = AuditWriter(spark, str(tmp_path / "audit"))
    bad = spark.createDataFrame([("x",)], "run_uuid string")
    with pytest.raises(ValueError, match="missing columns"):
        aw.log_records(bad)


_TIMESTAMPS = ("started_at", "finished_at", "created_at")


def test_audit_tables_mix_spark_and_driver_written_files(spark, tmp_path):
    """One audit directory holding files from both writers: the Spark
    write these tables had before (one-row ``createDataFrame(...)
    .write``) and the driver-side writer. table(), completed_files()
    and compact() return the rows DuckDB reads from the data files,
    every timestamp reads as TimestampType holding the same UTC
    instant, and a dot-prefixed temp file left by a killed writer is
    ignored."""
    base = tmp_path / "audit"
    aw = AuditWriter(spark, str(base))
    t0 = datetime.now(timezone.utc)

    def spark_append(table, schema, rows, stamp):
        df = spark.createDataFrame(rows, schema)
        for c in stamp:
            df = df.withColumn(c, F.current_timestamp())
        df.write.mode("append").parquet(str(base / table))

    spark_append("execution_runs", RUN_SCHEMA,
                 [("spark-run", None, None, "RUNNING", *[None] * 9)], ("started_at", "created_at"))
    spark_append("file_log", FILE_LOG_SCHEMA,
                 [("fl-1", "spark-run", "a.xlsx", "t1", True, "[]", "[]", 2, 2, 0, "COMPLETED", None),
                  ("fl-2", "spark-run", "b.xlsx", "t1", False, "[]", "[]", 1, 0, 1, "ERROR", "x")],
                 ("created_at",))
    spark_append("execution_runs", RUN_SCHEMA,
                 [("spark-run", None, None, "PARTIAL", 2, 3, 2, 0, 0, 1, "", "12.5", None)],
                 ("finished_at", "created_at"))
    run = aw.start_run()
    aw.log_files(run, [{"file_name": "b.xlsx", "file_modified_time": "t1", "rows_total": 1},
                       {"file_name": "c.xlsx", "file_modified_time": "t2", "status": "ERROR",
                        "error_message": "bad"}])
    aw.finish_run(run, {"status": "PARTIAL", "total_files": 2, "output_total_amount": "1.50"})
    t1 = datetime.now(timezone.utc)
    for t in ("execution_runs", "file_log"):
        (base / t / ".part-00000000-0000.parquet").write_bytes(b"PAR1 half-written")

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    names = {"execution_runs": [f.name for f in RUN_SCHEMA] + ["created_at"],
             "file_log": [f.name for f in FILE_LOG_SCHEMA] + ["created_at"]}

    def duck_rows(t):  # Python's glob, like Spark, skips dot files
        cols = ", ".join(f"epoch_us({c})" if c in _TIMESTAMPS else c for c in names[t])
        files = sorted(glob.glob(os.path.join(base, t, "*.parquet")))
        return sorted(con.execute(f"SELECT {cols} FROM read_parquet(?)", [files]).fetchall(),
                      key=repr)

    def spark_rows(t):
        df = aw.table(t)
        return sorted((tuple(r) for r in df.select(*[
            F.unix_micros(c) if c in _TIMESTAMPS else c for c in names[t]]).collect()), key=repr)

    before = {}
    for t in names:
        assert {f.name: f.dataType for f in aw.table(t).schema if f.name in _TIMESTAMPS} == \
            {c: T.TimestampType() for c in _TIMESTAMPS if c in names[t]}
        for f in _append_dir_data_files(str(base / t)):  # each writer's files alone, too
            assert spark.read.parquet(str(base / t / f)).schema["created_at"].dataType \
                == T.TimestampType()
        before[t] = spark_rows(t)
        assert before[t] == duck_rows(t)
        assert {r[1 if t == "file_log" else 0] for r in before[t]} == {"spark-run", run}
        micros = [v for r in before[t] for c, v in zip(names[t], r) if c in _TIMESTAMPS and v]
        assert all(t0.timestamp() * 1e6 - 1 <= v <= t1.timestamp() * 1e6 + 1 for v in micros)

    done = con.execute(
        "SELECT DISTINCT file_name, file_modified_time FROM read_parquet(?) "
        "WHERE status = 'COMPLETED'",
        [sorted(glob.glob(os.path.join(base, "file_log", "*.parquet")))]).fetchall()
    assert aw.completed_files() == set(done) == {("a.xlsx", "t1"), ("b.xlsx", "t1")}

    out = aw.compact(target_files=1)
    for t in names:
        assert out[t]["compacted"] and len(_append_dir_data_files(str(base / t))) == 1
        assert spark_rows(t) == duck_rows(t) == before[t]
    assert aw.completed_files() == set(done)


def test_staged_publish_and_rollback(spark, tmp_path):
    base = str(tmp_path / "consolidated")
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    v1 = publish(df1, base)
    assert read_published(spark, base).count() == 1
    v2 = publish(df2, base)
    assert current_version(base) == v2
    assert read_published(spark, base).count() == 2
    assert list_versions(base) == [v1, v2]          # snapshot retained

    restored = rollback(base)
    assert restored == v1
    assert read_published(spark, base).count() == 1


def test_publish_check_aborts_before_pointer_flip(spark, tmp_path):
    """Reconcile-before-publish: a failing check must leave the
    previous version live (the reference's backup/rollback ordering)."""
    base = str(tmp_path / "consolidated")
    good = spark.createDataFrame([(1, "a")], "id long, v string")
    bad = spark.createDataFrame([(99, "broken")], "id long, v string")
    v1 = publish(good, base)

    def check(written):
        if written.filter(F.col("id") == 99).count() > 0:
            raise ValueError("reconciliation failed")

    with pytest.raises(ValueError, match="reconciliation failed"):
        publish(bad, base, check=check)
    assert current_version(base) == v1
    assert read_published(spark, base).count() == 1


def test_read_unpublished_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_published(spark, str(tmp_path / "nothing"))


def test_compact_published_reduces_files_keeps_rows(spark, tmp_path):
    """Compaction re-publishes the current version with fewer parquet
    files and identical rows; the fragmented version survives as a
    snapshot and the pointer flip is what readers see."""
    from smartbots_etl_facturas_spark.sinks.staged import (
        compact_published,
        list_versions,
        parquet_file_count,
        publish,
        read_published,
    )

    base = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    publish(df.repartition(16), base)              # fragmented: 16 files
    assert parquet_file_count(base) == 16
    before = {(r.k, r.v) for r in read_published(spark, base).collect()}

    compact_published(spark, base, target_files=2)
    assert parquet_file_count(base) == 2
    after = {(r.k, r.v) for r in read_published(spark, base).collect()}
    assert after == before
    assert len(list_versions(base)) == 2           # snapshot retained


def test_schema_evolution_merge_read(spark, tmp_path):
    """Appended data with an ADDED column reads back as the superset
    schema under mergeSchema; old rows surface NULL for the new column
    — the additive-evolution contract an append-only audit/ingest
    table relies on."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double") \
        .write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_time_travel_read_version(spark, tmp_path):
    """VERSION AS OF semantics: every retained snapshot stays readable
    by id regardless of where the pointer points, and unknown ids
    fail fast."""
    from smartbots_etl_facturas_spark.sinks.staged import (
        list_versions,
        publish,
        read_published,
        read_version,
        rollback,
    )

    base = str(tmp_path / "tt")
    v1 = publish(spark.range(3).withColumnRenamed("id", "k"), base)
    v2 = publish(spark.range(7).withColumnRenamed("id", "k"), base)
    assert list_versions(base) == [v1, v2]
    assert read_version(spark, base, v1).count() == 3
    assert read_version(spark, base, v2).count() == 7
    rollback(base)
    # pointer moved back to v1, but v2 is still time-travel readable
    assert read_published(spark, base).count() == 3
    assert read_version(spark, base, v2).count() == 7
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, "v-nope")


def test_rejected_version_invisible_to_time_travel_and_rollback(spark, tmp_path):
    """A check-rejected publish leaves its directory for forensics but
    must NEVER be reachable: not listed, not time-travel readable, and
    not a rollback target (the flip log, not the dir listing, is the
    source of truth)."""
    from smartbots_etl_facturas_spark.sinks.staged import (
        list_versions,
        publish,
        read_published,
        read_version,
        rollback,
    )

    base = str(tmp_path / "rej")
    v1 = publish(spark.range(5).withColumnRenamed("id", "k"), base)
    with pytest.raises(RuntimeError, match="bad data"):
        publish(
            spark.range(99).withColumnRenamed("id", "k"), base,
            check=lambda df: (_ for _ in ()).throw(RuntimeError("bad data")),
        )
    import os

    forensic = [d for d in os.listdir(base)
                if d.startswith("v") and d != v1]
    assert forensic, "rejected dir should remain on disk"
    assert list_versions(base) == [v1]
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, forensic[0])
    with pytest.raises(RuntimeError):   # nothing published before v1
        rollback(base)
    assert read_published(spark, base).count() == 5


def test_merge_published_incremental_loop(spark, tmp_path):
    """CDC merge THROUGH the versioned sink (operators/cdc.py:
    merge_published): each batch applies to the current version and
    publishes a new one; a bad batch rolls back by pointer with the
    prior snapshot intact; time travel still reads every version."""
    from smartbots_etl_facturas_spark.operators.cdc import merge_published
    from smartbots_etl_facturas_spark.sinks.staged import (
        list_versions,
        publish,
        read_published,
        read_version,
        rollback,
    )

    base = str(tmp_path / "merged-table")
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, name string, bal double"
    )
    v1 = publish(snap, base)

    batch1 = spark.createDataFrame(
        [(2, "D", 1, 1, "x", 0.0), (3, "I", 1, 2, "c", 30.0)],
        "k long, op string, ts long, tie long, name string, bal double",
    )
    v2 = merge_published(spark, base, batch1, ["k"], "ts", "tie")
    got = {r.k: r.name for r in read_published(spark, base).collect()}
    assert got == {1: "a", 3: "c"}                      # 2 deleted, 3 inserted

    # a rejected batch leaves the pointer on v2 and v2's data intact
    batch2 = spark.createDataFrame(
        [(1, "D", 2, 3, "x", 0.0)],
        "k long, op string, ts long, tie long, name string, bal double",
    )
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        merge_published(
            spark, base, batch2, ["k"], "ts", "tie",
            check=lambda df: (_ for _ in ()).throw(RuntimeError("reconcile")),
        )
    assert {r.k for r in read_published(spark, base).collect()} == {1, 3}
    assert list_versions(base) == [v1, v2]              # rejected dir unlisted

    # rollback = pointer flip to the PRE-merge snapshot; v2 retained
    assert rollback(base) == v1
    assert {r.k for r in read_published(spark, base).collect()} == {1, 2}
    assert {r.k for r in read_version(spark, base, v2).collect()} == {1, 3}


def test_publish_cas_conflict_and_success(spark, tmp_path):
    """Round-13 verdict #2b: publish(expected_version=...) is a CAS —
    two interleaved publishers cannot both flip; the loser raises
    PublishConflictError, the winner's version stays current, and the
    loser's directory is never readable."""
    from smartbots_etl_facturas_spark.sinks.staged import (
        PublishConflictError,
        read_version,
    )

    base = str(tmp_path / "cas")
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(2,)], "k int")
    df3 = spark.createDataFrame([(3,)], "k int")

    # fresh table: expected_version=None means "expect nothing yet"
    v1 = publish(df1, base, expected_version=None)
    assert current_version(base) == v1
    # a second fresh-table publisher loses
    with pytest.raises(PublishConflictError):
        publish(df2, base, expected_version=None)
    assert current_version(base) == v1
    # CAS against the live version succeeds
    v2 = publish(df2, base, expected_version=v1)
    assert current_version(base) == v2
    # a writer still holding the stale v1 view loses loudly
    with pytest.raises(PublishConflictError):
        publish(df3, base, expected_version=v1)
    assert current_version(base) == v2
    assert [r.k for r in read_published(spark, base).collect()] == [2]
    # the losers' directories were never flipped: not time-travelable
    assert set(list_versions(base)) == {v1, v2}
    with pytest.raises(FileNotFoundError):
        read_version(spark, base, "v-not-published")


def test_publish_without_cas_stays_last_wins(spark, tmp_path):
    """Omitting expected_version keeps the historical last-wins flip
    (the single-writer tables rely on it)."""
    base = str(tmp_path / "lastwins")
    publish(spark.createDataFrame([(1,)], "k int"), base)
    v2 = publish(spark.createDataFrame([(2,)], "k int"), base)
    assert current_version(base) == v2

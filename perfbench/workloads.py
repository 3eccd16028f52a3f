"""The two workloads: inputs, one pass of the op mix, and the oracle.

Every workload has the same life cycle, driven by ``run.py``:
``generate()`` writes the seeded inputs (no Spark), ``prepare(spark)``
does the Spark-side set-up (ingest: the published master), ``mix()``
lists one pass of rounds and ``warm_mix()`` the shorter warm-up pass,
``run_round`` executes one round and returns its ops, and ``check(op)``
compares one op's output with the oracle, off the clock. ``PASSES`` is
the fixed number of timed passes whose ops the latency metrics are
taken over.

A round is what the client issues and waits for; an op is what a user
waits for. For ``invoice_ingest`` a round is one cron run over the inbox
and each file committed is an op; for ``event_stream`` a round is one
availableNow drain and each micro-batch committed is an op.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from contextlib import nullcontext

import duckdb
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - pa.compute
import pyarrow.parquet as pq

import datagen
from gate import Op, compare_rows, row_multiset

_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|\w+EvalPythonUDTF)\b")


def python_nodes(df) -> int:
    """Python-evaluation operators in the final physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return len(_PYTHON_NODE.findall(plan.split("== Initial Plan ==")[0]))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def dir_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(path) for f in fs)


class Ctx:
    """What a round needs besides its spec: the session, the tracer
    (None in the measured run) and the per-op Spark counters."""

    def __init__(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.next_op = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def begin_op(self, label: str) -> str:
        """Start a new op: spans and Spark jobs after this belong to it."""
        op_id = self.next_op
        self.next_op += 1
        if self.tracer:
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(f"op-{op_id}", label)
        return f"op-{op_id}"

    def spark_counts(self, group: str) -> dict[str, float]:
        """Jobs and completed tasks Spark ran under one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                stage = st.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        return {"spark.jobs_per_op": len(jobs), "spark.tasks_per_op": tasks}


# --- invoice_ingest --------------------------------------------------------

class IngestWorkload:
    """The paper's pipeline: XLSX inbox → extract → consolidate →
    publish, once per round, each round into a fresh copy of the
    published master and a fresh audit trail. A timed round takes the
    whole inbox; the warm-up round takes its first file alone."""

    name = "invoice_ingest"
    PASSES = 1  # one two-file round already outlasts --seconds

    def __init__(self, work: str, seed: int, sf: float, n_files: int,
                 rows_per_file: int, master_rows: int):
        self.work, self.seed, self.sf = work, seed, sf
        self.n_files, self.rows_per_file = n_files, rows_per_file
        self.master_rows = master_rows
        self.inbox_dir = os.path.join(work, "inbox")
        self.template = os.path.join(work, "master-template")
        self.rounds = 0
        self.results: dict[int, dict] = {}
        self.per_file: list[dict] = []
        self._truth: dict[int, dict] = {}

    def generate(self) -> None:
        self.inbox = datagen.invoice_inbox(
            datagen.lineitem(self.seed, self.sf), self.inbox_dir,
            self.seed, self.n_files, self.rows_per_file, self.master_rows)
        self.input_bytes = self.inbox.input_bytes
        os.makedirs(self._inbox(1))
        shutil.copy(self.inbox.files[0], self._inbox(1))

    def _inbox(self, n_files: int) -> str:
        """Directory holding the first ``n_files`` files of the inbox."""
        return self.inbox_dir if n_files == self.n_files else f"{self.inbox_dir}-{n_files}"

    def prepare(self, spark) -> None:
        from smartbots_etl_facturas_spark.sinks.staged import publish

        m = self.inbox.master
        dec = pa.decimal128(18, 6)
        table = pa.table({
            "invoice_number": m["invoice_number"],
            "reference_number": m["reference_number"],
            "carrier_name": m["carrier_name"],
            "net_amount": pa.array(m["net_amount"], pa.decimal128(12, 2)),
            "tax_amount": pa.array(m["tax_amount"], dec),
            "total_amount": pa.array(m["total_amount"], dec),
            "source_file": m["source_file"],
        })
        src = os.path.join(self.work, "master-src.parquet")
        pq.write_table(table, src)
        self._spark = spark
        publish(spark.read.parquet(src), self.template)

    def mix(self) -> list[int]:
        return [self.n_files]

    def warm_mix(self) -> list[int]:
        return [1]

    def run_round(self, n_files: int, ctx: Ctx) -> list[Op]:
        from pyspark.sql import functions as F

        from smartbots_etl_facturas_spark.plans.consolidation import consolidate
        from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files
        from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
        from smartbots_etl_facturas_spark.sources.xlsx import read_xlsx_grid_distributed

        k = self.rounds
        self.rounds += 1
        root = os.path.join(self.work, f"round-{k}")
        base, audit_dir = os.path.join(root, "master"), os.path.join(root, "audit")
        shutil.copytree(self.template, base)
        names = [os.path.basename(p) for p in self.inbox.files[:n_files]]
        commits: list[float] = []
        groups = [ctx.begin_op(names[0])]

        class Audit(AuditWriter):
            # a file is committed when its record_log append returns;
            # when tracing, the next file's op (or, after the last
            # file, the publish) opens here with its own job group
            def log_records(self, records):
                super().log_records(records)
                commits.append(time.perf_counter())
                if ctx.tracer:
                    i = len(commits)
                    groups.append(ctx.begin_op(names[i] if i < len(names) else "publish"))

        plan_sizes: list[int] | None = [] if ctx.tracer else None
        t0 = time.perf_counter()
        try:
            with ctx.span("bench.op"):
                grid = read_xlsx_grid_distributed(
                    ctx.spark, os.path.join(self._inbox(n_files), "*.xlsx"), n_cols=9)
                grid = grid.withColumn(
                    "source_file", F.element_at(F.split("source_file", "/"), -1))
                valid, _errors = extract_invoice_files(grid)
                files = [
                    (n, "t1", valid.filter(F.col("source_file") == n).select(
                        "row_idx", "invoice_number", "reference_number",
                        "carrier_name", "net_amount", "tax_amount",
                        "total_amount"))
                    for n in names
                ]
                report = consolidate(ctx.spark, files, base, Audit(ctx.spark, audit_dir),
                                     plan_sizes=plan_sizes)
            t_end = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a raising round fails its ops
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
            return [Op(self.name, n, time.perf_counter() - t0, error=err) for n in names]
        self.results[k] = {"base": base, "audit": audit_dir, "report": report,
                           "n_files": n_files}
        ops, prev = [], t0
        for i, n in enumerate(names):
            end = commits[i] if i < len(commits) else t_end
            ops.append(Op(self.name, n, end - prev, rows_in=self.rows_per_file,
                          output=(k, n)))
            prev = end
        if ctx.tracer:
            self._trace_round(ctx, ops, groups, plan_sizes, files, audit_dir, base)
        return ops

    def _trace_round(self, ctx, ops, groups, plan_sizes, files, audit_dir, base):
        """Per-file layer numbers of one traced round; the op after the
        last file is the round's publish."""
        from smartbots_etl_facturas_spark.sinks.layout import plan_exchange_count

        tr = ctx.tracer
        first_op = tr.op - len(ops)
        audit_files = dir_files(audit_dir)
        written = dir_bytes(base) - dir_bytes(self.template) + dir_bytes(audit_dir)
        for i, op in enumerate(ops):
            oid = first_op + i
            # a file that failed never committed, so it has no group
            counts = ctx.spark_counts(groups[i]) if i < len(groups) else {}
            op.layer = {
                "plans.consolidation.file_s": op.latency_s,
                "plans.consolidation.jobs_per_file": counts.get("spark.jobs_per_op", 0),
                "plans.consolidation.plan_chars": plan_sizes[i] if i < len(plan_sizes) else 0,
                "operators.plan_build_s": tr.total((
                    ".with_validation", ".split_valid", ".dedup_first_wins",
                    ".upsert_insert_only", ".reconcile"), oid),
                "operators.exchanges": plan_exchange_count(files[i][2]),
                "functions.python_nodes": python_nodes(files[i][2]),
                "sinks.audit.append_s": tr.total((
                    "AuditWriter.start_run", "AuditWriter.log_file",
                    "AuditWriter.log_records", "AuditWriter.finish_run"), oid),
                "sinks.audit.files_per_op": audit_files / len(ops),
                "sinks.bytes_per_input_byte": written / self.input_bytes,
                **counts,
            }
            self.per_file.append({"round": self.rounds - 1, "file_index": i,
                                  "latency_s": op.latency_s,
                                  "jobs": op.layer["plans.consolidation.jobs_per_file"],
                                  "plan_chars": op.layer["plans.consolidation.plan_chars"]})
        ops[0].layer["plans.extract.plan_s"] = tr.total(("extract.extract_invoice_files",), first_op)
        ops[-1].layer["sinks.staged.publish_s"] = tr.total(("staged.publish",), tr.op)

    def parse_probe(self, spark) -> float:
        """Seconds to force the XLSX grid scan alone over the inbox."""
        from smartbots_etl_facturas_spark.sources.xlsx import read_xlsx_grid_distributed

        t = time.perf_counter()
        read_xlsx_grid_distributed(
            spark, os.path.join(self.inbox_dir, "*.xlsx"), n_cols=9,
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    # -- oracle --

    def _oracle(self, n_files: int) -> dict:
        """Expected master and per-file INSERT / VALIDATION_ERROR counts
        after a round over the first ``n_files`` files: the DuckDB
        insert-only union of the master and the valid, first-wins-
        deduped inbox rows (earlier files win)."""
        if n_files not in self._truth:
            con = duckdb.connect()
            names = [os.path.basename(p) for p in self.inbox.files[:n_files]]
            rows = pa.table({k: (pa.array(v, pa.decimal128(18, 2))
                                 if k.endswith("_amount") else v)
                             for k, v in self.inbox.rows.items()})
            rows = rows.filter(pa.compute.is_in(rows["source_file"], pa.array(names)))
            master = pa.table({k: (pa.array(v, pa.decimal128(18, 2))
                                   if k.endswith("_amount") else v)
                               for k, v in self.inbox.master.items()})
            con.register("inbox", rows)
            con.register("master", master)
            con.execute("""
CREATE TABLE valid AS
SELECT *, trim(invoice_number) <> '' AND trim(reference_number) <> ''
          AND trim(carrier_name) <> '' AND total_amount >= 0
          AND abs(total_amount - (net_amount + tax_amount)) <= 1 AS ok
FROM inbox WHERE extract_ok;
CREATE TABLE firsts AS
SELECT * FROM (SELECT *, row_number() OVER (
    PARTITION BY source_file, invoice_number, reference_number
    ORDER BY row_idx) AS rn FROM valid WHERE ok) WHERE rn = 1;
CREATE TABLE inserted AS
SELECT * FROM (SELECT f.*, row_number() OVER (
    PARTITION BY f.invoice_number, f.reference_number
    ORDER BY f.source_file) AS k
  FROM firsts f ANTI JOIN master m USING (invoice_number, reference_number))
WHERE k = 1;
""")
            per_file = {n: [0, 0] for n in names}
            for n, c in con.execute("SELECT source_file, count(*) FROM inserted GROUP BY 1").fetchall():
                per_file[n][0] = c
            for n, c in con.execute("SELECT source_file, count(*) FROM valid WHERE NOT ok GROUP BY 1").fetchall():
                per_file[n][1] = c
            n, total = con.execute("""
SELECT count(*), sum(total_amount) FROM (
  SELECT total_amount FROM master UNION ALL SELECT total_amount FROM inserted)""").fetchone()
            pks = set(con.execute("""
SELECT invoice_number, reference_number FROM master UNION ALL
SELECT invoice_number, reference_number FROM inserted""").fetchall())
            self._truth[n_files] = {"per_file": per_file, "n": n, "total": total,
                                    "pks": pks}
        return self._truth[n_files]

    def check(self, op: Op) -> str | None:
        from pyspark.sql import functions as F

        from smartbots_etl_facturas_spark.sinks.staged import read_published

        k, name = op.output
        res = self.results[k]
        truth = self._oracle(res["n_files"])
        if "checked" not in res:
            spark = self._spark
            problems = []
            if res["report"].status != "SUCCESS":
                problems.append(f"RunReport.status={res['report'].status}")
            out = read_published(spark, res["base"])
            n, total = out.agg(F.count(F.lit(1)), F.sum("total_amount")).collect()[0]
            if n != truth["n"]:
                problems.append(f"master rows {n} != {truth['n']}")
            if total != truth["total"]:
                problems.append(f"master sum(total_amount) {total} != {truth['total']}")
            pks = {tuple(r) for r in out.select("invoice_number", "reference_number").collect()}
            if pks != truth["pks"]:
                problems.append(f"master PK set differs in {len(pks ^ truth['pks'])} keys")
            log = spark.read.parquet(os.path.join(res["audit"], "record_log"))
            fl = spark.read.parquet(os.path.join(res["audit"], "file_log"))
            counts = {(f, a): c for f, a, c in log.join(fl, "file_log_id").groupBy(
                "file_name", "action").count().collect()}
            res["counts"] = counts
            res["checked"] = "; ".join(problems) or None
        want_ins, want_err = truth["per_file"][name]
        got_ins = res["counts"].get((name, "INSERT"), 0)
        got_err = res["counts"].get((name, "VALIDATION_ERROR"), 0)
        problems = [p for p in [res["checked"]] if p]
        if (got_ins, got_err) != (want_ins, want_err):
            problems.append(f"{name}: INSERT/VALIDATION_ERROR {got_ins}/{got_err} "
                            f"!= {want_ins}/{want_err}")
        return "; ".join(problems) or None


# --- event_stream ----------------------------------------------------------

STREAM_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                 "value double, props string")


class StreamWorkload:
    """Events drained one file per trigger through the stateful
    ``streaming.windows.tumbling_agg`` (1 h windows, 2 h watermark,
    update mode) into a foreachBatch sink that writes each micro-batch
    as its own parquet directory (idempotent per batch id). Every
    round, the warm-up round too, drains every event file into a fresh
    checkpoint: a shorter warm-up left the first timed drain's
    micro-batches 20-30 % slower than the later ones."""

    name = "event_stream"
    PASSES = 3  # 39 micro-batches: the tail (ten beyond it) is p74

    def __init__(self, work: str, seed: int, n_events: int, n_files: int):
        self.work, self.seed = work, seed
        self.n_events, self.n_files = n_events, n_files
        self.events_dir = os.path.join(work, "events")
        self.rounds = 0
        self.outputs: dict[int, tuple[str, str]] = {}
        self._committed: dict[int, str | None] = {}
        self._truth: dict[str, tuple] = {}

    def generate(self) -> None:
        self.input_bytes = datagen.event_files(
            self.events_dir, self.seed, self.n_events, self.n_files)

    def prepare(self, spark) -> None:
        self._spark = spark

    def mix(self) -> list[str]:
        return [self.events_dir]

    warm_mix = mix

    def run_round(self, events_dir: str, ctx: Ctx) -> list[Op]:
        from smartbots_etl_facturas_spark.streaming.ingest import incremental_file_stream
        from smartbots_etl_facturas_spark.streaming.windows import tumbling_agg

        k = self.rounds
        self.rounds += 1
        root = os.path.join(self.work, f"round-{k}")
        out = os.path.join(root, "out")

        def sink(batch_df, batch_id):
            with ctx.span("bench.sink"):
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(out, f"batch_id={batch_id}"))

        ctx.begin_op(f"drain-{k}")
        t0 = time.perf_counter()
        try:
            with ctx.span("bench.op"):
                q = incremental_file_stream(
                    ctx.spark, events_dir, STREAM_SCHEMA,
                    os.path.join(root, "checkpoint"),
                    transform=lambda df: tumbling_agg(df, window="1 hour",
                                                      watermark="2 hours"),
                    on_batch=sink, output_mode="update",
                    reader_options={"maxFilesPerTrigger": 1})
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:300])
        except Exception as exc:  # noqa: BLE001 - a failed drain fails its ops
            return [Op(self.name, f"drain-{k}", time.perf_counter() - t0,
                       error=f"{type(exc).__name__}: {str(exc)[:300]}")]
        self.outputs[k] = (out, events_dir)
        ops = []
        for p in q.recentProgress:
            if p["numInputRows"] == 0:  # watermark-only batch, no file
                continue
            d = p["durationMs"]
            op = Op(self.name, f"batch-{p['batchId']}", d["triggerExecution"] / 1000,
                    rows_in=p["numInputRows"], output=k)
            op.layer = {
                "streaming.trigger_ms": d["triggerExecution"],
                "streaming.add_batch_ms": d.get("addBatch", 0),
                "streaming.wal_commit_ms": d.get("walCommit", 0),
                "streaming.state_rows": (p["stateOperators"][0]["numRowsTotal"]
                                         if p["stateOperators"] else 0),
            }
            ops.append(op)
        if ctx.tracer and ops:
            # micro-batches, and the foreachBatch writes they call back
            # into, run under the query's own job group (its run id)
            counts = ctx.spark_counts(str(q.runId))
            for op in ops:
                op.layer.update({m: v / len(ops) for m, v in counts.items()})
        return ops

    def _oracle(self, events_dir: str) -> tuple:
        if events_dir not in self._truth:
            self._truth[events_dir] = row_multiset(*stream_oracle(events_dir))
        return self._truth[events_dir]

    def committed(self, out: str) -> tuple[list[str], list[tuple]]:
        """(columns, rows) a drain committed under ``out``: the last
        update per window and event type."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        df = self._spark.read.parquet(out)
        w = Window.partitionBy("window_start", "event_type").orderBy(F.desc("batch_id"))
        last = df.withColumn("r", F.row_number().over(w)).filter("r = 1").select(
            F.unix_micros("window_start").alias("window_start_us"),
            "event_type", "n", "sum_value")
        return last.columns, [tuple(r) for r in last.collect()]

    def check(self, op: Op) -> str | None:
        """The committed output of the op's drain against DuckDB over
        the drained files."""
        k = op.output
        if k not in self._committed:
            out, events_dir = self.outputs[k]
            self._committed[k] = compare_rows(self.committed(out), self._oracle(events_dir))
        return self._committed[k]


def stream_oracle(events_dir: str) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of the stream's operator over ``events_dir`` on
    DuckDB: per 1 h window and event type, the count and the sum of
    ``value``."""
    cur = duckdb.connect().execute(f"""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM read_parquet('{events_dir}/*.parquet') GROUP BY ALL""")
    return [d[0] for d in cur.description], cur.fetchall()


def make(name: str, work: str, seed: int):
    """The workload called ``name``, sized for one benchmark run."""
    if name == "invoice_ingest":
        return IngestWorkload(work, seed, sf=0.01, n_files=2, rows_per_file=200,
                              master_rows=5_000)
    if name == "event_stream":
        return StreamWorkload(work, seed, n_events=50_000, n_files=13)
    raise KeyError(name)


WORKLOADS = ("invoice_ingest", "event_stream")

"""One benchmark run of one workload; prints one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates the workload's
inputs from ``--seed``, starts the engine's session on
``local[<cores>]``, warms up with one untimed pass over the op mix, then
issues rounds from a single client thread in a closed loop (the next
round starts when the previous one returned) in whole passes over the
mix until the rounds have taken ``--seconds`` and the workload's fixed
number of passes is done. Every op's output is checked against an
independent oracle right after its round, off the clock.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
timed loop once untraced and once with spans around every call into the
program's layers, and reports the per-layer metrics. See README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the program, and scripts/ for the parity rule

#: layers whose self time the traced run reports: the program's
#: modules, plus the benchmark's own code around them
SELF_LAYERS = ("session", "sources", "functions", "operators", "plans",
               "sinks", "streaming", "bench")

#: per-op layer values are summarised by their median, except these
LAST_OR_MAX = {"plans.consolidation.plan_chars": max,
               "streaming.state_rows": lambda v: v[-1]}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def contain(work: str) -> None:
    """Keep everything the run writes, JVM and Python workers
    included, under ``work`` inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={work}'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def run_pass(wl, ctx, mix, ops: list) -> float:
    """Run one pass of ``mix``; returns the seconds spent in rounds.

    Each round's ops go through the gate right after the round, off
    the clock, so no output is held while later ops run."""
    import gate

    busy = 0.0
    for spec in mix:
        t = time.perf_counter()
        new = wl.run_round(spec, ctx)
        busy += time.perf_counter() - t
        with ctx.tracer.paused() if ctx.tracer else contextlib.nullcontext():
            gate.apply(new, wl.check)
        ops += new
    return busy


def timed_loop(wl, ctx, seconds: float):
    """Closed loop over whole passes of the mix until ``seconds`` of
    round time and at least ``wl.PASSES`` passes.

    Returns (ops, busy, measured): every op, the round time, and the ops
    of the first ``wl.PASSES`` passes, which the latency metrics are
    taken over. That is the same multiset of ops in every run, whatever
    the host's speed, so their percentiles are too; only the order
    depends on the seed."""
    ops: list = []
    busy, passes = 0.0, 0
    while busy < seconds or passes < wl.PASSES:
        busy += run_pass(wl, ctx, wl.mix(), ops)
        passes += 1
        if passes == wl.PASSES:
            measured = list(ops)
    return ops, busy, measured


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the op latency at the highest percentile
    with at least ten samples beyond it (the maximum when n < 11). The
    workload's fixed op count fixes the percentile."""
    xs = sorted(latencies)
    n = len(xs)
    idx = n - 11 if n >= 11 else n - 1
    return xs[idx], 100.0 * (idx + 1) / n, n


def peak_rss_mb() -> float:
    """Peak resident memory of the driver JVM plus this process."""
    from pyspark import SparkContext

    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave it running
                proc.kill()
                proc.wait()


def layer_metrics(ops, per_layer_names) -> dict[str, float]:
    values: dict[str, list[float]] = {}
    for op in ops:
        for k, v in op.layer.items():
            values.setdefault(k, []).append(v)
    out = {}
    for name in per_layer_names:
        v = values.get(name)
        out[name] = (LAST_OR_MAX.get(name, statistics.median)(v) if v else 0.0)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        contain(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    """The run itself; returns the result object."""
    import gate
    import workloads
    from tracing import Tracer

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wl = workloads.make(args.workload, work, args.seed)
    wl.generate()

    from smartbots_etl_facturas_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t
    layer: dict[str, float] = {}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.prepare(spark)
        ctx = workloads.Ctx(spark)
        t = time.perf_counter()
        warm: list = []
        run_pass(wl, ctx, wl.warm_mix(), warm)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        ops, wall, measured = timed_loop(wl, ctx, args.seconds)
        traced = []
        if args.trace:
            tracer = Tracer()
            tracer.install()
            try:
                traced, _, _ = timed_loop(wl, workloads.Ctx(spark, tracer),
                                          args.seconds)
            finally:
                tracer.uninstall()
            layer = layer_metrics(traced, [m["name"] for m in spec["per_layer"]])
            layer.update({
                "peak_rss_mb": peak_rss_mb(),
                "session.start_s": session_start_s,
                "session.warmup_s": warmup_s,
                "sources.input_bytes": wl.input_bytes,
                "sources.xlsx.parse_s": wl.parse_probe(spark)
                if hasattr(wl, "parse_probe") else 0.0,
                "trace.overhead_frac": (statistics.median(o.latency_s for o in traced)
                                        / statistics.median(o.latency_s for o in ops) - 1),
            })
            for name, secs in tracer.self_times().items():
                if name in SELF_LAYERS:
                    layer[f"self_s.{name}"] = secs / len(traced)
            traces = os.path.join(ROOT, ".perfbench-work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-s{args.seed}.json"))
        every = warm + ops + traced
    finally:
        stop_spark(spark)

    attempted, failed = gate.summary(every)
    lat = [op.latency_s for op in measured]
    p50 = statistics.median(lat)
    tail_s, tail_pct, n = tail(lat)
    print(f"workload={args.workload} seed={args.seed} setup_s={setup_s:.3f} "
          f"ops={len(ops)} timed_s={wall:.3f} op_p50_s={p50:.4f} "
          f"op_tail_s={tail_s:.4f} (p{tail_pct:.0f} of {n} ops)")
    print(f"failed_frac={failed / attempted:.4f} ({failed}/{attempted} ops, "
          f"warm-up and traced passes included)")
    for op in every:
        if op.failed:
            print(f"FAILED {op.name}: {op.error or op.problem}")
    if args.trace and getattr(wl, "per_file", None):
        print("invoice_ingest per file: round file_index latency_s jobs plan_chars")
        for r in wl.per_file:
            print(f"  {r['round']} {r['file_index']} {r['latency_s']:.3f} "
                  f"{r['jobs']} {r['plan_chars']}")

    if args.trace:
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = {"setup_s": setup_s, "op_p50_s": p50, "op_tail_s": tail_s,
               "ops_per_s": len(ops) / wall,
               "rows_per_s": sum(op.rows_in for op in ops) / wall}
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())

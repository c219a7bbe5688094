"""perfbench: end-to-end and per-layer benchmark of the pac_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload iterative_loops --seed 1 --seconds 5 --trace 0

One client runs ops back to back on ``local[<cores>]`` (closed loop).
The run sets up Spark, checks every workload query against its DuckDB
oracle once (this pass also warms the JVM at the workload's own scale),
runs one untimed cycle of ops, then runs whole cycles of ops until
``--seconds`` of measured time have passed. The seed picks the op order in each cycle and the sink's keys.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run installs outside-in wrappers on the engine's layer
functions, reads Spark's counters per op, alternates traced and
untraced cycles, and prints the per-layer metrics instead. The command
exits non-zero on any wrong result; ``--corrupt`` damages one result on
purpose to show that it does.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def pin_environment(work: str) -> dict[str, str]:
    """Run-environment settings the engine reads at import and JVM start:
    one Spark core per available CPU, a driver heap well below physical
    memory, and every temporary directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    dirs = {name: os.path.join(work, name) for name in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{min(4096, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    env["tmp"], env["warehouse"] = dirs["tmp"], dirs["warehouse"]
    return env


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def end_to_end(ops, active_s: float, setup_s: float) -> dict[str, float]:
    # op_p50_s is not gated: with a handful of different ops per window
    # (4 queries, or 2 writes and 2 reads) the median is the midpoint of
    # two different ops and moved more across runs than ops_per_s; it is
    # printed on the summary line instead
    return {"setup_s": setup_s, "ops_per_s": len(ops) / active_s}


def per_layer(ops, host: dict[str, float]) -> dict[str, float]:
    """Per-layer figures: per-op medians of Spark counters over every
    window op, per-layer self-time shares over the traced ops."""
    from perfbench.trace import LAYERS

    traced = [o for o in ops if o.traced]
    untraced = [o for o in ops if not o.traced]

    def c(key):
        return _median(o.counters[key] for o in ops)

    def share(selected, part):
        return _median(part(o) / o.latency_s for o in selected)

    def spans(o, name):
        return [s for s in o.spans if s.name == name]

    def span_s(o, name):
        return sum(s.end - s.start for s in spans(o, name))

    queries = [o for o in ops if o.kind == "query"]
    noops = [o for o in traced if o.kind in ("query", "read")]
    writes = [o for o in traced if o.kind == "write"]
    reads = [o for o in ops if o.kind == "read"]
    m = {
        "registry.build_share": share([o for o in queries if o.traced], lambda o: span_s(o, "registry.query")),
        "spark.exec_share": share(noops, lambda o: span_s(o, "spark.noop")),
        "spark.jobs_per_op": c("jobs"),
        "spark.stages_per_op": c("stages"),
        "spark.tasks_per_op": c("tasks"),
        "spark.driver_share": c("driver_share"),
        "spark.input_bytes_per_op": c("input_bytes"),
        "spark.shuffle_read_bytes_per_op": c("shuffle_read_bytes"),
        "spark.shuffle_write_bytes_per_op": c("shuffle_write_bytes"),
        "spark.spill_bytes_per_op": c("spill_bytes"),
        "spark.executor_run_s_per_op": c("executor_run_s"),
        "spark.executor_cpu_s_per_op": c("executor_cpu_s"),
        "catalog.load_calls_per_op": _median(len(spans(o, "catalog.load")) for o in traced),
        "catalog.load_share": share(traced, lambda o: span_s(o, "catalog.load")),
        "cache.pin_calls_per_op": _median(len(spans(o, "cache.pin")) for o in traced),
        "cache.checkpoint_calls_per_op": _median(len(spans(o, "cache.checkpoint")) for o in traced),
        "cache.checkpoint_share": share(traced, lambda o: span_s(o, "cache.checkpoint")),
        "cache.release_s_per_op": _median(o.extra["release_s"] for o in ops),
        "sinks.write_share": share(writes, lambda o: o.extra["write_s"]),
        "sinks.verify_share": share(writes, lambda o: o.extra["verify_s"]),
        "sinks.files_written_per_op": _median(o.extra["files_written"] for o in ops if o.kind == "write"),
        "sinks.bytes_written_per_row": _median(
            o.counters["output_bytes"] / o.extra["rows_written"] for o in ops if o.kind == "write"
        ),
        "sinks.read_share": share([o for o in traced if o.kind == "read"], lambda o: span_s(o, "sinks.json_tree_read")),
        "sinks.read_jobs_per_op": _median(o.counters["jobs"] for o in reads),
        "streaming.drain_share": share(
            [o for o in queries if o.traced and o.name.startswith("streaming_")],
            lambda o: span_s(o, "streaming.run_to_memory") + span_s(o, "streaming._run_ivm_fold"),
        ),
    }
    # self time over all traced ops together, so the layers add up to 1
    traced_s = sum(o.latency_s for o in traced)
    for layer in LAYERS:
        m[f"self.{layer}_share"] = sum(o.layers[layer] for o in traced) / traced_s
    m.update(host)
    m["trace.overhead_s"] = _median(o.latency_s for o in traced) - _median(o.latency_s for o in untraced)
    m["trace.spans_per_op"] = _median(len(o.spans) for o in traced)
    m["ops"] = float(len(ops))
    return m


UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "ops": "count",
    "host.steal_s_per_s": "s/s", "host.cpu_s_per_op": "s", "jvm.gc_s_per_op": "s",
    "jvm.peak_rss_mb": "MB", "trace.overhead_s": "s", "trace.spans_per_op": "count",
    "sinks.bytes_written_per_row": "B/row", "cache.release_s_per_op": "s",
    "spark.executor_run_s_per_op": "s", "spark.executor_cpu_s_per_op": "s",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_share"):
        return "share"
    if name.endswith("bytes_per_op"):
        return "B"
    return "count"


def start_spark(name: str, env: dict[str, str]):
    from pac_spark.session import get_spark

    return get_spark(
        app_name=name,
        master=f"local[{env['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": env["warehouse"],
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def measure(spark, wl, seed: int, seconds: float, work: str, sf_dir: str,
            tracer=None, corrupt: bool = False):
    """Gate, warm up and time one workload on a running session.

    Returns the runner (ops, attempted, failed), the metrics and a
    summary for the human-readable line. ``setup_s`` counts from the
    start of the process.
    """
    import numpy as np

    from pac_spark.plans import registry
    from perfbench import counters, oracle
    from perfbench.workloads import Runner

    run = Runner(spark, work, tracer, corrupt)
    duck = oracle.duck(sf_dir)
    try:
        wl.setup(run, registry.queries(), registry.oracle_sql(), sf_dir, duck)
    finally:
        duck.close()
    log("correctness gate done")
    rng = np.random.default_rng(seed)
    # the gate is the first pass at this scale; a second pass still runs
    # some 20-30% slower than later ones, so it is not timed either
    wl.cycle(run, rng)
    log("warm-up done")
    first = len(run.ops)

    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    steal0, gc0 = counters.steal_s(), counters.gc_s(sc)
    cpu0 = counters.proc_cpu_s(jvm_pid) + time.process_time()
    setup_s = time.perf_counter() - T0
    start, paused0, cycles = time.perf_counter(), run.paused_s, 0
    while True:
        if tracer is not None:
            # alternate traced and untraced cycles: the untraced ones
            # give the same run's baseline for the tracing overhead
            tracer.enabled = cycles % 2 == 0
        wl.cycle(run, rng)
        cycles += 1
        wall = time.perf_counter() - start
        active = wall - (run.paused_s - paused0)
        if active >= seconds and (tracer is None or cycles >= 2):
            break
    if tracer is not None:
        tracer.enabled = False
    ops = run.ops[first:]
    host = {
        "host.steal_s_per_s": (counters.steal_s() - steal0) / wall,
        "host.cpu_s_per_op": (counters.proc_cpu_s(jvm_pid) + time.process_time() - cpu0) / len(ops),
        "jvm.gc_s_per_op": (counters.gc_s(sc) - gc0) / len(ops),
        "jvm.peak_rss_mb": counters.peak_rss_mb(jvm_pid),
    }
    if tracer is not None:
        for o in ops:
            o.spans = tracer.op_spans(o.op_id)
            wl.attribute(o)
        metrics = per_layer(ops, host)
    else:
        metrics = end_to_end(ops, active, setup_s)
    summary = {
        "ops": len(ops), "cycles": cycles, "window_s": round(active, 3),
        "op_p50_s": round(_median(o.latency_s for o in ops), 4),
        "steal_s_per_s": round(host["host.steal_s_per_s"], 4), **wl.summary(ops),
    }
    return run, metrics, summary


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true", help="damage one result on purpose")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pac_spark", "__init__.py")):
        print(f"perfbench: no pac_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    env = pin_environment(work)
    from perfbench import datagen

    wl = WORKLOADS[args.workload]()
    sf_dir = datagen.ensure(os.path.join(work, "data"), wl.sf)

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()  # before the registry import binds any wrapped name

    if tracer is not None:
        tracer.enabled = True  # the session start is a span of its own
    spark = start_spark(f"perfbench-{args.workload}", env)
    if tracer is not None:
        tracer.enabled = False
    log("spark session up")
    try:
        run, metrics, summary = measure(
            spark, wl, args.seed, args.seconds, work, sf_dir, tracer, args.corrupt
        )
    finally:
        stop_spark(spark)
    if tracer is not None:
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))

    correct = run.failed == 0
    summary = {"workload": args.workload, "seed": args.seed, **summary}
    print("perfbench " + " ".join(f"{k}={v}" for k, v in summary.items()))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

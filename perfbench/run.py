"""pcgraph benchmark: one workload, seeded inputs, oracle-checked outputs.

    python3 perfbench/run.py --workload {iter_sf01,batch_sf01} --seed N --seconds S --trace {0,1} [--smoke]

Runs from any working directory; the repository root is this file's
parent's parent, and everything the run writes stays under its
``.perfbench/`` directory.  Inputs, block stores and oracle answers are
cached there (``inputs.py``).  Spark runs as one local process on
``local[nproc]``.

A run starts the session, prepares (or reopens) the inputs, opens them
and does the workload's untimed warm-up, then runs closed-loop passes
until ``--seconds`` have been measured.  Every operation's output is
checked against its oracle.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it is a report with the per-operation times, superstep
counts, error rate and the host record (cores, shuffle partitions, CPU
steal/busy over the timed window).

``--trace 1`` measures the timed passes as usual, then restarts the
session with an uncompressed event log, runs one tagged pass, and
attributes every superstep's Spark jobs, stages, tasks,
shuffle, spill, GC, CPU and Python-worker traffic to it.  The ratio of
the traced to the untraced pass time is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("iter_sf01", "batch_sf01")


def metric_spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (4,000 files, sf0.001 tables) for the benchmark's own tests")
    return ap.parse_args(argv)


def isolate_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``run_dir``, and let the workers import pcgraph from this checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PCGRAPH_BLOCK_CACHE"] = os.path.join(run_dir, "blockcache")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("OMP_NUM_THREADS", "1")


def start_session(run_dir: str, cores: int, event_log: str | None = None):
    import trace

    from pcgraph.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(trace.EVENTLOG_CONF, **{"spark.eventLog.dir": event_log})
    return get_spark(app_name="pcgraph-perfbench", cores=cores, shuffle_partitions=cores,
                     extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(pct, value): the highest percentile with at least ten samples
    beyond it; the maximum when there are fewer than 21 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1]
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i]


def superstep_metrics(passes: list[list[dict]], n_edges: int) -> tuple[dict, dict]:
    """Engine metrics of ``iter_sf01``'s timed passes, from the
    hook-to-hook superstep samples of every operation, pooled."""
    steps = [s for p in passes for r in p for s in r["steps"]]
    pr = [s for p in passes for r in p if r["op"] == "pagerank" for s in r["steps"]]
    pct, tail = tail_percentile(steps)
    values = {
        "engine.superstep_s_p50": statistics.median(steps),
        "engine.superstep_s_tail": tail,
        "engine.edges_per_s": n_edges * len(pr) / sum(pr),
        "engine.supersteps": float(sum(r["supersteps"] for r in passes[-1])),
    }
    return values, {"step_samples": len(steps), "tail_percentile": round(pct, 1)}


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("pcgraph/__init__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_environment(run_dir)
    try:
        return run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, work: str, run_dir: str) -> int:
    import inputs as inputs_mod
    import procstat
    import workloads
    from pcgraph.metrics import HostCpuSampler

    scale = "smoke" if args.smoke else "full"
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(work, "inputs")
    spans = workloads.Spans()
    with procstat.PeakRss() as rss:
        with spans("session.start_s"):
            spark = start_session(run_dir, cores)
        t_in = time.monotonic()
        data = inputs_mod.prepare(cache, scale, spark)
        kind = workloads.Iter if args.workload == "iter_sf01" else workloads.Batch
        wl = kind(spark, data, run_dir, spans, args.seed)
        inputs_s = time.monotonic() - t_in
        with spans(wl.OPEN_SPAN):
            wl.open()
        with spans("warmup_s"):
            wl.warmup()
        setup_s = sum(spans.times[k][0] for k in ("session.start_s", wl.OPEN_SPAN, "warmup_s"))

        host = HostCpuSampler()
        passes, problems = [], []
        t0 = time.monotonic()
        while not passes or time.monotonic() - t0 < args.seconds:
            records, outputs = wl.run_pass()
            passes.append(records)
            problems += wl.check(outputs)
        measured_s = time.monotonic() - t0
        host_cpu = host.delta()

        layers = traced_layers(args, wl, spark, run_dir, cores, spans, passes) if args.trace else None
        if layers is None:
            stop_jvm(spark)
    attempted = sum(len(p) for p in passes) + len(getattr(wl, "traced_ops", ()))
    problems += getattr(wl, "trace_problems", [])
    failed = min(len(problems), attempted)
    values = {
        "run_s": statistics.median(sum(r["s"] for r in p) for p in passes),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
    }
    engine, info = ({}, {})
    if args.workload == "iter_sf01":
        engine, info = superstep_metrics(passes, data.scalars["edges"])
    report = {
        "workload": args.workload, "seed": args.seed, "scale": scale,
        "host": {"nproc": cores, "cpu_count": os.cpu_count(),
                 "shuffle_partitions": cores, "cpu_pct_timed_window": host_cpu},
        "inputs_s": round(inputs_s, 3), "measured_s": round(measured_s, 3),
        "spans": {k: [round(x, 3) for x in v] for k, v in spans.times.items()},
        "passes": [{r["op"]: round(r["s"], 4) for r in p} for p in passes],
        "supersteps": {r["op"]: r["supersteps"] for r in passes[-1]},
        **info, "e2e": values, "engine": engine,
        "error_rate": failed / attempted, "problems": problems[:20],
        "leftover_processes": procstat.descendants(),
    }
    print(json.dumps(report))
    e2e, per_layer = metric_spec()
    if layers is None:
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in e2e.items()}
    else:
        layers.update(engine)
        metrics = {k: {"value": layers.get(k, 0.0), "unit": unit} for k, unit in per_layer.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def traced_layers(args, wl, spark, run_dir, cores, spans, passes) -> dict:
    """Restart the session with the event log on, run one tagged pass,
    and fold everything into the per-layer metrics.  Stops the JVM
    (which flushes the log) before reading it."""
    import layers

    untraced = statistics.median(sum(r["s"] for r in p) for p in passes)
    spark.stop()
    log_dir = os.path.join(run_dir, "eventlog")
    wl.spark = start_session(run_dir, cores, event_log=log_dir)
    wl.open()
    # no second warm-up: the JVM, its JIT and its codegen cache outlive
    # the restart, only the Python workers start again
    wl.tagging = True
    records, outputs = wl.run_pass()
    wl.tagging = False
    wl.trace_problems = wl.check(outputs)
    wl.traced_ops = [r["op"] for r in records]
    out = layers.measure(wl, records, spans)
    stop_jvm(wl.spark)
    out.update(layers.from_eventlog(log_dir, records, wl.name))
    if wl.name == "iter_sf01":
        # batch_sf01's timed pass runs in a cold JVM and its traced one
        # in a warm one, so only iter_sf01 compares like with like
        traced = sum(r["s"] for r in records if r["op"] in wl.OPS)
        out.update({"trace.run_s_untraced": untraced, "trace.run_s_traced": traced,
                    "trace.overhead_ratio": traced / untraced})
    return out


if __name__ == "__main__":
    sys.exit(main())

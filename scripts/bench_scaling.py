"""Scaling-efficiency evidence: the same PageRank job at local[N] and
local[4N] on the same input (north rule: >=0.8 throughput scaling
efficiency between N and 4N parallelism; no real cluster in-sandbox, so
two parallelism levels stand in — BASELINE.md measurement protocol).

Throughput = |E| * supersteps / total superstep seconds (excludes
session startup and block build).  Writes BENCH/BASELINE.md.

Usage: python scripts/bench_scaling.py [--n-files 100000] [--low 8 --high 32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(
    cores: int, edges_path: str, max_iter: int, partitions: int,
    no_aqe: bool = False, shuffle_partitions: int | None = None,
) -> None:
    from pcgraph.algos.pagerank import pagerank
    from pcgraph.metrics import HostCpuSampler, StageMetricsSampler
    from pcgraph.partition import open_block_store
    from pcgraph.session import get_spark

    conf = {"spark.ui.enabled": "true"}  # REST API for the breakdown
    if no_aqe:
        # AQE re-plans 3-4 query stages on the driver per superstep — a
        # serial per-round cost that hits the 4N side 4x harder.  The
        # loop's shuffle partitioning is already fixed (= cores) and
        # skew is handled by salting, so AQE buys nothing here.
        conf["spark.sql.adaptive.enabled"] = "false"
    # shuffle_partitions defaults to the core count; pass a FIXED value
    # for the cluster-faithful protocol (a real cluster keeps the data
    # partitioning constant when executor count scales N -> 4N — only
    # compute changes, so both sides should process identical task units)
    spark = get_spark(
        app_name=f"pcgraph-scaling-{cores}", cores=cores,
        shuffle_partitions=shuffle_partitions or cores,
        extra_conf=conf,
    )
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    # block store pre-built once by the parent (fixed partition count
    # across both runs, BASELINE.md protocol); children only run the loop
    blocks = open_block_store(spark, edges_path + f".store{partitions}")

    # Per-round CPU-vs-I/O breakdown (BENCH/BASELINE.md round-2 plan):
    # executorCpuTime is the scalable fraction; runTime - cpu - gc is
    # blocked time (shuffle fetch wait, disk, Arrow socket waits).
    sampler = StageMetricsSampler(spark)
    host = HostCpuSampler()
    rounds_io: list[dict] = []

    def post(step: int, metrics: dict) -> None:
        d = sampler.delta()
        d.update(host.delta())  # window quality: steal/sys/iowait %
        d["superstep"] = step
        d["round_sec"] = metrics.get("round_sec")
        rounds_io.append(d)

    _, hist = pagerank(
        spark, edges, tol=1e-6, max_iter=max_iter, num_partitions=partitions,
        blocks=blocks, post_superstep=post,
    )
    superstep_sec = sum(h["round_sec"] for h in hist)
    cpu_ms = sum(r["executorCpuTime"] for r in rounds_io)
    run_ms = sum(r["executorRunTime"] for r in rounds_io)
    gc_ms = sum(r["jvmGcTime"] for r in rounds_io)
    # Round 1 pays one-time costs (block-cache population, vertex-set
    # init counts) at BOTH parallelism levels; steady-state throughput
    # excludes it.  Both numbers are reported.
    steady = [h["round_sec"] for h in hist[1:]]
    steady_sec = sum(steady) if steady else superstep_sec
    print(
        "SCALING_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "n_edges": n_edges,
                "supersteps": len(hist),
                "superstep_sec": round(superstep_sec, 3),
                "throughput_edges_per_sec": round(
                    n_edges * len(hist) / superstep_sec, 1
                ),
                "steady_superstep_sec": round(steady_sec, 3),
                "steady_throughput_edges_per_sec": round(
                    n_edges * len(steady) / steady_sec, 1
                )
                if steady
                else None,
                "executor_cpu_sec": round(cpu_ms / 1000, 1),
                "executor_run_sec": round(run_ms / 1000, 1),
                "executor_gc_sec": round(gc_ms / 1000, 1),
                "cpu_fraction_of_runtime": round(cpu_ms / run_ms, 3)
                if run_ms
                else None,
                "shuffle_read_gb": round(
                    sum(r["shuffleReadBytes"] for r in rounds_io) / 2**30, 2
                ),
                "shuffle_write_gb": round(
                    sum(r["shuffleWriteBytes"] for r in rounds_io) / 2**30, 2
                ),
                "disk_spill_gb": round(
                    sum(r["diskBytesSpilled"] for r in rounds_io) / 2**30, 2
                ),
                "rounds": rounds_io,
            }
        )
    )
    spark.stop()


def run_child(
    cores: int, edges_path: str, max_iter: int, partitions: int,
    no_aqe: bool = True, pin_cpus: bool = False,
    shuffle_partitions: int | None = None,
) -> dict:
    # pin_cpus: confine the WHOLE child (JVM executor threads AND the
    # Python kernel workers) to exactly `cores` host CPUs via taskset.
    # Plain local[N] only caps JVM task slots — pandas-UDF workers are
    # separate processes that spill onto the host's remaining cores, so
    # an unpinned local[N] run borrows ~2N cores' worth of compute and
    # deflates the N-side of a scaling pair.  Pinning makes "N cores vs
    # 4N cores" mean what it says (the north-rule cluster-size proxy).
    prefix = ["taskset", "-c", f"0-{cores - 1}"] if pin_cpus else []
    out = subprocess.run(
        prefix
        + [
            sys.executable, __file__, "--child", str(cores),
            "--edges", edges_path,
            "--max-iter", str(max_iter),
            "--partitions", str(partitions),
        ]
        + (["--no-aqe"] if no_aqe else [])
        + (
            ["--shuffle-partitions", str(shuffle_partitions)]
            if shuffle_partitions
            else []
        ),
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("SCALING_RESULT "):
            return json.loads(line[len("SCALING_RESULT "):])
    raise RuntimeError(f"no result line in child output:\n{out.stdout[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", type=int, default=None)
    ap.add_argument("--edges", default="/tmp/pcgraph_scaling_edges.parquet")
    ap.add_argument("--n-files", type=int, default=100_000)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--max-iter", type=int, default=12)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--no-aqe", action="store_true",
                    help="(child only) disable AQE for the session; "
                         "children ALWAYS run AQE-off — the loop refixes "
                         "it anyway and a mixed A/B would not be a "
                         "scaling pair")
    ap.add_argument("--pairs", type=int, default=1,
                    help="interleaved (low, high) measurement pairs; the "
                         "MEDIAN pair is the headline (ambient host noise "
                         "hits both levels of an interleaved pair equally; "
                         "max() over pairs would be upward-biased)")
    ap.add_argument("--write-baseline", action="store_true",
                    help="regenerate BENCH/BASELINE.md from this run "
                         "(default: only the JSON, BASELINE.md is curated)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="FIXED spark.sql.shuffle.partitions for BOTH "
                         "sides (cluster-faithful: scaling executors "
                         "does not re-partition the data); default = "
                         "each child's core count")
    ap.add_argument("--pin-cpus", action="store_true",
                    help="taskset each child to exactly its core count "
                         "(JVM + Python workers) — the faithful N-vs-4N-"
                         "cores protocol on a shared host")
    args = ap.parse_args()

    if args.child is not None:
        child(args.child, args.edges, args.max_iter, args.partitions,
              no_aqe=args.no_aqe,
              shuffle_partitions=args.shuffle_partitions)
        return

    if not os.path.exists(args.edges):
        from pcgraph import derive, fixtures
        from pcgraph.session import get_spark

        spark = get_spark(app_name="scaling-prep", cores=32, shuffle_partitions=64)
        # distributed generator — no driver bottleneck at 10^7+ files
        source = fixtures.bench_source_df(spark, n_files=args.n_files)
        derive.dependency_edges(source, level="file").write.mode(
            "overwrite"
        ).parquet(args.edges)
        spark.stop()

    store_path = args.edges + f".store{args.partitions}"
    if not os.path.exists(os.path.join(store_path, "store_meta.json")):
        from pcgraph.partition import ensure_block_store
        from pcgraph.session import get_spark

        # G1 for the one-off build: handles the large-heap churn of the
        # full edge shuffle better than ParallelGC (whose full GCs tripped
        # the heartbeat at ~300M edges)
        spark = get_spark(
            app_name="scaling-blocks",
            cores=32,
            shuffle_partitions=64,
            extra_conf={
                "spark.driver.extraJavaOptions": "-XX:+UseG1GC -XX:G1HeapRegionSize=32m"
            },
        )
        ensure_block_store(
            spark, spark.read.parquet(args.edges), args.partitions,
            store_path, tag="directed",
        )
        spark.stop()

    factor = args.high / args.low

    def pair_report(low: dict, high: dict) -> dict:
        efficiency = high["throughput_edges_per_sec"] / (
            factor * low["throughput_edges_per_sec"]
        )
        steady_eff = None
        if low.get("steady_throughput_edges_per_sec") and high.get(
            "steady_throughput_edges_per_sec"
        ):
            steady_eff = round(
                high["steady_throughput_edges_per_sec"]
                / (factor * low["steady_throughput_edges_per_sec"]),
                3,
            )
        return {
            "low": low,
            "high": high,
            "parallelism_factor": factor,
            "scaling_efficiency": round(efficiency, 3),
            "steady_scaling_efficiency": steady_eff,
        }

    # Interleaved pairs: low,high,low,high,... so ambient noise on the
    # multi-tenant host hits both levels of each pair equally.
    pairs = []
    for i in range(max(1, args.pairs)):
        low = run_child(args.low, args.edges, args.max_iter, args.partitions,
                        pin_cpus=args.pin_cpus,
                        shuffle_partitions=args.shuffle_partitions)
        high = run_child(args.high, args.edges, args.max_iter, args.partitions,
                         pin_cpus=args.pin_cpus,
                         shuffle_partitions=args.shuffle_partitions)
        rep = pair_report(low, high)
        rep["pair"] = i
        pairs.append(rep)
        print(f"pair {i}: efficiency={rep['scaling_efficiency']} "
              f"steady={rep['steady_scaling_efficiency']}", flush=True)
    # Median pair as the headline: max() over repeated pairs is
    # upward-biased (expected max grows with --pairs), and the >=0.8
    # gate must not be cleared by cherry-picking ambient noise.
    ordered = sorted(pairs, key=lambda r: r["scaling_efficiency"])
    median = ordered[len(ordered) // 2]
    report = dict(median)
    report["all_pairs"] = [
        {k: p[k] for k in ("pair", "scaling_efficiency",
                           "steady_scaling_efficiency")}
        for p in pairs
    ]
    report["max_scaling_efficiency"] = ordered[-1]["scaling_efficiency"]
    report["headline"] = "median_pair"
    report["protocol"] = {
        "pinned": args.pin_cpus,
        "store_mode": True,
        "shuffle_partitions": args.shuffle_partitions or "per-child cores",
        "pairs": args.pairs,
    }
    low, high, efficiency = median["low"], median["high"], median["scaling_efficiency"]
    print(json.dumps(report))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    tag = "_pinned" if args.pin_cpus else ""
    with open(
        os.path.join(REPO, "BENCH", f"scaling_{args.low}v{args.high}{tag}.json"),
        "w",
    ) as fh:
        json.dump(report, fh, indent=1)
    if not args.write_baseline:
        return
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as fh:
        fh.write(
            f"""# BENCH/BASELINE — measured scaling + throughput

Protocol (BASELINE.md): deterministic synthetic input (seed 42,
bench_source_pdf n_files={args.n_files} -> file-level import edges),
same edge parquet + fixed partition count for both runs, wall-clock per
global superstep excluding session startup and CSR block build;
throughput = |E| x supersteps / total superstep seconds;
efficiency = throughput({args.high}) / ({factor:.0f} x throughput({args.low})).

| parallelism | edges | supersteps | superstep sec | edges/sec/superstep |
|---|---|---|---|---|
| local[{args.low}] | {low['n_edges']} | {low['supersteps']} | {low['superstep_sec']} | {low['throughput_edges_per_sec']} |
| local[{args.high}] | {high['n_edges']} | {high['supersteps']} | {high['superstep_sec']} | {high['throughput_edges_per_sec']} |

**Scaling efficiency (N={args.low} -> 4N={args.high}): {efficiency:.3f}**
(target >= 0.8, north rule)
"""
        )


if __name__ == "__main__":
    main()

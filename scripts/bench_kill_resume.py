"""Executor-loss / crash-resume evidence at 316M edges (r4 verdict #6):
kill -9 a checkpointed delta-store SSSP mid-run (after ~round 8), resume
from the committed manifest, and verify the final distance hash matches
an uninterrupted run.

Why this is meaningful: the delta loop's per-round state lives in the
DeltaStateStore (parquet, append-only, manifest committed per round),
NOT in localCheckpoint blocks — so a hard process death loses at most
the in-flight round.  Resume adopts the last committed manifest; any
uncommitted version directory a dying round left behind is either
overwritten by the reallocated version id or never referenced.

Writes BENCH/sssp_kill_resume_316m_r5.json.

Usage: python scripts/bench_kill_resume.py \
    [--edges /tmp/pcgraph_scaling_edges.parquet] [--kill-after-round 8]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(mode: str, edges_path: str, ckpt: str, partitions: int) -> None:
    from pyspark.sql import functions as F

    from pcgraph.algos.sssp import sssp
    from pcgraph.session import get_spark

    spark = get_spark(app_name=f"sssp-killresume-{mode}", cores=32,
                      shuffle_partitions=32)
    edges = spark.read.parquet(edges_path)
    source = int(edges.agg(F.min("src")).collect()[0][0])

    def post(step, metrics):
        print("ROUND " + json.dumps(
            {"superstep": step, "active": metrics.get("active")}
        ), flush=True)

    kwargs = dict(
        num_partitions=partitions,
        store_dir=edges_path + f".wstore{partitions}",
        incremental=True, checkpoint_dir=ckpt,
        post_superstep=post,
    )
    if mode == "resume":
        kwargs["resume_from"] = ckpt
    dist, hist = sssp(spark, edges, source=source, **kwargs)
    row = dist.select(
        F.sum(F.xxhash64("id", "distance")).alias("h"),
        F.count("*").alias("n"),
        F.sum(F.when(F.col("distance") != float("inf"), 1).otherwise(0)).alias(
            "reached"
        ),
    ).collect()[0]
    print("CHILD_RESULT " + json.dumps({
        "mode": mode,
        "hash": int(row["h"]),
        "n_rows": int(row["n"]),
        "reached": int(row["reached"]),
        "supersteps": len(hist),
        "last_superstep": hist[-1]["superstep"] if hist else None,
    }), flush=True)
    spark.stop()


def run_child(mode: str, edges: str, ckpt: str, partitions: int,
              kill_after_round: int | None = None) -> dict | None:
    """Run a child; if kill_after_round is set, SIGKILL it when its
    stdout reports that superstep — returns None in that case."""
    proc = subprocess.Popen(
        [sys.executable, __file__, "--child", mode, "--edges", edges,
         "--ckpt", ckpt, "--partitions", str(partitions)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=REPO,
    )
    result = None
    for line in proc.stdout:
        line = line.strip()
        if line.startswith("ROUND "):
            d = json.loads(line[len("ROUND "):])
            print(f"[{mode}] round {d['superstep']} active={d['active']}",
                  flush=True)
            if kill_after_round and d["superstep"] >= kill_after_round:
                print(f"[{mode}] SIGKILL after round {d['superstep']}",
                      flush=True)
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                return None
        elif line.startswith("CHILD_RESULT "):
            result = json.loads(line[len("CHILD_RESULT "):])
    proc.wait()
    if kill_after_round is None and result is None:
        raise RuntimeError(f"child {mode} produced no result")
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", default=None)
    ap.add_argument("--edges", default="/tmp/pcgraph_scaling_edges.parquet")
    ap.add_argument("--ckpt", default="/tmp/pcgraph_killresume_ckpt")
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--kill-after-round", type=int, default=8)
    args = ap.parse_args()

    if args.child:
        child(args.child, args.edges, args.ckpt, args.partitions)
        return

    ckpt_full = args.ckpt + "_full"
    ckpt_kill = args.ckpt + "_kill"
    for d in (ckpt_full, ckpt_kill):
        shutil.rmtree(d, ignore_errors=True)

    t0 = time.monotonic()
    full = run_child("full", args.edges, ckpt_full, args.partitions)
    full_sec = round(time.monotonic() - t0, 1)

    t0 = time.monotonic()
    run_child("full", args.edges, ckpt_kill, args.partitions,
              kill_after_round=args.kill_after_round)
    killed_sec = round(time.monotonic() - t0, 1)

    t0 = time.monotonic()
    resumed = run_child("resume", args.edges, ckpt_kill, args.partitions)
    resume_sec = round(time.monotonic() - t0, 1)

    out = {
        "n_edges": 316608409,
        "kill_after_round": args.kill_after_round,
        "uninterrupted": full,
        "resumed": resumed,
        "hashes_equal": full["hash"] == resumed["hash"]
        and full["n_rows"] == resumed["n_rows"],
        "wall_sec": {"full": full_sec, "killed_partial": killed_sec,
                     "resume": resume_sec},
        "resume_started_at_superstep": args.kill_after_round,
    }
    path = os.path.join(REPO, "BENCH", "sssp_kill_resume_316m_r5.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("RESULT " + json.dumps({k: out[k] for k in (
        "hashes_equal", "wall_sec")}))


if __name__ == "__main__":
    main()

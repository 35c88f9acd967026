"""Per-layer metrics of a traced run.

Layers are pcgraph's modules: ``session``, ``derive``, ``partition``,
``engine``, ``algos``, ``statestore`` and ``datapipe``.  Wall-clock
spans come from the benchmark's own calls into each layer; Spark work
per superstep comes from the event log (``trace.py``).  A layer a
workload never calls reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import trace


def _du(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size / 2**20, files


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def measure(wl, records: list[dict], spans) -> dict[str, float]:
    """Layer metrics from the benchmark-side spans, the traced pass's
    operation records, and in-process calls into the layers."""
    out = {name: _median(ts) for name, ts in spans.times.items()}
    by_op = {r["op"]: r for r in records}
    if wl.name == "iter_sf01":
        for op, r in by_op.items():
            out[f"engine.init_s.{op}"] = r["init_s"]
            out[f"engine.round_s.{op}"] = r["round_s"]
            out[f"engine.finalize_s.{op}"] = r["finalize_s"]
        out.update(_kernels(wl))
        out.update(_statestore(wl, by_op["sssp_delta"]["state_dir"]))
    else:
        out["derive.edges_s"] = by_op["derive"]["s"]
        out["derive.edges"] = float(wl.inputs.scalars["edges"])
        for name, path in wl.store_paths.items():
            out[f"partition.build_s.{name}"] = by_op[f"build_{name}"]["s"]
            out[f"partition.store_mb.{name}"] = _du(path)[0]
        out["algos.triangles_s"] = by_op["triangles"]["s"]
        for op in ("near_duplicates", "simhash", "knn_ivf"):
            out[f"datapipe.{op}_s"] = by_op[op]["s"]
        out["datapipe.ivf_recall_at3"] = wl.ivf_recall
        out["datapipe.near_duplicates_recall"] = wl.neardup_recall
    return out


def _frontier(nodes: np.ndarray, indptr: np.ndarray, kind: str):
    import pandas as pd

    ids = nodes[np.diff(indptr) > 0]
    if kind in ("cc", "lp"):
        value = ids
    elif kind == "sssp":
        value = (ids % 97).astype(np.float64)
    else:
        value = np.full(len(ids), 1.0 / max(len(nodes), 1))
    return pd.DataFrame({"id": ids, "value": value})


def _kernels(wl) -> dict[str, float]:
    """Each kernel called in this process on every stored block with a
    full frontier (every source vertex of the block active)."""
    from pcgraph.algos.cc import cc_kernel
    from pcgraph.algos.labelprop import lp_kernel
    from pcgraph.algos.pagerank import pr_kernel
    from pcgraph.algos.sssp import sssp_kernel
    from pcgraph.partition import read_store_block, unpack_block

    out = {}
    path = {name: b.store_path for name, b in wl.blocks.items()}
    blocks = {}
    t0 = time.monotonic()
    for pid in range(wl.blocks["directed"].num_partitions):
        blocks[("directed", pid)] = read_store_block(path["directed"], pid)
    out["partition.read_block_s"] = time.monotonic() - t0
    for name in ("sym", "weighted"):
        for pid in range(wl.blocks[name].num_partitions):
            blocks[(name, pid)] = read_store_block(path[name], pid)
    kernels = {"pr": (pr_kernel, "directed"), "cc": (cc_kernel, "sym"),
               "sssp": (sssp_kernel, "weighted"), "lp": (lp_kernel, "sym")}
    for kind, (kernel, store) in kernels.items():
        calls = []
        for pid in range(wl.blocks[store].num_partitions):
            bpdf = blocks[(store, pid)]
            nodes, indptr, _, _ = unpack_block(bpdf)
            calls.append(((pid,), _frontier(nodes, indptr, kind), bpdf))
        t0 = time.monotonic()
        for args in calls:
            kernel(*args)
        out[f"algos.{kind}_kernel_s"] = time.monotonic() - t0
    out["algos.kernel_edges_per_s"] = wl.inputs.scalars["edges"] / out["algos.pr_kernel_s"]
    return out


def _statestore(wl, state_dir: str) -> dict[str, float]:
    """Footprint the delta SSSP pass left, and a reconciled read of the
    same state through ``DeltaStateStore``."""
    from pcgraph.statestore import DeltaStateStore

    mb, files = _du(state_dir)
    spark = wl.spark
    dist = spark.createDataFrame(_state_frame(wl), "id long, value double")
    store = DeltaStateStore(spark, os.path.join(wl.dir, "state-probe"))
    store.init(dist)
    t0 = time.monotonic()
    store.read_reconciled().count()
    return {"statestore.dir_mb": mb, "statestore.files": float(files),
            "statestore.read_reconciled_s": time.monotonic() - t0}


def _state_frame(wl):
    import pandas as pd

    return pd.DataFrame({"id": wl.inputs.arrays["ids"], "value": wl.inputs.arrays["distance"]})


def from_eventlog(log_dir: str, records: list[dict], workload: str) -> dict[str, float]:
    """Median Spark work per superstep (per operation on
    ``batch_sf01``, which has no superstep loop)."""
    spans = trace.spans_from_eventlog(log_dir)
    rows = []  # (op, step, wall seconds, span record)
    for r in records:
        if workload == "iter_sf01":
            # r["steps"][0] runs from the first hook to the second: the
            # jobs tagged step2
            for n, wall in enumerate(r["steps"], start=2):
                rows.append((r["op"], n, wall, spans.get(f"{r['op']}:step{n}", dict.fromkeys(trace.FIELDS, 0.0))))
        else:
            rec = dict.fromkeys(trace.FIELDS, 0.0)
            for key in (f"{r['op']}:step1", f"{r['op']}:finalize"):
                for f, v in spans.get(key, {}).items():
                    rec[f] += v
            rows.append((r["op"], 1, r["s"], rec))
    out = {}
    if workload == "iter_sf01":
        for f in ("jobs", "stages", "tasks", "job_busy_s"):
            out[f"engine.{f}"] = _median(rec[f] for *_, rec in rows)
        out["engine.driver_gap_s"] = _median(wall - rec["job_busy_s"] for _, _, wall, rec in rows)
        steady = [rec for op, _, _, rec in rows if op == "pagerank"]
        for f in ("jobs", "stages", "tasks"):
            out[f"engine.{f}.pagerank"] = _median(rec[f] for rec in steady)
    for f in ("shuffle_write_mb", "spill_mb", "gc_s", "executor_cpu_s"):
        out[f"spark.{f}"] = _median(rec[f] for *_, rec in rows)
    for f in ("python_sent_mb", "python_returned_mb", "python_run_s", "python_start_s"):
        out["python." + f.split("_", 1)[1]] = _median(rec[f] for *_, rec in rows)
    return out

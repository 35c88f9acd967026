"""The two workloads: what one closed-loop pass runs, its untimed
warm-up, and the oracle check of every operation's output.

Each operation is one call into pcgraph's public API whose result is
collected to the driver; the next starts only when it has returned.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import oracles
import trace
from inputs import NUM_PARTITIONS, STORES, queries


class Spans:
    """Benchmark-side wall-clock spans around calls into a layer."""

    def __init__(self):
        self.times: dict[str, list[float]] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.times.setdefault(name, []).append(time.monotonic() - t0)


class OpClock:
    """Times one operation and its supersteps (via ``post_superstep``);
    in a traced run also tags the Spark jobs of each superstep.

    A superstep sample is the interval between two consecutive hook
    calls; the time before the first hook is the call's init, the time
    after the last one its finalize."""

    def __init__(self, sc, op: str, tagging: bool):
        self.sc, self.op, self.tagging = sc, op, tagging
        self.hooks: list[float] = []
        self._tag("step1")
        self.start = time.monotonic()

    def _tag(self, what: str | None) -> None:
        if self.tagging:
            self.sc.setLocalProperty(trace.SPAN_KEY, None if what is None else f"{self.op}:{what}")

    def hook(self, step: int, metrics: dict) -> None:
        self.hooks.append(time.monotonic())
        self._tag(f"step{step + 1}")

    def returned(self) -> None:
        self._tag("finalize")

    def done(self) -> dict:
        end = time.monotonic()
        self._tag(None)
        return {
            "op": self.op,
            "s": end - self.start,
            "steps": [b - a for a, b in zip(self.hooks, self.hooks[1:])],
            "supersteps": len(self.hooks),
            "init_s": (self.hooks[0] - self.start) if self.hooks else 0.0,
            "finalize_s": end - (self.hooks[-1] if self.hooks else self.start),
        }


class Workload:
    name = ""
    OPS: tuple[str, ...] = ()

    def __init__(self, spark, inputs, run_dir: str, spans: Spans, seed: int):
        self.spark, self.inputs, self.spans, self.seed = spark, inputs, spans, seed
        self.dir = os.path.join(run_dir, self.name)
        os.makedirs(self.dir, exist_ok=True)
        self.tagging = False

    def clock(self, op: str) -> OpClock:
        return OpClock(self.spark.sparkContext, op, self.tagging)


# ------------------------------------------------------------------ iter
class Iter(Workload):
    """PageRank, CC, SSSP and 5-round LPA on the sf0.1 link graph with
    warm block stores and the in-memory checkpoint backend.

    The traced pass also runs SSSP through the delta state store and
    requires its distances to equal the in-memory ones."""

    name = "iter_sf01"
    OPS = ("pagerank", "cc", "sssp", "lpa")
    TRACED_OPS = OPS + ("sssp_delta",)
    OPEN_SPAN = "partition.open_s"
    # LPA's first superstep is a separate JVM-only plan; its second is
    # the first that runs the kernel
    WARMUP_STEPS = {"lpa": 2}

    def open(self) -> None:
        """(Re)bind to the current session: read the edge table and open
        the block stores."""
        from pcgraph.algos.cc import symmetrize
        from pcgraph.partition import ensure_block_store

        self.edges = self.spark.read.parquet(self.inputs.table("edges"))
        o = self.inputs.scalars
        self.blocks = {
            name: ensure_block_store(
                self.spark, symmetrize(self.edges) if name == "sym" else self.edges, NUM_PARTITIONS,
                self.inputs.store_dir(name), weighted=weighted, tag=tag,
                expected_edges=o["sym_edges" if name == "sym" else "edges"])
            for name, (tag, weighted) in STORES.items()
        }

    def _call(self, op: str, hook, max_iter: int | None, state_dir: str | None):
        from pcgraph.algos.cc import connected_components
        from pcgraph.algos.labelprop import label_propagation
        from pcgraph.algos.pagerank import pagerank
        from pcgraph.algos.sssp import sssp

        spark, e, b = self.spark, self.edges, self.blocks
        source = self.inputs.scalars["sssp_source"]
        common = {"num_partitions": NUM_PARTITIONS, "post_superstep": hook}
        if op == "pagerank":
            return pagerank(spark, e, tol=oracles.PR_TOL, max_iter=max_iter or 50,
                            blocks=b["directed"], **common)
        if op == "cc":
            return connected_components(spark, e, max_iter=max_iter or 200, blocks=b["sym"], **common)
        if op == "sssp":
            return sssp(spark, e, source=source, max_iter=max_iter or 200, blocks=b["weighted"], **common)
        if op == "sssp_delta":
            return sssp(spark, e, source=source, max_iter=max_iter or 200, blocks=b["weighted"],
                        incremental=True, state_store_dir=state_dir, **common)
        return label_propagation(spark, e, max_iter=max_iter or oracles.LPA_ROUNDS,
                                 blocks=b["sym"], **common)

    def _state_dir(self, tag: str) -> str:
        path = os.path.join(self.dir, f"state-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warmup(self) -> None:
        """One superstep of every operation (two for LPA): compiles each
        plan shape and starts the Python workers without a full pass."""
        for op in self.OPS:
            df, _ = self._call(op, None, self.WARMUP_STEPS.get(op, 1), None)
            df.toPandas()

    def run_pass(self) -> tuple[list[dict], list]:
        records, outputs = [], []
        for op in self.TRACED_OPS if self.tagging else self.OPS:
            state_dir = self._state_dir(op) if op == "sssp_delta" else None
            clock = self.clock(op)
            df, history = self._call(op, clock.hook, None, state_dir)
            clock.returned()
            pdf = df.toPandas()
            rec = clock.done()
            rec["round_s"] = float(np.mean([h["round_sec"] for h in history])) if history else 0.0
            rec["state_dir"] = state_dir
            records.append(rec)
            outputs.append((op, pdf, history))
        return records, outputs

    def check(self, outputs) -> list[str]:
        problems = self.inputs.pin_problems()
        for op, pdf, history in outputs:
            why = oracles.check_graph_result(op, pdf, history, self.inputs)
            if why:
                problems.append(why)
        results = {op: pdf for op, pdf, _ in outputs}
        if "sssp_delta" in results:
            mem, delta = (results[k].sort_values("id").reset_index(drop=True)
                          for k in ("sssp", "sssp_delta"))
            if not mem.equals(delta):
                problems.append("sssp_delta: distances differ from in-memory SSSP")
        return problems


# ----------------------------------------------------------------- batch
class Batch(Workload):
    """Edge derivation, cold builds of the three block stores, triangles
    and the dedup/similarity operators: the write side of the block
    store and the SQL side, with no superstep loop.

    There is no warm-up: the pass runs in a fresh session, as a one-off
    ingest job does, so its JIT and Python-worker start-up are part of
    the work measured."""

    name = "batch_sf01"
    OPS = ("derive", "build_directed", "build_sym", "build_weighted",
           "triangles", "near_duplicates", "simhash", "knn_ivf")
    OPEN_SPAN = "datapipe.open_s"

    def __init__(self, spark, inputs, run_dir: str, spans: Spans, seed: int):
        super().__init__(spark, inputs, run_dir, spans, seed)
        self.n_pass = 0

    def open(self) -> None:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        self.source = read(self.inputs.table("source.parquet"))
        self.docs = read(self.inputs.table("documents"))
        self.emb = read(self.inputs.table("embeddings"))
        self.queries = queries(len(self.inputs.arrays["emb"]), self.seed)
        self.query_df = self.emb.filter(F.col("vec_id").isin([int(q) for q in self.queries]))

    def warmup(self) -> None:
        pass

    def run_pass(self) -> tuple[list[dict], dict]:
        from pcgraph import derive
        from pcgraph.algos.cc import symmetrize
        from pcgraph.algos.triangles import triangles_df
        from pcgraph.datapipe.dedup import near_duplicates, simhash_portable
        from pcgraph.datapipe.similarity import cosine_topk_ivf
        from pcgraph.partition import ensure_block_store

        self.n_pass += 1
        pdir = os.path.join(self.dir, f"pass{self.n_pass}")
        shutil.rmtree(os.path.join(self.dir, f"pass{self.n_pass - 1}"), ignore_errors=True)
        spark, out, records = self.spark, {}, []
        edges = None
        self.store_paths = {}

        for op in self.OPS:
            clock = self.clock(op)
            if op == "derive":
                path = os.path.join(pdir, "edges")
                derive.dependency_edges(self.source).write.parquet(path)
                edges = spark.read.parquet(path)
                out[op] = path
            elif op.startswith("build_"):
                name = op[len("build_"):]
                tag, weighted = STORES[name]
                self.store_paths[name] = os.path.join(pdir, f"store-{name}")
                out[op] = ensure_block_store(spark, symmetrize(edges) if name == "sym" else edges,
                                             NUM_PARTITIONS, self.store_paths[name],
                                             weighted=weighted, tag=tag)
            elif op == "triangles":
                out[op] = triangles_df(symmetrize(edges)).count()
            elif op == "near_duplicates":
                out[op] = near_duplicates(self.docs, threshold=0.2).toPandas()
            elif op == "simhash":
                out[op] = simhash_portable(self.docs).toPandas()
            else:
                out[op] = cosine_topk_ivf(self.emb, self.query_df, k=3, n_centroids=8,
                                          iters=2, n_probe=2).toPandas()
            clock.returned()
            records.append(clock.done())
        return records, out

    def check(self, out) -> list[str]:
        o = self.inputs.scalars
        problems = self.inputs.pin_problems()
        got = oracles.edge_summary(pq.read_table(out["derive"]).to_pandas())
        want = {k: o[k] for k in got}
        if got != want:
            problems.append(f"derive: {got} != oracle {want}")
        for name in STORES:
            b = out[f"build_{name}"]
            want = (o["sym_edges" if name == "sym" else "edges"], o["vertices"])
            if (b.n_edges, b.n_vertices) != want:
                problems.append(f"build_{name}: (edges, vertices) = {(b.n_edges, b.n_vertices)}, oracle {want}")
        if out["triangles"] != o["triangles"]:
            problems.append(f"triangles: {out['triangles']} != {o['triangles']}")
        problems += self._check_near_duplicates(out["near_duplicates"])
        sims = out["simhash"].sort_values("id")
        want_sim = self.inputs.arrays["simhash"]
        if len(sims) != len(want_sim) or not (sims["simhash"].to_numpy() == want_sim).all():
            problems.append("simhash: signatures differ from the oracle")
        problems += self._check_knn(out["knn_ivf"])
        return problems

    def _check_near_duplicates(self, pdf: pd.DataFrame) -> list[str]:
        """LSH may miss true pairs (recall is reported), but every pair
        it returns must be a true pair with the exact Jaccard."""
        truth = {(int(a), int(b)): j for a, b, j in self.inputs.arrays["neardup"]}
        bad = [r for r in pdf.itertuples(index=False)
               if abs(truth.get((int(r.id1), int(r.id2)), -1.0) - float(r.jaccard)) > 1e-9]
        self.neardup_recall = len(pdf) / len(truth) if truth else 1.0
        return [f"near_duplicates: {len(bad)} of {len(pdf)} pairs are not oracle pairs"] if bad else []

    def _check_knn(self, pdf: pd.DataFrame) -> list[str]:
        """Each query gets k distinct non-self neighbours ranked by exact
        cosine, and no rank can beat the exact top-k at that rank."""
        exact, cos = oracles.cosine_topk(self.inputs.arrays["emb"], self.queries, 3)
        hits, problems = 0, []
        for i, q in enumerate(self.queries):
            rows = pdf[pdf["query_id"] == q].sort_values("rank")
            nb = rows["neighbor_id"].to_numpy(np.int64)
            c = cos[i, nb]
            if (len(nb) != 3 or len(set(nb)) != 3 or q in nb
                    or (np.diff(c) > 1e-12).any() or (c > cos[i, exact[i]] + 1e-12).any()):
                problems.append(f"knn_ivf: query {q} neighbours {nb.tolist()} are not a ranked top-3")
            hits += len(set(nb) & set(exact[i]))
        self.ivf_recall = hits / (3 * len(self.queries))
        return problems[:3]

"""Benchmark inputs and their oracle answers, cached on disk per scale.

Everything here is benchmark-side preparation: the tables pcgraph is
given, and the answers its outputs are checked against.  None of it is
timed as program work.  An entry is written to a temporary directory
and renamed into place, so an interrupted run never leaves a
half-written entry behind.

The link graph is always the one derived from
``fixtures.bench_source_pdf(seed=42)``, whose answers are pinned below:
a graph drawn from another seed changes the superstep counts (PageRank
14-19, SSSP reach 135-218 vertices) and the triangle count, so the
timings would move with the seed instead of the program, and every new
seed would cost a derivation, three store builds and the oracles before
the first pass.  Documents and embeddings are the sf0.1 tables shipped
in ``perfbench/data`` (sf0.001 at smoke size).  ``--seed`` picks the
IVF query vectors.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import oracles

HERE = os.path.dirname(os.path.abspath(__file__))
GRAPH_SEED = 42
SCALES = {
    "full": {"n_files": 100_000, "tables": os.path.join(HERE, "data", "sf0.1")},
    "smoke": {"n_files": 4_000, "tables": os.path.join(HERE, "data", "sf0.001")},
}
# what the oracles must find on the full-size graph
PINNED = {"edges": 515_523, "triangles": 680_530, "sssp_reached": 135, "pagerank_supersteps": 15}
N_QUERIES = 20
NUM_PARTITIONS = 16
# block stores of the graph: name -> (tag, weighted)
STORES = {"directed": ("directed", False), "sym": ("sym", False), "weighted": ("directed-w", True)}
# Tables are written as this many files, as a real table would be: a
# single small file scans as one partition and serialises every
# per-row operator onto one core.
N_FILES_PER_TABLE = 4


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES_PER_TABLE)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i}.parquet"))


class Inputs:
    """One cache entry: the source table, the derived edges, the block
    stores, ``oracle.npz`` (arrays) and ``oracle.json`` (scalars)."""

    def __init__(self, path: str, scale: str):
        self.path, self.scale = path, scale
        self.tables = SCALES[scale]["tables"]
        with open(os.path.join(path, "oracle.json")) as fh:
            self.scalars = json.load(fh)
        with np.load(os.path.join(path, "oracle.npz")) as z:
            self.arrays = {k: z[k] for k in z.files}

    def table(self, name: str) -> str:
        if name in ("documents", "embeddings"):
            return os.path.join(self.tables, f"{name}.parquet")
        return os.path.join(self.path, name)

    def store_dir(self, name: str) -> str:
        return os.path.join(self.path, f"store-{name}")

    def pin_problems(self) -> list[str]:
        """The oracle answers that differ from the pinned full-size ones."""
        if self.scale != "full":
            return []
        return [f"oracle {k} = {self.scalars[k]}, pinned {v}"
                for k, v in PINNED.items() if self.scalars[k] != v]


def queries(n_vecs: int, seed: int) -> np.ndarray:
    """The seeded IVF query vector ids, ascending."""
    return np.sort(np.random.default_rng(seed).choice(n_vecs, N_QUERIES, replace=False))


def _build(d: str, scale: str, spark) -> None:
    from pcgraph import derive, fixtures

    src = fixtures.bench_source_pdf(n_files=SCALES[scale]["n_files"], seed=GRAPH_SEED)
    _write(src, os.path.join(d, "source.parquet"))
    derive.dependency_edges(spark.read.parquet(os.path.join(d, "source.parquet"))) \
        .write.parquet(os.path.join(d, "edges"))
    edges = pq.read_table(os.path.join(d, "edges")).to_pandas()
    scalars, arrays = oracles.graph_answers(edges)
    # counted on the DuckDB derivation: its row-number ids orient the
    # triangle join without a wedge blow-up at the hub files
    own = oracles.derive_edges(src)
    scalars.update(oracles.edge_summary(own))
    scalars["sym_edges"] = oracles.symmetric_edges(own)
    scalars["triangles"] = oracles.triangles(own)
    docs = pd.read_parquet(os.path.join(SCALES[scale]["tables"], "documents.parquet"))
    emb = pd.read_parquet(os.path.join(SCALES[scale]["tables"], "embeddings.parquet"))
    arrays["neardup"] = oracles.near_duplicate_pairs(docs, k=3, threshold=0.2)
    arrays["simhash"] = oracles.simhash_portable(docs["text"])
    arrays["emb"] = np.stack(emb.sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    np.savez(os.path.join(d, "oracle.npz"), **arrays)
    with open(os.path.join(d, "oracle.json"), "w") as fh:
        json.dump(scalars, fh)


def prepare(root: str, scale: str, spark) -> Inputs:
    """The entry for ``scale``, built on first use.

    The edges are derived by pcgraph itself, because ``derive`` assigns
    the xxhash64 vertex ids the SSSP source, the CC labels and the LPA
    tie-breaks depend on; ``batch_sf01`` checks every derivation it
    times against the DuckDB one.  The block stores ``iter_sf01`` reads
    are built here too."""
    from pcgraph.algos.cc import symmetrize
    from pcgraph.partition import STORE_META, ensure_block_store

    final = os.path.join(root, scale)
    if not os.path.exists(os.path.join(final, "oracle.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            _build(tmp, scale, spark)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    inputs = Inputs(final, scale)
    edges = spark.read.parquet(inputs.table("edges"))
    for name, (tag, weighted) in STORES.items():
        if not os.path.exists(os.path.join(inputs.store_dir(name), STORE_META)):
            ensure_block_store(spark, symmetrize(edges) if name == "sym" else edges, NUM_PARTITIONS,
                               inputs.store_dir(name), weighted=weighted, tag=tag)
    return inputs

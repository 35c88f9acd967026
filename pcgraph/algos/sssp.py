"""Single-source shortest paths — partition-centric, min-fold.

The reference ships an SSSP library algorithm
(/root/reference/src/main/java/.../library/PCSingleSourceShortestPaths.java)
whose partition kernel fills a local distance map but never calls
``sendMessage`` (no call anywhere in :109-163), so cross-partition
distances never propagate — a latent, untested defect (SURVEY.md op
#18).  We therefore implement the *spec*: source seeded 0.0, all others
+inf (mapVertices semantics at :76-92), per-partition relaxation to a
local fixpoint, messages for every vertex whose local distance improved,
global min fold, emit-on-strict-improvement (:173-192).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partition import GraphBlocks, graph_blocks, kernel_block
from ._fold import run_fold

_INF = float("inf")


def sssp_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Local Bellman-Ford relaxation to a fixpoint (vectorized scatter-min
    over the block's weighted edges), the analog of the reference's local
    Dijkstra (PCSingleSourceShortestPaths.java:99-165) — same local
    fixpoint, numpy instead of a binary heap."""
    nodes, esrc, edst, w, pos, vals = kernel_block(fpdf, bpdf, np.float64)
    dist = np.full(len(nodes), _INF, dtype=np.float64)
    np.minimum.at(dist, pos, vals)
    init = dist.copy()

    while True:  # local supersteps: relax all edges, fully vectorized
        prev = dist.copy()
        np.minimum.at(dist, edst, dist[esrc] + w)
        if np.array_equal(prev, dist):
            break

    send = dist < init
    return pd.DataFrame({"dst": nodes[send], "msg": dist[send]})


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    num_partitions: int = 16,
    salt_threshold: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume_from: str | None = None,
    blocks: GraphBlocks | None = None,
    store_dir: str | None = None,
    incremental: bool = False,
    state_store_dir: str | None = None,
    n_buckets: int = 256,
    post_superstep=None,
) -> tuple[DataFrame, list[dict]]:
    """Weighted SSSP from ``source``; returns (DataFrame[id, distance],
    metrics).  Unreached vertices have distance +inf.

    A ``state_store_dir`` (or ``incremental=True``, which defaults the
    dir as ``connected_components`` does): SSSP is THE wavefront
    algorithm — most of its ~diameter rounds touch a tiny frontier, so
    the DeltaStateStore (append only the improved distances) makes
    those rounds O(changed) instead of O(|V|) (engine.run docstring)."""
    e = edges.select("src", "dst", "weight")
    with graph_blocks(
        spark, e, num_partitions, blocks, store_dir,
        salt_threshold=salt_threshold, weighted=True, tag="directed-w",
    ) as blocks:
        is_source = F.col("id") == source
        state, history = run_fold(
            spark, blocks, vertices,
            init_value=F.when(is_source, 0.0).otherwise(F.lit(_INF)),
            init_changed=is_source,
            kernel=sssp_kernel,
            msg_schema="dst long, msg double",
            algorithm="sssp",
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            resume_from=resume_from,
            incremental=incremental,
            state_store_dir=state_store_dir,
            n_buckets=n_buckets,
            strict=False,
            post_superstep=post_superstep,
        )
        return state.select("id", F.col("value").alias("distance")), history

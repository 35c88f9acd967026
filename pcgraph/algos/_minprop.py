"""Min-propagation driver shared by CC and SSSP.

Both algorithms keep, per vertex, the minimum of the values their
kernels propose, and emit on strict improvement (reference:
PCConnectedComponents.java:122-138, PCSingleSourceShortestPaths.java:
173-192).  They differ only in their edges, kernel, message type and
initial values; the state set-up, the resume hand-off, the in-memory
min-fold ``update`` and the engine call live here once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import PCEngine
from ..partition import GraphBlocks, vertex_ids
from ..statestore import default_state_dir


def min_fold_update(state_df: DataFrame, msgs: DataFrame, step: int) -> DataFrame:
    """Fold messages per dst with min, keep the smaller value, flag a
    strict improvement as changed.  String expressions: a handful of
    py4j round-trips per round instead of one per Column op (see
    pagerank.update)."""
    folded = msgs.groupBy("dst").agg(F.expr("min(msg) as msg"))
    joined = state_df.select("id", "value").join(
        folded, F.expr("id = dst"), "left"
    )
    return joined.selectExpr(
        "id",
        "least(value, msg) as value",
        "coalesce(msg < value, false) as changed",
    )


def run_min_propagation(
    spark: SparkSession,
    blocks: GraphBlocks,
    edges: DataFrame,
    vertices: DataFrame | None,
    init_value: Column,
    init_changed: Column,
    kernel: Callable,
    msg_schema: str,
    algorithm: str,
    *,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume_from: str | None,
    incremental: bool,
    state_store_dir: str | None,
    n_buckets: int,
    max_versions: int,
    strict: bool,
    post_superstep,
) -> tuple[DataFrame, list[dict]]:
    """Run one min-propagation to convergence; returns the engine's
    (DataFrame[id, value], history).  ``init_value``/``init_changed``
    are Columns over the vertex ids (the initial frontier is the
    changed rows)."""
    engine = PCEngine(
        spark, checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every
    )
    start_step = 0
    resume_manifest = None
    ckpt_init = True  # initial-state checkpoint (engine._MemoryState)
    # the engine derives the initial frontier from the CHECKPOINTED
    # state — an explicit pre-checkpoint frontier would re-execute the
    # vertex-set init in round 1
    frontier = None
    resumed = engine.resume(resume_from) if resume_from else None
    if resumed is not None:
        state, frontier, meta = resumed
        start_step = int(meta["superstep"])
        engine.checkpoint_dir = engine.checkpoint_dir or resume_from
        if "manifest" in meta:  # round was committed by the delta store
            incremental = True
            resume_manifest = meta["manifest"]
            n_buckets = int(meta.get("n_buckets", n_buckets))
            state_store_dir = state_store_dir or meta["state_store_dir_resolved"]
    else:
        if blocks.vertices_path is not None and vertices is None:
            vset = spark.read.parquet(blocks.vertices_path).select("id")
            # initial state = a cheap deterministic census scan: skip
            # materializing it before round 1 (engine.run docstring)
            ckpt_init = False
        else:
            vset = vertex_ids(edges)
            if vertices is not None:
                vset = vset.union(vertices.select("id")).distinct()
        state = vset.select(
            "id", init_value.alias("value"), init_changed.alias("changed")
        )
    if incremental and state_store_dir is None:
        state_store_dir = default_state_dir(checkpoint_dir, algorithm)

    return engine.run(
        blocks=blocks,
        state=state,
        frontier=frontier,
        kernel=kernel,
        msg_schema=msg_schema,
        update=min_fold_update,
        frontier_fn=lambda s: s.filter("changed").select("id", "value"),
        # active-count rides the round's materializing job (observe)
        metrics_exprs=[
            F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("changed")
        ],
        metrics_post=lambda obs, step: {"active": int(obs["changed"] or 0)},
        max_iter=max_iter,
        start_step=start_step,
        algorithm=algorithm,
        # CC's frontier collapses after ~3 rounds and SSSP's is a wave:
        # most rounds touch a few partitions, so skipping inactive
        # blocks is the difference between O(frontier) and O(|E|) of
        # Arrow transfer per round.
        prefilter_blocks=True,
        strict=strict,
        # min-fold + strict improvement is exactly the delta store's
        # merge contract (engine.run docstring)
        state_store_dir=state_store_dir if incremental else None,
        n_buckets=n_buckets,
        resume_manifest=resume_manifest,
        monotone="min",
        max_versions=max_versions,
        post_superstep=post_superstep,
        checkpoint_initial_state=ckpt_init,
    )

"""Min-propagation driver shared by CC and SSSP.

Both algorithms keep, per vertex, the minimum of the values their
kernels propose, and emit on strict improvement (reference:
PCConnectedComponents.java:122-138, PCSingleSourceShortestPaths.java:
173-192).  They differ only in their edges, kernel, message type and
initial values; the state set-up, the resume hand-off, the in-memory
min-fold ``update`` and the engine call live here once.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import PCEngine
from ..partition import GraphBlocks, vertex_census
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
    # the engine derives the initial frontier from the state it embeds
    frontier = None
    resumed = engine.resume(resume_from) if resume_from else None
    if resumed is not None:
        state, frontier, meta = resumed
        start_step = int(meta["superstep"])
        if "manifest" in meta:  # round was committed by the delta store
            incremental = True
            resume_manifest = meta["manifest"]
            n_buckets = int(meta.get("n_buckets", n_buckets))
            state_store_dir = state_store_dir or meta["state_store_dir_resolved"]
    else:
        state = vertex_census(spark, blocks, vertices).select(
            "id", init_value.alias("value"), init_changed.alias("changed")
        )
    tmp_store = None
    if incremental and state_store_dir is None:
        state_store_dir = default_state_dir(spark, engine.checkpoint_dir, algorithm)
        # without a checkpoint dir no round meta points at the store: it
        # is a temp dir this call owns
        tmp_store = None if engine.checkpoint_dir else state_store_dir

    try:
        state, history = engine.run(
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
            strict=strict,
            # min-fold + strict improvement is exactly the delta store's
            # merge contract (engine.run docstring)
            state_store_dir=state_store_dir if incremental else None,
            n_buckets=n_buckets,
            resume_manifest=resume_manifest,
            max_versions=max_versions,
            post_superstep=post_superstep,
        )
        if tmp_store is not None:  # the result reads the store
            state = state.localCheckpoint(eager=True)
        return state, history
    finally:
        if tmp_store is not None:
            shutil.rmtree(tmp_store, ignore_errors=True)

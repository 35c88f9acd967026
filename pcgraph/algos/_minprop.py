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
    resumed = engine.resume(resume_from) if resume_from else None
    state = None if resumed else vertex_census(spark, blocks, vertices).select(
        "id", init_value.alias("value"), init_changed.alias("changed")
    )
    tmp_store = None
    # A resumed run continues in the backend that committed its round;
    # a caller's state_store_dir then only relocates a delta store.
    if resumed is None and not incremental:
        state_store_dir = None
    elif resumed is None and state_store_dir is None:
        state_store_dir = default_state_dir(spark, engine.checkpoint_dir, algorithm)
        # without a checkpoint dir no round meta points at the store: it
        # is a temp dir this call owns
        tmp_store = None if engine.checkpoint_dir else state_store_dir

    try:
        state, history = engine.run(
            blocks=blocks,
            state=state,
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
            algorithm=algorithm,
            strict=strict,
            # min-fold + strict improvement is exactly the delta store's
            # merge contract (engine.run docstring)
            state_store_dir=state_store_dir,
            n_buckets=n_buckets,
            max_versions=max_versions,
            post_superstep=post_superstep,
            resumed=resumed,
        )
        if tmp_store is not None:  # the result reads the store
            state = state.localCheckpoint(eager=True)
        return state, history
    finally:
        if tmp_store is not None:
            shutil.rmtree(tmp_store, ignore_errors=True)

"""The fold driver: CC, SSSP, LPA and ``PCGraph.run_partition_centric_iteration``.

Each keeps one value per vertex, folds the values its kernels propose
with a built-in fold (``engine.fold_update``; CC and SSSP: min) or its
own ``update`` (LPA's label histogram arg-max), and emits on change
(reference: PCConnectedComponents.java:122-138,
PCSingleSourceShortestPaths.java:173-192; the library algorithms run on
the public iteration API, PCGraph.runPartitionCentricIteration).  They
differ only in their edges, kernel, message type, initial values, fold
and frontier; the state set-up, the resume hand-off, the delta-store
choice and the engine call live here once.  PageRank builds its own
engine: its loop-carried dangling mass comes from the resumed meta.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession

from ..engine import PCEngine
from ..partition import GraphBlocks, vertex_census
from ..statestore import default_state_dir


def run_fold(
    spark: SparkSession,
    blocks: GraphBlocks,
    vertices: DataFrame | None,
    init_value: Column,
    init_changed: Column,
    kernel: Callable,
    msg_schema: str,
    algorithm: str,
    *,
    update: Callable | str = "min",
    frontier_fn: Callable | None = None,
    max_iter: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume_from: str | None = None,
    incremental: bool = False,
    state_store_dir: str | None = None,
    n_buckets: int = 256,
    strict: bool = False,
    pre_superstep=None,
    post_superstep=None,
) -> tuple[DataFrame, list[dict]]:
    """Run one fold iteration to convergence; returns the engine's
    (state with ``id`` and ``value``, history).  ``init_value``/
    ``init_changed`` are Columns over the vertex ids; ``frontier_fn``
    is the engine's (default: the changed rows).  A ``state_store_dir``
    or ``incremental=True`` (without a dir: ``default_state_dir``)
    keeps the state in the delta store, whose merge is
    ``update="min"``."""
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
    if resumed is None and incremental and state_store_dir is None:
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
            update=update,
            frontier_fn=frontier_fn,
            max_iter=max_iter,
            algorithm=algorithm,
            strict=strict,
            state_store_dir=state_store_dir,
            n_buckets=n_buckets,
            pre_superstep=pre_superstep,
            post_superstep=post_superstep,
            resumed=resumed,
        )
        if tmp_store is not None:  # the result reads the store
            state = state.localCheckpoint(eager=True)
        return state, history
    finally:
        if tmp_store is not None:
            shutil.rmtree(tmp_store, ignore_errors=True)

"""PCGraph — the user-facing facade (reference parity: PCGraph.java).

The reference's entire extension surface is two abstract classes —
``PartitionProcessFunction`` (PartitionProcessFunction.java:40-90) and
``VertexUpdateFunction`` (VertexUpdateFunction.java:42-116) — wired by
``PCGraph.runPartitionCentricIteration(ppf, vuf, maxIterations)``
(PCGraph.java:42-55).  Our equivalent: a user supplies

  * ``kernel(key, frontier_pdf, block_pdf) -> messages_pdf`` — the
    partition process function (vectorized pandas, many local supersteps
    per call), which starts with ``partition.kernel_block`` to get its
    decoded block with the frontier placed on it;
  * ``msg_schema`` — DDL schema of the message DataFrame;
  * a *fold spec*: either the name of a built-in fold ("min", "max",
    "sum"; ``engine.fold_update``) applied to the ``msg`` column, or a
    custom ``update(state, msgs, step) -> new_state`` (the vertex update
    function; new_state must carry a boolean ``changed`` column).

Built-in algorithms are exposed as methods so a reference user can
switch 1:1 (PCConnectedComponents.run -> PCGraph.connected_components).
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import fold_update
from .partition import GraphBlocks, degrees, graph_blocks


class PCGraph:
    """A (vertices, edges) pair + the partition-centric iteration runner."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        num_partitions: int = 16,
        salt_threshold: int | None = None,
        weighted: bool = False,
        store_dir: str | None = None,
    ):
        self.spark = spark
        self.edges = edges
        self.vertices = vertices
        self.num_partitions = num_partitions
        self.salt_threshold = salt_threshold
        self.weighted = weighted
        self.store_dir = store_dir
        self._blocks: GraphBlocks | None = None
        self._open = ExitStack()  # holds the store opened by ``blocks``

    # -------------------------------------------------------- topology
    @property
    def blocks(self) -> GraphBlocks:
        """The graph's block store over the directed edges: at
        ``store_dir`` when set, else in a local temp dir that lives
        until ``unpersist()``."""
        if self._blocks is None:
            self._blocks = self._open.enter_context(graph_blocks(
                self.spark, self.edges, self.num_partitions,
                store_dir=self.store_dir,
                salt_threshold=self.salt_threshold,
                weighted=self.weighted,
                tag="directed" + ("-w" if self.weighted else ""),
            ))
        return self._blocks

    def degrees(self) -> DataFrame:
        return degrees(self.edges)

    def unpersist(self) -> None:
        """Release the store ``blocks`` opened (a temp store is deleted)."""
        self._open.close()
        self._blocks = None

    # -------------------------------------------------------- iteration
    def run_partition_centric_iteration(
        self,
        kernel: Callable,
        msg_schema: str,
        initial_value,
        fold: str = "min",
        update: Callable | None = None,
        max_iter: int = 100,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
        sum_tol: float | None = None,
        strict: bool = False,
        pre_superstep: Callable | None = None,
        post_superstep: Callable | None = None,
    ) -> tuple[DataFrame, list[dict]]:
        """Run a custom iteration; returns (DataFrame[id, value], metrics).

        ``initial_value`` is a Column or literal seeding every vertex of
        the block store's census plus ``vertices`` (reference: vertex
        init mapper, Graph.fromDataSet).  ``fold`` names a built-in
        vertex update (``engine.fold_update``): "min"/"max" keep a
        strictly better message with emit-on-strict-change semantics
        (VertexUpdateFunction.java:85-93; a null value stays null),
        "sum" adds the folded messages; any other name raises
        ``ValueError``.  Pass ``update`` for anything richer (it
        replaces ``fold``).  A steady round is one Spark job: the
        active count is observed inside the round's state checkpoint.

        ``kernel`` starts with ``kernel_block(frontier_pdf, block_pdf,
        value_dtype)`` (``pcgraph.partition``): the partition's nodes,
        per-edge ``esrc``/``edst`` local indices and weights, plus the
        local index ``pos`` and value ``vals`` of each frontier row the
        block holds — the analog of the reference's ``RichEdge`` join.

        ``kernel`` may declare a 4th parameter to receive the 1-based
        superstep number — ``kernel(key, frontier_pdf, block_pdf,
        step)`` — for step-dependent logic (reference:
        getSuperstepNumber, VertexUpdateFunction.java:77-79);
        ``pre_superstep(step)`` / ``post_superstep(step, metrics)`` are
        the driver-side lifecycle hooks (PartitionProcessFunction.java:
        45-63).

        ``fold="sum"`` semantics: a vertex that receives any message
        stays active, so on cyclic graphs the iteration ACCUMULATES for
        exactly ``max_iter`` rounds and does not converge on its own —
        that is the meaningful default for sum-folds (e.g. counting
        walks).  Pass ``sum_tol`` to instead deactivate vertices whose
        incoming sum has magnitude <= sum_tol (convergence for decaying
        quantities like rank mass).

        ``strict=True`` raises if a kernel message targets an id
        outside the vertex set (reference: "Target vertex does not
        exist!", PartitionCentricIteration.java:216-227).
        """
        from .algos._fold import run_fold

        update = update or fold_update(fold, sum_tol)  # a bad fold raises here
        state, history = run_fold(
            self.spark, self.blocks, self.vertices,
            init_value=(initial_value if not isinstance(initial_value, (int, float))
                        else F.lit(initial_value)),
            init_changed=F.lit(True),
            kernel=kernel,
            msg_schema=msg_schema,
            algorithm="custom",
            update=update,
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            strict=strict,
            pre_superstep=pre_superstep,
            post_superstep=post_superstep,
        )
        return state.select("id", "value"), history

    # -------------------------------------------------------- library
    def connected_components(self, **kw) -> tuple[DataFrame, list[dict]]:
        from .algos.cc import connected_components

        return connected_components(
            self.spark, self.edges, vertices=self.vertices,
            num_partitions=self.num_partitions,
            salt_threshold=self.salt_threshold, **kw,
        )

    def pagerank(self, **kw) -> tuple[DataFrame, list[dict]]:
        from .algos.pagerank import pagerank

        # PageRank runs on the raw directed edges — exactly what
        # self.blocks holds — so the store build (one full edge shuffle)
        # is amortized across calls.
        if "blocks" not in kw and "store_dir" not in kw:
            kw["blocks"] = self.blocks
        return pagerank(
            self.spark, self.edges, vertices=self.vertices,
            num_partitions=self.num_partitions,
            salt_threshold=self.salt_threshold, weighted=self.weighted, **kw,
        )

    def label_propagation(self, **kw) -> tuple[DataFrame, list[dict]]:
        from .algos.labelprop import label_propagation

        return label_propagation(
            self.spark, self.edges, vertices=self.vertices,
            num_partitions=self.num_partitions,
            salt_threshold=self.salt_threshold, **kw,
        )

    def sssp(self, source: int, **kw) -> tuple[DataFrame, list[dict]]:
        from .algos.sssp import sssp

        return sssp(
            self.spark, self.edges, source, vertices=self.vertices,
            num_partitions=self.num_partitions,
            salt_threshold=self.salt_threshold, **kw,
        )

    def triangle_count(self) -> int:
        from .algos.triangles import triangle_count

        return triangle_count(self.edges)

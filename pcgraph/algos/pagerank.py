"""PageRank — partition-centric push iteration.

Mandated by the north rule (not in the reference, which ships only
CC/SSSP — /root/reference/src/main/java/.../library/); semantics follow
the standard published formulation, executed with the reference's
superstep model (synchronous rounds, sum-fold messages — cf.
PartitionCentricIteration.java:95-112):

    pr'(v) = (1-d)/N + d * ( sum_{u->v} pr(u)/outdeg(u) + dangling/N )

with d = 0.85, dangling = total rank of vertices with no out-edges
(redistributed uniformly), convergence when the L1 delta
``sum |pr' - pr|`` drops below ``tol`` (default 1e-6).

The per-partition kernel scatters frontier contributions along the CSR
block edges and partial-aggregates per destination with ``np.bincount``
(the map-side combiner); the global ``groupBy(dst).sum`` is the only
shuffle per superstep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import PCEngine
from ..partition import GraphBlocks, graph_blocks, kernel_block, vertex_census


def pr_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Scatter pr/outdeg contributions along block edges, pre-summed per
    destination (one message per (partition, dst) instead of per edge)."""
    nodes, esrc, edst, w, pos, vals = kernel_block(fpdf, bpdf, np.float64)
    val = np.zeros(len(nodes), dtype=np.float64)
    val[pos] = vals

    contrib = val[esrc]
    if len(w) == len(contrib):
        contrib = contrib * w
    # np.bincount returns int64 for an empty ``edst`` whatever the
    # weights: cast, so an empty block still matches ``msg double``
    sums = np.bincount(edst, weights=contrib, minlength=len(nodes))
    sums = sums.astype(np.float64, copy=False)
    nz = sums != 0.0
    return pd.DataFrame({"dst": nodes[nz], "msg": sums[nz]})


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int = 16,
    weighted: bool = False,
    salt_threshold: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume_from: str | None = None,
    blocks: GraphBlocks | None = None,
    store_dir: str | None = None,
    post_superstep=None,
    strict: bool = False,
) -> tuple[DataFrame, list[dict]]:
    """Run PageRank to L1 convergence; returns (DataFrame[id, pagerank],
    per-round metrics incl. l1 delta and dangling mass).

    ``strict=True``: reference-parity missing-vertex check ("Target
    vertex does not exist!", PartitionCentricIteration.java:216-227) —
    one anti-join action per round over the persisted messages."""
    e = edges.select("src", "dst", *(["weight"] if weighted else []))
    with graph_blocks(
        spark, e, num_partitions, blocks, store_dir,
        salt_threshold=salt_threshold, weighted=weighted,
        tag="directed" + ("-w" if weighted else ""),
    ) as blocks:
        engine = PCEngine(
            spark, checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        )

        loop_state = {"dangling": 0.0}
        state = None
        resumed = engine.resume(resume_from) if resume_from else None
        if resumed is not None:
            n_vertices = int(resumed["n_vertices"])
            loop_state["dangling"] = float(resumed["dangling"])
        else:
            vset = vertex_census(spark, blocks, vertices)
            # census scalars were recorded at store build — init needs no
            # aggregation job; ids ``vertices`` adds have no edge, so each
            # one is one more dangling vertex
            n_vertices = blocks.n_vertices if vertices is None else vset.count()
            n_dangling = blocks.n_dangling + n_vertices - blocks.n_vertices
            init = 1.0 / n_vertices
            loop_state["dangling"] = n_dangling * init
            state = vset.select("id", F.lit(init).alias("pr"), "out_deg")

        d = damping
        base = (1.0 - d) / n_vertices

        def update(state_df, msgs, step):
            # String expressions keep the per-round plan construction to a
            # handful of py4j round-trips (a Column op is one round-trip
            # each; measured ~340/round = ~0.13 s, a visible slice of a
            # superstep).  repr() round-trips doubles exactly, so the
            # arithmetic is bit-identical to the Column form.
            folded = msgs.groupBy("dst").agg(F.expr("sum(msg) as msg"))
            joined = state_df.join(folded, F.expr("id = dst"), "left")
            dang = loop_state["dangling"] / n_vertices
            # prev_pr exists only for the L1 observe: it is not a state
            # column, so the engine never checkpoints it
            return joined.selectExpr(
                "id",
                f"{base!r} + {d!r} * (coalesce(msg, 0.0) + {dang!r}) as pr",
                "pr as prev_pr",
                "out_deg",
            )

        # Convergence metrics ride the round's single materializing job via
        # DataFrame.observe — no separate aggregation pass over the state.
        metrics_exprs = [
            F.sum(F.abs(F.col("pr") - F.col("prev_pr"))).alias("l1"),
            F.sum(F.when(F.col("out_deg") == 0, F.col("pr")).otherwise(0.0)).alias(
                "dangling"
            ),
            F.sum("pr").alias("total_mass"),
        ]

        def metrics_post(observed, step):
            loop_state["dangling"] = float(observed["dangling"] or 0.0)
            l1 = float(observed["l1"])
            return {
                "l1": l1,
                "dangling": loop_state["dangling"],
                "total_mass": float(observed["total_mass"]),
                "n_vertices": n_vertices,
                "active": n_vertices,
                "converged": l1 < tol,
            }

        def frontier_fn(state_df):
            return state_df.filter("out_deg > 0").selectExpr(
                "id", "pr / out_deg as value"
            )

        state, history = engine.run(
            blocks=blocks,
            state=state,
            kernel=pr_kernel,
            msg_schema="dst long, msg double",
            update=update,
            frontier_fn=frontier_fn,
            metrics_exprs=metrics_exprs,
            metrics_post=metrics_post,
            max_iter=max_iter,
            algorithm="pagerank",
            post_superstep=post_superstep,
            strict=strict,
            resumed=resumed,
        )
        return state.select("id", F.col("pr").alias("pagerank")), history

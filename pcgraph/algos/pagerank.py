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
from ..partition import (
    GraphBlocks,
    block_edge_source_index,
    graph_blocks,
    unpack_block,
    vertex_ids,
)


def pr_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Scatter pr/outdeg contributions along block edges, pre-summed per
    destination (one message per (partition, dst) instead of per edge)."""
    from ..workerenv import optimize_worker

    optimize_worker()
    empty = pd.DataFrame(
        {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="float64")}
    )
    if len(bpdf) == 0 or len(fpdf) == 0:
        return empty
    nodes, indptr, edst, w = unpack_block(bpdf)
    esrc = block_edge_source_index(indptr)

    val = np.zeros(len(nodes), dtype=np.float64)
    fids = fpdf["id"].to_numpy(dtype=np.int64)
    fvals = fpdf["value"].to_numpy(dtype=np.float64)
    pos = np.searchsorted(nodes, fids)
    ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
    val[pos[ok]] = fvals[ok]

    contrib = val[esrc]
    if len(w) == len(contrib):
        contrib = contrib * w
    sums = np.bincount(edst, weights=contrib, minlength=len(nodes))
    nz = sums != 0.0
    if not nz.any():
        return empty
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

        deg_expr = F.sum("weight") if weighted else F.count("*")
        out_deg = e.groupBy(F.col("src").alias("id")).agg(
            deg_expr.cast("double").alias("out_deg")
        )

        start_step = 0
        loop_state = {"dangling": 0.0}
        ckpt_init = True  # initial-state checkpoint (engine._MemoryState)
        resumed = engine.resume(resume_from) if resume_from else None
        if resumed is not None:
            state, _, meta = resumed
            start_step = int(meta["superstep"])
            n_vertices = int(meta["n_vertices"])
            loop_state["dangling"] = float(meta["dangling"])
            engine.checkpoint_dir = engine.checkpoint_dir or resume_from
        else:
            use_census = blocks.vertices_path is not None and vertices is None
            if use_census:
                # store sidecar: (id, out_deg) census written at block
                # build — skips the full edge-table scan+distinct init
                vset = spark.read.parquet(blocks.vertices_path)
            else:
                vset = vertex_ids(e)
                if vertices is not None:
                    vset = vset.union(vertices.select("id")).distinct()
                vset = vset.join(out_deg, on="id", how="left").fillna(
                    0.0, subset=["out_deg"]
                )
            if use_census:
                # the initial state is a cheap deterministic census scan —
                # no need to materialize it before round 1
                ckpt_init = False
            if use_census and blocks.n_vertices is not None:
                # census scalars were recorded at store build — init needs
                # no aggregation job at all
                n_vertices = blocks.n_vertices
                n_dangling = blocks.n_dangling or 0
                init = 1.0 / n_vertices
                state = vset.select(
                    "id",
                    F.lit(init).alias("pr"),
                    F.lit(init).alias("prev_pr"),
                    "out_deg",
                )
                loop_state["dangling"] = n_dangling * init
            else:
                vset = vset.persist()
                # one pass for both init counts
                row = vset.agg(
                    F.count("*").alias("n"),
                    F.sum(
                        F.when(F.col("out_deg") == 0, 1).otherwise(0)
                    ).alias("dang"),
                ).collect()[0]
                n_vertices = int(row["n"])
                n_dangling = int(row["dang"] or 0)
                init = 1.0 / n_vertices
                state = vset.select(
                    "id",
                    F.lit(init).alias("pr"),
                    F.lit(init).alias("prev_pr"),
                    "out_deg",
                )
                loop_state["dangling"] = n_dangling * init
                vset.unpersist()

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
            frontier=None,
            kernel=pr_kernel,
            msg_schema="dst long, msg double",
            update=update,
            frontier_fn=frontier_fn,
            metrics_exprs=metrics_exprs,
            metrics_post=metrics_post,
            max_iter=max_iter,
            start_step=start_step,
            algorithm="pagerank",
            # prev_pr exists only for the L1 observe — never checkpointed
            state_cols=["id", "pr", "out_deg"],
            post_superstep=post_superstep,
            strict=strict,
            checkpoint_initial_state=ckpt_init,
        )
        return state.select("id", F.col("pr").alias("pagerank")), history

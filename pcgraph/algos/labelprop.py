"""Label propagation — synchronous LPA, partition-centric.

Mandated by the north rule (no reference counterpart; reference supplies
the superstep model — PartitionCentricIteration.java:95-112).  Semantics
(standard synchronous LPA, made deterministic per BASELINE.json "label
assignments exactly"):

  * init: label(v) = v;
  * each round every vertex adopts the most frequent label among its
    in-neighbors (run on the symmetrized graph for the undirected case),
    ties broken by the smallest label;
  * a vertex with no neighbors keeps its label;
  * stop when no label changed or ``max_iter`` reached (synchronous LPA
    can oscillate on bipartite structures — max_iter caps that).

The per-partition kernel partial-aggregates (dst, label) counts with a
pandas groupby (C-side, no per-row Python); the global fold sums counts
and picks ``min(struct(-count, label))`` — a deterministic arg-max.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import PCEngine
from ..partition import (
    ensure_block_store,
    GraphBlocks,
    block_edge_source_index,
    build_blocks,
    unpack_block,
    vertex_ids,
)


# Target histogram entries per fold task (see label_propagation's
# agg_partitions doc): ~2M (dst,label)->cnt entries ~= 140 MB of
# BytesToBytesMap — spill-free at 32 concurrent tasks on a 24 GB heap.
_AGG_ROWS_PER_TASK = 2_000_000


def _fold_width(est_partials: int, n_shuffle: int, bypass: int) -> int:
    """Auto-sized histogram-fold width (label_propagation docstring).

    At-scale regime (spill-driven size >= n_shuffle): byte-for-byte the
    r5 sizing, min(bypass, ceil(partials/2M)).  Small-graph regime:
    ~128k rows/task like the engine's kernel stage, clamped at
    n_shuffle so the target can only ever NARROW the fold (mid-size
    graphs must not exceed the bypass-merge threshold the at-scale
    sizing respects).
    """
    from ..engine import _EDGES_PER_KERNEL_TASK

    needed = -(-est_partials // _AGG_ROWS_PER_TASK)
    if needed >= n_shuffle:
        return min(bypass, needed)
    return max(
        needed, min(n_shuffle, -(-est_partials // _EDGES_PER_KERNEL_TASK))
    )


def lp_kernel(key, fpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
    """Emit per-partition (dst, label, cnt) partial histograms."""
    from ..workerenv import optimize_worker

    optimize_worker()
    empty = pd.DataFrame(
        {
            "dst": pd.Series(dtype="int64"),
            "label": pd.Series(dtype="int64"),
            "cnt": pd.Series(dtype="int32"),
        }
    )
    if len(bpdf) == 0 or len(fpdf) == 0:
        return empty
    nodes, indptr, edst, _ = unpack_block(bpdf)
    esrc = block_edge_source_index(indptr)

    # Labels ARE vertex ids, and production ids are xxhash64-derived —
    # negative about half the time (derive.py:36-41).  A "-1 means no
    # label" sentinel silently drops every negative-id contribution, so
    # presence is tracked in an explicit boolean mask instead.
    label = np.zeros(len(nodes), dtype=np.int64)
    present = np.zeros(len(nodes), dtype=bool)
    fids = fpdf["id"].to_numpy(dtype=np.int64)
    fvals = fpdf["value"].to_numpy(dtype=np.int64)
    pos = np.searchsorted(nodes, fids)
    ok = (pos < len(nodes)) & (nodes[np.clip(pos, 0, len(nodes) - 1)] == fids)
    label[pos[ok]] = fvals[ok]
    present[pos[ok]] = True

    active = present[esrc]
    if not active.any():
        return empty
    pairs = pd.DataFrame({"dst": nodes[edst[active]], "label": label[esrc[active]]})
    counts = pairs.groupby(["dst", "label"], sort=False).size().reset_index(name="cnt")
    # int32 is ample for a per-partition count (bounded by the block's
    # edge count, itself bounded by CHUNK layout well under 2^31) and
    # trims the Arrow + shuffle row 24 -> 20 bytes.
    counts["cnt"] = counts["cnt"].astype("int32")
    return counts


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    num_partitions: int = 16,
    directed: bool = False,
    salt_threshold: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume_from: str | None = None,
    blocks: GraphBlocks | None = None,
    store_dir: str | None = None,
    post_superstep=None,
    agg_partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run synchronous LPA; returns (DataFrame[id, label], metrics).

    ``blocks`` (pre-built CSR blocks of the SAME edge orientation this
    call would build — i.e. raw edges when ``directed=True``) skips the
    build's full edge shuffle.

    ``agg_partitions`` sets the parallelism of the per-round histogram
    fold.  Early LPA rounds carry ~one histogram row per edge, and the
    fold's hash aggregate is the engine's only spill regime: per-task
    aggregate state is |partials| / agg_partitions entries, and when
    that map exceeds its execution-memory share the aggregate falls
    back to sort-based spilling — measured at 316M edges as 59 GB
    memory / 8.6 GB disk spilled in ONE stage at 128 partitions
    (per-stage breakdown, r5 diagnosis; the r4 round-2 totals were
    100 GB).  Default (None): auto-sized from the edge count so each
    fold task holds ~2M histogram entries (~140 MB of hash map) —
    |E x (2 if undirected)| / 2M partitions, capped at the session's
    ``spark.shuffle.sort.bypassMergeThreshold`` (the kernel stage's
    repartition write must stay on the streaming bypass path; ADVICE r5
    docstring fix).  When that spill-driven size is below
    ``spark.sql.shuffle.partitions`` (small graphs) the fold is sized
    like the engine's kernel stage (~128k rows/task) instead.  Pass an
    explicit value to pin a width.
    """
    e = edges.select("src", "dst")
    raw_both = None
    if not directed:
        # kept pre-distinct for the superstep-1 strength reduction below
        # (min is duplicate-insensitive, so the dedup shuffle is skipped)
        raw_both = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        e = raw_both.distinct()
    if blocks is None:
        if store_dir is not None:
            blocks = ensure_block_store(
                spark, e, num_partitions, store_dir,
                salt_threshold=salt_threshold,
                tag="directed" if directed else "sym",
            )
        else:
            blocks = build_blocks(
                spark, e, num_partitions, salt_threshold=salt_threshold
            )
    engine = PCEngine(
        spark, checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every
    )

    start_step = 0
    ckpt_init = True  # initial-state checkpoint (engine._MemoryState)
    resumed = engine.resume(resume_from) if resume_from else None
    if resumed is not None:
        state, _, meta = resumed
        start_step = int(meta["superstep"])
        engine.checkpoint_dir = engine.checkpoint_dir or resume_from
    else:
        if blocks.vertices_path is not None and vertices is None:
            vset = spark.read.parquet(blocks.vertices_path).select("id")
            # initial state = a cheap deterministic census scan: skip
            # materializing it before round 1 (engine.run docstring)
            ckpt_init = False
        else:
            vset = vertex_ids(e)
            if vertices is not None:
                vset = vset.union(vertices.select("id")).distinct()
        state = vset.select(
            "id", F.col("id").alias("value"), F.lit(True).alias("changed")
        )

    # The kernel already emits per-partition partial histograms (the
    # pandas groupby above), so Catalyst's map-side combine has nothing
    # left to fold — letting the two aggregations each plan their own
    # ENSURE_REQUIREMENTS exchange just moves the full histogram volume
    # twice (hash(dst,label), then hash(dst)).  One explicit
    # repartition by dst instead: HashPartitioning(dst) satisfies
    # ClusteredDistribution(dst,label) AND (dst), so BOTH aggregations
    # run exchange-free, and the state join reuses the same
    # partitioning (co-partitioned with the state's hash(id)): 2
    # full-volume exchanges -> 1, pinned by a plan test
    # (test_lpa_update_single_message_shuffle).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if agg_partitions:
        agg_n = int(agg_partitions)
    else:
        # Auto-size the fold so each task's hash-aggregate map fits in
        # its execution-memory share: partials are bounded by one row
        # per directed adjacency, and ~2M entries/task (~140 MB incl.
        # BytesToBytesMap overhead) leaves 32 concurrent tasks well
        # inside a 0.6 x heap execution pool.  The parquet row-count
        # here is a footer read, not a data scan.
        n_raw = edges.count()
        est_partials = n_raw * (1 if directed else 2)
        # cap at the session's bypass-merge threshold: above it the
        # kernel stage's repartition write switches to the sort path
        # and buffers (= spills) its whole output per map task
        bypass = int(
            spark.conf.get("spark.shuffle.sort.bypassMergeThreshold", "200")
        )
        agg_n = _fold_width(est_partials, n_shuffle, bypass)

    # Superstep-1 strength reduction (undirected fresh runs): with
    # identity initialization (label(v)=v) on the deduplicated
    # symmetrized graph, every (dst, label) count is exactly 1, so the
    # argmax + smallest-label tie-break collapses to min(src) over the
    # in-neighbors — a pure JVM aggregation with map-side partial min
    # over the PRE-distinct edge union (min is duplicate-insensitive).
    # The generic path would ship one Arrow histogram row per edge out
    # of the Python kernel and hash-aggregate all of them (measured at
    # 316M edges: the heaviest round of the run, 25 GB disk spill) to
    # compute exactly this.  Round 1's update then ignores the kernel
    # messages, so the kernels never run that round; the engine still
    # materializes, observes, records and commits it like any other.
    # Directed mode keeps the generic path: the raw edge table may be a
    # multigraph, where duplicate edges legitimately contribute counts
    # > 1.
    reduce_round1 = resumed is None and not directed

    def update(state_df, msgs, step):
        if step == 1 and reduce_round1:
            return reduced_round1(state_df)
        # string expressions: a handful of py4j round-trips per round
        # instead of one per Column op (see pagerank.update)
        folded = (
            msgs.repartition(agg_n, "dst")
            .groupBy("dst", "label")
            .agg(F.expr("sum(cnt) as cnt"))
        )
        # deterministic arg-max: max count, ties -> smallest label
        best = (
            folded.groupBy("dst")
            .agg(F.expr("min(struct(-cnt, label)) as b"))
            .selectExpr("dst", "b.label as new_label")
        )
        return merge_labels(state_df, best)

    def reduced_round1(state_df):
        # Every exchange of this round is sized to the auto-sized fold
        # width round 2+ uses, not spark.sql.shuffle.partitions: at 32
        # partitions over a 633M-row adjacency the final min aggregate
        # and the state join held ~20M hash-map entries per task —
        # measured 23.5 GB of memory spill in round 1 at 316M edges.
        # The state joins hash(id) at agg_n, so the round-1 checkpoint
        # hands round 2 the partitioning its fold already uses.
        #
        # repartition BEFORE the fold: the map-side partial min would
        # hold ~10M-entry hash maps per scan task (measured 32 GB
        # memory / 12 GB disk spilled at 316M edges); a plain hash
        # exchange streams via bypass-merge (agg_n <= the session
        # bypass threshold) and the post-exchange fold holds ~2M
        # entries/task.  ~2x the shuffle bytes, zero spill.
        best1 = (
            raw_both.repartition(agg_n, "dst")
            .groupBy("dst")
            .agg(F.expr("min(src) as new_label"))
        )
        return merge_labels(state_df.repartition(agg_n, "id"), best1)

    def merge_labels(state_df, best):
        joined = state_df.select("id", "value").join(
            best, F.expr("id = dst"), "left"
        )
        return joined.selectExpr(
            "id",
            "coalesce(new_label, value) as value",
            "coalesce(new_label != value, false) as changed",
        )

    # changed-count rides the round's materializing job (observe) —
    # no separate count action over the state.
    metrics_exprs = [
        F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("changed")
    ]

    def metrics_post(observed, step):
        changed = int(observed["changed"] or 0)
        return {"active": changed, "changed": changed}

    # Synchronous LPA: every vertex re-evaluates each round, so the
    # frontier is the full state until convergence (unlike CC's delta).
    state, history = engine.run(
        blocks=blocks,
        state=state,
        frontier=None,
        kernel=lp_kernel,
        msg_schema="dst long, label long, cnt int",
        update=update,
        frontier_fn=lambda s: s.select("id", "value"),
        metrics_exprs=metrics_exprs,
        metrics_post=metrics_post,
        max_iter=max_iter,
        start_step=start_step,
        algorithm="label_propagation",
        post_superstep=post_superstep,
        # the reduced round 1 reads the initial state once and never
        # routes its frontier: materializing it first would be a
        # full copy for nothing
        checkpoint_initial_state=ckpt_init and not reduce_round1,
    )
    return state.select("id", F.col("value").alias("label")), history

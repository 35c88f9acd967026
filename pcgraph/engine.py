"""The partition-centric superstep loop (driver-side delta iteration).

Spark has no engine-level delta iteration (Flink:
/root/reference/src/main/java/org/apache/flink/graph/partition/centric/
PartitionCentricIteration.java:89-112 — iterateDelta + closeWith), so
the loop lives in the driver.  One global superstep =

    frontier --route(partition_id, mirrors)--> cogroup with CSR blocks
      [blocks pre-filtered to the frontier's ACTIVE partitions, so a
      sparse tail round pays O(frontier), not O(|E|) Arrow transfer]
      --applyInPandas(kernel: many LOCAL supersteps, vectorized numpy)-->
      messages [dst, ...] --groupBy(dst).agg(fold) [Catalyst gives the
      map-side combiner the reference lacks]--> state merge -->
      changed-filter --> next frontier

Convergence = empty frontier (reference semantics) or an
algorithm-supplied metric (PageRank L1 < tol).

Every algorithm runs through ONE round driver (``PCEngine._drive``).
Where the state lives is a small backend: ``_MemoryState`` (the
per-round checkpoint below) or ``_DeltaState`` (the append-only
``DeltaStateStore`` for monotone min/max merges).  A backend owns only
how the state starts, how a round's messages become the new state and
the next frontier, what a committed round records, and how the final
state is read; hooks, routing, kernels, strict mode, metrics, commit,
history and convergence exist once, in the driver.

Lineage strategy of the in-memory backend (measured; docs/PERF.md):
  * The STATE is eagerly ``localCheckpoint``-ed EVERY round — the
    round's single materializing job.  In Spark 4.x the resulting
    ``LogicalRDD`` PRESERVES the merge join's outputPartitioning and
    outputOrdering, so the next round's state-side merge has NO
    Exchange and NO Sort; the only per-round shuffles are the routed
    frontier and the (map-side combined) message fold.
  * Checkpointing — an opaque plan — is load-bearing, not just a
    lineage cut.  Anything that keeps the state's logical plan alive
    across rounds (persist + lazy derivation) makes every round a
    SELF-JOIN of the state with its own message branch: the analyzer's
    DeduplicateRelations re-aliases the message side's subtree, the
    re-aliased subtree no longer matches the cache registry, and the
    whole chain silently re-executes back to the last opaque plan —
    measured as per-round input/shuffle bytes DOUBLING per superstep
    (2^k; 9 GB/round state scans at 316M edges grew to 31 GB by the
    4th round).  One opaque checkpoint per round makes every round's
    cost structurally identical — the property a 1000-round run at
    100 TB needs.
  * The previous round's checkpoint blocks are freed eagerly and
    deterministically (``_free_checkpoint``) — ContextCleaner would
    only free them at some later GC, and a long loop would otherwise
    hold every round's ~|V| object-form rows in block storage.

Every ``checkpoint_every`` rounds state+frontier go to Parquet with a
``_meta.json`` carrying superstep number, metrics, per-partition
frontier counts and a parent pointer, so runs resume mid-iteration
(north rule: resumable with per-partition lineage).
"""

from __future__ import annotations

import inspect
import os
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .iohelpers import fs_exists, fs_list_dirs, read_json, write_json_atomic
from .partition import GraphBlocks
from .statestore import DeltaStateStore

META_NAME = "_meta.json"

# Target edges per kernel task when the block store records the edge
# count (see _messages).  128k edges ~= a few ms of vectorized kernel
# work — big enough to amortize the per-task python-runner protocol
# cost, small enough that the cap (one block per task) still binds for
# any graph that matters at scale.
_EDGES_PER_KERNEL_TASK = 128 * 1024

# Storage level of the per-round state localCheckpoint: PySpark's
# SERIALIZED memory-and-disk level.  The state is scanned twice per
# round (frontier route + merge), and the A/B at 316M edges
# (BENCH/pr_steady_316m_r4.json) measured the deserialized level
# re-reading 7.4 GB of spilled object rows per round (object form
# overflows the storage pool) vs 0.87 GB serialized, with 8x less GC
# and the best wall time — and at cluster scale compact state is what
# keeps 10^9-vertex checkpoints memory-resident.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

# Folded-message count at or below which the delta backend's
# improvement join broadcasts the messages (sparse rounds scan the
# touched buckets once, shuffle-free).
_DELTA_BROADCAST_ROWS = 1_000_000


def _round_dir(checkpoint_dir: str, step: int) -> str:
    return os.path.join(checkpoint_dir, f"round={step:05d}")


def _store_dir_for_meta(checkpoint_dir: str, store_root: str) -> str:
    """How a round meta records its state store's location: relative to
    the checkpoint dir when the store lives under it (so a relocated
    checkpoint directory still resumes), absolute otherwise (a caller-
    configured --state-store-dir outside the checkpoint tree).

    Scheme-less paths are normalized (abspath) before the prefix
    compare: a relative ``state_store_dir`` like ``./store`` not under
    the checkpoint dir would otherwise be recorded verbatim and
    resolved against the CHECKPOINT dir on resume instead of the
    original working directory (ADVICE r5)."""

    def _norm(p: str) -> str:
        return p if "://" in p else os.path.abspath(p)

    store_abs = _norm(store_root)
    prefix = _norm(checkpoint_dir).rstrip("/") + "/"
    if store_abs.startswith(prefix):
        return store_abs[len(prefix):]
    return store_abs


def _bind_store(kernel3: Callable, store_path: str) -> Callable:
    """Adapt a 3-arg kernel to block-store mode: the grouped-map only
    delivers the frontier slice; the block side is read worker-side."""

    def fn(key, fpdf):
        from .partition import read_store_block

        bpdf = read_store_block(store_path, int(key[0]))
        return kernel3(key, fpdf, bpdf)

    return fn


def _bind_step(kernel: Callable, step: int) -> Callable:
    """Close over the superstep number with the exact 3-arg signature
    cogroup.applyInPandas validates."""

    def kernel_fn(key, fpdf, bpdf):
        return kernel(key, fpdf, bpdf, step)

    return kernel_fn


def _kernel_wants_step(kernel: Callable) -> bool:
    """A kernel may declare ``(key, frontier_pdf, block_pdf, step)`` to
    receive the superstep number (reference parity:
    VertexUpdateFunction.getSuperstepNumber, VertexUpdateFunction.java:
    77-79 — exposed to the partition kernel here because that is where
    step-dependent logic lives in the partition-centric model)."""
    try:
        return len(inspect.signature(kernel).parameters) >= 4
    except (TypeError, ValueError):
        return False


def _free_checkpoint(df: DataFrame) -> None:
    """Release a ``localCheckpoint``-ed DataFrame's cached RDD blocks
    NOW.  ``DataFrame.unpersist`` only touches the SQL cache registry —
    checkpoint blocks are RDD-level persistence, otherwise freed only
    when the JVM garbage-collects the plan (ContextCleaner), which a
    tight superstep loop cannot wait for.  Best-effort: falls back to
    ContextCleaner if the internal accessor is unavailable."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def _check_targets(dst: DataFrame, ids: DataFrame | None) -> None:
    """Strict mode (reference parity: "Target vertex does not exist!",
    PartitionCentricIteration.java:216-227): raise if any message
    ``dst`` is absent from ``ids`` (None: the vertex set holds none of
    them)."""
    if ids is None:
        unknown = dst.count()
    else:
        unknown = dst.join(
            ids.select(F.col("id").alias("dst")), on="dst", how="left_anti"
        ).count()
    if unknown:
        raise ValueError(
            f"Target vertex does not exist! ({unknown} message target(s) "
            "absent from the vertex set)"
        )


def _observe(df: DataFrame, exprs: list, algorithm: str, step: int):
    """Attach the round's metric aggregates to ``df``: they are
    evaluated as a side-effect of the round's single materializing
    action — no separate aggregation pass.  The checkpoint / write
    discards the plan, so the node fires exactly once and never
    survives into later rounds."""
    obs = Observation(f"pcgraph_{algorithm}_step{step}")
    return df.observe(obs, *exprs), obs


class _Round(NamedTuple):
    """What a backend's ``advance`` hands back to the round driver."""

    frontier: DataFrame | None  # None: nothing to apply -> active 0
    observed: dict  # the round's observed metric aggregates
    record: dict  # backend-specific keys for the round's metrics


class _MemoryState:
    """State as a per-round ``localCheckpoint`` (a parquet write and
    read-back on durable rounds): ``update`` merges each round's
    messages into the full state."""

    def __init__(self, engine, state, update, frontier_fn, metrics_exprs,
                 state_cols, checkpoint_initial_state):
        # The initial state becomes the first opaque plan; the first
        # round's merge pays one state-side shuffle into hash(id)
        # partitioning, every later round inherits it from the previous
        # round's checkpointed merge output (no Exchange, no Sort).
        #
        # ``checkpoint_initial_state=False`` (algorithms pass it when
        # the initial state is a cheap deterministic scan — the store's
        # vertex census): round 1 then embeds the scan directly.  The
        # state subtree appears twice in the round-1 plan (frontier
        # branch + merge branch), i.e. the census is read at most twice
        # — cheaper than materializing an O(|V|) checkpoint first,
        # at every scale.  The per-round checkpoint of the MERGE output
        # (the lineage-cut that keeps rounds structurally identical) is
        # unaffected.
        if checkpoint_initial_state:
            state = state.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
        self.engine = engine
        self.state = state
        self.next: DataFrame | None = None
        self.update = update
        self.frontier_fn = frontier_fn
        self.metrics_exprs = metrics_exprs
        self.state_cols = state_cols
        self.msgs: DataFrame | None = None  # persisted in strict rounds

    def initial_frontier(self, frontier_fn) -> DataFrame:
        return frontier_fn(self.state)

    def advance(self, msgs, step, algorithm, strict, durable) -> _Round:
        if strict:
            # persisted for the round so the anti-join action does not
            # make the merge re-run the kernels
            self.msgs = msgs = msgs.persist()
            _check_targets(msgs.select("dst"), self.state)
        new_state = self.update(self.state, msgs, step)
        obs = None
        if self.metrics_exprs:
            new_state, obs = _observe(
                new_state, self.metrics_exprs, algorithm, step
            )
        if self.state_cols is not None:
            # metric-only columns end at the observation: project
            # them away BELOW the checkpoint (partitioning on id is
            # preserved through Project/CollectMetrics)
            new_state = new_state.select(*self.state_cols)
        if durable:
            path = os.path.join(
                _round_dir(self.engine.checkpoint_dir, step), "state.parquet"
            )
            # the write is the materializing action (fires observe)
            new_state.write.mode("overwrite").parquet(path)
            # A parquet read-back has no partitioning metadata: the
            # next round pays one state-side shuffle — the durable-
            # checkpoint tax, once per checkpoint_every rounds.
            self.next = self.engine.spark.read.parquet(path)
        else:
            # THE materializing action of the round.  The returned
            # LogicalRDD keeps the merge's hash(id) partitioning +
            # sort order (Spark 4.x), so next round's merge has no
            # state-side Exchange/Sort; the opaque plan makes the
            # message branch's lineage start at an RDD leaf, so no
            # self-join dedup / no recompute (module docstring).
            self.next = new_state.localCheckpoint(
                eager=True, storageLevel=_CKPT_LEVEL
            )
        return _Round(
            self.frontier_fn(self.next), dict(obs.get) if obs else {}, {}
        )

    def active(self, rnd: _Round) -> int:
        # one cheap scan of the checkpointed state (no shuffle)
        return rnd.frontier.count()

    def meta(self, step: int) -> dict:
        rel = os.path.basename(_round_dir(self.engine.checkpoint_dir, step))
        return {"state_path": os.path.join(rel, "state.parquet")}

    def committed(self) -> None:
        pass

    def end_round(self) -> None:
        """Release the round's persisted frames and adopt its state.
        The PREVIOUS round's checkpoint blocks are freed now: block
        storage holding every round's ~|V| object-form rows starves
        execution memory (UnifiedMemoryManager eviction churn,
        measured)."""
        if self.msgs is not None:
            self.msgs.unpersist()
            self.msgs = None
        if self.next is not None:
            _free_checkpoint(self.state)
            self.state, self.next = self.next, None

    def discard(self) -> None:
        """The run raised: free the state checkpoint it still holds."""
        _free_checkpoint(self.state)

    def result(self) -> DataFrame:
        return self.state


class _DeltaState:
    """State in a ``DeltaStateStore`` for MONOTONE merges: each round
    writes ONLY its changed rows — O(changed), not O(|V|).

    Per round: kernel messages folded per dst (min/max — ONE small
    aggregate, persisted, its count is the kernel-running action), a
    scan of the touched buckets' versions joined against the folded
    messages (broadcast when the fold is small: sparse rounds never
    shuffle state), strict-improvement filter, and an append-only write
    of the improvements as a new store version — which doubles as the
    next frontier.  Reads reconcile duplicate ids with the same min the
    algorithm folds with, so ordering is immaterial; compaction keeps
    per-bucket version lists bounded."""

    def __init__(self, engine, state, msg_schema, metrics_exprs, root,
                 n_buckets, max_versions, monotone, resume_manifest):
        from pyspark.sql.types import StructType

        self.engine = engine
        self.store = DeltaStateStore(
            engine.spark, root, n_buckets,
            max_versions=max_versions, monotone=monotone,
        )
        self.monotone = monotone
        self.fold = F.min if monotone == "min" else F.max
        self.metrics_exprs = metrics_exprs
        self.resumed = resume_manifest is not None
        # Canonicalize the VALUE type to what every LATER version will
        # hold: delta rows carry the folded message as `value`, so v0
        # must already use the message's type — an int32-valued vertex
        # table would otherwise write v0 as int and v1+ as long, and
        # the multi-version parquet read fails on the physical-type
        # mismatch.  The id column keeps ITS type: blocks.route hashes
        # it, and xxhash64(int32) != xxhash64(long) for the same value
        # (bucket_expr casts internally for the same reason).
        msg_type = StructType.fromDDL(msg_schema)["msg"].dataType
        if self.resumed:
            self.store.restore(resume_manifest)
        else:
            canon = [
                F.col("id"),
                F.col("value").cast(msg_type).alias("value"),
            ] + [F.col(c) for c in state.columns if c not in ("id", "value")]
            self.store.init(state.select(*canon))  # v0 = full state
        self.empty_frontier = engine.spark.createDataFrame(
            [], StructType.fromDDL("id long").add("value", msg_type)
        )
        self.folded: DataFrame | None = None

    def initial_frontier(self, frontier_fn) -> DataFrame:
        if self.resumed:
            raise ValueError(
                "incremental resume requires the committed round's "
                "frontier (engine.resume provides it)"
            )
        return frontier_fn(self.store.read_version(0))

    def advance(self, msgs, step, algorithm, strict, durable) -> _Round:
        store = self.store
        self.folded = folded = (
            msgs.groupBy("dst").agg(self.fold("msg").alias("msg")).persist()
        )
        n_msgs = folded.count()  # runs the kernels exactly once
        if n_msgs == 0:
            return _Round(None, {}, {"active_buckets": 0})
        active_buckets = sorted(
            r[0]
            for r in folded.select(store.bucket_expr(F.col("dst")).alias("b"))
            .distinct()
            .collect()
        )
        raw = store.read_buckets_raw(active_buckets)
        if strict:
            # O(touched buckets), not O(|V|): an unknown dst hashes
            # into its own bucket, and active_buckets covers every
            # message's bucket — so the already-pruned `raw` read is
            # a sufficient universe for the missing-vertex anti-join
            # (a full-manifest read here made every strict round
            # scan the whole store; r4 VERDICT "what's wrong" #1).
            _check_targets(folded.select("dst"), raw)
        if raw is None:
            # no message targets any stored vertex -> nothing changes
            return _Round(None, {}, {"active_buckets": 0})
        fol = F.broadcast(folded) if n_msgs <= _DELTA_BROADCAST_ROWS else folded
        cand = raw.join(fol, raw["id"] == fol["dst"], "inner")
        cur = cand.groupBy("id").agg(
            self.fold("value").alias("value"), self.fold("msg").alias("msg")
        )
        improved = (
            F.col("msg") < F.col("value")
            if self.monotone == "min"
            else F.col("msg") > F.col("value")
        )
        delta = cur.filter(improved).select(
            "id", F.col("msg").alias("value"), F.lit(True).alias("changed")
        )
        delta, obs = _observe(
            delta,
            self.metrics_exprs or [F.count(F.lit(1)).alias("changed")],
            algorithm, step,
        )
        vid = store.write_delta(  # THE materializing action
            delta.select("id", "value").withColumn(
                "bucket", store.bucket_expr(F.col("id"))
            ),
            num_partitions=min(
                int(self.engine.spark.conf.get("spark.sql.shuffle.partitions")),
                len(active_buckets),
            ),
        )
        wrote = any(vid in vs for vs in store.manifest.values())
        record = {"active_buckets": len(active_buckets), "store_version": vid}
        # protect the round's delta: its rows are the next frontier,
        # read lazily — compaction must not fold/delete it.  Stagger to
        # n_buckets/4 per round so a full-frontier phase (every bucket
        # over budget at once) doesn't pay a full-state rewrite in a
        # single round.
        compacted = store.compact(
            protect=vid, max_buckets=max(1, store.n_buckets // 4)
        )
        if compacted:
            record["compacted_buckets"] = len(compacted)
        frontier = store.read_version(vid) if wrote else self.empty_frontier
        return _Round(frontier, dict(obs.get), record)

    def active(self, rnd: _Round) -> int:
        return int(rnd.observed.get("changed") or 0)

    def meta(self, step: int) -> dict:
        store = self.store
        return {
            "manifest": {str(b): list(vs) for b, vs in store.manifest.items()},
            "n_buckets": store.n_buckets,
            "monotone": self.monotone,
            "state_store_dir": _store_dir_for_meta(
                self.engine.checkpoint_dir, store.root
            ),
        }

    def committed(self) -> None:
        self.store.mark_committed()

    def end_round(self) -> None:
        if self.folded is not None:
            self.folded.unpersist()
            self.folded = None

    def discard(self) -> None:
        pass

    def result(self) -> DataFrame:
        return self.store.read_reconciled()


class PCEngine:
    """Generic partition-centric iteration runner.

    The algorithm supplies:
      * ``kernel(key, frontier_pdf, block_pdf[, step]) -> messages_pdf``
        — the per-partition vectorized local computation (analog of the
        reference's PartitionProcessFunction.processPartition,
        PartitionProcessFunction.java:78-89); the optional 4th
        parameter receives the 1-based superstep number;
      * ``msg_schema`` — DDL schema of the messages DataFrame (first
        column must be ``dst``);
      * ``update(state, msgs, step) -> new_state`` — global fold +
        vertex update (analog of VertexUpdateFunction.updateVertex,
        VertexUpdateFunction.java:42-56); lazy, engine materializes;
      * ``frontier_fn(new_state) -> frontier[id, value]`` — the changed
        set (analog of setNewVertexValue's emit-on-change,
        VertexUpdateFunction.java:85-93); stays a LAZY projection of
        the checkpointed state (no second materialized copy per round);
      * optional ``pre_superstep(step)`` / ``post_superstep(step,
        metrics)`` lifecycle hooks (reference parity:
        PartitionProcessFunction.java:45-63, PartitionCentricIteration.
        java:142-153) — driver-side, once per global superstep.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
    ):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        self.history: list[dict] = []

    # ------------------------------------------------------------------
    def run(
        self,
        blocks: GraphBlocks,
        state: DataFrame,
        frontier: DataFrame | None,
        kernel: Callable,
        msg_schema: str,
        update: Callable[[DataFrame, DataFrame, int], DataFrame],
        frontier_fn: Callable[[DataFrame], DataFrame],
        max_iter: int,
        metrics_exprs: list | None = None,
        metrics_post: Callable[[dict, int], dict] | None = None,
        start_step: int = 0,
        algorithm: str = "custom",
        prefilter_blocks: bool = False,
        strict: bool = False,
        state_cols: list[str] | None = None,
        pre_superstep: Callable[[int], None] | None = None,
        post_superstep: Callable[[int, dict], None] | None = None,
        state_store_dir: str | None = None,
        n_buckets: int = 256,
        resume_manifest: dict | None = None,
        monotone: str | None = None,
        max_versions: int = 8,
        checkpoint_initial_state: bool = True,
    ) -> tuple[DataFrame, list[dict]]:
        """Iterate to convergence.

        ``state_store_dir`` with ``monotone`` ("min" or "max") keeps the
        state in a DeltaStateStore instead of the per-round checkpoint:
        the algorithm's merge must be exactly "fold messages per dst
        with min (resp. max), keep on strict improvement" over state
        rows ``(id, value, changed)`` and messages ``(dst, msg)`` —
        CC's min-label and SSSP's min-distance qualify.  In that mode
        ``update`` is bypassed and ``frontier_fn`` only seeds the first
        frontier (the engine applies the monotone merge itself); each
        round writes ONLY its changed rows (O(changed)) as a new store
        version, with min-reconciliation on read and per-bucket
        compaction (``max_versions``) bounding read amplification.  On
        a cluster the directory must be on shared storage (hdfs/s3a).
        ``resume_manifest`` (from a committed round's meta) resumes
        against an existing store.

        ``state_cols``: columns to RETAIN in the per-round materialized
        state.  Metric-only columns (e.g. PageRank's prev_pr, consumed
        by the observe expressions) are projected away after the
        observation fires, so they never occupy checkpoint storage —
        at 316M edges this cuts the per-round state bytes ~25%.

        ``prefilter_blocks=True`` restricts each round's cogroup to the
        partitions the frontier actually touches (one tiny distinct-
        collect of partition ids).  Essential for delta algorithms with
        long sparse tails (CC after ~3 rounds, SSSP for ~diameter
        rounds): without it every round ships the ENTIRE topology
        through Arrow just to return empty frames.  Leave False for
        full-frontier algorithms (PageRank, sync LPA) where all
        partitions are active anyway.

        ``strict=True`` raises (reference parity: "Target vertex does
        not exist!", PartitionCentricIteration.java:216-227) if any
        kernel message targets a vertex id absent from the state.
        Costs one extra anti-join action per round (messages are
        persisted for the round to avoid re-running kernels) — a debug
        mode, zero-cost when off.

        ``metrics_exprs``/``metrics_post``: aggregate Columns evaluated
        over the new state (the delta store: over the round's changed
        rows) INSIDE the round's single materializing job via
        ``DataFrame.observe``, so convergence metrics cost zero extra
        actions/passes.  ``metrics_post(observed_dict, step)`` turns
        the raw observed values into the metrics dict (and may set
        ``active``/``converged``).  The observe node rides the
        checkpoint action only — it never enters the retained plan.
        """
        conf = self.spark.conf
        aqe_prev = conf.get("spark.sql.adaptive.enabled", "true")
        bcast_prev = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # AQE re-plans 3-4 query stages on the driver every superstep — a
        # serial per-round cost that hits higher parallelism levels
        # proportionally harder (Amdahl), and it buys nothing here: the
        # loop's shuffle partitioning is fixed by construction and skew
        # is handled by explicit salting (AQE cannot split applyInPandas
        # groups anyway, SURVEY.md §4).
        conf.set("spark.sql.adaptive.enabled", "false")
        # The per-round merge join must NOT auto-broadcast the folded
        # messages: the broadcast build is an extra job every round
        # (each job has a fixed driver/py4j floor), while the sort-merge
        # path fuses fold+merge+checkpoint into the final stage of the
        # ONE materializing job — the state side is exchange- and
        # sort-free from the previous round's checkpointed partitioning
        # (module docstring), so SMJ costs no extra shuffle.  Explicit
        # F.broadcast hints (mirror route, delta sparse fold) are
        # unaffected by the threshold.
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            if state_store_dir is None:
                backend = _MemoryState(
                    self, state, update, frontier_fn, metrics_exprs,
                    state_cols, checkpoint_initial_state,
                )
            else:
                backend = _DeltaState(
                    self, state, msg_schema, metrics_exprs, state_store_dir,
                    n_buckets, max_versions, monotone, resume_manifest,
                )
            if frontier is None:
                frontier = backend.initial_frontier(frontier_fn)
            return self._drive(
                blocks, backend, frontier, kernel, msg_schema, max_iter,
                metrics_exprs, metrics_post, start_step, algorithm,
                prefilter_blocks, strict, pre_superstep, post_superstep,
            )
        finally:
            conf.set("spark.sql.adaptive.enabled", aqe_prev)
            conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_prev)

    def _drive(
        self,
        blocks: GraphBlocks,
        backend: _MemoryState | _DeltaState,
        frontier: DataFrame,
        kernel: Callable,
        msg_schema: str,
        max_iter: int,
        metrics_exprs: list | None,
        metrics_post: Callable[[dict, int], dict] | None,
        start_step: int,
        algorithm: str,
        prefilter_blocks: bool,
        strict: bool,
        pre_superstep: Callable[[int], None] | None,
        post_superstep: Callable[[int, dict], None] | None,
    ) -> tuple[DataFrame, list[dict]]:
        """THE superstep loop: route the frontier, run the kernels, let
        the backend turn the messages into the new state and frontier,
        then record, commit and test convergence."""
        wants_step = _kernel_wants_step(kernel)
        step = start_step
        try:
            while step < max_iter:
                step += 1
                round_t0 = time.monotonic()
                if pre_superstep is not None:
                    pre_superstep(step)
                kernel_fn = _bind_step(kernel, step) if wants_step else kernel
                msgs, active_partitions = self._messages(
                    blocks, blocks.route(frontier), kernel_fn, msg_schema,
                    prefilter_blocks,
                )
                durable = (
                    self.checkpoint_dir is not None
                    and step % self.checkpoint_every == 0
                )
                try:
                    rnd = backend.advance(msgs, step, algorithm, strict, durable)
                    if rnd.frontier is None:
                        metrics = {"active": 0}
                    elif metrics_exprs and metrics_post:
                        metrics = metrics_post(rnd.observed, step)
                    elif metrics_exprs:
                        metrics = dict(rnd.observed)
                    else:
                        metrics = {}
                    if "active" not in metrics:
                        metrics["active"] = backend.active(rnd)
                    metrics.update(
                        superstep=step,
                        algorithm=algorithm,
                        round_sec=round(time.monotonic() - round_t0, 4),
                    )
                    metrics.update(rnd.record)
                    if active_partitions is not None:
                        metrics["active_partitions"] = active_partitions
                    if durable and rnd.frontier is not None:
                        self._commit_round(
                            blocks, step, rnd.frontier,
                            {**metrics, **backend.meta(step)},
                        )
                        backend.committed()
                finally:
                    backend.end_round()
                frontier = rnd.frontier
                self.history.append(metrics)
                if post_superstep is not None:
                    post_superstep(step, metrics)
                if metrics.get("converged") or metrics["active"] == 0:
                    break
        except BaseException:
            backend.discard()
            raise
        return backend.result(), self.history

    # ------------------------------------------------------------------
    def _bound_kernel(self, kernel_fn: Callable, store_path: str) -> Callable:
        """Per-run cache of the store-bound kernel closure: a fresh
        closure per round would defeat the UDF cache below (the pickle
        changes with the function object).  Keyed by kernel identity —
        step-bound kernels (a new closure per round) simply miss."""
        cached = self.__dict__.get("_bound_cache")
        if cached is not None and cached[0] is kernel_fn and cached[1] == store_path:
            return cached[2]
        bound = _bind_store(kernel_fn, store_path)
        self.__dict__["_bound_cache"] = (kernel_fn, store_path, bound)
        return bound

    def _grouped_udf(self, fn: Callable, msg_schema: str):
        """Per-run cache of the grouped-map pandas UDF for ``fn``."""
        cached = self.__dict__.get("_udf_cache")
        if cached is not None and cached[0] is fn and cached[1] == msg_schema:
            return cached[2]
        from pyspark.rdd import PythonEvalType
        from pyspark.sql.functions import pandas_udf

        udf = pandas_udf(
            fn,
            returnType=msg_schema,
            functionType=PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF,
        )
        self.__dict__["_udf_cache"] = (fn, msg_schema, udf)
        return udf

    # ------------------------------------------------------------------
    def _messages(
        self,
        blocks: GraphBlocks,
        routed: DataFrame,
        kernel_fn: Callable,
        msg_schema: str,
        prefilter_blocks: bool,
    ) -> tuple[DataFrame, int | None]:
        """One superstep's kernel application: routed frontier -> raw
        messages.

        The routed frontier is explicitly hash-partitioned into
        ``num_partitions`` (one CSR block per task) instead of letting
        the grouped-map plan its exchange at spark.sql.shuffle.partitions:
        same single shuffle, but each kernel task then writes 1/Pth of
        the message volume through its ShuffleExternalSorter.  At 316M
        edges with 128 blocks on 32 shuffle partitions, the 4-blocks-
        per-task kernel stage buffered ~240 MB of compressed partials
        per task and spilled 10-15 GB/round (r5 per-stage attribution,
        docs/PERF.md); at one block per task the buffers fit."""
        active_partitions = None
        # Physical width of the kernel stage (number of reduce
        # partitions feeding applyInPandas).  One CSR block per task is
        # the at-scale layout (spill-free shuffle write, r5); but each
        # python-runner task has a fixed JVM<->worker protocol cost
        # (~10-100 ms), so a SMALL graph must not fan a few thousand
        # rows out over num_partitions tasks.  When the store records
        # the edge count, size width to ~_EDGES_PER_KERNEL_TASK edges
        # per task, capped at num_partitions — at 316M edges the cap
        # binds (one block per task, exactly the r5 behavior), at sf0.1
        # it is a handful of tasks.  Grouping semantics are unchanged:
        # groups are keyed by partition_id regardless of the physical
        # partition count.
        width = blocks.num_partitions
        if blocks.n_edges is not None:
            width = max(1, min(width, -(-blocks.n_edges // _EDGES_PER_KERNEL_TASK)))
        widened = routed.repartition(width, "partition_id")
        if blocks.store_path is not None:
            # Block-store mode: the grouped-map only materializes
            # groups the frontier touches, and each kernel reads its
            # own partition's CSR rows worker-side — no JVM cache
            # scan, no Arrow transfer of the topology, and inactive
            # partitions are free (prefiltering is structural).
            #
            # The pandas UDF object is cached across supersteps (same
            # kernel, same schema): applyInPandas re-wraps and
            # re-cloudpickles the function on every call (~20 ms/round
            # measured); the cached UDF applied through the same
            # flatMapGroupsInPandas entry point halves that.  Any
            # failure of the cached path falls back to the public API.
            bound = self._bound_kernel(kernel_fn, blocks.store_path)
            try:
                udf = self._grouped_udf(bound, msg_schema)
                gd = widened.groupby("partition_id")
                udf_col = udf(*[widened[c] for c in widened.columns])
                from pyspark.sql.classic.dataframe import DataFrame as _CDF

                msgs = _CDF(
                    gd._jgd.flatMapGroupsInPandas(udf_col._jc), self.spark
                )
            except Exception:
                msgs = widened.groupby("partition_id").applyInPandas(
                    bound, schema=msg_schema
                )
        else:
            blocks_df = blocks.blocks
            if prefilter_blocks:
                pids = [
                    r[0]
                    for r in routed.select("partition_id").distinct().collect()
                ]
                active_partitions = len(pids)
                blocks_df = blocks_df.filter(F.col("partition_id").isin(pids))
            msgs = (
                widened.groupby("partition_id")
                .cogroup(blocks_df.groupby("partition_id"))
                .applyInPandas(kernel_fn, schema=msg_schema)
            )
        if width < blocks.num_partitions:
            # Small-graph case only (the width cap did not bind): keep
            # the downstream message fold at the same width — the
            # algorithm's groupBy("dst") then reuses this partitioning
            # instead of planning its own exchange at
            # spark.sql.shuffle.partitions, so the fold/merge stages run
            # `width` tasks, not 32+.  Replaces the fold's
            # ENSURE_REQUIREMENTS exchange (same exchange count); never
            # fires at scale, where width == num_partitions.
            msgs = msgs.repartition(width, "dst")
        return msgs, active_partitions

    # ------------------------------------------------------------------
    # ------------------------------------------------------------------
    def _commit_round(
        self, blocks: GraphBlocks, step: int, frontier: DataFrame, meta: dict
    ) -> None:
        """Write frontier + meta for a checkpointed round (the backend
        has already persisted the state and put its pointer in ``meta``:
        a ``state_path`` or a delta-store ``manifest``); the atomic meta
        rename is the commit marker."""
        rdir = _round_dir(self.checkpoint_dir, step)
        frontier.write.mode("overwrite").parquet(
            os.path.join(rdir, "frontier.parquet")
        )
        meta = dict(meta)
        pp = blocks.route(frontier).groupBy("partition_id").count().collect()
        meta["frontier_rows_per_partition"] = {
            int(r["partition_id"]): int(r["count"]) for r in pp
        }
        parent = step - self.checkpoint_every
        # Paths are stored RELATIVE to checkpoint_dir so a checkpoint
        # directory can be relocated (or live on a shared filesystem
        # mounted at a different path) and still resume.
        rel = os.path.basename(rdir.rstrip("/"))
        meta.update(
            committed=True,
            parent_round=parent if parent > 0 else None,
            frontier_path=os.path.join(rel, "frontier.parquet"),
        )
        # Routed through the Hadoop FileSystem API so checkpoint_dir may
        # be hdfs:// / s3a:// on a cluster (north rule: resumable).
        write_json_atomic(self.spark, os.path.join(rdir, META_NAME), meta)

    # ------------------------------------------------------------------
    @staticmethod
    def latest_round(checkpoint_dir: str, spark: SparkSession | None = None) -> dict | None:
        """Find the newest committed round's meta (resume point)."""
        if spark is None:
            spark = SparkSession.getActiveSession()
        best = None
        for name in fs_list_dirs(spark, checkpoint_dir):
            meta_path = os.path.join(checkpoint_dir, name, META_NAME)
            if name.startswith("round=") and fs_exists(spark, meta_path):
                meta = read_json(spark, meta_path)
                if meta.get("committed"):
                    best = meta
        return best

    def resume(self, checkpoint_dir: str) -> tuple[DataFrame, DataFrame, dict] | None:
        """Load (state, frontier, meta) of the latest committed round.

        Delta-store rounds carry a ``manifest`` instead of a
        ``state_path``; the returned state is the store view at that
        round (callers pass ``meta['manifest']`` back through
        ``run(resume_manifest=...)`` to continue incrementally)."""
        meta = self.latest_round(checkpoint_dir, self.spark)
        if meta is None:
            return None

        def _abspath(p: str) -> str:  # absolute paths = pre-relative-meta runs
            if "://" in p or os.path.isabs(p):
                return p
            return os.path.join(checkpoint_dir, p)

        if "manifest" in meta:
            # The committed round records where its store lives (a
            # caller-configured --state-store-dir need not be under the
            # checkpoint dir); pre-r5 metas lack the key and used the
            # default location.
            store_root = _abspath(
                meta.get("state_store_dir", "statestore")
            )
            meta["state_store_dir_resolved"] = store_root
            store = DeltaStateStore(
                self.spark,
                store_root,
                int(meta.get("n_buckets", 256)),
                monotone=meta.get("monotone", "min"),
            )
            store.restore(meta["manifest"])
            state = store.read_reconciled()
        else:
            state = self.spark.read.parquet(_abspath(meta["state_path"]))
        frontier = self.spark.read.parquet(_abspath(meta["frontier_path"]))
        return state, frontier, meta

"""The partition-centric superstep loop (driver-side delta iteration).

Spark has no engine-level delta iteration (Flink:
/root/reference/src/main/java/org/apache/flink/graph/partition/centric/
PartitionCentricIteration.java:89-112 — iterateDelta + closeWith), so
the loop lives in the driver.  One global superstep =

    frontier --route(partition_id, mirrors)--> groupBy(partition_id)
      --flatMapGroupsInPandas(kernel: reads its partition's CSR block
      from the block store worker-side, then many LOCAL supersteps,
      vectorized numpy)--> messages [dst, ...] --groupBy(dst).agg(fold)
      [Catalyst gives the map-side combiner the reference lacks]-->
      state merge --> changed-filter --> next frontier

Only the frontier crosses JVM -> Arrow -> Python each round; a
partition the frontier does not touch has no group, so its kernel never
runs (a sparse tail round pays O(frontier), not O(|E|)).

Convergence = empty frontier (reference semantics) or an
algorithm-supplied metric (PageRank L1 < tol).

Every algorithm runs through ONE round driver (``PCEngine._drive``).
Where the state lives is a small backend: ``_MemoryState`` (the
per-round checkpoint below) or ``_DeltaState`` (the append-only
``DeltaStateStore`` for min merges).  A backend owns only
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

Every ``checkpoint_every`` rounds the state goes to Parquet (or the
delta store) with a ``_meta.json`` carrying superstep number, metrics,
per-partition frontier counts and a parent pointer, so runs resume
mid-iteration (north rule: resumable with per-partition lineage).  The
frontier is derived from the state, on resume as on a fresh run (the
reference's ``closeWith(delta, delta)``).
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


def _bind_store(kernel3: Callable, blocks: GraphBlocks) -> Callable:
    """Adapt a 3-arg kernel to the grouped map: the group delivers the
    frontier slice; the block side is read worker-side."""
    store_path, build_id = blocks.store_path, blocks.build_id

    def fn(key, fpdf):
        from .partition import read_store_block

        bpdf = read_store_block(store_path, int(key[0]), build_id)
        return kernel3(key, fpdf, bpdf)

    return fn


def _bind_step(kernel: Callable, step: int) -> Callable:
    """Close over the superstep number, leaving the 3-arg kernel
    signature ``_bind_store`` wraps."""

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


def fold_update(fold: str, sum_tol: float | None = None) -> Callable:
    """The built-in vertex update ``update(state, msgs, step)``: fold
    the messages per dst with ``fold`` ("min", "max" or "sum") and merge
    them into ``value``.  min/max keep a strictly better message and
    flag it ``changed`` (emit-on-strict-change, VertexUpdateFunction.
    java:85-93; a null ``value`` stays null); sum adds, and flags any
    received sum (with ``sum_tol``: one above it in magnitude).  String
    expressions: a few py4j round-trips per round (see pagerank.update)."""
    if fold in ("min", "max"):
        op = "<" if fold == "min" else ">"
        value = f"case when msg {op} value then msg else value end as value"
        changed = f"coalesce(msg {op} value, false) as changed"
    elif fold == "sum":
        value = "value + coalesce(msg, 0) as value"
        changed = "msg is not null as changed" if sum_tol is None else (
            f"coalesce(abs(msg) > cast('{float(sum_tol)!r}' as double), false)"
            " as changed"
        )
    else:
        raise ValueError(
            f"fold must be one of ['max', 'min', 'sum'] or pass update= (got {fold!r})"
        )

    def update(state_df: DataFrame, msgs: DataFrame, step: int) -> DataFrame:
        folded = msgs.groupBy("dst").agg(F.expr(f"{fold}(msg) as msg"))
        joined = state_df.select("id", "value").join(
            folded, F.expr("id = dst"), "left"
        )
        return joined.selectExpr("id", value, changed)

    return update


def _changed_rows(state: DataFrame) -> DataFrame:
    """The default frontier: the rows the round changed."""
    return state.filter("changed").select("id", "value")


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
                 resumed):
        # The initial state is embedded as given — a census scan, the
        # census joined with ``vertices``, or a resumed round's parquet
        # read — with no checkpoint of its own.  Its subtree appears
        # twice in the round-1 plan (frontier branch + merge branch),
        # i.e. it is read at most twice: cheaper than materializing an
        # O(|V|) checkpoint first, at every scale.  The first round's
        # merge pays one state-side shuffle into hash(id) partitioning;
        # every later round inherits it from the previous round's
        # checkpointed merge output (no Exchange, no Sort) — the
        # lineage cut that keeps rounds structurally identical.
        self.engine = engine
        self.state = (
            engine.spark.read.parquet(resumed["state_path"]) if resumed else state
        )
        # the run's state columns; anything else ``update`` emits is metric-only
        self.cols = self.state.columns
        self.next: DataFrame | None = None
        self.update = update
        self.frontier_fn = frontier_fn
        self.metrics_exprs = metrics_exprs
        self.msgs: DataFrame | None = None  # persisted in strict rounds
        self.lazy = True  # no round adopted yet

    def initial_frontier(self, frontier_fn) -> DataFrame:
        return frontier_fn(self.state)

    def advance(self, msgs, step, algorithm, strict, durable) -> _Round:
        if strict:
            # persisted for the round so the anti-join action does not
            # make the merge re-run the kernels
            self.msgs = msgs = msgs.persist()
            _check_targets(msgs.select("dst"), self.state)
        new_state = self.update(self.state, msgs, step)
        new_state, obs = _observe(new_state, self.metrics_exprs, algorithm, step)
        # metric-only columns end at the observation: project them away
        # BELOW the checkpoint (partitioning on id is preserved through
        # Project/CollectMetrics; the optimizer drops a no-op Project)
        new_state = new_state.select(*self.cols)
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
        return _Round(self.frontier_fn(self.next), dict(obs.get), {})

    def meta(self, step: int) -> dict:
        # RELATIVE to checkpoint_dir, so a checkpoint directory can be
        # relocated (or mounted elsewhere) and still resume
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
            self.lazy = False

    def discard(self) -> None:
        """The run raised: free the state checkpoint it still holds."""
        _free_checkpoint(self.state)

    def result(self) -> DataFrame:
        if self.lazy:
            # no round ran over the initial state (a census scan):
            # materialize it, as the store it reads may be a temp
            # store deleted when the algorithm call returns
            return self.state.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
        return self.state


class _DeltaState:
    """State in a ``DeltaStateStore`` for min merges: each round writes
    ONLY its changed rows — O(changed), not O(|V|).

    Per round: kernel messages folded per dst (min — ONE small
    aggregate, persisted, its count is the kernel-running action), a
    scan of the touched buckets' versions joined against the folded
    messages (broadcast when the fold is small: sparse rounds never
    shuffle state), strict-improvement filter, and an append-only write
    of the improvements as a new store version — which doubles as the
    next frontier.  Reads reconcile duplicate ids with the same min the
    algorithm folds with, so ordering is immaterial; compaction keeps
    per-bucket version lists bounded."""

    def __init__(self, engine, state, msg_schema, metrics_exprs, root,
                 n_buckets, resumed):
        from pyspark.sql.types import StructType

        self.engine = engine
        self.store = DeltaStateStore(engine.spark, root, n_buckets)
        self.metrics_exprs = metrics_exprs
        self.resumed = resumed
        # Canonicalize the VALUE type to what every LATER version will
        # hold: delta rows carry the folded message as `value`, so v0
        # must already use the message's type — an int32-valued vertex
        # table would otherwise write v0 as int and v1+ as long, and
        # the multi-version parquet read fails on the physical-type
        # mismatch.  The id column keeps ITS type: blocks.route hashes
        # it, and xxhash64(int32) != xxhash64(long) for the same value
        # (bucket_expr casts internally for the same reason).
        msg_type = StructType.fromDDL(msg_schema)["msg"].dataType
        if resumed:
            self.store.restore(resumed["manifest"])
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
        if not self.resumed:
            return frontier_fn(self.store.read_version(0))
        # a committed round's frontier is its own delta version, which
        # its manifest keeps iff the round wrote rows (``advance``)
        vid = self.resumed["store_version"]
        wrote = any(vid in vs for vs in self.store.manifest.values())
        return self.store.read_version(vid) if wrote else self.empty_frontier

    def advance(self, msgs, step, algorithm, strict, durable) -> _Round:
        store = self.store
        self.folded = folded = (
            msgs.groupBy("dst").agg(F.min("msg").alias("msg")).persist()
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
            F.min("value").alias("value"), F.min("msg").alias("msg")
        )
        delta = cur.filter(F.col("msg") < F.col("value")).select(
            "id", F.col("msg").alias("value"), F.lit(True).alias("changed")
        )
        delta, obs = _observe(delta, self.metrics_exprs, algorithm, step)
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

    def meta(self, step: int) -> dict:
        store = self.store
        return {
            "manifest": {str(b): list(vs) for b, vs in store.manifest.items()},
            "n_buckets": store.n_buckets,
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
        PartitionProcessFunction.java:78-89); it starts with
        ``partition.kernel_block``, which decodes the block and places
        the frontier on it (the reference's RichEdge join); the
        optional 4th parameter receives the 1-based superstep number;
      * ``msg_schema`` — DDL schema of the messages DataFrame (first
        column must be ``dst``);
      * ``update(state, msgs, step) -> new_state`` — global fold +
        vertex update (analog of VertexUpdateFunction.updateVertex,
        VertexUpdateFunction.java:42-56); lazy, engine materializes;
        new_state carries a boolean ``changed`` column.  A fold name
        ("min", "max", "sum") selects the built-in ``fold_update``;
      * optional ``frontier_fn(new_state) -> frontier[id, value]`` —
        the next frontier, by default the ``changed`` rows (analog of
        setNewVertexValue's emit-on-change, VertexUpdateFunction.java:
        85-93); stays a LAZY projection of the checkpointed state (no
        second materialized copy per round);
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
        state: DataFrame | None,
        kernel: Callable,
        msg_schema: str,
        update: Callable[[DataFrame, DataFrame, int], DataFrame] | str,
        frontier_fn: Callable[[DataFrame], DataFrame] | None = None,
        max_iter: int = 100,
        metrics_exprs: list | None = None,
        metrics_post: Callable[[dict, int], dict] | None = None,
        algorithm: str = "custom",
        strict: bool = False,
        pre_superstep: Callable[[int], None] | None = None,
        post_superstep: Callable[[int, dict], None] | None = None,
        state_store_dir: str | None = None,
        n_buckets: int = 256,
        resumed: dict | None = None,
    ) -> tuple[DataFrame, list[dict]]:
        """Iterate to convergence.

        ``state`` is embedded in round 1 as given: the engine takes no
        checkpoint of the initial state (``_MemoryState``), and a run
        that ends before any round materializes it on return.  Every
        round keeps exactly its columns (a resumed round's parquet
        columns).  Any other column ``update`` emits is metric-only:
        ``metrics_exprs`` may observe it, and it is projected away
        below the checkpoint (PageRank's ``prev_pr``: ~25% of the
        per-round state bytes at 316M edges).

        ``resumed`` (the meta ``resume`` returns) continues that
        committed round in the backend that committed it: ``state`` is
        ignored, and ``state_store_dir``, if given, relocates the delta
        store.  Either way the first frontier is derived from the state.

        ``state_store_dir`` keeps the state in a DeltaStateStore instead
        of the per-round checkpoint.  Its merge is "fold messages per
        dst with min, keep on strict improvement" over state rows
        ``(id, value, changed)`` and messages ``(dst, msg)`` — CC's
        min-label and SSSP's min-distance — so ``update`` must be
        "min" (anything else raises ``ValueError`` before the run
        starts, a resumed delta-store run included).  The engine
        applies the min merge itself, and ``frontier_fn`` only seeds
        the first frontier; each round writes ONLY its
        changed rows (O(changed)) as a new store version, with
        min-reconciliation on read and per-bucket compaction
        (``DeltaStateStore.max_versions``) bounding read amplification.
        On a cluster the directory must be on shared storage (hdfs/s3a).

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
        the observed values into the metrics dict, which must hold
        ``active`` (the loop stops at 0) and may set ``converged``.
        The defaults observe the number of ``changed`` rows (on the
        delta store, every written row) and report it as ``active``.
        The observe node rides the checkpoint action only — it never
        enters the retained plan.
        """
        # a resumed run continues in the backend that committed its round
        if resumed and "manifest" in resumed:
            state_store_dir = state_store_dir or resumed["state_store_dir"]
            n_buckets = int(resumed.get("n_buckets", n_buckets))
        elif resumed:
            state_store_dir = None
        if state_store_dir is not None and update != "min":
            raise ValueError(
                "the delta state store merges with min only: pass update='min' "
                f"with state_store_dir (got {update!r})"
            )
        if isinstance(update, str):
            update = fold_update(update)
        frontier_fn = frontier_fn or _changed_rows
        if metrics_exprs is None:
            metrics_exprs = [F.expr("count_if(changed) as active")]
        metrics_post = metrics_post or (lambda observed, step: dict(observed))
        conf = self.spark.conf
        aqe_prev = conf.get("spark.sql.adaptive.enabled", "true")
        bcast_prev = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # AQE re-plans 3-4 query stages on the driver every superstep — a
        # serial per-round cost that hits higher parallelism levels
        # proportionally harder (Amdahl), and it buys nothing here: the
        # loop's shuffle partitioning is fixed by construction and skew
        # is handled by explicit salting (AQE cannot split grouped-map
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
                    self, state, update, frontier_fn, metrics_exprs, resumed
                )
            else:
                backend = _DeltaState(
                    self, state, msg_schema, metrics_exprs, state_store_dir,
                    n_buckets, resumed,
                )
            frontier = backend.initial_frontier(frontier_fn)
            return self._drive(
                blocks, backend, frontier, kernel, msg_schema, max_iter,
                metrics_post,
                int(resumed["superstep"]) if resumed else 0, algorithm,
                strict, pre_superstep, post_superstep,
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
        metrics_post: Callable[[dict, int], dict],
        start_step: int,
        algorithm: str,
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
                msgs = self._messages(
                    blocks, blocks.route(frontier), kernel_fn, msg_schema
                )
                durable = (
                    self.checkpoint_dir is not None
                    and step % self.checkpoint_every == 0
                )
                try:
                    rnd = backend.advance(msgs, step, algorithm, strict, durable)
                    metrics = (
                        {"active": 0} if rnd.frontier is None
                        else metrics_post(rnd.observed, step)
                    )
                    metrics.update(
                        superstep=step,
                        algorithm=algorithm,
                        round_sec=round(time.monotonic() - round_t0, 4),
                    )
                    metrics.update(rnd.record)
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
    def _kernel_udf(
        self, kernel_fn: Callable, blocks: GraphBlocks, msg_schema: str
    ):
        """Per-run cache of the grouped-map pandas UDF running
        ``kernel_fn`` over ``blocks``: the public grouped-map API re-wraps and
        re-cloudpickles the function on every call (~20 ms/round
        measured); the cached UDF applied through the same
        ``flatMapGroupsInPandas`` entry point halves that.  Keyed by
        kernel identity — step-bound kernels (a new closure per round)
        simply miss."""
        cached = self.__dict__.get("_udf_cache")
        if (
            cached is not None
            and cached[0] is kernel_fn
            and cached[1] is blocks
            and cached[2] == msg_schema
        ):
            return cached[3]
        from pyspark.rdd import PythonEvalType
        from pyspark.sql.functions import pandas_udf

        udf = pandas_udf(
            _bind_store(kernel_fn, blocks),
            returnType=msg_schema,
            functionType=PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF,
        )
        self.__dict__["_udf_cache"] = (kernel_fn, blocks, msg_schema, udf)
        return udf

    # ------------------------------------------------------------------
    def _messages(
        self,
        blocks: GraphBlocks,
        routed: DataFrame,
        kernel_fn: Callable,
        msg_schema: str,
    ) -> DataFrame:
        """One superstep's kernel application: routed frontier -> raw
        messages.  The grouped map only materializes groups the
        frontier touches, and each kernel reads its own partition's CSR
        rows worker-side — no JVM cache scan, no Arrow transfer of the
        topology, and inactive partitions are free.

        The routed frontier is explicitly hash-partitioned into
        ``num_partitions`` (one CSR block per task) instead of letting
        the grouped-map plan its exchange at spark.sql.shuffle.partitions:
        same single shuffle, but each kernel task then writes 1/Pth of
        the message volume through its ShuffleExternalSorter.  At 316M
        edges with 128 blocks on 32 shuffle partitions, the 4-blocks-
        per-task kernel stage buffered ~240 MB of compressed partials
        per task and spilled 10-15 GB/round (r5 per-stage attribution,
        docs/PERF.md); at one block per task the buffers fit."""
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        # Physical width of the kernel stage (number of reduce
        # partitions feeding the grouped map).  One CSR block per task is
        # the at-scale layout (spill-free shuffle write, r5); but each
        # python-runner task has a fixed JVM<->worker protocol cost
        # (~10-100 ms), so a SMALL graph must not fan a few thousand
        # rows out over num_partitions tasks.  Width is sized from the
        # store's edge count to ~_EDGES_PER_KERNEL_TASK edges per task,
        # capped at num_partitions — at 316M edges the cap binds (one
        # block per task, exactly the r5 behavior), at sf0.1 it is a
        # handful of tasks.  Grouping semantics are unchanged: groups
        # are keyed by partition_id regardless of the physical
        # partition count.
        per_task = -(-blocks.n_edges // _EDGES_PER_KERNEL_TASK)
        width = max(1, min(blocks.num_partitions, per_task))
        widened = routed.repartition(width, "partition_id")
        # The private entry point is pinned by
        # test_kernel_stage_takes_cached_udf_path: there is no fallback
        # to the public API, which would hide UDF-construction errors.
        udf = self._kernel_udf(kernel_fn, blocks, msg_schema)
        udf_col = udf(*[widened[c] for c in widened.columns])
        msgs = _CDF(
            widened.groupby("partition_id")._jgd.flatMapGroupsInPandas(
                udf_col._jc
            ),
            self.spark,
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
        return msgs

    # ------------------------------------------------------------------
    def _commit_round(
        self, blocks: GraphBlocks, step: int, frontier: DataFrame, meta: dict
    ) -> None:
        """Write the meta of a checkpointed round (the backend has
        already persisted the state and put its pointer in ``meta``: a
        ``state_path`` or a delta-store ``manifest``); the atomic meta
        rename is the commit marker."""
        rdir = _round_dir(self.checkpoint_dir, step)
        meta = dict(meta)
        pp = blocks.route(frontier).groupBy("partition_id").count().collect()
        meta["frontier_rows_per_partition"] = {
            int(r["partition_id"]): int(r["count"]) for r in pp
        }
        parent = step - self.checkpoint_every
        meta.update(committed=True, parent_round=parent if parent > 0 else None)
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

    def resume(self, checkpoint_dir: str) -> dict | None:
        """The meta of the latest committed round, with its
        ``state_path`` (in-memory rounds) or ``state_store_dir``
        (delta-store rounds, which carry a ``manifest``) resolved —
        the record ``run(resumed=...)`` continues from.  A resumed
        engine without a ``checkpoint_dir`` of its own keeps
        checkpointing into ``checkpoint_dir``."""
        meta = self.latest_round(checkpoint_dir, self.spark)
        if meta is None:
            return None
        self.checkpoint_dir = self.checkpoint_dir or checkpoint_dir

        def _abspath(p: str) -> str:  # absolute paths = pre-relative-meta runs
            if "://" in p or os.path.isabs(p):
                return p
            return os.path.join(checkpoint_dir, p)

        if "manifest" in meta:
            # The committed round records where its store lives (a
            # caller-configured --state-store-dir need not be under the
            # checkpoint dir); pre-r5 metas lack the key and used the
            # default location.  Older metas' merge-direction key is not
            # read: every delta-store run folds with min.
            meta["state_store_dir"] = _abspath(
                meta.get("state_store_dir", "statestore")
            )
        else:
            meta["state_path"] = _abspath(meta["state_path"])
        return meta

"""Delta state store — O(changed) rounds for min-merge delta algorithms.

The in-memory backend (``engine._MemoryState``) materializes the WHOLE
vertex state every round; for delta algorithms (CC tail, SSSP
wavefront) that is an O(|V|) rewrite to move an 8-row frontier —
measured as a flat ~4-5 s/round floor at 316M edges regardless of
frontier size (BENCH/sssp_316m_r3.json), and at 100x scale it is THE
structural scale-killer.  When the algorithm's merge is an associative
MIN (CC's component label, SSSP's distance), ``DeltaStateStore``
appends only each round's CHANGED rows as a new version, and every read
reconciles duplicate ids with the same min the algorithm folds with, so
version order is immaterial:

  * layout: ``root/v={vid}/bucket={b}/*.parquet`` — append-only
    versioned bucket directories, ``bucket = pmod(xxhash64(id), B)``;
    version ids are store-allocated increasing ints (v0 = the full
    initial state, later vids = per-round deltas or compactions);
  * a driver-side MANIFEST maps bucket -> ORDERED list of versions
    holding rows of that bucket; reading the current state (or any
    active subset) is a pruned multi-path parquet read; nothing is ever
    overwritten in place, so a crash mid-write cannot corrupt a
    committed version;
  * compaction: when a bucket's version list exceeds
    ``DeltaStateStore.max_versions`` (8), its versions are folded (min
    per id) into one new version —
    bounding read amplification while keeping every round's write
    O(changed);
  * per-partition lineage (north rule): the manifest is persisted in
    every committed round's ``_meta.json``, so resume reconstructs the
    exact bucket -> versions view of that round.  Dirs compaction
    retires are swept at the next commit, so only the newest committed
    round of a compacted run is resumable (``restore`` refuses older).

Appending only changed rows, not rewriting every bucket a round's
messages touch, is what makes rounds O(changed): messages from even a
~1k-row frontier hash into nearly every bucket, so a bucket rewrite
still moves nearly the whole state (13.6 s/round at 173 active
vertices vs 9.0 s for the delta model at 316M edges,
BENCH/sssp_inc_316m_r4.json).  Checkpoints of that bucket-rewrite
layout (scalar bucket -> version manifests) are refused on resume.

Reserved column names: ``bucket`` and ``v`` are partition-discovery
columns — state schemas must not use them.

Reference parity note: the reference keeps its solution set as a Flink
delta-iteration workset join
(/root/reference/src/main/java/org/apache/flink/graph/partition/centric/
PartitionCentricIteration.java:104-112) where the runtime updates only
changed solution-set entries in-place; this store is the Spark-native
equivalent (Spark has no managed delta iteration, so the versioned
upsert is made explicit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .iohelpers import fs_delete, fs_list_dirs, local_temp_dir


def default_state_dir(
    spark: SparkSession, checkpoint_dir: str | None, algo: str
) -> str:
    """Where an algorithm's incremental state lives by default: inside
    the checkpoint dir (shared-FS by the resume contract, and where
    ``engine.resume`` looks for it), else a fresh local temp dir — local
    mode only; any other master must pass ``state_store_dir``."""
    if checkpoint_dir is not None:
        return os.path.join(checkpoint_dir, "statestore")
    return local_temp_dir(
        spark.sparkContext.master, f"pcgraph_{algo}_state_", "state_store_dir"
    )


class DeltaStateStore:
    """Versioned hash-bucketed state for min-merge delta algorithms —
    per-round writes are O(changed rows) (module docstring)."""

    # versions a bucket may list before ``compact`` folds them
    max_versions = 8

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 256):
        self.spark = spark
        self.root = root
        self.n_buckets = int(n_buckets)
        # bucket -> ordered version list (the current state view)
        self.manifest: dict[int, list[int]] = {}
        self.committed: dict[int, list[int]] = {}
        self._retired: list[str] = []
        self._next_vid = 0
        # canonical DDL type of the `value` column (recorded at init,
        # re-detected from parquet footers on restore) — the
        # empty-manifest read fallback must not guess `double` for a
        # long-valued (CC label) store
        self._value_type: str | None = None

    # -- layout ---------------------------------------------------------
    def bucket_expr(self, col):
        # Cast to long BEFORE hashing: xxhash64 hashes by physical type,
        # so an int32 vertex id and the same value as a long (message
        # dst is always long per msg_schema) would land in different
        # buckets — active-bucket pruning would then read the wrong
        # buckets and silently drop updates.
        return F.pmod(
            F.xxhash64(col.cast("long")), F.lit(self.n_buckets)
        ).cast("int")

    def _vdir(self, vid: int) -> str:
        return os.path.join(self.root, f"v={vid}")

    def _bdir(self, vid: int, bucket: int) -> str:
        return os.path.join(self._vdir(vid), f"bucket={bucket}")

    def _written_buckets(self, vid: int) -> list[int]:
        return sorted(
            int(name.split("=", 1)[1])
            for name in fs_list_dirs(self.spark, self._vdir(vid))
            if name.startswith("bucket=")
        )

    # ------------------------------------------------------------------
    def init(self, state: DataFrame) -> int:
        """Write the full initial state as version 0 (the run's one
        O(|V|) write) and seed the manifest."""
        fs_delete(self.spark, self.root)
        self._value_type = state.schema["value"].dataType.simpleString()
        (
            state.withColumn("bucket", self.bucket_expr(F.col("id")))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self._vdir(0))
        )
        self.manifest = {b: [0] for b in self._written_buckets(0)}
        self._next_vid = 1
        return 0

    def restore(self, manifest: dict) -> None:
        """Adopt a committed manifest (resume): bucket -> version list."""
        if any(not isinstance(vs, (list, tuple)) for vs in manifest.values()):
            raise ValueError(
                "checkpoint manifest maps buckets to single versions: it was "
                "written by the bucket-rewrite state store, a format that "
                "has been removed — rerun from the start (the delta store "
                "replaces it)"
            )
        self.manifest = {
            int(b): [int(v) for v in vs] for b, vs in manifest.items()
        }
        self.committed = {b: list(vs) for b, vs in self.manifest.items()}
        self._next_vid = (
            max((v for vs in self.manifest.values() for v in vs), default=-1)
            + 1
        )
        # Every listed v=…/bucket=… dir must exist (one listing per
        # version): failing here names the path, where a blind restore
        # would surface later as an opaque read error (ADVICE r5).
        for v in sorted({v for vs in self.manifest.values() for v in vs}):
            gone = {b for b, vs in self.manifest.items() if v in vs}
            gone -= set(self._written_buckets(v))
            if gone:
                raise FileNotFoundError(
                    f"delta state store restore: {self._bdir(v, min(gone))!r} "
                    "is listed in the committed manifest but missing: a "
                    "newer round's compaction removed it (only the newest "
                    "committed round of a compacted run can be resumed), "
                    "or the state_store_dir is wrong"
                )
        if not self.manifest:
            return
        # one parquet-footer read re-establishes the canonical value type
        b, vs = min(self.manifest.items())
        schema = self.spark.read.parquet(self._bdir(vs[0], b)).schema
        self._value_type = schema["value"].dataType.simpleString()

    # ------------------------------------------------------------------
    def read_buckets_raw(self, buckets: list[int]) -> DataFrame | None:
        """ALL rows of the given buckets across their versions — an id
        may appear once per version it changed in; callers reconcile
        with ``min(value)`` (or get it via ``read_reconciled``)."""
        paths = [
            self._bdir(v, b)
            for b in buckets
            if b in self.manifest
            for v in self.manifest[b]
        ]
        if not paths:
            return None
        return (
            self.spark.read.option("basePath", self.root)
            .parquet(*paths)
            .select("id", "value")
        )

    def read_reconciled(self, buckets: list[int] | None = None) -> DataFrame:
        """Current (id, value) state — min per id across versions."""
        if buckets is None:
            buckets = sorted(self.manifest)
        raw = self.read_buckets_raw(buckets)
        if raw is None:
            return self.spark.createDataFrame(
                [], f"id long, value {self._value_type or 'double'}"
            )
        return raw.groupBy("id").agg(F.min("value").alias("value"))

    def read_version(self, vid: int) -> DataFrame:
        return self.spark.read.parquet(self._vdir(vid)).drop("bucket")

    # ------------------------------------------------------------------
    def write_delta(self, delta: DataFrame, num_partitions: int | None = None) -> int:
        """Append one round's CHANGED rows (must carry a ``bucket``
        column) as a new version — O(changed) bytes written.  Returns
        the version id (its rows are the round's frontier)."""
        vid = self._next_vid
        self._next_vid += 1
        if num_partitions is None:
            num_partitions = int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
        (
            delta.repartition(num_partitions, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self._vdir(vid))
        )
        for b in self._written_buckets(vid):
            self.manifest.setdefault(b, []).append(vid)
        return vid

    def compact(
        self, protect: int | None = None, max_buckets: int | None = None
    ) -> list[int]:
        """Fold the versions of every bucket whose list exceeds
        ``self.max_versions`` (the class budget, 8) into one new
        consolidated version (min per id).
        Bounds read amplification; cost is O(rows in those buckets),
        amortized O(|changed|/max_versions) per round.  Returns the
        compacted bucket ids.

        ``protect``: a version id to EXCLUDE from folding and deletion —
        the engine passes the round's just-written delta, whose rows are
        the next frontier and are read lazily after compaction (folding
        it would delete the files out from under that read).  Duplicate
        coverage is harmless: reconciliation is the same min the fold
        uses, so a protected version overlapping the consolidated one
        changes no value.

        ``max_buckets`` staggers the work: when a full-frontier phase
        pushes EVERY bucket over budget in the same round, folding them
        all at once is a full-state rewrite spiking that round (measured
        +50% at 316M edges, BENCH/sssp_inc_316m_r4.json rounds 9-11);
        capping to n_buckets/4 per round spreads the same work over ~4
        rounds while version lists stay bounded at ~max_versions + the
        stagger depth.  Most-over-budget buckets are folded first
        (deterministic)."""
        over = [
            b
            for b, vs in self.manifest.items()
            if len([v for v in vs if v != protect]) > self.max_versions
        ]
        if not over:
            return []
        if max_buckets is not None and len(over) > max_buckets:
            over = sorted(
                over, key=lambda b: (-len(self.manifest[b]), b)
            )[:max_buckets]
        paths = [
            self._bdir(v, b)
            for b in over
            for v in self.manifest[b]
            if v != protect
        ]
        merged = (
            self.spark.read.option("basePath", self.root)
            .parquet(*paths)
            .select("id", "value")
            .groupBy("id")
            .agg(F.min("value").alias("value"))
            .withColumn("bucket", self.bucket_expr(F.col("id")))
        )
        vid = self.write_delta(merged)
        for b in over:
            old = [v for v in self.manifest[b] if v not in (vid, protect)]
            # keep the promised ordering invariant: version lists are
            # ascending (protect is always older than the consolidated
            # vid the fold just allocated)
            self.manifest[b] = sorted(
                [vid] + ([protect] if protect in self.manifest[b] else [])
            )
            for v in old:
                path = self._bdir(v, b)
                if v in self.committed.get(b, []):
                    self._retired.append(path)  # swept at the next commit
                else:
                    fs_delete(self.spark, path)
        return over

    def mark_committed(self) -> None:
        """Current manifest persisted in a round meta — sweep per-bucket
        dirs retired by compaction while the previous commit still
        referenced them."""
        self.committed = {b: list(vs) for b, vs in self.manifest.items()}
        for path in self._retired:
            fs_delete(self.spark, path)
        self._retired = []

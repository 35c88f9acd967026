"""Graph partitioning: per-partition CSR blocks + skew salting/mirroring.

Reference model: Flink partition-centric iteration re-shuffles the
workset⋈edges coGroup every superstep
(/root/reference/src/main/java/org/apache/flink/graph/partition/centric/
PartitionCentricIteration.java:96-103).  Our design instead packs the
static topology once into per-partition CSR blocks keyed by
``partition_id = pmod(xxhash64(src), P)`` and writes them as a BLOCK
STORE (``blocks/partition_id=N/`` Parquet) that each kernel reads for
its own partition inside the Python worker, so every superstep only
shuffles the (small) frontier and the messages.  ``graph_blocks`` is
the one place an algorithm gets its store from.

Skew (north rule: "skewed high-degree vertices are salted and mirrored
explicitly"): a vertex whose out-degree exceeds ``salt_threshold`` has
its out-edges split across ``ceil(deg/threshold)`` salted partitions
(``pmod(xxhash64(src, salt), P)``); the frontier row for such a hub is
*mirrored* to all of its salted partitions at routing time via a
broadcast join against the (tiny) mirror map.  Kernels partial-aggregate
messages per partition, so each edge still contributes exactly once.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .iohelpers import (
    fs_exists,
    is_remote,
    local_or_uri_abspath,
    local_temp_dir,
    read_json,
    strip_file_scheme,
    write_json_atomic,
)

# CSR arrays travel as binary blobs (raw little-endian numpy buffers):
# Spark converts array<long> cells to Arrow element-by-element, which
# dominated superstep time at ~30M edges; binary is a single memcpy and
# np.frombuffer on the kernel side is zero-copy.  Blobs are CHUNKED into
# ~4 MB rows: single-cell blobs of tens of MB are G1 "humongous"
# allocations (measured 12s -> 77s round variance from GC storms), and a
# 100 TB-scale partition would overflow Arrow's 2 GB cell limit outright.
BLOCK_SCHEMA = "partition_id int, chunk int, col string, data binary"

CHUNK_BYTES = 4 << 20

_COL_DTYPES = {
    "nodes": np.int64,
    "indptr": np.int64,
    "edst": np.int32,
    "weight": np.float64,
}


def unpack_block(bpdf) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode one partition's chunked CSR rows ->
    (nodes i64, indptr i64, edst i32, weight f64)."""
    out = {}
    for col, dtype in _COL_DTYPES.items():
        sel = bpdf[bpdf["col"] == col]
        if len(sel) == 0:
            out[col] = np.empty(0, dtype=dtype)
            continue
        chunks = sel.sort_values("chunk")["data"]
        buf = chunks.iloc[0] if len(chunks) == 1 else b"".join(chunks)
        out[col] = np.frombuffer(buf, dtype=dtype)
    return out["nodes"], out["indptr"], out["edst"], out["weight"]


def kernel_block(fpdf, bpdf, value_dtype):
    """A kernel's prologue: one partition's decoded block with the
    frontier placed on it -> (nodes, esrc, edst, weight, pos, vals).

    ``esrc`` is the per-edge local source index (``indptr`` expanded),
    ``weight`` is empty when the store is unweighted.  ``pos`` is the
    local index of every frontier row the block holds and ``vals`` its
    ``value`` read as ``value_dtype``; rows the block lacks are dropped.
    The analog of the reference's join of each active vertex's value
    onto its out-edges (``RichEdge``, PartitionCentricIteration.java:
    236-251).  An empty block or frontier gives zero-length arrays, so
    a kernel needs no empty branch of its own."""
    from .workerenv import optimize_worker

    optimize_worker()
    nodes, indptr, edst, weight = unpack_block(bpdf)
    esrc = np.repeat(np.arange(len(indptr) - 1, dtype=np.int64), np.diff(indptr))
    fids = fpdf["id"].to_numpy(dtype=np.int64)
    pos = np.searchsorted(nodes, fids)
    ok = pos < len(nodes)
    ok[ok] = nodes[pos[ok]] == fids[ok]
    vals = fpdf["value"].to_numpy(dtype=value_dtype)[ok]
    return nodes, esrc, edst, weight, pos[ok], vals


@dataclass
class GraphBlocks:
    """Static per-partition topology + routing metadata: an opened block
    store.  CSR rows are laid out as ``partition_id=N/`` uncompressed
    Parquet under ``store_path``; kernels read their own partition's
    block DIRECTLY in the Python worker (page-cache-hot local read, or
    shared FS / object store on a cluster).  The per-round JVM side
    only carries the frontier — measured: no multi-GB-per-round cache
    scan + Arrow serialization of the topology at 316M edges, and
    inactive partitions cost nothing (their groups never exist).
    """

    mirrors: DataFrame | None  # (id, partition_id) for salted hub vertices
    num_partitions: int
    store_path: str
    # store sidecar with the graph's vertex census (id, out_deg):
    # algorithm init (vertex-set completion + degree aggregation) is a
    # full edge-table scan+distinct — at 316M edges ~20 min on 2 cores,
    # repeated by EVERY algorithm run.  The store writes it once, and
    # ``vertex_census`` is the one place an algorithm reads it.
    vertices_path: str
    # edge count recorded at store build: lets the engine size the
    # kernel stage's physical width to the data — small graphs don't
    # pay per-task python-runner overhead x P, big graphs keep one CSR
    # block per task (engine._messages).
    n_edges: int
    # vertex-census scalars recorded at store build: PageRank init reads
    # n_vertices / n_dangling from here instead of running an
    # aggregation job per algorithm run.
    n_vertices: int
    n_dangling: int
    # per-build id (None for stores written before it was recorded):
    # keys the worker-side block caches, so a store rebuilt at the same
    # path never serves the previous build's topology
    build_id: str | None = None

    def route(self, frontier: DataFrame) -> DataFrame:
        """Attach ``partition_id`` to frontier rows [id, value...].

        Non-hub vertices go to their single hash partition; hub vertices
        are replicated to every salted partition that holds a slice of
        their out-edges (broadcast join — the mirror map is tiny).

        The pid Column is unresolved (binds by name at analysis), so it
        is built once and reused — route runs every superstep and each
        Column construction is several py4j round-trips.
        """
        default_pid = self.__dict__.get("_pid_col")
        if default_pid is None:
            default_pid = _pid_expr(F.col("id"), self.num_partitions)
            self.__dict__["_pid_col"] = default_pid
        if self.mirrors is None:
            return frontier.withColumn("partition_id", default_pid)
        joined = frontier.join(F.broadcast(self.mirrors), on="id", how="left")
        return joined.withColumn(
            "partition_id", F.coalesce(F.col("mirror_pid"), default_pid)
        ).drop("mirror_pid")

    def unpersist(self) -> None:
        if self.mirrors is not None:
            self.mirrors.unpersist()


def _pid_expr(src_col, num_partitions: int, salt_col=None):
    if salt_col is None:
        return F.pmod(F.xxhash64(src_col), F.lit(num_partitions)).cast("int")
    # xxhash64 is input-type-sensitive: pin the salt to long so the edge
    # assignment (pmod->long) and the mirror map (sequence->int) agree.
    return F.pmod(
        F.xxhash64(src_col, salt_col.cast("long")), F.lit(num_partitions)
    ).cast("int")


def _build_csr(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: edges of one partition -> one CSR block row.

    Vectorized (numpy only, no per-row Python).  ``nodes`` is the sorted
    union of local endpoints (local2global map); edges are stored
    CSR-style: ``indptr`` over nodes (dst-only nodes get empty ranges),
    ``edst`` as local node indices.
    """
    from .workerenv import optimize_worker

    optimize_worker()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    has_w = "weight" in pdf.columns
    w = pdf["weight"].to_numpy(dtype=np.float64) if has_w else None

    nodes = np.unique(np.concatenate([src, dst]))
    s_loc = np.searchsorted(nodes, src)
    d_loc = np.searchsorted(nodes, dst).astype(np.int32)
    order = np.argsort(s_loc, kind="stable")
    s_loc = s_loc[order]
    d_loc = d_loc[order]
    counts = np.bincount(s_loc, minlength=len(nodes))
    indptr = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    weight = (w[order] if has_w else np.empty(0, dtype=np.float64))
    pid = int(pdf["partition_id"].iloc[0])
    rows = {"partition_id": [], "chunk": [], "col": [], "data": []}
    for col, arr in (
        ("nodes", nodes),
        ("indptr", indptr),
        ("edst", d_loc),
        ("weight", weight),
    ):
        buf = arr.tobytes()
        for i in range(0, max(len(buf), 1), CHUNK_BYTES):
            rows["partition_id"].append(pid)
            rows["chunk"].append(i // CHUNK_BYTES)
            rows["col"].append(col)
            rows["data"].append(buf[i : i + CHUNK_BYTES])
    return pd.DataFrame(rows)


def _assign_partitions(
    edges: DataFrame, num_partitions: int, salt_threshold: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Tag every edge with its ``partition_id``; with ``salt_threshold``
    also return the mirror map ``(id, mirror_pid)`` of the salted hubs."""
    if salt_threshold is None or salt_threshold <= 0:
        return (
            edges.withColumn("partition_id", _pid_expr(F.col("src"), num_partitions)),
            None,
        )
    degrees = edges.groupBy("src").agg(F.count("*").alias("deg"))
    hubs = degrees.filter(F.col("deg") > salt_threshold).withColumn(
        "n_salt", F.ceil(F.col("deg") / F.lit(salt_threshold)).cast("int")
    )
    # Edges of hub srcs get a dst-derived salt; others salt 0 via plain hash.
    e = edges.join(F.broadcast(hubs.select("src", "n_salt")), on="src", how="left")
    salted_pid = _pid_expr(
        F.col("src"), num_partitions, F.pmod(F.xxhash64(F.col("dst")), F.col("n_salt"))
    )
    e = e.withColumn(
        "partition_id",
        F.when(F.col("n_salt").isNotNull(), salted_pid).otherwise(
            _pid_expr(F.col("src"), num_partitions)
        ),
    ).drop("n_salt")
    mirrors = (
        hubs.select(
            F.col("src").alias("id"),
            F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)).alias("salt"),
        )
        .select(
            "id",
            _pid_expr(F.col("id"), num_partitions, F.col("salt")).alias("mirror_pid"),
        )
        .distinct()
    )
    return e, mirrors


STORE_META = "store_meta.json"


def ensure_block_store(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int,
    path: str,
    salt_threshold: int | None = None,
    weighted: bool = False,
    tag: str = "",
    expected_edges: int | None = None,
) -> GraphBlocks:
    """Open the block store at ``path``, building it from
    ``edges[src, dst(, weight)]`` on first use.

    ``tag`` guards against reusing a store built from a DIFFERENT edge
    set (e.g. PageRank's directed edges vs CC's symmetrized ones): a
    mismatching tag/num_partitions/salt_threshold/weighted raises
    instead of silently iterating the wrong topology.  The edge COUNT is
    recorded at build time as a content fingerprint; pass
    ``expected_edges`` (a count the caller already has — never computed
    here, a reopen must not pay an edge-table scan) and a mismatch
    raises too, catching a store left over from REGENERATED input data
    at the same path.  The build (one full edge shuffle) runs once;
    every later run and every other same-tag algorithm reuses the store.
    """
    meta_path = os.path.join(path, STORE_META)
    if fs_exists(spark, meta_path):
        meta = read_json(spark, meta_path)
        requested = {
            "tag": tag,
            "num_partitions": num_partitions,
            "salt_threshold": salt_threshold,
            "weighted": weighted,
        }
        stored = {k: meta.get(k) for k in requested}
        stored["tag"] = stored["tag"] or ""
        if stored != requested:
            raise ValueError(
                f"block store at {path} was built with {stored} — "
                f"requested {requested}; use a distinct store_dir per "
                "edge-set/partitioning"
            )
        blocks = open_block_store(spark, path)
        if expected_edges is not None and blocks.n_edges != int(expected_edges):
            blocks.unpersist()
            raise ValueError(
                f"block store at {path} holds {blocks.n_edges} edges but the "
                f"input now has {expected_edges} — the input data changed "
                "since the store was built; delete the store_dir to rebuild"
            )
        return blocks

    # The edge plan may be an expensive derivation (a symmetrization's
    # distinct, a join of source tables): it is cached for the build,
    # whose blocks, mirror map and census all read it, and counted by
    # an observation on the blocks write instead of a job of its own.
    edges = edges.select("src", "dst", *(["weight"] if weighted else [])).persist()
    try:
        routed, mirrors = _assign_partitions(edges, num_partitions, salt_threshold)
        counted = Observation("pcgraph_block_store_edges")
        # One shuffle (groupBy partition_id) builds the blocks, written
        # straight out: each partition's rows leave one task, so every
        # ``partition_id=N/`` directory holds one file.  Uncompressed on
        # purpose — the chunks are near-incompressible hash-ordered
        # binary, and the per-round read path should be a straight
        # page-cache memcpy.
        (
            routed.observe(counted, F.count(F.lit(1)).alias("n"))
            .groupBy("partition_id")
            .applyInPandas(_build_csr, schema=BLOCK_SCHEMA)
            .write.mode("overwrite")
            .option("compression", "none")
            .partitionBy("partition_id")
            .parquet(os.path.join(path, "blocks"))
        )
        if mirrors is not None:
            mirrors.write.mode("overwrite").parquet(os.path.join(path, "mirrors"))
        if expected_edges is None:
            expected_edges = counted.get["n"]  # build-time fingerprint
        # vertex census sidecar: complete vertex set + out-degree,
        # written once at build so algorithm init skips the edge-table
        # scan.  Written BEFORE the meta: the meta rename is the store's
        # commit marker, so a crash anywhere in the build leaves no
        # half-store that ensure_block_store would reopen.
        deg_expr = F.sum("weight") if weighted else F.count("*")
        out_deg = edges.groupBy(F.col("src").alias("id")).agg(
            deg_expr.cast("double").alias("out_deg")
        )
        # census scalars land in the meta: algorithm init (PageRank's
        # n_vertices / dangling count) then needs no aggregation job at
        # all — counted by an observation on the census write, like the
        # edge count on the blocks write
        counted_census = Observation("pcgraph_block_store_census")
        (
            vertex_ids(edges)
            .join(out_deg, on="id", how="left")
            .fillna(0.0, subset=["out_deg"])
            .observe(
                counted_census,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("out_deg") == 0, 1).otherwise(0)).alias("d"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(path, "vertices"))
        )
        census = counted_census.get
    finally:
        edges.unpersist()
    # The edge count (the content fingerprint) lands in the SAME atomic
    # meta write as everything else: there is no window where a
    # committed store exists whose fingerprint check silently no-ops.
    write_json_atomic(spark, meta_path, {
        "num_partitions": num_partitions,
        "salt_threshold": salt_threshold,
        "weighted": weighted,
        "has_mirrors": mirrors is not None,
        "tag": tag,
        "n_edges": int(expected_edges),
        "n_vertices": int(census["n"]),
        "n_dangling": int(census["d"] or 0),
        "build_id": uuid.uuid4().hex,
    })
    return open_block_store(spark, path)


def open_block_store(spark: SparkSession, path: str) -> GraphBlocks:
    """Open a saved block store: no JVM-side cache of the topology —
    kernels read their partition's rows directly (``read_store_block``);
    only the (tiny) mirror map is persisted, for the per-round route.
    The vertex census (``vertices/`` and the meta's ``n_edges``,
    ``n_vertices``, ``n_dangling``) is required: a store written
    without it is refused, never rebuilt from an edge scan."""
    meta = read_json(spark, os.path.join(path, STORE_META))
    vpath = os.path.join(path, "vertices")
    scalars = ("n_edges", "n_vertices", "n_dangling")
    missing = [k for k in scalars if meta.get(k) is None]
    if not fs_exists(spark, os.path.join(vpath, "_SUCCESS")):
        missing.append("vertices/")
    if missing:
        raise ValueError(
            f"block store at {path} has no vertex census (missing: "
            f"{', '.join(missing)}): it was written by an older build — "
            "delete the store_dir to rebuild"
        )
    mirrors = None
    if meta["has_mirrors"]:
        mirrors = spark.read.parquet(os.path.join(path, "mirrors")).persist()
        mirrors.count()
    return GraphBlocks(
        mirrors=mirrors,
        num_partitions=meta["num_partitions"],
        store_path=local_or_uri_abspath(os.path.join(path, "blocks")),
        vertices_path=local_or_uri_abspath(vpath),
        n_edges=int(meta["n_edges"]),
        n_vertices=int(meta["n_vertices"]),
        n_dangling=int(meta["n_dangling"]),
        build_id=meta.get("build_id"),
    )


def vertex_census(
    spark: SparkSession, blocks: GraphBlocks, vertices: DataFrame | None = None
) -> DataFrame:
    """The vertex set every algorithm starts from, as ``(id, out_deg)``
    (reference: vertex init over Graph.fromDataSet, PCGraph.java:42-55):
    a scan of the store's census, plus each id of ``vertices`` that has
    no edge, with ``out_deg`` 0.  A full outer join, not a union with a
    literal 0.0: under ANSI mode the optimizer constant-folds
    PageRank's ``pr / out_deg`` in a literal branch before pruning its
    ``out_deg > 0`` filter, and the query fails with DIVIDE_BY_ZERO."""
    census = spark.read.parquet(blocks.vertices_path)
    if vertices is None:
        return census
    return census.join(
        vertices.select("id").distinct(), on="id", how="full"
    ).select("id", F.coalesce(F.col("out_deg"), F.lit(0.0)).alias("out_deg"))


@contextmanager
def graph_blocks(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int,
    blocks: GraphBlocks | None = None,
    store_dir: str | None = None,
    salt_threshold: int | None = None,
    weighted: bool = False,
    tag: str = "",
) -> Iterator[GraphBlocks]:
    """Where an algorithm's topology comes from, for the duration of
    the ``with`` block:

      * caller-supplied ``blocks``: used as given (the caller owns them);
      * a ``store_dir``: ``ensure_block_store`` there (built on first
        use, reused afterwards);
      * neither: a store built in a fresh local temp dir (local masters
        only — a cluster needs a shared ``store_dir``), deleted on exit.

    On exit — return or raise — a store opened here releases its
    persisted mirror map, so no cached frame outlives the call."""
    if blocks is not None:
        yield blocks
        return
    tmp = None
    if store_dir is None:
        store_dir = tmp = local_temp_dir(
            spark.sparkContext.master, "pcgraph_blocks_", "store_dir"
        )
    opened = None
    try:
        opened = ensure_block_store(
            spark, edges, num_partitions, store_dir,
            salt_threshold=salt_threshold, weighted=weighted, tag=tag,
        )
        yield opened
    finally:
        if opened is not None:
            opened.unpersist()
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


# Worker-local LRU for REMOTE block stores: on a cluster the store is a
# shared FS / object store, and without a cache every superstep of every
# task re-fetches its partition's CSR bytes over the network.  Fetched
# partitions land under ``PCGRAPH_BLOCK_CACHE`` (per-worker local disk)
# with LRU eviction at ``PCGRAPH_BLOCK_CACHE_GB``.  Store blocks are
# immutable once written (a rebuild at the same path gets a new
# build_id), so cache entries are keyed by store path + build id +
# partition — no per-access remote validation round-trips.
_CACHE_DIR_ENV = "PCGRAPH_BLOCK_CACHE"
_CACHE_CAP_ENV = "PCGRAPH_BLOCK_CACHE_GB"


def _cache_root() -> str:
    return os.environ.get(_CACHE_DIR_ENV, "/tmp/pcgraph_block_cache")


# Entries touched within the grace window are NEVER evicted: a concurrent
# task on the same worker may be between its fetch (which touched the
# marker) and its read — evicting it there would silently hand that
# kernel an EMPTY topology.  The window only needs to outlast a single
# fetch->read gap (milliseconds); 5 minutes is safe for stalled tasks.
_EVICT_GRACE_SEC = 300.0


def _evict_lru(root: str, cap_bytes: int, protect: str | None = None) -> None:
    """Drop least-recently-used partition dirs until under the cap.

    ``protect`` (the just-fetched dir) and any entry touched within
    ``_EVICT_GRACE_SEC`` are exempt — eviction must never delete a
    partition a concurrent task is about to read.  Best-effort beyond
    that; ``read_store_block`` re-fetches (bounded) if it loses a race.
    """
    import time as _time

    now = _time.time()
    entries = []  # (atime, size, dir)
    total = 0
    for store in os.listdir(root) if os.path.isdir(root) else []:
        sdir = os.path.join(root, store)
        for part in os.listdir(sdir) if os.path.isdir(sdir) else []:
            pdir = os.path.join(sdir, part)
            size = sum(
                os.path.getsize(os.path.join(pdir, f))
                for f in os.listdir(pdir)
                if os.path.isfile(os.path.join(pdir, f))
            )
            try:
                atime = os.path.getmtime(os.path.join(pdir, "_complete"))
            except OSError:
                atime = 0.0
            entries.append((atime, size, pdir))
            total += size
    entries.sort()
    for atime, size, pdir in entries:
        if total <= cap_bytes:
            break
        if pdir == protect or now - atime < _EVICT_GRACE_SEC:
            continue
        shutil.rmtree(pdir, ignore_errors=True)
        total -= size


def _fetch_remote_partition(
    store_path: str, partition_id: int, build_id: str | None = None
) -> str:
    """Copy one partition's parquet files to the worker-local cache
    (atomic dir rename); returns the local directory."""
    import hashlib

    from pyarrow import fs as pafs

    ident = store_path if build_id is None else f"{store_path}#{build_id}"
    key = hashlib.sha1(ident.encode()).hexdigest()[:12]
    root = _cache_root()
    pdir = os.path.join(root, key, f"partition_id={partition_id}")
    marker = os.path.join(pdir, "_complete")
    if os.path.exists(marker):
        try:  # touch = LRU recency signal
            os.utime(marker, None)
        except OSError:
            pass
        return pdir
    filesystem, base = pafs.FileSystem.from_uri(store_path)
    remote_dir = f"{base.rstrip('/')}/partition_id={partition_id}"
    infos = filesystem.get_file_info(
        pafs.FileSelector(remote_dir, allow_not_found=True)
    )
    tmp = pdir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for info in infos:
        if info.type != pafs.FileType.File or not info.path.endswith(".parquet"):
            continue
        with filesystem.open_input_stream(info.path) as src, open(
            os.path.join(tmp, os.path.basename(info.path)), "wb"
        ) as dst:
            shutil.copyfileobj(src, dst)
    open(os.path.join(tmp, "_complete"), "w").close()
    fetched_bytes = sum(
        os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp)
    )
    try:
        os.rename(tmp, pdir)
    except OSError:  # another worker won the race
        shutil.rmtree(tmp, ignore_errors=True)
    cap = int(float(os.environ.get(_CACHE_CAP_ENV, "8")) * (1 << 30))
    if fetched_bytes > cap:
        # Self-eviction would deterministically delete the partition we
        # are about to read — fail loudly instead of converging wrong.
        raise RuntimeError(
            f"block-store partition {partition_id} is {fetched_bytes} bytes, "
            f"larger than the worker cache cap ({cap} bytes) — raise "
            f"${_CACHE_CAP_ENV} (or repartition the graph smaller)"
        )
    _evict_lru(root, cap, protect=pdir)
    return pdir


# In-process cache of store blocks for REUSED python workers: a build
# is immutable once written (a rebuild at the same path gets a new
# build_id, and ensure_block_store refuses a store whose inputs
# changed), yet every superstep's kernel re-reads and re-parses its
# partition's parquet rows.  Reused workers keep this module alive, so
# small stores (the whole sf0.1 topology is ~6 MB) are parsed once per
# worker and every later round is a dict hit.  Budget-capped
# (PCGRAPH_WORKER_BLOCK_CACHE_MB, default 64) so a 10^8-edge store's
# multi-MB blocks never accumulate into worker RSS: a new entry evicts
# the oldest ones until it fits, and a block larger than the whole
# budget is read uncached.
_BLOCK_MEMCACHE: dict = {}  # key -> (frame, bytes), oldest first
_BLOCK_MEMCACHE_BYTES = [0]
_BLOCK_MEMCACHE_ENV = "PCGRAPH_WORKER_BLOCK_CACHE_MB"


def _memcache_put(key, df: pd.DataFrame) -> None:
    budget = int(float(os.environ.get(_BLOCK_MEMCACHE_ENV, "64")) * (1 << 20))
    size = int(df["data"].map(len).sum()) + 1024 if len(df) else 1024
    if size > budget:
        return
    while _BLOCK_MEMCACHE_BYTES[0] + size > budget:
        _, old = _BLOCK_MEMCACHE.pop(next(iter(_BLOCK_MEMCACHE)))
        _BLOCK_MEMCACHE_BYTES[0] -= old
    _BLOCK_MEMCACHE[key] = (df, size)
    _BLOCK_MEMCACHE_BYTES[0] += size


def _read_partition_dir(part_dir: str, mkey: tuple) -> pd.DataFrame:
    """One partition dir's parquet files as a (chunk, col, data) frame
    (typed and empty when it holds none), memoized under ``mkey``."""
    import glob as _glob

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(os.path.join(part_dir, "*.parquet")))
    if files:
        out = _pa.concat_tables(
            [_pq.read_table(f, columns=["chunk", "col", "data"]) for f in files]
        ).to_pandas()
    else:
        out = pd.DataFrame(
            {"chunk": pd.Series(dtype="int32"), "col": pd.Series(dtype="object"),
             "data": pd.Series(dtype="object")}
        )
    _memcache_put(mkey, out)
    return out


def read_store_block(
    store_path: str, partition_id: int, build_id: str | None = None
) -> pd.DataFrame:
    """Worker-side block read: one partition's CSR chunk rows as a
    (chunk, col, data) frame.  Local stores read directly (page-cache-
    hot after round 1); remote stores (hdfs:// / s3a:// / ...) go
    through the worker-local LRU cache.  Parsed frames are additionally
    memoized in-process (budget-capped, see _BLOCK_MEMCACHE) because
    reused workers serve the same immutable build every superstep;
    ``build_id`` (GraphBlocks.build_id) keeps a store rebuilt at the
    same path from hitting the old build's entries."""
    mkey = (store_path, build_id, int(partition_id))
    cached = _BLOCK_MEMCACHE.get(mkey)
    if cached is not None:
        return cached[0]

    if not is_remote(store_path):
        # an absent/empty local dir is a legitimately edgeless partition
        part_dir = os.path.join(
            strip_file_scheme(store_path), f"partition_id={partition_id}"
        )
        return _read_partition_dir(part_dir, mkey)

    # Remote store via the worker-local LRU cache.  A concurrent task's
    # eviction may race between our fetch and read — the ``_complete``
    # marker distinguishes "legitimately empty partition" (marker
    # present, zero parquet files) from "evicted under us" (marker gone)
    # — so the read retries a bounded number of times and then raises
    # rather than silently treating the partition as edgeless.
    last_err: Exception | None = None
    for _attempt in range(3):
        part_dir = _fetch_remote_partition(store_path, partition_id, build_id)
        if not os.path.exists(os.path.join(part_dir, "_complete")):
            continue  # evicted between fetch and read — re-fetch
        try:
            # marker present (just touched, so _evict_lru's grace window
            # spares it): zero parquet files means genuinely none remotely
            return _read_partition_dir(part_dir, mkey)
        except (FileNotFoundError, OSError) as err:
            last_err = err  # file deleted mid-read — re-fetch
    raise RuntimeError(
        f"block-store partition {partition_id} kept disappearing from the "
        f"worker cache ({_CACHE_DIR_ENV}={_cache_root()}) after 3 fetch "
        f"attempts — cache cap too small for the working set? "
        f"(last error: {last_err})"
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Out/in degree table (used for PageRank contribs + skew census)."""
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_deg")
    )
    return out_deg.join(in_deg, on="id", how="full").fillna(
        0, subset=["out_deg", "in_deg"]
    )


def vertex_ids(edges: DataFrame) -> DataFrame:
    """Complete vertex set over all edge endpoints (pre-completion makes
    the reference's "Target vertex does not exist!" error —
    PartitionCentricIteration.java:216-227 — structurally impossible)."""
    return (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

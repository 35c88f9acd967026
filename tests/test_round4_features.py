"""Round-4 fixes: eviction-safe worker block cache (grace window,
protect-just-fetched, bounded re-fetch, raise on oversized partition),
pair-bounded Jaccard verify join order, uncapped near_duplicates
default, block-store content fingerprint, overwrite-atomic metadata
rename, LSH banded-cache release."""

import hashlib
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from pcgraph import fixtures


# ------------------------------------------------ Jaccard verify order
def test_jaccard_verify_join_order_pair_bounded(spark):
    """The verify join must restrict to candidate pairs BEFORE any join
    on the shingle column: a shingle⋈shingle join is Σ_shingle count²
    rows (a hot boilerplate trigram shared by 10⁶ docs → 10¹² rows
    before the pair filter).  Assert on the optimized plan: no join
    whose condition is shingle-only."""
    from pcgraph.datapipe.dedup import jaccard_similarity, word_shingles

    # hot-shingle corpus: every doc shares the trigram "a b c"
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c x y"), (2, "a b c q r"),
         (3, "a b c s t")],
        "doc_id long, text string",
    )
    sh = word_shingles(docs)
    pairs = spark.createDataFrame([(0, 1)], "id1 long, id2 long")
    jac = jaccard_similarity(sh, pairs)

    plan = jac._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line and "shingle" in line:
            assert "id1" in line or "id2" in line, (
                "shingle-only join (hot-shingle m² blowup):\n" + line
            )

    # semantics unchanged: docs 0/1 share 1 of 5 distinct shingles
    rows = jac.collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == pytest.approx(0.2)


def test_near_duplicates_default_uncapped_matches_oracle_semantics(spark):
    """Default max_bucket=None: near-but-not-identical docs in one big
    band bucket are NOT silently dropped (the opt-in cap would drop
    them; the uncapped default keeps parity with an uncapped oracle)."""
    from pcgraph.datapipe.dedup import near_duplicates

    # 30 docs, all near-dups of each other (Jaccard ~0.5) — they share a
    # band bucket far larger than the old default cap would allow
    base = [f"w{j}" for j in range(30)]
    rows = [
        (d, " ".join(base[:20] + [f"d{d}x{j}" for j in range(10)]))
        for d in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    nd = near_duplicates(docs, threshold=0.2)  # default: no cap
    assert nd.count() > 0  # the capped default would have returned 0


# ------------------------------------------------ worker cache safety
def test_evict_lru_grace_window_and_protect(tmp_path):
    from pcgraph.partition import _evict_lru

    root = tmp_path / "cache"
    dirs = {}
    for i in range(3):
        pdir = root / "storekey" / f"partition_id={i}"
        pdir.mkdir(parents=True)
        (pdir / "part-0.parquet").write_bytes(b"x" * 100)
        (pdir / "_complete").touch()
        dirs[i] = str(pdir)
    old = time.time() - 7200
    for i in (0, 1):  # entries 0 and 1 are old; 2 is freshly touched
        os.utime(os.path.join(dirs[i], "_complete"), (old, old))

    _evict_lru(str(root), cap_bytes=150, protect=dirs[0])
    assert os.path.isdir(dirs[0])  # old but protected (just fetched)
    assert not os.path.isdir(dirs[1])  # old, unprotected -> evicted
    assert os.path.isdir(dirs[2])  # recent -> grace window keeps it


def test_remote_read_refetches_after_eviction(spark, tmp_path, monkeypatch):
    """An eviction between fetch and read must NOT return an empty
    topology: the marker check detects the race and re-fetches."""
    import pcgraph.partition as P
    from pcgraph.algos.cc import symmetrize

    pdf = fixtures.odd_even_graph(n=60)
    sym = symmetrize(fixtures.to_spark_edges(spark, pdf))
    blocks = P.build_blocks(spark, sym, 4)
    path = str(tmp_path / "store")
    P.save_block_store(blocks, path)
    store_blocks = os.path.join(path, "blocks")
    expected = P.read_store_block(store_blocks, 0)  # local fast path
    assert len(expected) > 0

    cache = str(tmp_path / "block_cache")
    monkeypatch.setenv("PCGRAPH_BLOCK_CACHE", cache)
    # route the plain local path through the remote/cache code path
    monkeypatch.setattr(P, "is_remote", lambda p: True)
    # this test exercises the DISK cache's eviction race, which sits
    # below the r6 in-process memoization — clear that layer so the
    # reads actually reach the fetch machinery
    P._BLOCK_MEMCACHE.clear()
    P._BLOCK_MEMCACHE_BYTES[0] = 0

    got = P.read_store_block(store_blocks, 0)
    assert got.sort_values(["col", "chunk"]).equals(
        expected.sort_values(["col", "chunk"])
    )

    # simulate a concurrent eviction: delete the cached partition dir
    key = hashlib.sha1(store_blocks.encode()).hexdigest()[:12]
    pdir = os.path.join(cache, key, "partition_id=0")
    assert os.path.isdir(pdir)
    shutil.rmtree(pdir)
    P._BLOCK_MEMCACHE.clear()
    P._BLOCK_MEMCACHE_BYTES[0] = 0

    again = P.read_store_block(store_blocks, 0)  # re-fetches, not empty
    assert len(again) == len(expected)


def test_oversized_partition_raises_instead_of_self_evicting(
    spark, tmp_path, monkeypatch
):
    import pcgraph.partition as P
    from pcgraph.algos.cc import symmetrize

    pdf = fixtures.odd_even_graph(n=60)
    sym = symmetrize(fixtures.to_spark_edges(spark, pdf))
    blocks = P.build_blocks(spark, sym, 2)
    path = str(tmp_path / "store")
    P.save_block_store(blocks, path)
    store_blocks = os.path.join(path, "blocks")

    monkeypatch.setenv("PCGRAPH_BLOCK_CACHE", str(tmp_path / "cache"))
    monkeypatch.setenv("PCGRAPH_BLOCK_CACHE_GB", "0.0000001")  # ~107 bytes
    with pytest.raises(RuntimeError, match="cache cap"):
        P._fetch_remote_partition(store_blocks, 0)


# ------------------------------------------------ store fingerprint
def test_block_store_fingerprint_guards_stale_reuse(spark, tmp_path):
    from pcgraph.iohelpers import read_json
    from pcgraph.partition import ensure_block_store

    pdf = fixtures.odd_even_graph(n=40)
    edges = fixtures.to_spark_edges(spark, pdf)
    n = edges.count()
    path = str(tmp_path / "store")
    ensure_block_store(spark, edges, 4, path, tag="t")
    meta = read_json(spark, os.path.join(path, "store_meta.json"))
    assert meta["n_edges"] == n

    # same config + matching count reopens fine
    ensure_block_store(spark, edges, 4, path, tag="t", expected_edges=n)
    # regenerated input (different edge count) is rejected
    with pytest.raises(ValueError, match="input data changed"):
        ensure_block_store(
            spark, edges, 4, path, tag="t", expected_edges=n + 1
        )
    # mismatching salt/weighted config is rejected (not just tag/P)
    with pytest.raises(ValueError, match="store_dir"):
        ensure_block_store(spark, edges, 4, path, tag="t", salt_threshold=5)
    with pytest.raises(ValueError, match="store_dir"):
        ensure_block_store(spark, edges, 4, path, tag="t", weighted=True)


# ------------------------------------------------ metadata rename
def test_write_json_atomic_overwrites_in_one_flip(spark, tmp_path):
    from pcgraph.iohelpers import read_json, write_json_atomic

    p = str(tmp_path / "meta.json")
    write_json_atomic(spark, p, {"v": 1})
    write_json_atomic(spark, p, {"v": 2})  # overwrite path
    assert read_json(spark, p)["v"] == 2
    assert not os.path.exists(p + ".tmp")


# ------------------------------------------------ LSH cache release
def test_lsh_cap_releases_banded_cache(spark):
    from pcgraph.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(d, f"alpha beta gamma d{d} one two three") for d in range(20)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(word_shingles(docs))
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    pairs = lsh_candidate_pairs(sigs, max_bucket=50)
    n = pairs.count()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # the banded persist is released; only the |pairs|-bounded
    # localCheckpoint (freed with the result) may remain
    assert after - before <= 1
    assert n >= 0


# ------------------------------------------------ incremental state
@pytest.mark.parametrize("incremental", [True], ids=["delta"])
def test_incremental_cc_matches_classic(spark, tmp_path, incremental):
    """CC over the delta state store must equal the in-memory
    full-materialization backend exactly, and tail rounds must touch a
    shrinking subset of buckets (the O(frontier) property)."""
    from pcgraph.algos.cc import connected_components

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    classic, _ = connected_components(spark, edges, num_partitions=4)
    inc, hist = connected_components(
        spark, edges, num_partitions=4, incremental=incremental,
        state_store_dir=str(tmp_path / "state"), n_buckets=16,
    )
    a = {r["id"]: r["component"] for r in classic.collect()}
    b = {r["id"]: r["component"] for r in inc.collect()}
    assert a == b
    assert all("active_buckets" in h for h in hist)
    # the tail round's messages touch fewer buckets than the full first
    # round (the O(frontier) property at this tiny scale)
    assert hist[-1]["active_buckets"] < hist[0]["active_buckets"]


@pytest.mark.parametrize("incremental", [True], ids=["delta"])
def test_incremental_sssp_matches_classic(spark, tmp_path, incremental):
    import numpy as np
    import pandas as pd

    from pcgraph.algos.sssp import sssp

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, 100, size=400),
            "dst": rng.integers(0, 100, size=400),
            "weight": rng.uniform(0.1, 5.0, size=400),
        }
    ).query("src != dst")
    edges = fixtures.to_spark_edges(spark, pdf)
    classic, _ = sssp(spark, edges, source=0, num_partitions=4)
    inc, hist = sssp(
        spark, edges, source=0, num_partitions=4, incremental=incremental,
        state_store_dir=str(tmp_path / "state"), n_buckets=16,
    )
    a = {r["id"]: r["distance"] for r in classic.collect()}
    b = {r["id"]: r["distance"] for r in inc.collect()}
    assert set(a) == set(b)
    # unreachable vertices are +inf in both (inf - inf is nan)
    assert all(a[k] == b[k] or abs(a[k] - b[k]) < 1e-12 for k in a)


def test_incremental_checkpoint_resume(spark, tmp_path):
    """Stop an incremental CC run early (max_iter) and resume from its
    committed manifest: the continuation must converge to the classic
    result, picking up mid-iteration with per-bucket lineage."""
    from pcgraph.algos.cc import connected_components

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    full, _ = connected_components(spark, edges, num_partitions=4)
    full_rows = {r["id"]: r["component"] for r in full.collect()}

    ckpt = str(tmp_path / "ckpt")
    _, h1 = connected_components(
        spark, edges, num_partitions=4, incremental=True,
        checkpoint_dir=ckpt, max_iter=2, n_buckets=16,
    )
    assert len(h1) == 2
    import json

    with open(os.path.join(ckpt, "round=00002", "_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["committed"] and "manifest" in meta and "state_path" not in meta

    resumed, h2 = connected_components(
        spark, edges, num_partitions=4, resume_from=ckpt
    )
    assert h2[0]["superstep"] == 3  # continued mid-iteration
    rows = {r["id"]: r["component"] for r in resumed.collect()}
    assert rows == full_rows


def test_statestore_delta_writes_are_o_changed(spark, tmp_path):
    """Delta-version model: a round appends ONLY its changed rows, so
    total stored rows are |V| (v0) + Σ changed — NOT rounds × |V|."""
    import duckdb

    from pcgraph.algos.cc import connected_components

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    sdir = str(tmp_path / "state")
    _, hist = connected_components(
        spark, edges, num_partitions=4, incremental=True,
        state_store_dir=sdir, n_buckets=8,
    )
    total_changed = sum(h["active"] for h in hist)
    stored = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sdir}/v=*/bucket=*/*.parquet')"
    ).fetchone()[0]
    assert stored == 200 + total_changed


def test_statestore_delta_compaction_bounds_versions(spark, tmp_path):
    """max_versions=1 forces compaction every round: per-bucket version
    lists stay bounded, retired dirs are deleted (no-checkpoint mode
    sweeps eagerly), and the result is still exact.  Compaction is
    STAGGERED (n_buckets/4 buckets per round) so the bound is
    max_versions + the stagger depth + the protected in-flight delta,
    not max_versions itself."""
    from pcgraph.algos.cc import connected_components
    from pcgraph.engine import PCEngine  # noqa: F401  (import sanity)

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    classic, _ = connected_components(spark, edges, num_partitions=4)
    sdir = str(tmp_path / "state")
    n_buckets, max_versions = 8, 1
    inc, hist = connected_components(
        spark, edges, num_partitions=4, incremental=True,
        state_store_dir=sdir, n_buckets=n_buckets, max_versions=max_versions,
    )
    a = {r["id"]: r["component"] for r in classic.collect()}
    b = {r["id"]: r["component"] for r in inc.collect()}
    assert a == b
    assert any(h.get("compacted_buckets") for h in hist)
    per_bucket: dict[str, int] = {}
    for v in os.listdir(sdir):
        if not v.startswith("v="):
            continue
        for bdir in os.listdir(os.path.join(sdir, v)):
            if bdir.startswith("bucket="):
                per_bucket[bdir] = per_bucket.get(bdir, 0) + 1
    stagger_depth = n_buckets // max(1, n_buckets // 4)
    assert per_bucket
    assert max(per_bucket.values()) <= max_versions + stagger_depth + 1


def test_delta_store_int32_ids_schema_canonical(spark, tmp_path):
    """A vertex table with int32 ids/values (e.g. TPC-H nation keys)
    must not split the store across physical parquet types: v0 is
    canonicalized to the message schema (id long, value = msg type), so
    multi-version reads see one schema.  Regression: the gate's
    cc_incremental over nation ids failed with
    PARQUET_COLUMN_DATA_TYPE_MISMATCH (v0 int32, v1+ int64)."""
    from pcgraph.algos.cc import connected_components

    pdf = fixtures.odd_even_graph(n=60)
    edges = fixtures.to_spark_edges(spark, pdf).select(
        F.col("src").cast("int").alias("src"),
        F.col("dst").cast("int").alias("dst"),
    )
    classic, _ = connected_components(spark, edges, num_partitions=4)
    inc, hist = connected_components(
        spark, edges, num_partitions=4, incremental=True,
        state_store_dir=str(tmp_path / "state"), n_buckets=8,
    )
    assert len(hist) > 2  # multiple versions actually written
    a = {r["id"]: r["component"] for r in classic.collect()}
    b = {r["id"]: r["component"] for r in inc.collect()}
    assert a == b


# ------------------------------------------------ LPA single-shuffle fold
def test_lpa_update_single_message_shuffle(spark):
    """The LPA fold must move the message volume through exactly ONE
    exchange: the kernel already emits per-partition partial histograms,
    so one explicit hash(dst) repartition satisfies ClusteredDistribution
    for BOTH aggregations (dst,label and dst) and co-partitions the state
    join — letting each agg plan its own ENSURE_REQUIREMENTS exchange
    moved the full histogram twice (VERDICT r3 next-#4)."""
    from pcgraph.algos.labelprop import label_propagation
    import pcgraph.engine as eng

    captured = {}
    orig = eng.PCEngine.run

    def spy(self, *a, update, **kw):
        def spied_update(s, m, step):
            out = update(s, m, step)
            if step == 2:  # steady shape: state side is a checkpoint
                captured["plan"] = out._jdf.queryExecution().toString()
            return out

        return orig(self, *a, update=spied_update, **kw)

    eng.PCEngine.run = spy
    try:
        edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
        lp, _ = label_propagation(spark, edges, max_iter=3, num_partitions=4)
        lp.collect()
    finally:
        eng.PCEngine.run = orig

    physical = captured["plan"].split("== Physical Plan ==")[-1]
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)[^)]*\)[^\n]*",
                           physical)
    # exactly one exchange keyed on the message dst; none keyed on
    # (dst,label) and no ENSURE_REQUIREMENTS exchange downstream of the
    # kernel (the block/route branch is allowed its own)
    dst_exchanges = [e for e in exchanges if e.startswith("dst")]
    assert len(dst_exchanges) == 1, physical
    for line in physical.splitlines():
        if "Exchange hashpartitioning(dst" in line:
            assert "label" not in line.split("hashpartitioning")[1][:60], line

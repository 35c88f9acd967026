import importlib
import os
import shutil
import tempfile
import types

import numpy as np
import pandas as pd
import pytest

from pcgraph import fixtures
from pcgraph.algos.cc import connected_components, symmetrize
from pcgraph.algos.pagerank import pagerank
from pcgraph.partition import ensure_block_store
from test_cc import _cc_oracle
from test_pagerank import _pr_oracle


def test_block_store_mode_equivalence(spark, tmp_path):
    """Store-mode results (kernels read their partition's CSR rows
    worker-side) match the numpy oracles — including salted hubs
    (mirror routing) and singleton vertices (partitions with no block
    files)."""
    pdf = fixtures.skew_graph(n=200)
    edges = fixtures.to_spark_edges(spark, pdf)
    store = ensure_block_store(
        spark, symmetrize(edges), 8, str(tmp_path / "sym"),
        salt_threshold=30, tag="sym",
    )
    assert store.mirrors is not None
    singletons = np.arange(1000, 1004)
    vdf = spark.createDataFrame(
        pd.DataFrame({"id": singletons}), schema="id long"
    )
    cc, _ = connected_components(spark, edges, vertices=vdf, blocks=store)
    sym_pdf = pd.concat(
        [pdf, pdf.rename(columns={"src": "dst", "dst": "src"})]
    ).drop_duplicates()
    assert {r["id"]: r["component"] for r in cc.collect()} == _cc_oracle(
        sym_pdf, singletons
    )

    # PageRank over the directed graph through a salted store; both
    # sides run exactly 30 rounds (tol never reached)
    pr, _ = pagerank(
        spark, edges, tol=1e-15, max_iter=30, num_partitions=8,
        salt_threshold=30, store_dir=str(tmp_path / "directed"),
    )
    oracle = _pr_oracle(pdf, tol=1e-15, max_iter=30)
    got = {r["id"]: r["pagerank"] for r in pr.collect()}
    assert set(got) == set(oracle)
    assert all(abs(got[v] - oracle[v]) < 1e-12 for v in oracle)

    # ... and with singletons, on more partitions than the tiny graph fills
    vertices, tiny_edges = fixtures.tiny_example_graph()
    pr, _ = pagerank(
        spark, fixtures.to_spark_edges(spark, tiny_edges),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        tol=1e-15, max_iter=30, num_partitions=8,
    )
    oracle = _pr_oracle(
        tiny_edges, n_ids=vertices["id"].values, tol=1e-15, max_iter=30
    )
    got = {r["id"]: r["pagerank"] for r in pr.collect()}
    assert set(got) == set(oracle)
    assert all(abs(got[v] - oracle[v]) < 1e-12 for v in oracle)


def test_rebuilt_store_at_same_path_serves_new_topology(spark, tmp_path):
    """Deleting a store and rebuilding it at the same path (what the
    store's own mismatch error tells the caller to do) must not let
    reused Python workers serve the old build's blocks."""
    chain = pd.DataFrame({"src": np.arange(19), "dst": np.arange(1, 20)})
    path = str(tmp_path / "store")

    def components(pdf):
        out, _ = connected_components(
            spark, fixtures.to_spark_edges(spark, pdf), num_partitions=4,
            store_dir=path,
        )
        return sorted({r["component"] for r in out.collect()})

    assert components(chain) == [0]
    shutil.rmtree(path)
    assert components(chain[chain["src"] != 9]) == [0, 10]


def test_default_args_leave_no_cached_frames_or_temp_stores(
    spark, tmp_path, monkeypatch
):
    """A call without ``blocks``/``store_dir`` builds a temp store and
    removes it, and releases every cached frame, on return and on
    raise; the returned frames stay readable."""
    # the package re-exports the function under the module's name
    pagerank_mod = importlib.import_module("pcgraph.algos.pagerank")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    def temp_stores():
        return [d for d in os.listdir(tmp_path) if d.startswith("pcgraph_blocks_")]

    edges = fixtures.to_spark_edges(spark, fixtures.skew_graph(n=200))
    pr, _ = pagerank(spark, edges, num_partitions=4, max_iter=5)
    cc, _ = connected_components(spark, edges, num_partitions=4, salt_threshold=30)
    assert cache.isEmpty()
    assert temp_stores() == []
    assert len(pr.collect()) == len(cc.collect()) > 0
    # a call that runs no round returns its initial state, read from the
    # temp store's vertex census: it must stay readable too
    zero, history = pagerank(spark, edges, num_partitions=4, max_iter=0)
    assert history == [] and len(zero.collect()) == len(pr.collect())
    assert cache.isEmpty() and temp_stores() == []

    def rogue_kernel(key, fpdf, bpdf):
        import pandas as pd

        return pd.DataFrame({"dst": [999_999], "msg": [1.0]})

    monkeypatch.setattr(pagerank_mod, "pr_kernel", rogue_kernel)
    with pytest.raises(ValueError, match="Target vertex does not exist"):
        pagerank(spark, edges, num_partitions=4, max_iter=3, strict=True)
    assert cache.isEmpty()
    assert temp_stores() == []


def test_temp_dir_defaults_refuse_cluster_masters(tmp_path, monkeypatch):
    """The temp block store and the temp delta state store are
    driver-local: made under local masters, refused on any other."""
    from pcgraph.iohelpers import local_temp_dir
    from pcgraph.statestore import default_state_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    made = local_temp_dir("local[4]", "pcgraph_blocks_", "store_dir")
    assert os.path.isdir(made) and made.startswith(str(tmp_path))
    with pytest.raises(ValueError, match="store_dir"):
        local_temp_dir("spark://master:7077", "pcgraph_blocks_", "store_dir")

    def session(master):
        return types.SimpleNamespace(sparkContext=types.SimpleNamespace(master=master))

    state = default_state_dir(session("local[4]"), None, "cc")
    assert os.path.isdir(state) and state.startswith(str(tmp_path))
    with pytest.raises(ValueError, match="state_store_dir"):
        default_state_dir(session("yarn"), None, "cc")
    # a checkpoint dir is shared storage by contract: no refusal
    assert default_state_dir(session("yarn"), "/ckpt", "cc") == "/ckpt/statestore"


def test_worker_block_cache_evicts_oldest(spark, tmp_path, monkeypatch):
    """Past its budget the worker memo cache evicts the oldest blocks,
    so the newest stay cached and the byte count stays in budget."""
    import pcgraph.partition as P

    sym = symmetrize(fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=400)))
    store = ensure_block_store(spark, sym, 8, str(tmp_path / "store"))
    monkeypatch.setattr(P, "_BLOCK_MEMCACHE", {})
    monkeypatch.setattr(P, "_BLOCK_MEMCACHE_BYTES", [0])

    def read_all():
        return [
            P.read_store_block(store.store_path, pid, store.build_id)
            for pid in range(8)
        ]

    read_all()  # default budget: everything fits
    sizes = [size for _, size in P._BLOCK_MEMCACHE.values()]
    keys = list(P._BLOCK_MEMCACHE)
    assert len(keys) == 8
    budget = sum(sizes[-3:])
    monkeypatch.setenv("PCGRAPH_WORKER_BLOCK_CACHE_MB", str(budget / (1 << 20)))
    P._BLOCK_MEMCACHE.clear()
    P._BLOCK_MEMCACHE_BYTES[0] = 0

    frames = read_all()
    assert list(P._BLOCK_MEMCACHE) == keys[-3:]
    assert P._BLOCK_MEMCACHE_BYTES[0] == budget
    assert P._BLOCK_MEMCACHE[keys[-1]][0] is frames[-1]


def test_store_without_census_is_refused(spark, tmp_path):
    """The vertex census is a required part of every store: a store
    written without it — a meta lacking ``n_vertices``, or no
    ``vertices/`` dir — is refused with an error naming what is
    missing, never reopened with an edge-scan fallback."""
    from pcgraph.iohelpers import read_json, write_json_atomic
    from pcgraph.partition import STORE_META, open_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))

    no_count = str(tmp_path / "no_count")
    ensure_block_store(spark, edges, 4, no_count, tag="t")
    meta_path = os.path.join(no_count, STORE_META)
    meta = read_json(spark, meta_path)
    del meta["n_vertices"]
    write_json_atomic(spark, meta_path, meta)
    with pytest.raises(ValueError, match=r"n_vertices.*delete the store_dir"):
        open_block_store(spark, no_count)
    # the reopen path of ensure_block_store refuses it too
    with pytest.raises(ValueError, match="n_vertices"):
        ensure_block_store(spark, edges, 4, no_count, tag="t")

    no_census = str(tmp_path / "no_census")
    ensure_block_store(spark, edges, 4, no_census, tag="t")
    shutil.rmtree(os.path.join(no_census, "vertices"))
    with pytest.raises(ValueError, match=r"vertices/.*delete the store_dir"):
        open_block_store(spark, no_census)

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


def test_store_build_jobs_are_pinned(spark, tmp_path):
    """A store build's Spark jobs, counted: the edge count rides the
    blocks write and the census scalars (``n_vertices``,
    ``n_dangling``) ride the census write as observations, so the
    build runs no aggregation job of its own.  A build that re-reads
    what it just wrote fails here."""
    import uuid

    from pcgraph.iohelpers import read_json
    from pcgraph.partition import STORE_META

    sc = spark.sparkContext
    # a 3-cycle with a tail: vertex 4 has no out-edge, so it dangles
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], schema="src long, dst long"
    )
    group = f"pcgraph-build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "store build")
    try:
        ensure_block_store(spark, edges, 4, str(tmp_path / "s"), tag="t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    meta = read_json(spark, str(tmp_path / "s" / STORE_META))
    assert (meta["n_edges"], meta["n_vertices"], meta["n_dangling"]) == (4, 4, 1)
    assert jobs == 7, jobs


# DDL type of each message column -> the pandas dtype a kernel returns
_DDL_DTYPES = {"long": "int64", "double": "float64", "int": "int32"}


def _test_block(weighted: bool) -> pd.DataFrame:
    """One partition's CSR chunk rows, built without Spark: a 3-cycle
    with a tail and a negative id."""
    from pcgraph.partition import _build_csr

    edges = pd.DataFrame(
        {"partition_id": 0, "src": [1, 2, -3, -3], "dst": [2, -3, 1, 4]}
    )
    if weighted:
        edges["weight"] = [1.0, 2.0, 0.5, 1.5]
    return _build_csr(edges)


@pytest.mark.parametrize("name", ["cc", "sssp", "pr", "lp"])
def test_library_kernel_empty_inputs(name):
    """Every library kernel, given an empty frontier or an empty block,
    returns zero rows typed exactly as its ``msg_schema`` (``cnt`` is
    int32 for LPA) — the engine concatenates the frames as Arrow."""
    from pcgraph.algos.cc import cc_kernel
    from pcgraph.algos.labelprop import lp_kernel
    from pcgraph.algos.pagerank import pr_kernel
    from pcgraph.algos.sssp import sssp_kernel

    kernel, schema, value, weighted = {
        "cc": (cc_kernel, "dst long, msg long", "int64", False),
        "sssp": (sssp_kernel, "dst long, msg double", "float64", True),
        "pr": (pr_kernel, "dst long, msg double", "float64", False),
        "lp": (lp_kernel, "dst long, label long, cnt int", "int64", False),
    }[name]
    expected = {
        col: _DDL_DTYPES[ddl]
        for col, ddl in (f.split() for f in schema.split(", "))
    }
    block = _test_block(weighted)
    frontier = pd.DataFrame(
        {"id": np.array([1, -3], dtype="int64"), "value": np.array([1, -3], dtype=value)}
    )
    assert len(kernel((0,), frontier, block)) > 0
    for fpdf, bpdf in ((frontier.iloc[:0], block), (frontier, block.iloc[:0])):
        out = kernel((0,), fpdf, bpdf)
        assert len(out) == 0
        assert {c: str(t) for c, t in out.dtypes.items()} == expected


def test_kernel_block_places_frontier():
    """``kernel_block`` decodes the block and places the frontier on
    it: a negative id the block holds is placed, ids it lacks (below
    and above every local id) are dropped; an empty block gives
    zero-length arrays."""
    from pcgraph.partition import kernel_block

    block = _test_block(weighted=False)
    frontier = pd.DataFrame({"id": [-3, -10, 2, 99], "value": [7, 8, 9, 10]})
    nodes, esrc, edst, weight, pos, vals = kernel_block(frontier, block, np.int64)
    assert nodes.tolist() == [-3, 1, 2, 4]
    assert sorted(zip(nodes[esrc].tolist(), nodes[edst].tolist())) == [
        (-3, 1), (-3, 4), (1, 2), (2, -3)
    ]
    assert len(weight) == 0
    assert nodes[pos].tolist() == [-3, 2]
    assert vals.tolist() == [7, 9] and vals.dtype == np.int64

    arrays = kernel_block(frontier, block.iloc[:0], np.float64)
    assert [len(a) for a in arrays] == [0] * 6

import heapq

import numpy as np
import pandas as pd

from pcgraph import fixtures
from pcgraph.algos.labelprop import label_propagation
from pcgraph.algos.sssp import sssp
from pcgraph.algos.triangles import (
    triangle_count,
    triangle_count_per_vertex,
    triangles_df,
)


def _lp_oracle(edges_pdf, max_iter=20):
    """Driver-side sync LPA with the same deterministic tie-break."""
    sym = pd.concat(
        [edges_pdf, edges_pdf.rename(columns={"src": "dst", "dst": "src"})]
    ).drop_duplicates()
    ids = np.unique(np.concatenate([sym.src.values, sym.dst.values]))
    label = {int(v): int(v) for v in ids}
    nbrs = sym.groupby("dst")["src"].apply(list).to_dict()
    for _ in range(max_iter):
        new = {}
        changed = 0
        for v in ids:
            v = int(v)
            ns = nbrs.get(v, [])
            if not ns:
                new[v] = label[v]
                continue
            counts = {}
            for u in ns:
                counts[label[int(u)]] = counts.get(label[int(u)], 0) + 1
            best = min(((-c, l) for l, c in counts.items()))[1]
            new[v] = best
            if best != label[v]:
                changed += 1
        label = new
        if changed == 0:
            break
    return label


def _sssp_oracle(edges_pdf, source):
    adj = {}
    for s, d, w in edges_pdf.itertuples(index=False):
        adj.setdefault(int(s), []).append((int(d), float(w)))
    dist = {source: 0.0}
    pq = [(0.0, source)]
    while pq:
        dv, v = heapq.heappop(pq)
        if dv > dist.get(v, float("inf")):
            continue
        for u, w in adj.get(v, []):
            nd = dv + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(pq, (nd, u))
    return dist


def test_lp_matches_oracle(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"src": rng.integers(0, 80, size=200), "dst": rng.integers(0, 80, size=200)}
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates().reset_index(drop=True)
    result, history = label_propagation(
        spark, fixtures.to_spark_edges(spark, pdf), num_partitions=8, max_iter=10
    )
    oracle = _lp_oracle(pdf, max_iter=10)
    got = {r["id"]: r["label"] for r in result.collect()}
    assert got == oracle


def test_lp_negative_xxhash_ids(spark):
    """Production ids are xxhash64-derived — negative ~half the time
    (derive.py:36-41).  A '-1 = no label' sentinel silently drops every
    negative-id contribution; this pins the presence-mask fix."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"src": rng.integers(0, 80, size=200), "dst": rng.integers(0, 80, size=200)}
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates().reset_index(drop=True)
    # remap 0..79 -> signed-64-bit-looking ids, ~half negative, order-preserving
    # (order preservation keeps the min-tie-break oracle comparable)
    remap = {v: (v - 40) * 0x1234_5678_9ABC + 7 for v in range(80)}
    mapped = pdf.assign(src=pdf.src.map(remap), dst=pdf.dst.map(remap))
    assert (mapped.src < 0).any() and (mapped.dst < 0).any()
    result, _ = label_propagation(
        spark, fixtures.to_spark_edges(spark, mapped), num_partitions=8, max_iter=10
    )
    oracle = _lp_oracle(mapped, max_iter=10)
    got = {r["id"]: r["label"] for r in result.collect()}
    assert got == oracle


def test_triangles_tiny():
    # validated through spark fixture below; tiny graph has exactly 1 triangle (1-2-3)
    pass


def test_triangles(spark):
    vertices, edges = fixtures.tiny_example_graph()
    e = fixtures.to_spark_edges(spark, edges)
    assert triangle_count(e) == 1
    per_v = {r["id"]: r["triangles"] for r in triangle_count_per_vertex(e).collect()}
    assert per_v == {1: 1, 2: 1, 3: 1}


def test_triangles_leave_no_cache_behind(spark):
    """Repeated ``triangles_df`` calls leave the session's cache as they
    found it: the oriented edge set feeding the three join legs is a
    local checkpoint, not a cache entry."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    e = fixtures.to_spark_edges(spark, fixtures.skew_graph(n=300))
    counts = [triangles_df(e).count() for _ in range(2)]
    assert counts[0] == counts[1] > 0
    assert cache.isEmpty()


def test_triangles_random_vs_numpy(spark):
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {"src": rng.integers(0, 60, size=300), "dst": rng.integers(0, 60, size=300)}
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates().reset_index(drop=True)
    # numpy oracle: adjacency matrix trace(A^3)/6
    n = 60
    A = np.zeros((n, n), dtype=np.int64)
    A[pdf.src, pdf.dst] = 1
    A = np.maximum(A, A.T)
    expected = int(np.trace(A @ A @ A) // 6)
    assert triangle_count(fixtures.to_spark_edges(spark, pdf)) == expected


def test_sssp_matches_dijkstra(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, 100, size=400),
            "dst": rng.integers(0, 100, size=400),
            "weight": rng.uniform(0.1, 5.0, size=400),
        }
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates(["src", "dst"]).reset_index(drop=True)
    result, _ = sssp(spark, fixtures.to_spark_edges(spark, pdf), source=0, num_partitions=8)
    oracle = _sssp_oracle(pdf, 0)
    got = {r["id"]: r["distance"] for r in result.collect()}
    for vid, dv in got.items():
        exp = oracle.get(vid, float("inf"))
        assert (dv == exp == float("inf")) or abs(dv - exp) < 1e-9, (vid, dv, exp)


def test_lpa_and_sssp_take_vertices(spark):
    """``vertices`` on LPA (undirected and directed) and SSSP, with a
    supplied store and with the temp-store default: isolated ids keep
    their own label (distance +inf), and every other vertex equals the
    run without ``vertices``."""
    from pcgraph.algos.cc import symmetrize
    from pcgraph.partition import graph_blocks

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, 40, size=120),
            "dst": rng.integers(0, 40, size=120),
            "weight": rng.uniform(0.1, 5.0, size=120),
        }
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates(["src", "dst"]).reset_index(drop=True)
    edges = fixtures.to_spark_edges(spark, pdf)
    source = int(pdf.src.iloc[0])
    isolated = [1000, 1001, -7]
    vdf = spark.createDataFrame(
        [(v,) for v in [source, *isolated]], "id long"
    )
    cases = {
        # name: (run, result column, store edges, store tag, weighted,
        #        value of an isolated id)
        "lpa": (
            lambda **kw: label_propagation(spark, edges, max_iter=10, **kw),
            "label", symmetrize(edges), "sym", False, None,
        ),
        "lpa_directed": (
            lambda **kw: label_propagation(
                spark, edges, max_iter=10, directed=True, **kw
            ),
            "label", edges.select("src", "dst"), "directed", False, None,
        ),
        "sssp": (
            lambda **kw: sssp(spark, edges, source, **kw),
            "distance", edges, "directed-w", True, float("inf"),
        ),
    }
    for name, (run, col, store_edges, tag, weighted, iso_value) in cases.items():
        base, _ = run(num_partitions=4)
        want = {r["id"]: r[col] for r in base.collect()}
        assert not set(isolated) & set(want)
        for iso in isolated:
            want[iso] = iso if iso_value is None else iso_value
        with graph_blocks(
            spark, store_edges, 4, weighted=weighted, tag=tag
        ) as store:
            for store_kw in ({"blocks": store}, {"num_partitions": 4}):
                res, _ = run(vertices=vdf, **store_kw)
                got = {r["id"]: r[col] for r in res.collect()}
                assert got == want, (name, sorted(store_kw))

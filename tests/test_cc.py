import os
import tempfile

import numpy as np
import pytest

from pcgraph import fixtures
from pcgraph.algos.cc import connected_components


def _cc_oracle(edges_pdf, vertex_ids):
    """Driver-side numpy min-label CC oracle (brute force)."""
    ids = np.unique(
        np.concatenate([edges_pdf["src"].values, edges_pdf["dst"].values, vertex_ids])
    )
    idx = {v: i for i, v in enumerate(ids)}
    comp = ids.copy()
    src = np.array([idx[v] for v in edges_pdf["src"].values])
    dst = np.array([idx[v] for v in edges_pdf["dst"].values])
    while True:
        prev = comp.copy()
        np.minimum.at(comp, dst, comp[src])
        np.minimum.at(comp, src, comp[dst])
        if np.array_equal(prev, comp):
            break
    return {int(v): int(comp[idx[v]]) for v in ids}


def test_tiny_example_exact(spark):
    vertices, edges = fixtures.tiny_example_graph()
    result, history = connected_components(
        spark,
        fixtures.to_spark_edges(spark, edges),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    got = {r["id"]: r["component"] for r in result.collect()}
    assert got == fixtures.TINY_EXPECTED_CC
    assert history[-1]["active"] == 0  # converged, not max_iter


def test_odd_even_oracle(spark):
    n = 500
    edges = fixtures.odd_even_graph(n=n)
    result, _ = connected_components(
        spark, fixtures.to_spark_edges(spark, edges), num_partitions=8
    )
    got = {r["id"]: r["component"] for r in result.collect()}
    assert len(got) == n
    for vid, comp in got.items():
        assert comp == (1 if vid % 2 == 1 else 2), (vid, comp)


def test_matches_numpy_oracle_random(spark):
    rng = np.random.default_rng(7)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "src": rng.integers(0, 300, size=600),
            "dst": rng.integers(0, 300, size=600),
        }
    )
    pdf = pdf[pdf.src != pdf.dst].drop_duplicates()
    sym = pd.concat(
        [pdf, pdf.rename(columns={"src": "dst", "dst": "src"})]
    ).drop_duplicates()
    oracle = _cc_oracle(sym, np.unique(np.concatenate([pdf.src, pdf.dst])))
    result, _ = connected_components(
        spark, fixtures.to_spark_edges(spark, pdf), num_partitions=8
    )
    got = {r["id"]: r["component"] for r in result.collect()}
    assert got == oracle


def test_partition_count_independence(spark):
    vertices, edges = fixtures.tiny_example_graph()
    edges_df = fixtures.to_spark_edges(spark, edges)
    outs = []
    for p in (2, 16):
        result, _ = connected_components(spark, edges_df, num_partitions=p)
        outs.append({r["id"]: r["component"] for r in result.collect()})
    assert outs[0] == outs[1]


def test_state_store_dir_selects_delta_store(spark, tmp_path):
    """A given ``state_store_dir`` keeps the state in the delta store
    without ``incremental=True``: version 0 is written there, every
    round reports its active buckets, and the result equals the
    in-memory run's."""
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    memory, _ = connected_components(spark, edges, num_partitions=4)
    d = tmp_path / "state"
    delta, history = connected_components(
        spark, edges, num_partitions=4, state_store_dir=str(d), n_buckets=8
    )
    assert (d / "v=0").is_dir()
    assert history and all("active_buckets" in h for h in history)
    assert sorted(tuple(r) for r in delta.collect()) == sorted(
        tuple(r) for r in memory.collect()
    )


def test_incremental_cc_removes_its_temp_state_dir(spark, tmp_path, monkeypatch):
    """``incremental=True`` with neither ``checkpoint_dir`` nor
    ``state_store_dir`` keeps its delta store in a temp dir the call
    owns: the result is materialized and the dir removed on return,
    and on a raise."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    def state_dirs():
        return [
            n for n in os.listdir(tmp)
            if n.startswith("pcgraph_connected_components_state_")
        ]

    seen = []

    def watch(step, metrics):
        seen.append(len(state_dirs()))

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    full, _ = connected_components(spark, edges, num_partitions=4)
    expected = {r["id"]: r["component"] for r in full.collect()}
    got, _ = connected_components(
        spark, edges, num_partitions=4, incremental=True, n_buckets=8,
        post_superstep=watch,
    )
    assert seen and set(seen) == {1}  # the store lived in the temp dir
    assert state_dirs() == []
    # the result stays readable once its store is gone
    assert {r["id"]: r["component"] for r in got.collect()} == expected

    def boom(step, metrics):
        raise RuntimeError("stop after round 1")

    with pytest.raises(RuntimeError, match="stop after round 1"):
        connected_components(
            spark, edges, num_partitions=4, incremental=True, n_buckets=8,
            post_superstep=boom,
        )
    assert state_dirs() == []

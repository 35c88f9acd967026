import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest

from pcgraph import fixtures
from pcgraph.algos.cc import connected_components
from pcgraph.algos.pagerank import pagerank
from pcgraph.algos.sssp import sssp
from pcgraph.engine import PCEngine
from pcgraph.statestore import DeltaStateStore


@pytest.mark.parametrize(
    "algo,incremental",
    [("cc", False), ("cc", True), ("sssp", True)],
    ids=["cc-memory", "cc-delta", "sssp-delta"],
)
def test_cc_resume_equals_uninterrupted(spark, tmp_path, algo, incremental):
    """Drop every round after round 2 and resume: the continuation
    equals the uninterrupted run and starts at superstep 3, on both
    backends.  The resumed call does not pass ``incremental``: a run
    continues in the backend that committed its round (the delta store
    at its default ``max_versions`` keeps every mid-run round intact)."""
    if algo == "cc":
        edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))

        def run(**kw):
            return connected_components(spark, edges, num_partitions=4, **kw)
    else:
        edges = fixtures.to_spark_edges(spark, _weighted_chain_graph())

        def run(**kw):
            return sssp(spark, edges, source=0, num_partitions=4, **kw)

    ckpt = str(tmp_path / "ckpt")
    full, _ = run(checkpoint_dir=ckpt, incremental=incremental)
    full_rows = sorted(tuple(r) for r in full.collect())

    # Simulate a crash: drop everything after round 2, resume.
    rounds = sorted(n for n in os.listdir(ckpt) if n.startswith("round="))
    assert len(rounds) >= 3, rounds
    for name in rounds[2:]:
        shutil.rmtree(os.path.join(ckpt, name))
    resumed, history = run(resume_from=ckpt)
    assert sorted(tuple(r) for r in resumed.collect()) == full_rows
    assert history[0]["superstep"] == 3  # picked up mid-iteration
    assert ("active_buckets" in history[0]) == incremental  # same backend


def _weighted_chain_graph() -> pd.DataFrame:
    """A 40-vertex path with random shortcut edges: SSSP from 0 needs
    several global rounds."""
    rng = np.random.default_rng(3)
    src = np.concatenate([np.arange(39), rng.integers(0, 40, 30)])
    dst = np.concatenate([np.arange(1, 40), rng.integers(0, 40, 30)])
    pdf = pd.DataFrame(
        {"src": src, "dst": dst, "weight": rng.uniform(0.5, 2.0, len(src))}
    )
    return pdf[pdf.src != pdf.dst].drop_duplicates(["src", "dst"])


def test_delta_rewind_past_compaction_is_refused(spark, tmp_path, monkeypatch):
    """Compaction sweeps the dirs an older round's manifest lists, so
    only the newest committed round of a compacted delta-store run can
    be resumed: an older one is refused with an error naming the
    missing dir, not a Spark PATH_NOT_FOUND from inside a round."""
    edges = fixtures.to_spark_edges(spark, fixtures.skew_graph(n=400))
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(DeltaStateStore, "max_versions", 1)
    connected_components(
        spark, edges, num_partitions=4, incremental=True, n_buckets=4,
        checkpoint_dir=ckpt,
    )
    rounds = sorted(n for n in os.listdir(ckpt) if n.startswith("round="))
    assert len(rounds) >= 3, rounds
    for name in rounds[2:]:
        shutil.rmtree(os.path.join(ckpt, name))
    with pytest.raises(
        FileNotFoundError, match=r"statestore/v=\d+/bucket=\d+'.*compaction removed it"
    ):
        connected_components(spark, edges, num_partitions=4, resume_from=ckpt)


def test_meta_lineage_chain(spark, tmp_path):
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    ckpt = str(tmp_path / "ckpt2")
    _, history = connected_components(
        spark, edges, num_partitions=4, checkpoint_dir=ckpt
    )
    rounds = sorted(os.listdir(ckpt))
    metas = []
    for name in rounds:
        with open(os.path.join(ckpt, name, "_meta.json")) as fh:
            metas.append(json.load(fh))
    for i, meta in enumerate(metas):
        assert meta["committed"]
        assert meta["superstep"] == i + 1
        assert meta["parent_round"] == (i if i > 0 else None)
        assert "frontier_rows_per_partition" in meta
        assert "active" in meta
    # metrics history mirrors the metas
    assert [m["active"] for m in metas] == [h["active"] for h in history]


def test_uncommitted_round_is_ignored(spark, tmp_path):
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    ckpt = str(tmp_path / "ckpt3")
    full, _ = connected_components(
        spark, edges, num_partitions=4, checkpoint_dir=ckpt
    )
    rounds = sorted(os.listdir(ckpt))
    # Corrupt the last round: state written but no committed meta (torn write)
    last = os.path.join(ckpt, rounds[-1])
    os.remove(os.path.join(last, "_meta.json"))
    meta = PCEngine.latest_round(ckpt)
    assert meta["superstep"] == len(rounds) - 1


def test_pagerank_resume(spark, tmp_path):
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    # with ``vertices`` (an id already in the graph plus isolated ids)
    # the resumed state is the one the first run committed
    vertices = spark.createDataFrame([(3,), (500,), (-9,)], "id long")
    for case, vdf in (("plain", None), ("vertices", vertices)):
        ckpt = str(tmp_path / f"prckpt_{case}")
        full, fh = pagerank(
            spark, edges, vertices=vdf, num_partitions=4,
            checkpoint_dir=ckpt, tol=1e-8,
        )
        full_rows = {r["id"]: r["pagerank"] for r in full.collect()}
        if vdf is not None:
            assert {500, -9} <= set(full_rows)
        rounds = sorted(os.listdir(ckpt))
        for name in rounds[3:]:
            shutil.rmtree(os.path.join(ckpt, name))
        resumed, rh = pagerank(
            spark, edges, vertices=vdf, num_partitions=4,
            resume_from=ckpt, tol=1e-8,
        )
        resumed_rows = {r["id"]: r["pagerank"] for r in resumed.collect()}
        assert set(resumed_rows) == set(full_rows), case
        for vid in full_rows:
            assert abs(full_rows[vid] - resumed_rows[vid]) < 1e-9, (case, vid)
        assert rh[0]["superstep"] == 4, case


def test_cc_salting_equivalence(spark):
    pdf = fixtures.skew_graph(n=300)
    edges = fixtures.to_spark_edges(spark, pdf)
    plain, _ = connected_components(spark, edges, num_partitions=8)
    salted, _ = connected_components(spark, edges, num_partitions=8, salt_threshold=40)
    a = {r["id"]: r["component"] for r in plain.collect()}
    b = {r["id"]: r["component"] for r in salted.collect()}
    assert a == b


def test_bucket_rewrite_checkpoint_resume_raises_clear_error(spark, tmp_path):
    """A checkpoint written by the removed bucket-rewrite state store
    (its meta maps each bucket to ONE version) must be refused on
    resume with an error that names the format, not die inside the
    delta store's restore."""
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    ckpt = tmp_path / "old_ckpt"
    rdir = ckpt / "round=00002"
    rdir.mkdir(parents=True)
    meta = {
        "active": 3,
        "superstep": 2,
        "algorithm": "connected_components",
        "manifest": {"0": 2, "1": 0, "2": 1},
        "n_buckets": 4,
        "state_store_dir": "statestore",
        "committed": True,
        "parent_round": 1,
    }
    (rdir / "_meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="bucket-rewrite"):
        connected_components(
            spark, edges, num_partitions=4, resume_from=str(ckpt)
        )

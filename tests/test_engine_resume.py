import json
import os
import shutil

import pytest

from pcgraph import fixtures
from pcgraph.algos.cc import connected_components
from pcgraph.algos.pagerank import pagerank
from pcgraph.engine import PCEngine


def test_cc_resume_equals_uninterrupted(spark, tmp_path):
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    ckpt = str(tmp_path / "ckpt")
    full, _ = connected_components(
        spark, edges, num_partitions=4, checkpoint_dir=ckpt
    )
    full_rows = {r["id"]: r["component"] for r in full.collect()}

    # Simulate a crash: drop everything after round 2, resume.
    rounds = sorted(os.listdir(ckpt))
    assert len(rounds) >= 3, rounds
    for name in rounds[2:]:
        shutil.rmtree(os.path.join(ckpt, name))
    resumed, history = connected_components(
        spark, edges, num_partitions=4, resume_from=ckpt
    )
    resumed_rows = {r["id"]: r["component"] for r in resumed.collect()}
    assert resumed_rows == full_rows
    assert history[0]["superstep"] == 3  # picked up mid-iteration


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
    ckpt = str(tmp_path / "prckpt")
    full, fh = pagerank(spark, edges, num_partitions=4, checkpoint_dir=ckpt, tol=1e-8)
    full_rows = {r["id"]: r["pagerank"] for r in full.collect()}
    rounds = sorted(os.listdir(ckpt))
    for name in rounds[3:]:
        shutil.rmtree(os.path.join(ckpt, name))
    resumed, rh = pagerank(spark, edges, num_partitions=4, resume_from=ckpt, tol=1e-8)
    resumed_rows = {r["id"]: r["pagerank"] for r in resumed.collect()}
    assert set(resumed_rows) == set(full_rows)
    for vid in full_rows:
        assert abs(full_rows[vid] - resumed_rows[vid]) < 1e-9, vid
    assert rh[0]["superstep"] == 4


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
        "frontier_path": "round=00002/frontier.parquet",
    }
    (rdir / "_meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="bucket-rewrite"):
        connected_components(
            spark, edges, num_partitions=4, resume_from=str(ckpt)
        )

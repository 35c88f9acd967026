"""Round-5 fixes: strict mode O(touched buckets) in the delta loop,
resumable custom state-store dirs, labelprop round-1 checkpoint commit,
DeltaStateStore value-type-safe empty reads, single-flip block-store
meta with fingerprint, and the compaction version-list ordering
invariant."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from pcgraph import fixtures
from pcgraph.algos.cc import connected_components
from pcgraph.algos.labelprop import label_propagation
from pcgraph.statestore import DeltaStateStore


# -------------------------------------------- strict delta = O(touched)
def test_strict_delta_adds_no_extra_store_reads(spark, tmp_path, monkeypatch):
    """r4 VERDICT 'what's wrong' #1: strict mode in the delta loop read
    the WHOLE store every round (read_buckets_raw(sorted(manifest))).
    The fix anti-joins against the round's already-pruned active-bucket
    read, so strict must add ZERO read_buckets_raw calls and never
    widen one beyond the active buckets."""
    calls: list[tuple[str, int]] = []
    orig = DeltaStateStore.read_buckets_raw

    def recording(self, buckets):
        calls.append(("call", len(buckets)))
        return orig(self, buckets)

    monkeypatch.setattr(DeltaStateStore, "read_buckets_raw", recording)
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))

    def run(strict):
        calls.clear()
        out, hist = connected_components(
            spark, edges, num_partitions=4, incremental=True,
            strict=strict, n_buckets=16,
            state_store_dir=str(tmp_path / f"store_{strict}"),
        )
        rows = {r["id"]: r["component"] for r in out.collect()}
        return rows, list(calls)

    rows_strict, calls_strict = run(True)
    rows_plain, calls_plain = run(False)
    assert rows_strict == rows_plain
    # strict adds no read_buckets_raw call (it reuses the round's
    # active-bucket read; the one full-manifest read is the final
    # read_reconciled, present in both)
    assert len(calls_strict) == len(calls_plain), (calls_strict, calls_plain)
    assert [w for _, w in calls_strict] == [w for _, w in calls_plain]


def test_strict_delta_still_raises_on_unknown_target(spark, tmp_path):
    """The reference-parity error survives the pruned anti-join: a
    kernel message to an id absent from the vertex set raises."""
    from pcgraph.engine import PCEngine
    from pcgraph.partition import ensure_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    blocks = ensure_block_store(spark, edges, 4, str(tmp_path / "blocks"))
    vset = spark.createDataFrame([(i,) for i in range(0, 40, 2)], "id long")
    state = vset.select(
        "id", F.col("id").alias("value"), F.lit(True).alias("changed")
    )

    def kernel(key, fpdf, bpdf):
        import pandas as pd

        # message a vertex id that does not exist in the state
        return pd.DataFrame({"dst": [999_999], "msg": [0]})

    engine = PCEngine(spark)
    with pytest.raises(ValueError, match="Target vertex does not exist"):
        engine.run(
            blocks=blocks,
            state=state,
            kernel=kernel,
            msg_schema="dst long, msg long",
            update="min",
            frontier_fn=lambda s: s.select("id", "value"),
            max_iter=2,
            strict=True,
            state_store_dir=str(tmp_path / "strictstore"),
            n_buckets=8,
        )


# ------------------------------------- custom state-store dir resumes
def test_resume_with_custom_state_store_dir(spark, tmp_path):
    """ADVICE r4 (medium): the committed round meta must record the
    caller-configured state_store_dir; resume() previously hardcoded
    <checkpoint_dir>/statestore and died (or silently read a stale
    default-path store)."""
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    full, _ = connected_components(spark, edges, num_partitions=4)
    full_rows = {r["id"]: r["component"] for r in full.collect()}

    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "elsewhere" / "custom_store")  # NOT under ckpt
    connected_components(
        spark, edges, num_partitions=4, incremental=True,
        checkpoint_dir=ckpt, state_store_dir=store, max_iter=2, n_buckets=8,
    )
    meta = json.load(open(os.path.join(ckpt, "round=00002", "_meta.json")))
    assert meta["state_store_dir"] == store  # absolute: outside ckpt tree

    # resume WITHOUT re-passing the store dir — must find it via meta
    resumed, _ = connected_components(
        spark, edges, num_partitions=4, resume_from=ckpt, n_buckets=8,
    )
    rows = {r["id"]: r["component"] for r in resumed.collect()}
    assert rows == full_rows


def test_store_dir_recorded_relative_when_under_checkpoint(spark, tmp_path):
    """Default store location (under the checkpoint dir) is recorded
    RELATIVE so a relocated checkpoint directory still resumes."""
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=80))
    ckpt = str(tmp_path / "ckpt2")
    connected_components(
        spark, edges, num_partitions=4, incremental=True,
        checkpoint_dir=ckpt, max_iter=2, n_buckets=8,
    )
    meta = json.load(open(os.path.join(ckpt, "round=00002", "_meta.json")))
    assert meta["state_store_dir"] == "statestore"
    # relocate the whole checkpoint tree and resume from the new path
    moved = str(tmp_path / "moved_ckpt")
    shutil.move(ckpt, moved)
    full, _ = connected_components(spark, edges, num_partitions=4)
    full_rows = {r["id"]: r["component"] for r in full.collect()}
    resumed, _ = connected_components(
        spark, edges, num_partitions=4, resume_from=moved, n_buckets=8,
    )
    assert {r["id"]: r["component"] for r in resumed.collect()} == full_rows


# ------------------------------------ labelprop round-1 commit + resume
def test_labelprop_round1_checkpoint_committed_and_resumable(spark, tmp_path):
    """ADVICE r4: with checkpointing on, the superstep-1 strength
    reduction must commit a resumable round 1 like any other round (a
    crash in round 2 previously restarted the whole job)."""
    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=120))
    full, _ = label_propagation(spark, edges, max_iter=3, num_partitions=4)
    full_rows = {r["id"]: r["label"] for r in full.collect()}

    ckpt = str(tmp_path / "lp_ckpt")
    label_propagation(
        spark, edges, max_iter=1, num_partitions=4, checkpoint_dir=ckpt
    )
    meta_path = os.path.join(ckpt, "round=00001", "_meta.json")
    assert os.path.exists(meta_path), "round-1 commit missing"
    meta = json.load(open(meta_path))
    assert meta["committed"] and meta["superstep"] == 1
    assert os.path.exists(
        os.path.join(ckpt, "round=00001", "state.parquet", "_SUCCESS")
    )

    resumed, hist = label_propagation(
        spark, edges, max_iter=3, num_partitions=4, resume_from=ckpt
    )
    rows = {r["id"]: r["label"] for r in resumed.collect()}
    assert rows == full_rows
    assert hist[-1]["superstep"] == 3


# --------------------------------- value-type-safe empty reconciliation
def test_delta_store_empty_read_keeps_value_type(spark, tmp_path):
    """ADVICE r4: the empty-manifest fallback hardcoded `value double`;
    a restored long-valued store (CC labels) must produce long."""
    root = str(tmp_path / "dstore")
    s1 = DeltaStateStore(spark, root, n_buckets=4)
    state = spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, value long"
    )
    s1.init(state)
    manifest = {b: list(vs) for b, vs in s1.manifest.items()}

    s2 = DeltaStateStore(spark, root, n_buckets=4)
    s2.restore(manifest)
    empty = s2.read_reconciled(buckets=[])
    assert dict(empty.dtypes)["value"] == "bigint"
    # and the fresh-store default stays double (documented fallback)
    s3 = DeltaStateStore(spark, str(tmp_path / "empty"), n_buckets=4)
    assert dict(s3.read_reconciled(buckets=[]).dtypes)["value"] == "double"


# ------------------------------------------ single-flip store meta
def test_block_store_fingerprint_lands_in_single_meta_write(spark, tmp_path):
    """ADVICE r4: n_edges must be in the SAME atomic meta write that
    commits the store — no window where a committed store exists whose
    fingerprint check silently no-ops."""
    from pcgraph.partition import STORE_META, ensure_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    n = edges.count()
    path = str(tmp_path / "bstore")
    ensure_block_store(spark, edges, 4, path, tag="sym", expected_edges=n)
    meta = json.load(open(os.path.join(path, STORE_META)))
    assert meta["n_edges"] == n
    # the census sidecar precedes the commit marker
    assert os.path.exists(os.path.join(path, "vertices", "_SUCCESS"))
    # reopening with a different count raises (fingerprint active)
    with pytest.raises(ValueError, match="input data changed"):
        ensure_block_store(
            spark, edges, 4, path, tag="sym", expected_edges=n + 1
        )


# ------------------------------------------ compaction list ordering
def test_compact_version_lists_stay_sorted(spark, tmp_path):
    """statestore docstring promises ORDERED version lists; r4's
    compaction briefly wrote [new_vid, protect] with protect < new_vid."""
    root = str(tmp_path / "cstore")
    store = DeltaStateStore(spark, root, n_buckets=2)
    store.max_versions = 2
    store.init(spark.createDataFrame([(i, float(i)) for i in range(8)],
                                     "id long, value double"))
    for step in range(4):
        delta = spark.createDataFrame(
            [(i, float(i) - step - 1) for i in range(8)],
            "id long, value double",
        ).withColumn("bucket", store.bucket_expr(F.col("id")))
        vid = store.write_delta(delta)
        store.compact(protect=vid)
        for b, vs in store.manifest.items():
            assert vs == sorted(vs), (b, vs)
    # values still reconcile to the global min
    rows = {r["id"]: r["value"] for r in store.read_reconciled().collect()}
    assert rows == {i: float(i) - 4 for i in range(8)}


def test_delta_restore_raises_on_unreadable_store_root(spark, tmp_path):
    """ADVICE r6: restoring a delta manifest whose version directories
    are all missing (wrong/mis-resolved state_store_dir) must fail
    loudly naming the root, not silently succeed with _value_type=None
    and surface later as an opaque read error."""
    import pytest

    from pcgraph.statestore import DeltaStateStore

    store = DeltaStateStore(
        spark, str(tmp_path / "does_not_exist"), n_buckets=4
    )
    with pytest.raises(FileNotFoundError, match="state_store_dir"):
        store.restore({"0": [0], "1": [0]})


def test_lpa_fold_width_regimes():
    """r6 fold-width sizing: the small-graph 128k target must only ever
    NARROW the fold (never exceed shuffle.partitions, and therefore
    never the bypass-merge threshold); the at-scale spill-driven branch
    is the unchanged r5 sizing min(bypass, ceil(partials/2M))."""
    from pcgraph.algos.labelprop import _fold_width

    # sf0.1 bench shape: 1.03M partials on 32 shuffle partitions -> 8
    assert _fold_width(1_031_046, 32, 512) == 8
    # mid-size: 76M partials on 64 shuffle partitions -> clamp at 64
    # (the unclamped 128k target would be 580 > bypass 512)
    assert _fold_width(76_000_000, 64, 512) == 64
    # at-scale: 633M partials on 128 shuffle partitions -> r5 sizing
    assert _fold_width(633_000_000, 128, 512) == 317
    # at-scale, bypass-capped
    assert _fold_width(2_000_000_000 * 2, 128, 512) == 512
    # degenerate tiny graph: at least 1 task
    assert _fold_width(10, 32, 512) == 1

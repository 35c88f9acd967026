"""Round-2 engine features: superstep-aware kernels + lifecycle hooks,
strict missing-vertex mode, fold="sum" convergence semantics, sparse
frontiers, and the pinned per-round job counts and kernel entry."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pcgraph import fixtures
from pcgraph.api import PCGraph
from pcgraph.algos.cc import symmetrize
from pcgraph.partition import kernel_block


# NOTE: kernels must not reference helpers defined in this module —
# cloudpickle serializes test-module globals by reference and workers
# cannot import the test module.  An importable ``pcgraph`` function
# (``kernel_block``) pickles by reference and imports in the worker.


def test_kernel_receives_superstep_and_hooks(spark):
    """A kernel that branches on the superstep number (init-style work on
    step 1 only — reference: getSuperstepNumber +
    preSuperstep/postSuperStep, VertexUpdateFunction.java:77-79,
    PartitionProcessFunction.java:45-63)."""
    vertices, edges = fixtures.tiny_example_graph()

    def step_kernel(key, fpdf, bpdf, step):
        # superstep 1: each frontier vertex sends its id to itself
        # (init); later steps: silence -> converges at step 2.  No
        # block needed — works for singleton partitions too.
        if step != 1 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
            )
        fids = fpdf["id"].to_numpy(dtype=np.int64)
        return pd.DataFrame({"dst": fids, "msg": fids - 100})

    seen = {"pre": [], "post": []}
    g = PCGraph(
        spark,
        symmetrize(fixtures.to_spark_edges(spark, edges)),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    result, history = g.run_partition_centric_iteration(
        kernel=step_kernel,
        msg_schema="dst long, msg long",
        initial_value=F.col("id"),
        fold="min",
        max_iter=5,
        pre_superstep=lambda s: seen["pre"].append(s),
        post_superstep=lambda s, m: seen["post"].append((s, m["active"])),
    )
    got = {r["id"]: r["value"] for r in result.collect()}
    assert got == {v: v - 100 for v in range(1, 11)}
    # init fired on step 1, nothing after -> exactly 2 supersteps
    assert seen["pre"] == [1, 2]
    assert [s for s, _ in seen["post"]] == [1, 2]
    assert seen["post"][-1][1] == 0  # converged


def test_strict_mode_raises_on_unknown_target(spark):
    """Reference parity: a message to a vertex outside the solution set
    throws "Target vertex does not exist!"
    (PartitionCentricIteration.java:216-227)."""
    vertices, edges = fixtures.tiny_example_graph()

    def rogue_kernel(key, fpdf, bpdf):
        if len(bpdf) == 0 or len(fpdf) == 0:
            return pd.DataFrame(
                {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
            )
        return pd.DataFrame({"dst": [999999], "msg": [1]})  # not a vertex

    g = PCGraph(
        spark,
        symmetrize(fixtures.to_spark_edges(spark, edges)),
        vertices=spark.createDataFrame(vertices, schema="id long"),
        num_partitions=4,
    )
    with pytest.raises(ValueError, match="Target vertex does not exist"):
        g.run_partition_centric_iteration(
            kernel=rogue_kernel,
            msg_schema="dst long, msg long",
            initial_value=F.col("id"),
            fold="min",
            max_iter=2,
            strict=True,
        )
    # same kernel without strict: messages to unknown ids are dropped by
    # the state join (pre-completed vertex set makes this the documented
    # non-strict behavior) and the run completes
    result, _ = g.run_partition_centric_iteration(
        kernel=rogue_kernel,
        msg_schema="dst long, msg long",
        initial_value=F.col("id"),
        fold="min",
        max_iter=2,
    )
    assert result.count() == 10


def test_fold_sum_accumulates_n_rounds_on_cycle(spark):
    """fold="sum" on a cyclic graph: without sum_tol every message
    keeps its receiver active, so the loop runs exactly max_iter rounds
    (documented accumulate-for-N semantics) and terminates."""
    # directed 3-cycle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], schema="src long, dst long"
    )

    def one_kernel(key, fpdf, bpdf):
        nodes, esrc, edst, _, pos, _ = kernel_block(fpdf, bpdf, np.int64)
        present = np.zeros(len(nodes), dtype=bool)
        present[pos] = True
        active = present[esrc]
        return pd.DataFrame(
            {"dst": nodes[edst[active]], "msg": np.ones(int(active.sum()), dtype=np.int64)}
        )

    g = PCGraph(spark, edges, num_partitions=2)
    result, history = g.run_partition_centric_iteration(
        kernel=one_kernel,
        msg_schema="dst long, msg long",
        initial_value=0,
        fold="sum",
        max_iter=4,
    )
    assert len(history) == 4  # ran the full budget, then stopped
    got = {r["id"]: r["value"] for r in result.collect()}
    assert got == {1: 4, 2: 4, 3: 4}  # one message per round per vertex


def test_fold_sum_with_tol_converges(spark):
    """sum_tol deactivates vertices once the incoming per-round sum
    decays below the threshold: a geometrically-decaying quantity on a
    cycle converges instead of spinning to max_iter (also exercises the
    step-aware kernel signature with a built-in fold)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], schema="src long, dst long"
    )

    def decay_kernel(key, fpdf, bpdf, step):
        nodes, esrc, edst, _, pos, _ = kernel_block(fpdf, bpdf, np.float64)
        present = np.zeros(len(nodes), dtype=bool)
        present[pos] = True
        active = present[esrc]
        amount = 0.5 ** step
        return pd.DataFrame(
            {"dst": nodes[edst[active]], "msg": np.full(int(active.sum()), amount)}
        )

    g = PCGraph(spark, edges, num_partitions=2)
    result, history = g.run_partition_centric_iteration(
        kernel=decay_kernel,
        msg_schema="dst long, msg double",
        initial_value=F.lit(1.0),
        fold="sum",
        sum_tol=0.1,
        max_iter=50,
    )
    # per-round message = 0.5**step; 0.5**4 = 0.0625 <= 0.1 deactivates
    # every vertex at round 4 -> terminates long before max_iter
    assert len(history) == 4
    assert history[-1]["active"] == 0
    got = {r["id"]: r["value"] for r in result.collect()}
    # 1 + 0.5 + 0.25 + 0.125 + 0.0625 (last round's value still lands)
    assert all(abs(v - 1.9375) < 1e-12 for v in got.values())


def test_fold_update_rows(spark):
    """The built-in folds on a hand-built state and message frame:
    min/max keep only a strictly better message (a null value stays
    null), sum adds and flags what it received, or with ``sum_tol``
    only a sum above it in magnitude."""
    from pcgraph.engine import fold_update

    def rows(update, state, msgs):
        out = update(state, msgs, 1).collect()
        return {r["id"]: (r["value"], r["changed"]) for r in out}

    # id 1: better for min (3 < 5), worse for max (max 4 < 5);
    # id 2: equal; id 3: worse for min, better for max;
    # id 4: no message; id 5: null value
    state = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 5), (4, 5), (5, None)], "id long, value long"
    )
    msgs = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 5), (3, 7), (5, 1)], "dst long, msg long"
    )
    assert rows(fold_update("min"), state, msgs) == {
        1: (3, True), 2: (5, False), 3: (5, False), 4: (5, False),
        5: (None, False),
    }
    assert rows(fold_update("max"), state, msgs) == {
        1: (5, False), 2: (5, False), 3: (7, True), 4: (5, False),
        5: (None, False),
    }

    state = spark.createDataFrame(
        [(1, 1.0), (2, 1.0), (3, 1.0), (4, 1.0)], "id long, value double"
    )
    msgs = spark.createDataFrame(
        [(1, 0.5), (1, 0.25), (2, 0.0625), (3, -0.5)], "dst long, msg double"
    )
    assert rows(fold_update("sum"), state, msgs) == {
        1: (1.75, True), 2: (1.0625, True), 3: (0.5, True), 4: (1.0, False),
    }
    assert rows(fold_update("sum", sum_tol=0.1), state, msgs) == {
        1: (1.75, True), 2: (1.0625, False), 3: (0.5, True), 4: (1.0, False),
    }

    with pytest.raises(ValueError, match="fold must be one of"):
        fold_update("avg")


def test_delta_store_refuses_non_min_update(spark, tmp_path):
    """The delta store merges with min only: any other update raises
    before the run touches the session's settings or the store dir
    (it used to be bypassed silently, folding with min)."""
    from pcgraph.engine import PCEngine
    from pcgraph.partition import ensure_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    blocks = ensure_block_store(spark, edges, 4, str(tmp_path / "blocks"))
    state = spark.createDataFrame([(i,) for i in range(1, 41)], "id long").select(
        "id", F.col("id").alias("value"), F.lit(True).alias("changed")
    )

    def kernel(key, fpdf, bpdf):
        return pd.DataFrame(
            {"dst": pd.Series(dtype="int64"), "msg": pd.Series(dtype="int64")}
        )

    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    before = {k: spark.conf.get(k, None) for k in keys}
    store = tmp_path / "store"
    with pytest.raises(ValueError, match="min"):
        PCEngine(spark).run(
            blocks=blocks,
            state=state,
            kernel=kernel,
            msg_schema="dst long, msg long",
            update="max",
            frontier_fn=lambda s: s.filter("changed").select("id", "value"),
            max_iter=2,
            state_store_dir=str(store),
            n_buckets=8,
        )
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert not store.exists()


def test_state_keeps_its_initial_columns(spark, tmp_path):
    """The state keeps the columns it starts with: a column ``update``
    adds is metric-only.  ``metrics_exprs`` observes it every round,
    and it is projected away below the checkpoint, so the result
    carries only ``id, value, changed``."""
    from pcgraph.algos.cc import cc_kernel
    from pcgraph.engine import PCEngine, fold_update
    from pcgraph.partition import ensure_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    blocks = ensure_block_store(spark, edges, 4, str(tmp_path / "blocks"))
    state = spark.createDataFrame([(i,) for i in range(1, 41)], "id long").select(
        "id", F.col("id").alias("value"), F.lit(True).alias("changed")
    )
    min_update = fold_update("min")

    def update(state_df, msgs, step):
        return min_update(state_df, msgs, step).withColumn("x", F.lit(1))

    result, history = PCEngine(spark).run(
        blocks=blocks,
        state=state,
        kernel=cc_kernel,
        msg_schema="dst long, msg long",
        update=update,
        metrics_exprs=[
            F.expr("count_if(changed) as active"), F.expr("sum(x) as xs"),
        ],
    )
    assert len(history) > 1
    assert [h["xs"] for h in history] == [40] * len(history)
    assert result.columns == ["id", "value", "changed"]
    assert {r["id"]: r["value"] for r in result.collect()} == {
        i: 1 if i % 2 else 2 for i in range(1, 41)
    }


def test_pagerank_checkpoint_holds_state_columns(spark, tmp_path):
    """PageRank's ``prev_pr`` exists only for the L1 observation: a
    checkpointed round stores exactly the state columns it started
    with."""
    from pcgraph.algos.pagerank import pagerank

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    ckpt = tmp_path / "ckpt"
    pagerank(spark, edges, num_partitions=4, max_iter=2, checkpoint_dir=str(ckpt))
    stored = spark.read.parquet(str(ckpt / "round=00001" / "state.parquet"))
    assert stored.columns == ["id", "pr", "out_deg"]


def test_sparse_frontier_cc_stays_correct(spark):
    """CC stays correct while its frontier collapses to a few
    partitions (sparse tail rounds run no kernel for the others)."""
    from pcgraph.algos.cc import connected_components

    pdf = fixtures.odd_even_graph(n=200)
    result, _ = connected_components(
        spark, fixtures.to_spark_edges(spark, pdf), num_partitions=8
    )
    comps = {r["id"]: r["component"] for r in result.collect()}
    assert all(c == (1 if v % 2 else 2) for v, c in comps.items())


def _jobs_per_round(spark, call) -> dict[int, int]:
    """Spark jobs each superstep of ``call(post_superstep)`` ran.  The
    hook tags the NEXT superstep's jobs with a job group, so a round's
    group holds exactly the jobs between two consecutive hooks."""
    import uuid

    sc = spark.sparkContext
    tag = f"pcgraph-jobs-{uuid.uuid4().hex[:8]}"
    steps: list[int] = []

    def hook(step, _metrics):
        steps.append(step)
        sc.setJobGroup(f"{tag}:{step + 1}", "superstep")

    sc.setJobGroup(f"{tag}:1", "superstep")
    try:
        call(hook)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return {s: len(tracker.getJobIdsForGroup(f"{tag}:{s}")) for s in steps}


def test_steady_round_job_counts_are_pinned(spark, tmp_path):
    """The work a steady superstep does, counted in Spark jobs: one job
    per PageRank round (the state checkpoint), one per custom-iteration
    round (its active count is observed inside that checkpoint, not
    counted in a job of its own), and six per delta-store
    CC round (kernel-running fold count, active-bucket collect, delta
    write and the store's parquet listings/reads).  A durable round
    (``checkpoint_dir`` set) adds its commit: the per-partition
    frontier count, plus the state parquet's read-back listing on the
    in-memory backend — 3 jobs for PageRank, 7 for delta-store CC; the
    frontier itself is not written.  A change to the round driver that
    adds an action per round fails here."""
    from pcgraph.algos.cc import connected_components
    from pcgraph.algos.pagerank import pagerank

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=200))
    pr = _jobs_per_round(
        spark,
        lambda hook: pagerank(
            spark, edges, num_partitions=4, max_iter=4, post_superstep=hook
        ),
    )
    assert pr[2] == pr[3] == 1, pr

    def max_kernel(key, fpdf, bpdf):
        nodes, esrc, edst, _, pos, vals = kernel_block(fpdf, bpdf, np.int64)
        val = np.full(len(nodes), np.iinfo(np.int64).min, dtype=np.int64)
        np.maximum.at(val, pos, vals)
        init = val.copy()
        while True:
            prev = val.copy()
            np.maximum.at(val, edst, val[esrc])
            if np.array_equal(prev, val):
                break
        send = val > init
        return pd.DataFrame({"dst": nodes[send], "msg": val[send]})

    g = PCGraph(spark, edges, num_partitions=4)
    try:
        custom = _jobs_per_round(
            spark,
            lambda hook: g.run_partition_centric_iteration(
                kernel=max_kernel, msg_schema="dst long, msg long",
                initial_value=F.col("id"), fold="max", post_superstep=hook,
            ),
        )
    finally:
        g.unpersist()
    assert len(custom) > 3, custom
    assert custom[2] == custom[3] == 1, custom

    cc = _jobs_per_round(
        spark,
        lambda hook: connected_components(
            spark, edges, num_partitions=4, incremental=True, n_buckets=8,
            state_store_dir=str(tmp_path / "cc_state"), post_superstep=hook,
        ),
    )
    assert len(cc) > 3, cc
    assert cc[2] == cc[3] == 6, cc

    pr_durable = _jobs_per_round(
        spark,
        lambda hook: pagerank(
            spark, edges, num_partitions=4, max_iter=4, post_superstep=hook,
            checkpoint_dir=str(tmp_path / "pr_ckpt"),
        ),
    )
    assert pr_durable[2] == pr_durable[3] == 3, pr_durable

    cc_durable = _jobs_per_round(
        spark,
        lambda hook: connected_components(
            spark, edges, num_partitions=4, incremental=True, n_buckets=8,
            checkpoint_dir=str(tmp_path / "cc_ckpt"), post_superstep=hook,
        ),
    )
    assert len(cc_durable) > 3, cc_durable
    assert cc_durable[2] == cc_durable[3] == 7, cc_durable


def test_kernel_stage_takes_cached_udf_path(spark, tmp_path, monkeypatch):
    """The kernel stage runs through the cached pandas UDF applied at
    ``flatMapGroupsInPandas`` — with the public ``applyInPandas``
    refusing, a PageRank round still runs (there is no fallback)."""
    from pyspark.sql.group import GroupedData

    from pcgraph.algos.pagerank import pagerank
    from pcgraph.partition import ensure_block_store

    edges = fixtures.to_spark_edges(spark, fixtures.odd_even_graph(n=40))
    # built before the patch: the store build is a grouped map itself
    blocks = ensure_block_store(
        spark, edges, 4, str(tmp_path / "blocks"), tag="directed"
    )

    def refuse(*args, **kwargs):
        raise AssertionError("kernel stage took GroupedData.applyInPandas")

    monkeypatch.setattr(GroupedData, "applyInPandas", refuse)
    result, history = pagerank(spark, edges, max_iter=1, blocks=blocks)
    assert len(history) == 1
    assert result.count() == 40


@pytest.mark.parametrize("backend", ["memory", "delta"])
def test_failed_round_releases_persisted_frames(spark, tmp_path, backend):
    """A round that raises (strict mode, unknown target) must not leave
    round-scoped persisted frames or state checkpoints behind in the
    caller's session."""
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

        return pd.DataFrame({"dst": [999_999], "msg": [0]})

    store = {}
    if backend == "delta":
        store = dict(state_store_dir=str(tmp_path / "store"), n_buckets=8)
    jsc = spark.sparkContext._jsc

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    with pytest.raises(ValueError, match="Target vertex does not exist"):
        PCEngine(spark).run(
            blocks=blocks,
            state=state,
            kernel=kernel,
            msg_schema="dst long, msg long",
            update="min",
            frontier_fn=lambda s: s.select("id", "value"),
            max_iter=2,
            strict=True,
            **store,
        )
    assert persisted() - before == set()

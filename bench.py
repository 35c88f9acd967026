"""Headline benchmark: prints ONE JSON line with per-query seconds.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32).

Queries:
  * derive          — source-code table -> file dependency edges (Spark SQL)
  * pagerank        — partition-centric PageRank to L1 < 1e-6 on that graph
  * cc              — connected components to convergence
  * sssp            — weighted SSSP (mode: see below)
  * label_prop      — 5 rounds synchronous LPA
  * triangles       — exact triangle count (canonical 3-way join)
  * minhash_dedup   — MinHash+LSH near-dup candidates on documents
  * simhash         — portable 64-bit SimHash (no-explode fold) on documents
  * knn             — brute-force cosine top-3 for 20 queries on embeddings
  * knn_ivf         — trained IVF (deterministic k-means + 2-probe ANN)

Measurement protocol (r4 VERDICT #4): every query runs
``$SPARK_GRAFT_BENCH_REPEATS`` times (default 3 at sf<=0.5, 1 above)
and the HEADLINE per-query number is the MEDIAN; per-run times ride in
``extras["spread"]`` so a drifting host is falsifiable from the JSON
alone.  Run 1 additionally warms the page cache, so the median is the
steady-state cost — the number that matters at scale, where inputs are
read from a warm distributed cache anyway.

One-time topology builds (block store / CSR packing) are timed
SEPARATELY in ``extras["build_*_sec"]`` — at scale the store is built
once and amortized over every algorithm run on the graph, so including
it in a query's number misstates the steady-state cost (r3 VERDICT #6).

SSSP mode (``$SPARK_GRAFT_SSSP_MODE``: classic | delta):
defaults to ``classic`` below sf 1 (the in-memory checkpoint wins when
the whole state fits — the delta store's fixed per-round parquet
round-trip dominates under ~10M vertices) and ``delta`` at sf >= 1
(O(changed)-per-round, the fastest model in the 316M-edge four-way A/B,
BENCH/sssp_inc_316m_r4.json).

The graph input is the import graph derived from a deterministic
synthetic source-code table (seed 42, size scaled to the sf dir) — the
north-rule input shape; the documents/embeddings queries read the sf
tables directly.  Extra keys: per-superstep metrics used by
BENCH/BASELINE.md (edges/sec per superstep, scaling runs).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_FILES = {"0.001": 4_000, "0.01": 20_000, "0.1": 100_000}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_files = SF_FILES.get(sf, 100_000)
    sf_num = float(sf)
    repeats = int(
        os.environ.get(
            "SPARK_GRAFT_BENCH_REPEATS", "3" if sf_num <= 0.5 else "1"
        )
    )

    from pyspark.sql import functions as F

    from pcgraph import derive, fixtures
    from pcgraph.algos.cc import connected_components, symmetrize
    from pcgraph.algos.labelprop import label_propagation
    from pcgraph.algos.pagerank import pagerank
    from pcgraph.algos.sssp import sssp
    from pcgraph.algos.triangles import triangles_df
    from pcgraph.datapipe.dedup import near_duplicates, simhash_portable
    from pcgraph.datapipe.similarity import cosine_topk_bruteforce, cosine_topk_ivf
    from pcgraph.session import get_spark

    spark = get_spark(app_name="pcgraph-bench", cores=cpus, shuffle_partitions=cpus)
    num_partitions = max(cpus, 16)

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    extras: dict[str, object] = {
        "cpus": cpus,
        "n_files": n_files,
        "bench_protocol": {
            "repeats": repeats,
            "aggregation": "median",
            "note": "run 1 warms the page cache; median = steady-state",
        },
    }

    def timed(name, fn):
        """Run ``fn`` ``repeats`` times; headline = median, runs kept."""
        runs: list[float] = []
        ret = None
        for _ in range(repeats):
            t0 = time.monotonic()
            ret = fn()
            runs.append(round(time.monotonic() - t0, 3))
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = {"runs": runs, "min": min(runs), "max": max(runs)}
        return ret

    # -- input prep (not timed as a query): synth source table to parquet
    src_path = f"/tmp/pcgraph_bench_source_sf{sf}.parquet"
    if not os.path.exists(src_path):
        pdf = fixtures.bench_source_pdf(n_files=n_files)
        spark.createDataFrame(
            pdf,
            schema="repo string, path string, commit string, lang string, content string",
        ).write.mode("overwrite").parquet(src_path)
    source = spark.read.parquet(src_path)

    def q_derive():
        derive.dependency_edges(source, level="file").write.mode(
            "overwrite"
        ).parquet("/tmp/pcgraph_bench_edges.parquet")

    timed("derive", q_derive)
    edges = spark.read.parquet("/tmp/pcgraph_bench_edges.parquet")
    n_edges = edges.count()
    extras["n_edges"] = n_edges

    # Block mode: store mode is the default (topology read worker-side —
    # the recommended at-scale path).  SPARK_GRAFT_STORE=0 switches back
    # to cogroup mode.
    use_store = os.environ.get("SPARK_GRAFT_STORE", "1") == "1"
    extras["block_mode"] = "store" if use_store else "cogroup"
    store_root = f"/tmp/pcgraph_bench_store_sf{sf}"

    from pcgraph.partition import build_blocks, ensure_block_store

    def build(e, tag, weighted=False, expected=None):
        if use_store:
            return ensure_block_store(
                spark, e, num_partitions, os.path.join(store_root, tag),
                weighted=weighted, tag=tag, expected_edges=expected,
            )
        return build_blocks(spark, e, num_partitions, weighted=weighted)

    # one-time topology builds — timed separately (see module docstring);
    # expected_edges fingerprints the store against regenerated input
    t0 = time.monotonic()
    blocks_pr = build(edges, "directed", expected=n_edges)
    extras["build_directed_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    sym = symmetrize(edges)
    blocks_sym = build(sym, "sym")
    extras["build_sym_sec"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    blocks_w = build(edges, "directed-w", weighted=True, expected=n_edges)
    extras["build_weighted_sec"] = round(time.monotonic() - t0, 3)

    def q_pagerank():
        pr, hist = pagerank(
            spark, edges, tol=1e-6, max_iter=50,
            num_partitions=num_partitions, blocks=blocks_pr,
        )
        pr.count()
        return hist

    pr_hist = timed("pagerank", q_pagerank)
    superstep_sec = sum(h["round_sec"] for h in pr_hist)
    extras["pagerank_supersteps"] = len(pr_hist)
    extras["pagerank_l1_final"] = pr_hist[-1]["l1"]
    extras["pagerank_superstep_sec"] = round(superstep_sec, 3)
    extras["pagerank_edges_per_sec_per_superstep"] = round(
        n_edges * len(pr_hist) / superstep_sec, 1
    )

    def q_cc():
        cc, hist = connected_components(
            spark, edges, num_partitions=num_partitions, blocks=blocks_sym
        )
        cc.count()
        return hist

    cc_hist = timed("cc", q_cc)
    extras["cc_supersteps"] = len(cc_hist)

    # weighted SSSP from the smallest vertex id (mode: module docstring)
    sssp_mode = os.environ.get(
        "SPARK_GRAFT_SSSP_MODE", "delta" if sf_num >= 1 else "classic"
    )
    if sssp_mode not in ("classic", "delta"):
        raise ValueError(f"SPARK_GRAFT_SSSP_MODE must be classic or delta, got {sssp_mode!r}")
    source_id = int(edges.agg(F.min("src")).collect()[0][0])
    sssp_state_root = f"/tmp/pcgraph_bench_sssp_state_sf{sf}"

    def q_sssp():
        kwargs = {}
        if sssp_mode != "classic":
            kwargs = {
                "incremental": True,
                "state_store_dir": sssp_state_root,
            }
        sp, hist = sssp(
            spark, edges, source=source_id, num_partitions=num_partitions,
            blocks=blocks_w, **kwargs,
        )
        sp.count()
        return hist

    sp_hist = timed("sssp", q_sssp)
    extras["sssp_supersteps"] = len(sp_hist)
    extras["sssp_active_per_round"] = [h["active"] for h in sp_hist]
    extras["sssp_mode"] = sssp_mode

    def q_lp():
        lp, _ = label_propagation(
            spark, edges, max_iter=5, num_partitions=num_partitions,
            blocks=blocks_sym,
        )
        lp.count()

    timed("label_prop", q_lp)

    def q_tri():
        return triangles_df(symmetrize(edges)).count()

    extras["n_triangles"] = timed("triangles", q_tri)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    timed("minhash_dedup", lambda: near_duplicates(docs, threshold=0.2).count())
    timed("simhash", lambda: simhash_portable(docs).count())

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    timed(
        "knn",
        lambda: cosine_topk_bruteforce(
            emb, emb.filter(F.col("vec_id") < 20), k=3
        ).count(),
    )
    timed(
        "knn_ivf",
        lambda: cosine_topk_ivf(
            emb, emb.filter(F.col("vec_id") < 20), k=3, n_centroids=8,
            iters=2, n_probe=2,
        ).count(),
    )

    # honesty metric for the ANN trade (not timed as a query): recall@3
    # of the default 8-centroid/2-probe IVF config vs exact brute force
    from pcgraph.datapipe.similarity import ivf_recall

    extras["ivf_recall_at3"] = round(
        ivf_recall(
            emb, emb.filter(F.col("vec_id") < 20), k=3, n_centroids=8,
            iters=2, n_probe=2,
        ),
        4,
    )
    extras["spread"] = spread

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_num,
                "extras": extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

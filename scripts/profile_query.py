"""Per-stage profiling of individual bench queries (guide §1: measure
first).  Runs ONE query from the bench's shape with spark.ui enabled and
dumps every completed stage's (name, duration, tasks, shuffle bytes,
python-eval presence) plus per-round history, so per-round wall time can
be attributed to stages.

Usage: python scripts/profile_query.py <query> [repeats]
Queries: pagerank cc sssp label_prop triangles minhash simhash knn knn_ivf derive
"""

from __future__ import annotations

import json
import os
import sys
import time
from urllib.request import urlopen

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_FILES = {"0.001": 4_000, "0.01": 20_000, "0.1": 100_000}


def dump_stages(spark, out_path):
    sc = spark.sparkContext
    url = sc.uiWebUrl
    app_id = sc.applicationId
    with urlopen(
        f"{url}/api/v1/applications/{app_id}/stages?status=complete", timeout=30
    ) as fh:
        stages = json.load(fh)
    rows = []
    for st in stages:
        rows.append(
            {
                "stageId": st["stageId"],
                "attempt": st["attemptId"],
                "name": st.get("name", ""),
                "numTasks": st.get("numTasks"),
                "submissionTime": st.get("submissionTime"),
                "completionTime": st.get("completionTime"),
                "executorRunTime": st.get("executorRunTime"),
                "executorCpuTime": (st.get("executorCpuTime") or 0) / 1e6,
                "executorDeserializeTime": st.get("executorDeserializeTime"),
                "jvmGcTime": st.get("jvmGcTime"),
                "shuffleReadBytes": st.get("shuffleReadBytes"),
                "shuffleWriteBytes": st.get("shuffleWriteBytes"),
                "inputBytes": st.get("inputBytes"),
                "schedulerDelay": st.get("schedulerDelay"),
                "details_first_line": (st.get("details") or "").split("\n")[0],
            }
        )
    rows.sort(key=lambda r: r["stageId"])
    with open(out_path, "w") as fh:
        json.dump(rows, fh, indent=1)
    print(f"wrote {len(rows)} stages to {out_path}")


def main():
    query = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import functions as F

    from pcgraph import derive, fixtures
    from pcgraph.session import get_spark

    spark = get_spark(
        app_name=f"profile-{query}",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4099"},
    )
    num_partitions = max(cpus, 16)

    src_path = f"/tmp/pcgraph_bench_source_sf{sf}.parquet"
    if not os.path.exists(src_path):
        pdf = fixtures.bench_source_pdf(n_files=SF_FILES.get(sf, 100_000))
        spark.createDataFrame(
            pdf,
            schema="repo string, path string, commit string, lang string, content string",
        ).write.mode("overwrite").parquet(src_path)
    source = spark.read.parquet(src_path)
    edges_path = "/tmp/pcgraph_bench_edges.parquet"
    if not os.path.exists(os.path.join(edges_path, "_SUCCESS")):
        derive.dependency_edges(source, level="file").write.mode(
            "overwrite"
        ).parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    store_root = f"/tmp/pcgraph_bench_store_sf{sf}"

    from pcgraph.algos.cc import connected_components, symmetrize
    from pcgraph.algos.labelprop import label_propagation
    from pcgraph.algos.pagerank import pagerank
    from pcgraph.algos.sssp import sssp
    from pcgraph.algos.triangles import triangles_df
    from pcgraph.datapipe.dedup import near_duplicates, simhash_portable
    from pcgraph.datapipe.similarity import cosine_topk_bruteforce, cosine_topk_ivf
    from pcgraph.partition import ensure_block_store

    def build(e, tag, weighted=False, expected=None):
        return ensure_block_store(
            spark, e, num_partitions, os.path.join(store_root, tag),
            weighted=weighted, tag=tag, expected_edges=expected,
        )

    hist = None
    if query == "pagerank":
        blocks = build(edges, "directed", expected=n_edges)

        def run():
            pr, h = pagerank(
                spark, edges, tol=1e-6, max_iter=50,
                num_partitions=num_partitions, blocks=blocks,
            )
            pr.count()
            return h

    elif query == "cc":
        blocks = build(symmetrize(edges), "sym")

        def run():
            cc, h = connected_components(
                spark, edges, num_partitions=num_partitions, blocks=blocks
            )
            cc.count()
            return h

    elif query == "sssp":
        blocks = build(edges, "directed-w", weighted=True, expected=n_edges)
        source_id = int(edges.agg(F.min("src")).collect()[0][0])

        def run():
            sp, h = sssp(
                spark, edges, source=source_id,
                num_partitions=num_partitions, blocks=blocks,
            )
            sp.count()
            return h

    elif query == "label_prop":
        blocks = build(symmetrize(edges), "sym")

        def run():
            lp, h = label_propagation(
                spark, edges, max_iter=5, num_partitions=num_partitions,
                blocks=blocks,
            )
            lp.count()
            return h

    elif query == "triangles":
        def run():
            return triangles_df(symmetrize(edges)).count()

    elif query == "minhash":
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

        def run():
            return near_duplicates(docs, threshold=0.2).count()

    elif query == "simhash":
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

        def run():
            # count the column: a bare .count() prunes it to a scan
            return simhash_portable(docs).agg(F.count("simhash")).collect()

    elif query == "knn":
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

        def run():
            return cosine_topk_bruteforce(
                emb, emb.filter(F.col("vec_id") < 20), k=3
            ).count()

    elif query == "knn_ivf":
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

        def run():
            return cosine_topk_ivf(
                emb, emb.filter(F.col("vec_id") < 20), k=3, n_centroids=8,
                iters=2, n_probe=2,
            ).count()

    elif query == "derive":
        def run():
            derive.dependency_edges(source, level="file").write.mode(
                "overwrite"
            ).parquet("/tmp/pcgraph_profile_edges.parquet")

    else:
        raise SystemExit(f"unknown query {query}")

    times = []
    for i in range(repeats):
        spark.sparkContext.setJobDescription(f"{query} run {i}")
        t0 = time.monotonic()
        hist = run()
        times.append(round(time.monotonic() - t0, 3))
    print(f"{query}: runs={times}")
    if isinstance(hist, list):
        for h in hist:
            print(
                "  round", h.get("superstep"), "sec", h.get("round_sec"),
                "active", h.get("active"),
            )
    dump_stages(spark, f"/tmp/profile_{query}_stages.json")
    spark.stop()


if __name__ == "__main__":
    main()

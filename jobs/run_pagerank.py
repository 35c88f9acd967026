"""spark-submit entry: PageRank over an edge table (or a source table).

Usage:
  spark-submit --py-files pcgraph.zip jobs/run_pagerank.py \
      --edges <parquet with columns src,dst[,weight]> --out <parquet> \
      [--source <parquet source-code table (repo,path,commit,lang,content)> \
       --level repo|file]  (derive edges instead of reading them) \
      [--damping 0.85] [--tol 1e-6] [--partitions P] [--max-iter N] \
      [--weighted] [--salt-threshold T] \
      [--checkpoint-dir DIR] [--resume-from DIR]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", default=None)
    ap.add_argument("--source", default=None)
    ap.add_argument("--level", default="repo", choices=["repo", "file"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--damping", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--weighted", action="store_true")
    ap.add_argument("--salt-threshold", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--checkpoint-every", type=int, default=1)
    ap.add_argument("--resume-from", default=None)
    ap.add_argument("--store-dir", default=None,
                    help="block-store directory (built on first use, "
                         "reused after); default: a temp store deleted "
                         "on return (local masters only)")
    args = ap.parse_args()
    if (args.edges is None) == (args.source is None):
        ap.error("exactly one of --edges / --source is required")

    from pcgraph import derive
    from pcgraph.algos.pagerank import pagerank

    spark = SparkSession.builder.appName("pcgraph-pagerank").getOrCreate()
    if args.source:
        edges = derive.dependency_edges(
            spark.read.parquet(args.source), level=args.level
        )
    else:
        edges = spark.read.parquet(args.edges)
    result, history = pagerank(
        spark,
        edges,
        damping=args.damping,
        tol=args.tol,
        max_iter=args.max_iter,
        num_partitions=args.partitions,
        weighted=args.weighted,
        salt_threshold=args.salt_threshold,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_every=args.checkpoint_every,
        store_dir=args.store_dir,
        resume_from=args.resume_from,
    )
    result.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"algorithm": "pagerank", "rounds": history}))
    spark.stop()


if __name__ == "__main__":
    main()

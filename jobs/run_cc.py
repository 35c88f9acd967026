"""spark-submit entry: connected components over an edge table.

Usage:
  spark-submit --py-files pcgraph.zip jobs/run_cc.py \
      --edges <parquet dir or file with columns src,dst> \
      --out <output parquet> [--partitions P] [--max-iter N] \
      [--checkpoint-dir DIR] [--resume-from DIR] [--salt-threshold T]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--max-iter", type=int, default=200)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--checkpoint-every", type=int, default=1)
    ap.add_argument("--resume-from", default=None,
                    help="continue from the newest committed round under "
                         "DIR, in the state backend that committed it "
                         "(--incremental is not needed)")
    ap.add_argument("--store-dir", default=None,
                    help="block-store directory (built on first use, "
                         "reused after); default: a temp store deleted "
                         "on return (local masters only)")
    ap.add_argument("--salt-threshold", type=int, default=None)
    ap.add_argument("--incremental", action="store_true",
                    help="delta state store: each round appends only its "
                         "changed labels, so sparse tail rounds cost "
                         "O(changed), not O(|V|); a resumed run takes its "
                         "backend from the checkpoint instead")
    ap.add_argument("--state-store-dir", default=None,
                    help="keep the delta state store here (selects it; "
                         "--incremental is then not needed); default with "
                         "--incremental: under --checkpoint-dir, else a "
                         "temp dir")
    args = ap.parse_args()

    from pcgraph.algos.cc import connected_components

    spark = SparkSession.builder.appName("pcgraph-cc").getOrCreate()
    edges = spark.read.parquet(args.edges)
    result, history = connected_components(
        spark,
        edges,
        num_partitions=args.partitions,
        max_iter=args.max_iter,
        salt_threshold=args.salt_threshold,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_every=args.checkpoint_every,
        store_dir=args.store_dir,
        resume_from=args.resume_from,
        incremental=args.incremental,
        state_store_dir=args.state_store_dir,
    )
    result.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"algorithm": "connected_components", "rounds": history}))
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry: single-source shortest paths over a weighted edge table.

Usage:
  spark-submit --py-files pcgraph.zip jobs/run_sssp.py \
      --edges <parquet src,dst,weight> --source ID --out <parquet> \
      [--partitions P] [--max-iter N] [--checkpoint-dir DIR] [--resume-from DIR]
      [--store-dir DIR] [--incremental] [--state-store-dir DIR]

``--incremental`` keeps the vertex state in the delta state store:
each wavefront round appends only the distances it improved
(O(changed), not O(|V|)); on a cluster pass a shared-FS
--state-store-dir (defaults under --checkpoint-dir when set).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", required=True)
    ap.add_argument("--source", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--max-iter", type=int, default=200)
    ap.add_argument("--salt-threshold", type=int, default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume-from", default=None)
    ap.add_argument("--store-dir", default=None)
    ap.add_argument("--incremental", action="store_true",
                    help="delta state store: each round appends only the "
                         "distances it improved (O(changed), not O(|V|))")
    ap.add_argument("--state-store-dir", default=None)
    args = ap.parse_args()

    from pcgraph.algos.sssp import sssp

    spark = SparkSession.builder.appName("pcgraph-sssp").getOrCreate()
    result, history = sssp(
        spark,
        spark.read.parquet(args.edges),
        source=args.source,
        num_partitions=args.partitions,
        max_iter=args.max_iter,
        salt_threshold=args.salt_threshold,
        checkpoint_dir=args.checkpoint_dir,
        resume_from=args.resume_from,
        store_dir=args.store_dir,
        incremental=args.incremental,
        state_store_dir=args.state_store_dir,
    )
    result.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"algorithm": "sssp", "rounds": history}))
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north rule: spark-submit --py-files at N and 4N executors):

    zip -qr /tmp/kgms.zip kg_microbe_spark      # from the repository root
    spark-submit --py-files /tmp/kgms.zip \
        scripts/run_pipeline.py \
        --pages-path <iceberg-or-parquet pages table> \
        --output /data/kg_out --checkpoint-dir /data/kg_ckpt --tau 0.0

The session comes from ``kg_microbe_spark.session.get_spark`` (AQE, Arrow
batch cap, UTC, ...); spark-submit's ``--master`` applies unless
``--master`` is given here or SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS is set.

Local smoke: python scripts/run_pipeline.py --n-pages 2000 --output /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-path", default=None, help="parquet/Iceberg pages table; omit to synthesize")
    ap.add_argument("--n-pages", type=int, default=10000, help="synthetic corpus size when no --pages-path")
    ap.add_argument("--tau", type=float, default=0.0)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--master", default=None, help="override master (default: spark-submit / env)")
    args = ap.parse_args()

    from kg_microbe_spark.plans.checkpoint import CheckpointManager
    from kg_microbe_spark.plans.pipeline import run_pipeline
    from kg_microbe_spark.session import get_spark
    from kg_microbe_spark.sources.synthetic import lexicon_df, pages_df

    spark = get_spark(app_name="kg_microbe_spark_pipeline", master=args.master)

    pages = spark.read.parquet(args.pages_path) if args.pages_path else pages_df(spark, args.n_pages)
    ckpt = CheckpointManager(spark, args.checkpoint_dir) if args.checkpoint_dir else None

    t0 = time.time()
    res = run_pipeline(spark, pages, lexicon_df(spark), tau=args.tau, checkpoint=ckpt)
    res.edges.write.mode("overwrite").parquet(os.path.join(args.output, "edges"))
    res.nodes.write.mode("overwrite").parquet(os.path.join(args.output, "nodes"))
    res.drop_report.write.mode("overwrite").parquet(os.path.join(args.output, "drop_report"))
    summary = {
        "wall_sec": round(time.time() - t0, 2),
        "n_edges": res.edges.count(),
        "n_nodes": res.nodes.count(),
        "run_id": ckpt.run_id if ckpt else None,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()

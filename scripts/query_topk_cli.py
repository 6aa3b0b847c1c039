"""spark-submit entry point: saved index + queries → top-k results.

    scripts/make_pyfiles.sh   # → dist/splade_spark.zip
    spark-submit --py-files dist/splade_spark.zip scripts/query_topk_cli.py \
        --index /data/index --queries /data/queries.parquet \
        --output /data/results [--k 10] [--strategy wand]
"""

from __future__ import annotations

import argparse
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True, help="parquet: query_id, text")
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--strategy", default="wand",
                    choices=["wand", "exhaustive", "local"])
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from splade_spark.operators.indexing import InvertedIndex
    from splade_spark.operators.query import retrieve
    from splade_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="splade_query_topk")
    idx = InvertedIndex.load(spark, args.index)
    queries = spark.read.parquet(args.queries)
    res = retrieve(idx, queries, k=args.k, strategy=args.strategy)
    res.write.mode("overwrite").parquet(args.output)
    print(f"wrote {args.output}")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

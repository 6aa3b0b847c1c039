"""spark-submit entry point: the curation loop over a LIVE index.

Find near-duplicates in a corpus, resolve clusters, and REMOVE the
non-survivors from an already-built index without re-tokenizing the kept
corpus — the dedup → drop → serve cycle a training-data pipeline runs
continuously::

    scripts/make_pyfiles.sh   # → dist/splade_spark.zip
    spark-submit --py-files dist/splade_spark.zip scripts/curate_cli.py \
        --corpus /data/pages --index /data/index --output /data/index_v2 \
        [--id-col url --text-col text] \
        [--n-hashes 128 --rows-per-band 4 --bucket-cap 1000] \
        [--decontam-eval /data/benchmark --decontam-ngram 13]

Steps (each a library operator, all oracle/test-gated):

0. (``--snapshot-dedup``) ``weburl.latest_snapshot`` — canonicalize the
   URL id column and keep only the newest crawl snapshot per canonical
   URL; older snapshots join the tombstone set. One hash-partitioned
   window with map-side WindowGroupLimit — run this FIRST so the
   MinHash stage never shingles superseded snapshots;
0.5 (``--decontam-eval``) ``decontam.contamination_stats`` — drop every
   doc sharing a distinct n-gram with the held-out eval set (the
   GPT-3/Llama rule); the eval n-gram set is broadcast so this stage
   adds no corpus shuffle;
1. ``deduplicate_corpus`` — MinHash+LSH candidates (bucketed equi-join,
   over-cap boilerplate routed to the linear fingerprint pass) →
   connected components → deterministic min-id survivor drop list;
2. ``apply_tombstones`` — the union of all drop sets applied to the
   loaded index with exact df/idf/avgdl update (bit-identical to a
   rebuild on kept docs);
3. save the curated index + a JSON summary.

Runs unchanged on a cluster master; the local default exists so the same
command works in this sandbox.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_repo_root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, _repo_root)
os.environ["PYTHONPATH"] = os.path.abspath(_repo_root) + os.pathsep + os.environ.get(
    "PYTHONPATH", "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True,
                    help="parquet path or Iceberg table identifier")
    ap.add_argument("--index", required=True, help="built index directory")
    ap.add_argument("--output", required=True,
                    help="output directory for the curated index")
    ap.add_argument("--format", default="auto",
                    choices=("auto", "parquet", "iceberg"))
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--n-hashes", type=int, default=128)
    ap.add_argument("--rows-per-band", type=int, default=4)
    ap.add_argument("--shingle-n", type=int, default=3)
    ap.add_argument("--bucket-cap", type=int, default=1000)
    ap.add_argument("--snapshot-dedup", action="store_true",
                    help="first keep only the newest snapshot per "
                         "canonical URL (id column must be a URL)")
    ap.add_argument("--ts-col", default="warc_ts",
                    help="snapshot timestamp column for --snapshot-dedup")
    ap.add_argument("--decontam-eval", default=None,
                    help="parquet path of the held-out eval set; docs "
                         "overlapping it by n-gram are tombstoned")
    ap.add_argument("--decontam-ngram", type=int, default=13)
    ap.add_argument("--decontam-max-hits", type=int, default=0)
    ap.add_argument("--decontam-text-col", default=None,
                    help="eval-set text column (defaults to --text-col)")
    ap.add_argument("--drop-list-out", default=None,
                    help="optional parquet path for the full per-doc drop list")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from splade_spark.operators.dedup import deduplicate_corpus
    from splade_spark.operators.indexing import InvertedIndex
    from splade_spark.operators.merge import apply_tombstones
    from splade_spark.session import get_spark
    from splade_spark.sources.corpus import read_table

    spark = get_spark(master=args.master, app_name="splade_curate")
    raw = read_table(spark, args.corpus, args.format)

    n_snap_drop, t_snap = 0, 0.0
    snap_drops = None
    if args.snapshot_dedup:
        from splade_spark.operators.weburl import latest_snapshot

        t0 = time.perf_counter()
        kept = latest_snapshot(
            raw, url_col=args.id_col, ts_col=args.ts_col
        ).persist()
        snap_drops = raw.join(
            kept.select(args.id_col), on=args.id_col, how="left_anti"
        ).select(F.col(args.id_col).alias("doc_id"))
        n_snap_drop = snap_drops.count()
        t_snap = time.perf_counter() - t0
        raw = kept

    docs = raw.select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )

    n_contam, t_decontam = 0, 0.0
    contam_drops = None
    if args.decontam_eval:
        from splade_spark.operators.decontam import contamination_stats

        t0 = time.perf_counter()
        eval_docs = spark.read.parquet(args.decontam_eval)
        stats = contamination_stats(
            docs, eval_docs,
            text_col="text",
            eval_text_col=args.decontam_text_col or args.text_col,
            n=args.decontam_ngram,
            hash_ngrams=True,
        )
        contam_drops = (
            stats.filter(F.col("n_hit") > args.decontam_max_hits)
            .select("doc_id").persist()
        )
        n_contam = contam_drops.count()
        t_decontam = time.perf_counter() - t0
        docs = docs.join(contam_drops, "doc_id", "left_anti")

    t0 = time.perf_counter()
    drop_list = deduplicate_corpus(
        docs,
        n_hashes=args.n_hashes,
        rows_per_band=args.rows_per_band,
        shingle_n=args.shingle_n,
        bucket_cap=args.bucket_cap,
    ).persist()
    if args.drop_list_out:
        drop_list.write.mode("overwrite").parquet(args.drop_list_out)
    drops = drop_list.filter(~F.col("keep")).select("doc_id")
    n_drop = drops.count()
    t_dedup = time.perf_counter() - t0
    if snap_drops is not None:
        drops = drops.unionByName(snap_drops).distinct()
    if contam_drops is not None:
        drops = drops.unionByName(contam_drops).distinct()

    t0 = time.perf_counter()
    idx = InvertedIndex.load(spark, args.index)
    curated = apply_tombstones(idx, drops)
    curated.save(args.output)
    t_fold = time.perf_counter() - t0

    print(json.dumps({
        "stage": "curate", "output": args.output,
        "n_docs_before": int(idx.meta["n_docs"]),
        "n_snapshot_dropped": int(n_snap_drop),
        "n_contaminated_dropped": int(n_contam),
        "n_neardup_dropped": int(n_drop),
        "n_docs_after": int(curated.meta["n_docs"]),
        "snapshot_sec": round(t_snap, 2),
        "decontam_sec": round(t_decontam, 2),
        "dedup_sec": round(t_dedup, 2), "tombstone_sec": round(t_fold, 2),
    }))
    drop_list.unpersist()
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())

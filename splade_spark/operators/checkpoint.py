"""Resumable index builds: per-partition lineage + metric checkpoints.

North-rule engine addition (no reference counterpart — the closest
construct is the per-rank shard manifest,
/root/reference/src/indexing/sparse_index.py:437-452,455-499, which lets
the reference's index stage enumerate completed encode shards; this module
generalizes that into a write-audit-commit log so a killed build restarts
without redoing finished work).

Layout under ``out_dir``::

    shards/tf/bucket=<b>/*.parquet     (doc_id, term, tf)
    shards/dl/bucket=<b>/*.parquet     (doc_id, dl)
    build_log/*.parquet                (bucket, input_fingerprint, doc_count,
                                        nnz, run_wall_ms, status, attempt)

Protocol:
  1. bucket = pmod(xxhash64(doc_id), n_buckets) — deterministic, so a
     restart sees the same doc→bucket assignment regardless of cluster
     size or input partitioning.
  2. Committed buckets are read from build_log; only missing buckets are
     tokenized, in ONE Spark job writing both shard tables with dynamic
     partition overwrite (a crashed half-written bucket is simply
     overwritten on retry — parquet task-commit protocol keeps readers
     from ever seeing partial files).
  3. The build_log row is appended ONLY after the shard write completes:
     the log row IS the commit record (write → audit → commit).
  4. Stage 2 (``build_index_from_shards``) reads all committed shards and
     runs the ordinary index build (indexing.index_from_tf): the same
     doc numbering, task width and finisher as ``build_index``, so the
     resumed index equals a direct build of the same corpus.

At 10^12 docs the bucket count is sized so one bucket ≈ one retryable
unit of work (e.g. 10k buckets of ~10^8 docs); the log table stays tiny.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.tokenize import tokens_col
from ..session import local_frame
from .indexing import InvertedIndex, index_from_tf

LOG_SCHEMA = (
    "bucket INT, input_fingerprint BIGINT, doc_count BIGINT, nnz BIGINT, "
    "run_wall_ms BIGINT, status STRING, attempt INT"
)


def _log_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "build_log")


def read_build_log(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the commit log, reconciling schema generations: the timing
    column was named ``wall_ms`` before round 3, and a log directory a
    partial build wrote back then may receive post-rename appends — a
    plain read samples ONE file's schema and can null out or drop the
    column. mergeSchema unions both generations; the legacy column is
    coalesced into ``run_wall_ms`` so resumes read one stable shape."""
    path = _log_dir(out_dir)
    if not os.path.isdir(path):
        return local_frame(spark, [], LOG_SCHEMA)
    log = spark.read.option("mergeSchema", "true").parquet(path)
    if "wall_ms" in log.columns:
        if "run_wall_ms" in log.columns:
            log = log.withColumn(
                "run_wall_ms", F.coalesce("run_wall_ms", "wall_ms")
            )
        else:
            log = log.withColumn("run_wall_ms", F.col("wall_ms"))
        log = log.drop("wall_ms")
    return log


def committed_buckets(spark: SparkSession, out_dir: str) -> dict[int, int]:
    """bucket -> latest attempt number, for committed buckets."""
    log = read_build_log(spark, out_dir)
    rows = (
        log.filter(F.col("status") == "committed")
        .groupBy("bucket").agg(F.max("attempt").alias("attempt"))
        .collect()
    )
    return {int(r["bucket"]): int(r["attempt"]) for r in rows}


def encode_corpus_resumable(
    docs: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    only_buckets: list[int] | None = None,
) -> dict:
    """Stage 1: tokenize the corpus into per-bucket tf/dl shards, skipping
    buckets already committed in the build log. ``only_buckets`` restricts
    this run's work (a bounded work-quota run; remaining buckets stay
    uncommitted for the next run). Returns a summary dict."""
    spark = docs.sparkSession
    done = committed_buckets(spark, out_dir)
    todo = sorted(set(range(n_buckets)) - set(done))
    if only_buckets is not None:
        todo = sorted(set(todo) & set(only_buckets))
    summary = {
        "n_buckets": n_buckets,
        "skipped_buckets": sorted(done),
        "processed_buckets": todo,
        "doc_count": 0,
        "nnz": 0,
    }
    if not todo:
        return summary

    t0 = time.perf_counter()
    base = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens_col(text_col, cfg.max_tokens).alias("tokens"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    if len(todo) < n_buckets:
        base = base.filter(F.col("bucket").isin(todo))
    base = base.persist()

    tf = (
        base.select("bucket", "doc_id", F.explode("tokens").alias("term"))
        .groupBy("bucket", "doc_id", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    dl = base.select(
        "bucket", "doc_id", F.size("tokens").cast("int").alias("dl"),
        # content fingerprint folded per bucket below — cheap, same pass
        F.xxhash64("doc_id", F.concat_ws("\x1f", "tokens")).alias("_fp"),
    ).persist()

    # dynamic overwrite: only the partitions present in this write are
    # replaced, committed buckets' files are untouched (session conf is
    # restored afterwards — callers may rely on the static default)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        tf.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(out_dir, "shards", "tf")
        )
        dl.select("bucket", "doc_id", "dl").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(out_dir, "shards", "dl"))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # audit: per-bucket metrics from what was just computed
    audit = (
        dl.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            # xor-fold is order-independent → deterministic across runs
            F.expr("cast(aggregate(collect_list(_fp), 0L, (a, x) -> a ^ x) as bigint)")
            .alias("input_fingerprint"),
        )
        .join(
            tf.groupBy("bucket").agg(F.count(F.lit(1)).alias("nnz")),
            "bucket", "left",
        )
        .collect()
    )
    # run_wall_ms is the wall time of the RUN that committed the bucket
    # (one job covers all of a run's buckets — a true per-bucket wall
    # does not exist in this execution model); summing it over a log
    # would over-count, group by (attempt, run_wall_ms) instead
    wall_ms = int((time.perf_counter() - t0) * 1000)
    audited = {int(r["bucket"]) for r in audit}
    log_rows = [
        (
            int(r["bucket"]), int(r["input_fingerprint"]), int(r["doc_count"]),
            int(r["nnz"] or 0), wall_ms, "committed", 1,
        )
        for r in audit
    ] + [
        # empty buckets (no docs hashed there) are committed with zero counts
        (b, 0, 0, 0, wall_ms, "committed", 1)
        for b in todo
        if b not in audited
    ]
    # commit: append the log rows LAST
    log = local_frame(spark, log_rows, LOG_SCHEMA).coalesce(1)
    log.write.mode("append").parquet(_log_dir(out_dir))

    summary["doc_count"] = int(sum(r["doc_count"] for r in audit))
    summary["nnz"] = int(sum((r["nnz"] or 0) for r in audit))
    base.unpersist()
    dl.unpersist()
    return summary


def build_index_from_shards(
    spark: SparkSession, out_dir: str, cfg: EngineConfig = DEFAULT
) -> InvertedIndex:
    """Stage 2: committed tf/dl shards → inverted index, built by
    ``index_from_tf`` (numbered, sized and finished like ``build_index``).
    Only committed buckets are read (pushed-down isin on the bucket
    partition column), so a log corrupted by a torn shard write can never
    leak half a bucket."""
    done = sorted(committed_buckets(spark, out_dir))
    if not done:
        raise ValueError(f"no committed buckets under {out_dir}")
    tf = spark.read.parquet(os.path.join(out_dir, "shards", "tf")).filter(
        F.col("bucket").isin(done)
    ).select("doc_id", "term", "tf")
    dl = spark.read.parquet(os.path.join(out_dir, "shards", "dl")).filter(
        F.col("bucket").isin(done)
    ).select("doc_id", "dl")
    idx = index_from_tf(tf, dl, cfg=cfg)
    idx.meta["resumable_buckets"] = len(done)
    return idx

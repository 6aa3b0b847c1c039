"""Deterministic, scale-safe global ID assignment.

Replaces the reference's implicit global doc numbering (shard order
``(rank, shard_id)`` then in-shard order,
/root/reference/src/indexing/sparse_index.py:498,643-656) with an explicit
contract: ``id = rank of key in ascending key order`` — reproducible
regardless of partitioning or cluster size (range boundaries may differ
between runs, but contiguous ordered ranges + in-partition sort always
produce the same global rank for a given key set).

Physical plan (terasort pattern, all JVM — no Python workers):
  repartitionByRange(key) → sortWithinPartitions(key) → persist →
  per-partition counts (1 small job) → driver prefix-sums →
  ``id = offsets[spark_partition_id()] + row``, where ``row`` is the low
  bits of monotonically_increasing_id and ``offsets`` is the exclusive
  prefix-sum array, inlined in the plan as one literal (8 bytes per
  partition) — no offsets table, no join, no broadcast exchange.

A ``Window.orderBy(key)`` row_number would funnel 10^12 rows through ONE
partition; this stays fully parallel, and the only driver-side state is
one long per partition.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# monotonically_increasing_id layout: upper bits = partition id, lower 33
# bits = row index within the partition (consecutive from 0)
_ROW_BITS = 33
_ROW_MASK = (1 << _ROW_BITS) - 1


def ranged_prefix_offsets(
    df: DataFrame,
    key: str,
    num_partitions: int,
    measures: dict[str, Column],
    checkpoint: bool = True,
) -> tuple[DataFrame, dict[str, list[int]], dict[str, int]]:
    """The terasort prefix-sum scaffold shared by every global-prefix
    operator (doc numbering here, the fused build numbering in
    operators/indexing.py, sequence packing in operators/packing.py):

      repartitionByRange(key) → sortWithinPartitions(key) → lazy
      localCheckpoint → ONE small per-partition aggregation job →
      driver-side prefix sums (one long per partition per measure).

    ``measures`` maps name → aggregate Column (e.g. ``F.count(lit(1))``,
    ``F.sum("dl")``). Returns ``(ranged, offsets, totals)`` where
    ``offsets`` maps each measure to its EXCLUSIVE prefix sums in
    partition order, one per partition id below ``num_partitions`` (a
    partition with no rows gets the running total), for
    :func:`partition_prefix`; and ``totals`` the grand totals.

    The checkpoint is the scaffold's load-bearing invariant (see
    assign_global_ids below for the full failure modes): without it the
    counts job and later data jobs re-sample range boundaries under
    different column-pruned plans and the per-partition offsets no
    longer describe the data the later jobs see. Callers that skip it
    (``checkpoint=False``) take on that risk knowingly.
    """
    ranged = df.repartitionByRange(
        num_partitions, F.col(key)
    ).sortWithinPartitions(key)
    if checkpoint:
        ranged = ranged.localCheckpoint(eager=False)
    rows = {
        int(r["_pid"]): r
        for r in ranged.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(*[expr.alias(n) for n, expr in measures.items()])
        .collect()
    }
    accs = {n: 0 for n in measures}
    offsets = {n: [] for n in measures}
    for pid in range(num_partitions):
        for n in measures:
            offsets[n].append(accs[n])
            if pid in rows:
                accs[n] += int(rows[pid][n] or 0)
    return ranged, offsets, accs


def partition_prefix(offsets: list[int], pid: Column) -> Column:
    """The long ``offsets[pid]``, looked up in a literal array. Under
    ANSI mode an out-of-range ``pid`` raises instead of yielding null."""
    return F.element_at(F.lit(np.array(offsets, dtype=np.int64)), pid + 1)


def row_in_partition() -> Column:
    """0-based row index within the current partition."""
    return F.monotonically_increasing_id().bitwiseAND(F.lit(_ROW_MASK))


def global_rank(offsets: list[int]) -> Column:
    """Long 0-based rank of each row of a ``ranged_prefix_offsets``
    result in key order: its partition's exclusive count prefix plus its
    row index in the partition. Valid only while each row still sits in
    its ranged partition (no shuffle in between)."""
    return (
        partition_prefix(offsets, F.spark_partition_id()) + row_in_partition()
    ).cast("long")


def assign_global_ids(
    df: DataFrame,
    key: str,
    id_col: str,
    num_partitions: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Add ``id_col`` (long, 0-based dense rank of ``key`` asc) to ``df``.

    Keys must be unique. The internal materialization of the ranged sort
    is a CORRECTNESS requirement, not a cache: the partition-counts job
    and the data job(s) would otherwise re-execute the range exchange
    under different column-pruned plans, and RangePartitioner re-SAMPLES
    its boundaries per plan — the same key can land in different
    partitions across jobs, misaligning the driver-side offsets (observed
    as id collisions). It is a LOCAL CHECKPOINT rather than a persist()
    because a persist lives in the plan-aware CacheManager, which
    INVALIDATES cached plans whenever their source path is written — e.g.
    a streaming micro-batch appending a new partition to the tf/dl table
    an index was built from would silently uncache the ranged sort and
    re-execute it against the GROWN table under the stale offsets
    (observed as an index whose doc_dim mutates after later stream
    batches). RDD-level checkpoint blocks are immune to that
    invalidation; if blocks are lost (executor death) the job fails
    loudly instead of recomputing wrong ids.
    """
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    # eager=False checkpoint: materializes inside the counts job (single
    # pass), then the lineage is truncated at the checkpointed blocks
    ranged, offsets, _totals = ranged_prefix_offsets(
        df, key, n_part, {"_n": F.count(F.lit(1))}, checkpoint=persist
    )
    return ranged.withColumn(id_col, global_rank(offsets["_n"]))

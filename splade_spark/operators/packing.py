"""Sequence packing for LLM pretraining: concatenate a corpus into one
deterministic token stream and cut it into fixed-length training
sequences, emitting per-(doc, sequence) span metadata.

The reference repo stops at retrieval; a training-data pipeline feeding
the same corpus to a pretraining run needs the packing step — the
operation that turns ragged documents into dense ``seq_len``-token
examples (GPT-style packing: docs are concatenated in a fixed order and
the stream is cut every ``seq_len`` tokens, so one document may span
several sequences and one sequence may hold several documents). The
output here is the packing PLAN (which token span of which doc lands
where in which sequence) — the metadata a writer needs to materialize
packed examples and attention-reset boundaries — not the token payload
itself, so the operator's output is O(docs + cuts), not O(tokens).

Determinism contract: documents are packed in ascending ``id_col``
order (the engine's O3 ordering discipline); rerunning on the same
corpus yields the identical plan regardless of partitioning or cluster
size.

Scale shape (the reason this is not a one-liner): the global token
offset of each document is a prefix sum over the corpus in id order. A
``Window.orderBy(id)`` cumsum would funnel 10^12 rows through ONE
partition; this module reuses the terasort pattern from
``operators.ids.assign_global_ids`` — repartitionByRange(id) →
sortWithinPartitions → one small per-partition totals job → driver
prefix-sums the per-PARTITION token totals (one long per partition) →
inline them in the plan as one literal array indexed by partition id.
The in-partition cumsum is a window partitioned BY the physical
partition, so it runs fully parallel (plan-audited: Window(partitionBy
_pid), no join for the offsets). Catalyst cannot see the checkpointed
RDD's partitioning, so the window inserts one extra hash exchange on
_pid — but that shuffle carries only (key, dl, pid, row), never the
corpus, and hashing on _pid keeps whole partitions together. Two narrow
shuffles total; the explode that follows emits one row per (doc,
overlapped sequence) — ~1 + dl/seq_len rows per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.tokenize import tokens_col
from .ids import partition_prefix, ranged_prefix_offsets, row_in_partition


def pack_sequences(
    docs: DataFrame,
    *,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    num_partitions: int | None = None,
) -> DataFrame:
    """Packing plan: one row per (document, training sequence it spans).

    Columns:

    - ``seq_id`` long — 0-based index of the training sequence
    - ``doc_id`` (input type) — the document
    - ``n_doc_tokens`` int — the doc's tokenized length (engine
      tokenizer, ``cfg.max_tokens`` truncation included)
    - ``tok_from`` / ``tok_to`` int — the doc's token span [from, to)
      landing in this sequence (0-based within the doc)
    - ``seq_off`` int — where that span starts within the sequence
      (0-based; a sequence is full iff its spans cover [0, seq_len))

    Zero-token documents occupy no stream positions and emit no rows.
    The final sequence is emitted partial (its spans cover fewer than
    ``seq_len`` positions); padding policy belongs to the writer.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    spark = docs.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism

    dl = docs.select(
        F.col(id_col).alias("_key"),
        F.size(tokens_col(text_col, cfg.max_tokens)).cast("long").alias("dl"),
    )
    # terasort prefix sum of dl in _key order — the shared scaffold
    # (ids.ranged_prefix_offsets) whose lazy checkpoint guards against
    # range-boundary re-sampling across jobs (failure modes documented
    # on ids.assign_global_ids).
    ranged, offsets, _totals = ranged_prefix_offsets(
        dl, "_key", n_part, {"_tok": F.sum("dl")}
    )

    # in-partition cumulative offset: window partitioned by the PHYSICAL
    # partition id — parallel across partitions, ordered by (_key) which
    # the ranged sort already established. _row breaks nothing (keys are
    # the order key); it is only there to keep the frame deterministic
    # if a caller ever packs duplicate keys.
    part = ranged.select(
        "*",
        F.spark_partition_id().alias("_pid"),
        row_in_partition().alias("_row"),
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("_row")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        part.withColumn("_local_off", F.coalesce(F.sum("dl").over(w), F.lit(0)))
        .select(
            F.col("_key"),
            F.col("dl"),
            # the window re-shuffled the rows, so the partition is the
            # _pid column, not spark_partition_id()
            (partition_prefix(offsets["_tok"], F.col("_pid"))
             + F.col("_local_off")).alias("off"),
        )
        .filter(F.col("dl") > 0)
    )
    L = F.lit(int(seq_len)).cast("long")
    # integer `div`, not float division: Divide on longs promotes to
    # double, which mis-rounds offsets past 2^53 — the module claims
    # 10^12-row scale, so the span bounds stay in exact long arithmetic
    n = int(seq_len)
    spans = off.select(
        "_key",
        "dl",
        "off",
        F.explode(
            F.expr(f"sequence(off div {n}, (off + dl - 1) div {n})")
        ).alias("seq_id"),
    )
    return spans.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("_key").alias(id_col),
        F.col("dl").cast("int").alias("n_doc_tokens"),
        F.greatest(F.lit(0).cast("long"), F.col("seq_id") * L - F.col("off"))
        .cast("int")
        .alias("tok_from"),
        F.least(F.col("dl"), (F.col("seq_id") + 1) * L - F.col("off"))
        .cast("int")
        .alias("tok_to"),
        F.greatest(F.lit(0).cast("long"), F.col("off") - F.col("seq_id") * L)
        .cast("int")
        .alias("seq_off"),
    )


def packing_stats(plan: DataFrame, *, seq_len: int) -> DataFrame:
    """One-row summary of a packing plan: sequence count, token totals,
    fill rate (packed positions / capacity incl. the partial tail), and
    docs-per-sequence moments — the numbers a pretraining run budgets
    from. Pure aggregation over the plan (no re-tokenization)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    per_seq = plan.groupBy("seq_id").agg(
        F.sum(F.col("tok_to") - F.col("tok_from")).alias("filled"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return per_seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_sequences"),
        F.sum("filled").cast("long").alias("total_tokens"),
        F.sum("n_docs").cast("long").alias("total_spans"),
        F.max("n_docs").cast("long").alias("max_docs_per_seq"),
        (
            F.sum("filled")
            / (F.count(F.lit(1)) * F.lit(int(seq_len)))
        ).alias("fill_rate"),
    )


def materialize_packed(
    docs: DataFrame,
    plan: DataFrame,
    *,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Turn a packing plan into the training examples themselves:
    ``(seq_id, n_docs, n_filled, seq_text)`` — one row per sequence,
    ``seq_text`` the space-joined tokens of the sequence's spans in
    stream order (every sequence except the last carries exactly
    ``seq_len`` tokens; padding stays the writer's policy).

    One pass: the plan joins the corpus on the doc key (both sides
    hash-partition on it; the plan is ~1 + dl/seq_len rows per doc),
    each row slices its span out of the doc's token array JVM-side, and
    one shuffle on ``seq_id`` reassembles fragments in ``seq_off``
    order via sort_array over (seq_off, fragment) structs — no
    Window, no Python. Token payload is materialized exactly once per
    token (spans are disjoint per doc by construction)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    toks = docs.select(
        F.col(id_col).alias("_key"),
        tokens_col(text_col, cfg.max_tokens).alias("_tokens"),
    )
    frags = (
        plan.select(
            "seq_id",
            F.col(id_col).alias("_key"),
            "tok_from",
            "tok_to",
            "seq_off",
        )
        .join(toks, "_key")
        .select(
            "seq_id",
            "seq_off",
            F.slice(
                "_tokens",
                F.col("tok_from") + 1,
                F.col("tok_to") - F.col("tok_from"),
            ).alias("_frag"),
        )
    )
    assembled = frags.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("_frag")).cast("long").alias("n_filled"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_off", "_frag"))
                    ),
                    lambda s: s["_frag"],
                )
            ),
            " ",
        ).alias("seq_text"),
    )
    return assembled.select("seq_id", "n_docs", "n_filled", "seq_text")

"""Inverted-index build: corpus → compressed, block-structured postings.

Reference semantics reproduced (SURVEY.md §3.2):
- pass-1 document-frequency counts
  (/root/reference/src/indexing/sparse_index.py:621-632) → ``groupBy(term).count``
- pass-2 postings gather, ascending doc order within a term
  (/root/reference/src/indexing/sparse_index.py:591-611,638-658) →
  shuffle on (term_id, block_id) + ``sort_array(collect_list(...))``
- strict ``weight > min_weight`` filter
  (/root/reference/src/indexing/sparse_index.py:65-68)
- per-doc top-k term cap (/root/reference/src/indexing/sparse_index.py:128-158)
- index metadata snapshot (/root/reference/script/index.py:104-123)

Engine additions (north rule, not in the reference):
- BM25 impact weights precomputed at index time so query-time accumulation
  is the reference's plain dot product (SURVEY.md §4.3.1)
- skew-split: a term with df > block_size is split into multiple blocks by
  contiguous doc_idx RANGE — `block_id = doc_idx // range_per_block` with
  `n_blocks = ceil(df / block_size)`. The composite shuffle key
  (term_id, block_id) is exactly a salted repartition-by-term where the
  salt is derived from df: head terms (df ≈ corpus size) fan out over
  many reducers instead of OOMing one task, and blocks keep disjoint
  doc ranges so min_doc/max_doc pruning and delta encoding stay tight.
- delta+varint compressed blocks with (min_doc, max_doc, max_weight)
  block-max metadata; blocks laid out impact-ordered (desc max_weight)
  within a term (SURVEY.md §2.6 O2 — documented layout deviation).
- per-partition lineage checkpoints → resumable builds (see checkpoint.py).
- one build core: ``build_index`` and the stage-2 ``index_from_tf``
  (resumable and streaming builds) number docs by rank of doc_id with
  ``_number_docs_with_stats`` and size their tasks from the corpus with
  ``_build_width``; they and the write-path fold (merge.py) finish in one
  ``_finish``. The stage-2 entry therefore gives ``build_index``'s index
  and pays only the doc_id string join.

At 100 TB: the only wide shuffles are groupBy(url/term) aggregations and
the (term_id, block_id) block build — all key-partitioned hash aggregates
with map-side partial aggregation; the dimension joins (doc_dim, term
stats) are plain equi-joins that AQE turns into broadcasts when small and
sort-merge when not.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, TERMS_PER_TOKEN_BOUND, EngineConfig
from ..functions.codec import decode_blocks, encode_blocks, weight_width
from ..functions.tokenize import tokens_col
from .ids import assign_global_ids, global_rank, ranged_prefix_offsets

POSTINGS_SCHEMA = (
    "term_id BIGINT, block_id INT, n_postings INT, min_doc BIGINT, "
    "max_doc BIGINT, max_weight FLOAT, doc_gaps BINARY, weights BINARY"
)


@dataclass
class InvertedIndex:
    """Handle over the index tables (all DataFrames, nothing collected)."""

    postings: DataFrame      # POSTINGS_SCHEMA
    term_dict: DataFrame     # term string, term_id long, df long, idf double
    doc_dim: DataFrame       # doc_idx long, doc_id string, dl int
    meta: dict               # n_docs, avgdl, k1, b, ... (small, driver-side)

    def save(self, out_dir: str) -> None:
        (self.postings
         .repartition(_task_width(self.meta["n_docs"],
                                  self.meta["index_partitions"]), "term_id")
         .sortWithinPartitions("term_id", F.desc("max_weight"))  # impact-ordered
         .write.mode("overwrite").parquet(os.path.join(out_dir, "postings")))
        self.term_dict.write.mode("overwrite").parquet(os.path.join(out_dir, "term_dict"))
        self.doc_dim.write.mode("overwrite").parquet(os.path.join(out_dir, "doc_dim"))
        with open(os.path.join(out_dir, "index_meta.json"), "w") as f:
            json.dump(self.meta, f, indent=2, sort_keys=True)

    def unpersist(self) -> None:
        for df in (self.postings, self.term_dict, self.doc_dim):
            try:
                df.unpersist()
            except Exception:
                pass

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str) -> "InvertedIndex":
        with open(os.path.join(out_dir, "index_meta.json")) as f:
            meta = json.load(f)
        return cls(
            postings=spark.read.parquet(os.path.join(out_dir, "postings")),
            term_dict=spark.read.parquet(os.path.join(out_dir, "term_dict")),
            doc_dim=spark.read.parquet(os.path.join(out_dir, "doc_dim")),
            meta=meta,
        )


def doc_term_frequencies(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> tuple[DataFrame, DataFrame]:
    """(tf, doc_len): tf = (doc_id, term, tf int), doc_len = (doc_id, dl int).

    Tokenization is a pure Catalyst expression (whole-stage codegen); the
    explode+groupBy is the A5 bag-of-words aggregation
    (/root/reference/src/model/retriever/sparse/neural/splade.py:243-265).
    """
    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens_col(text_col, cfg.max_tokens).alias("tokens"),
    )
    doc_len = toks.select("doc_id", F.size("tokens").cast("int").alias("dl"))
    tf = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    return tf, doc_len


def _doc_totals(doc_len: DataFrame) -> tuple[int, int]:
    """(rows, Σ dl) of a frame with a ``dl`` column, in one job."""
    row = doc_len.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tt")
    ).collect()[0]
    return int(row["n"]), int(row["tt"] or 0)


def _number_docs_with_stats(
    toks: DataFrame, num_partitions: int
) -> tuple[DataFrame, tuple[int, float, int]]:
    """assign_global_ids(key=doc_id) with the corpus-stats aggregation
    FUSED into the per-partition counts job (one blocking job instead of
    two — counts, Σdl and doc totals come from the same scan of the
    persisted ranged sort). Same terasort numbering contract as
    ids.assign_global_ids: doc_idx = rank of doc_id ascending."""
    # shared terasort scaffold (ids.ranged_prefix_offsets) with the
    # corpus-stats totals riding the same per-partition counts job; the
    # lazy localCheckpoint inside it carries the id-stability +
    # cache-invalidation rationale documented on ids.assign_global_ids
    ranged, offsets, totals = ranged_prefix_offsets(
        toks, "doc_id", num_partitions,
        {"_n": F.count(F.lit(1)), "_dl": F.sum("dl")},
    )
    n_docs = totals["_n"]
    if n_docs == 0:
        raise ValueError("build_index: corpus is empty — nothing to index")
    total_tokens = totals["_dl"]
    avgdl = total_tokens / n_docs
    numbered = ranged.withColumn("doc_idx", global_rank(offsets["_n"]))
    return numbered, (n_docs, avgdl, total_tokens)


def build_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    weighted_terms: DataFrame | None = None,
    n_docs_hint: int | None = None,
) -> InvertedIndex:
    """Build the full index from a corpus DataFrame.

    If ``weighted_terms`` is given it must be (doc_id string, term string,
    weight float) — e.g. a SPLADE-style expansion (expander.py) — and BM25
    impact computation is skipped (the expansion already carries weights);
    otherwise classic BM25 impacts are computed from term frequencies.

    Classic path is FUSED: the token arrays ride through the doc-numbering
    range shuffle, so the token explode emits integer ``doc_idx`` (and
    ``dl``) directly — the corpus-sized string join of a naive
    tf ⋈ doc_dim plan never exists, and every wide shuffle downstream
    carries int keys instead of url strings.
    """
    if weighted_terms is not None:
        tf, doc_len = doc_term_frequencies(docs, id_col, text_col, cfg)
        return index_from_tf(tf, doc_len, cfg=cfg, weighted_terms=weighted_terms)

    # The sizing count is metadata-cheap on a bare parquet scan (row-group
    # stats) but a full pass on a filtered or Iceberg source — callers with
    # such inputs pass ``n_docs_hint`` (any upper-bound estimate works; it
    # only picks a task width) to skip the pass entirely.
    n_est = docs.count() if n_docs_hint is None else int(n_docs_hint)
    with _build_width(docs.sparkSession, cfg, n_est) as n_part:
        return _build_index_classic(docs, id_col, text_col, cfg, n_part)


# docs per build task below the cluster-side cap (_task_width)
_DOCS_PER_PARTITION = 3000


def _task_width(n_docs: int, cap: int) -> int:
    """Task width for an ``n_docs`` corpus: ceil(n_docs /
    _DOCS_PER_PARTITION), at least 4, capped by the cluster-side
    ``index_partitions`` knob ``cap``. A 5k-doc build runs 4-wide instead
    of paying 32 tasks of scheduling overhead per stage, while web-scale
    corpora always hit the cap. Shared by the build, the write-path fold
    (merge.py) and ``InvertedIndex.save``."""
    return max(4, min(int(cap), -(-int(n_docs) // _DOCS_PER_PARTITION)))


@contextmanager
def _build_width(spark: SparkSession, cfg: EngineConfig, n_docs: int):
    """Yield ``_task_width`` of an ``n_docs`` corpus, with
    ``spark.sql.shuffle.partitions`` scoped to it for the build's stages."""
    n_part = _task_width(n_docs, cfg.index_partitions)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        yield n_part
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def _require_complete(meta: dict, who: str) -> None:
    """Raise unless the index kept every posting: ``min_weight`` == 0 and
    a per-doc term cap (``top_k_terms``) that cannot bind below
    ``max_tokens``. Term-presence tests (AND, minimum-should-match) and
    the write-path tf reconstruction both need every posting."""
    min_w = float(meta.get("min_weight", 0.0))
    cap = int(meta.get("top_k_terms", 1 << 30))
    max_t = int(meta.get("max_tokens", DEFAULT.max_tokens))
    if min_w > 0.0 or cap < max_t:
        raise ValueError(
            f"{who}: needs a complete index (min_weight == 0 and a "
            f"non-binding per-doc term cap), got min_weight={min_w}, "
            f"top_k_terms={cap}, max_tokens={max_t} — pruned postings "
            "make term presence undecidable and cannot be reconstructed"
        )


def _build_index_classic(
    docs: DataFrame, id_col: str, text_col: str, cfg: EngineConfig,
    n_part: int,
) -> InvertedIndex:
    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens_col(text_col, cfg.max_tokens).alias("tokens"),
    ).withColumn("dl", F.size("tokens").cast("int"))
    # deterministic global doc numbering: ascending doc_id (SURVEY §4.3.5).
    # _number_docs_with_stats persists its ranged sort internally — required
    # for id stability (re-executed column-pruned plans re-sample different
    # range boundaries, observed as doc_idx collisions), and doubling as
    # the single materialization both doc_dim and tf read; the corpus
    # stats ride the same counts job. An alternative that numbers a narrow
    # (doc_id)-only projection and equi-joins ids back into the tokenize
    # stream measured 2.6x slower at local[32] (the join falls to
    # sort-merge once the id dimension outgrows the broadcast threshold),
    # so the wide-cache plan stands.
    numbered, stats = _number_docs_with_stats(toks, n_part)
    doc_dim = numbered.select("doc_idx", "doc_id", "dl").persist()
    tf_idx = (
        numbered.select("doc_idx", "dl", F.explode("tokens").alias("term"))
        .groupBy("doc_idx", "dl", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .persist()
    )
    idx = _finish(tf_idx, doc_dim, stats, cfg, n_part)
    tf_idx.unpersist()
    return idx


def index_from_tf(
    tf: DataFrame,
    doc_len: DataFrame,
    cfg: EngineConfig = DEFAULT,
    weighted_terms: DataFrame | None = None,
) -> InvertedIndex:
    """Index build from pre-tokenized inputs: ``tf`` = (doc_id string, term
    string, tf int), ``doc_len`` = (doc_id string, dl int). This is the
    stage-2 entry the resumable path (checkpoint.py) and the streaming
    fold (streaming/stream_index.py) use after restoring tf/dl shards —
    mirroring the reference's encode→index split
    (/root/reference/script/index.py vs script/encode.py). Pays one
    doc_id-string equi-join to reach integer doc space (the fused
    build_index path avoids it when raw text is available) and nothing
    else: it numbers and sizes like ``build_index``
    (``_number_docs_with_stats`` under ``_build_width``) and finishes in
    the same ``_finish``, so its index equals ``build_index``'s."""
    with _build_width(doc_len.sparkSession, cfg, doc_len.count()) as n_part:
        numbered, stats = _number_docs_with_stats(doc_len, n_part)
        doc_dim = numbered.select("doc_idx", "doc_id", "dl").persist()
        if weighted_terms is None:
            source = tf.join(doc_dim, "doc_id").select(
                "doc_idx", "dl", "term", "tf"
            )
        else:
            source = weighted_terms.join(
                doc_dim.select("doc_id", "doc_idx"), "doc_id"
            ).select(
                "doc_idx", "term", F.col("weight").cast("float").alias("weight")
            )
        source = source.persist()
        idx = _finish(source, doc_dim, stats, cfg, n_part)
    source.unpersist()
    return idx


def _term_dict(source: DataFrame, n_docs: int, n_part: int) -> DataFrame:
    """pass 1 — document frequency per term (sparse_index.py:621-632),
    then dictionary-code terms: deterministic term_id = rank of term asc.
    AQE broadcasts the dictionary join downstream while the vocab is
    small; at web scale it becomes a shuffled hash join on the term key."""
    df_counts = source.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return assign_global_ids(
        df_counts, key="term", id_col="term_id", num_partitions=n_part,
    ).select(
        "term_id", "term", "df",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    ).persist()


def _finish(
    source: DataFrame, doc_dim: DataFrame, stats: tuple[int, float, int],
    cfg: EngineConfig, n_part: int,
) -> InvertedIndex:
    """The one build finisher: (doc_idx, dl, term, tf) or (doc_idx, term,
    weight) rows → index. A ``tf`` source gets BM25 impacts, idf ·
    tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) (SURVEY §4.3.1); a ``weight``
    source keeps the weights of an external encoder (e.g. the SPLADE-style
    expander).

    Excluded terms (P2, the reference's special-token masking analogue,
    sparse_index.py:61-63) are dropped BEFORE the dictionary pass: they
    never get a term_id, a df count, or postings. dl still counts them —
    exclusion masks the sparse vector, not the length normalization,
    mirroring the reference where exclusion zeroes encoder outputs."""
    n_docs, avgdl, total_tokens = stats
    bm25 = "tf" in source.columns
    if cfg.exclude_terms:
        source = source.filter(~F.col("term").isin(*cfg.exclude_terms))
    term_dict = _term_dict(source, n_docs, n_part)
    weight = F.col("weight")
    if bm25:
        k1, b = float(cfg.k1), float(cfg.b)
        weight = (
            F.col("idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        ).cast("float")
    weighted = source.join(
        term_dict.select("term", "term_id", "df", "idf"), "term"
    ).select("term_id", "doc_idx", weight.alias("weight"), "df")
    # strict > min_weight filter (sparse_index.py:65-68)
    weighted = weighted.filter(F.col("weight") > float(cfg.min_weight))

    # per-doc top-k cap (sparse_index.py:128-158). Skip the window shuffle
    # when the cap provably cannot bind: classic tokenize yields ≤max_tokens
    # distinct terms per doc; the engine's expanders emit ≤TERMS_PER_TOKEN
    # per token (a real neural encoder would use vocab_size as the bound).
    cap_bound = cfg.max_tokens if bm25 else (
        TERMS_PER_TOKEN_BOUND * cfg.max_tokens
    )
    if cfg.top_k_terms < cap_bound:
        w = Window.partitionBy("doc_idx").orderBy(F.desc("weight"), F.asc("term_id"))
        weighted = (
            weighted.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cfg.top_k_terms)
            .drop("_rn")
        )

    postings = build_posting_blocks(weighted, n_docs, cfg).persist()
    nnz = postings.agg(F.sum("n_postings")).collect()[0][0]
    meta = {
        "format": "splade_spark.postings.v1",
        "n_docs": n_docs,
        "avgdl": avgdl,
        "total_tokens": total_tokens,
        "nnz": int(nnz or 0),
        "k1": cfg.k1,
        "b": cfg.b,
        "block_size": cfg.block_size,
        "max_tokens": cfg.max_tokens,
        "min_weight": cfg.min_weight,
        "top_k_terms": cfg.top_k_terms,
        "value_dtype": cfg.value_dtype,
        "exclude_terms": list(cfg.exclude_terms),
        "tokenizer": "lower_alnum_v1",
        "weighting": "bm25" if bm25 else "external",
        "index_partitions": int(cfg.index_partitions),
        # sparsify settings frozen into metadata and mirrored at query time,
        # as the reference does (script/index.py:111-121, retrieval.py:133-144)
    }
    return InvertedIndex(postings=postings, term_dict=term_dict,
                         doc_dim=doc_dim, meta=meta)


def build_posting_blocks(
    weighted: DataFrame, n_docs: int, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """(term_id, doc_idx, weight, df) → compressed block rows.

    The shuffle key is (term_id, block_id): block_id is a doc-range split
    sized from df, so head terms scatter across ceil(df/block_size)
    reducers — this IS the salted repartition-by-term + skew split.
    Each block's postings arrive as one sorted ``plist`` list; a
    ``mapInArrow`` pass encodes every block of an Arrow batch at once
    from the list's flat values and offsets (``codec.encode_blocks``),
    with no Python loop over blocks.
    """
    bs = int(cfg.block_size)
    width = weight_width(str(cfg.value_dtype))
    # n_blocks = ceil(df / block_size); range_per_block = ceil(n_docs / n_blocks)
    blocks = weighted.withColumn(
        "_nb", F.ceil(F.col("df") / F.lit(bs)).cast("long")
    ).withColumn(
        "_rpb", F.ceil(F.lit(int(n_docs)) / F.col("_nb")).cast("long")
    ).withColumn(
        "block_id", (F.col("doc_idx") / F.col("_rpb")).cast("int")
    )

    grouped = blocks.groupBy("term_id", "block_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_postings"),
        F.min("doc_idx").alias("min_doc"),
        F.max("doc_idx").alias("max_doc"),
        F.max("weight").alias("max_weight"),
        F.sort_array(F.collect_list(F.struct("doc_idx", "weight"))).alias("plist"),
    )
    names = grouped.columns[:-1] + ["doc_gaps", "weights"]

    def encode(batches):
        for b in batches:
            plist = b.column("plist")
            flat = plist.flatten()
            gaps, wts = encode_blocks(
                flat.field("doc_idx").to_numpy(),
                flat.field("weight").to_numpy(),
                np.diff(plist.offsets.to_numpy()),
                width,
            )
            yield pa.RecordBatch.from_arrays(
                b.columns[:-1] + [gaps, wts], names=names
            )

    return grouped.mapInArrow(encode, POSTINGS_SCHEMA)


def explode_postings(
    postings: DataFrame, keys: tuple[str, ...] = ("term_id",)
) -> DataFrame:
    """Block rows → (*keys, doc_idx bigint, weight float), one row per
    posting: one narrow pass that decodes each Arrow batch of blocks at
    once (``codec.decode_blocks``) and repeats each block's ``keys``
    columns over its postings. No shuffle."""
    out = postings.select(*keys).schema.add("doc_idx", "long").add(
        "weight", "float"
    )

    def explode(batches):
        for b in batches:
            d, w, n = decode_blocks(b.column("doc_gaps"), b.column("weights"))
            rows = np.repeat(np.arange(b.num_rows), n)
            yield pa.RecordBatch.from_arrays(
                [b.column(k).take(rows) for k in keys]
                + [pa.array(d), pa.array(w)],
                names=out.fieldNames(),
            )

    return postings.select(*keys, "doc_gaps", "weights").mapInArrow(
        explode, out
    )

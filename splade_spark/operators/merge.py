"""Write-path fold: append to, tombstone and upsert a built index
WITHOUT re-tokenizing the old corpus.

The reference rebuilds its index from all encoded shards
(/root/reference/script/index.py:104-123); this engine's streaming path
did the same (stream_index.py). At 10^12 docs a rebuild per micro-batch
re-pays tokenization (CPU) and the doc-numbering range sort on doc_id
strings (corpus-wide shuffle) for the WHOLE corpus. All four public
write verbs are thin callers of ONE private fold, ``_fold(index,
drop_ids, tf, doc_len)``, which pays neither for existing docs:

- old term frequencies are RECONSTRUCTED from the stored blocks instead
  of re-tokenizing, in one pass that also drops tombstoned docs: BM25
  impact w = idf·tf·(k1+1)/(tf + K) with K = k1·(1−b+b·dl/avgdl) is
  strictly monotone in tf, so tf = w′·K/(k1+1−w′) with w′ = w/idf
  inverts it exactly; tf is an integer, so rounding absorbs the float32
  storage error (safe for tf ≲ 4000 — the ``max_tokens`` contract caps
  tf at 256);
- kept docs keep their ``doc_dim`` rows verbatim when nothing was
  dropped; otherwise they renumber by the rank of their OLD doc_idx (an
  8-byte long, not a URL string) — build numbering is rank of doc_id
  ascending and rank order survives subset removal, so this reproduces
  a rebuild's numbering of the kept docs;
- batch docs are appended after the kept ones, numbered ``n_kept +``
  rank of doc_id within the batch (the segment-append numbering every
  incremental engine uses);
- the statistics (n_docs, avgdl, df → idf) update and the block build
  runs ONCE — the irreducible work, because exact BM25 semantics bake
  corpus statistics into every stored weight. (The alternative — store
  raw tf and apply idf query-side — makes folds nearly free but changes
  the reference's impact-ordered static-weight layout; this engine
  keeps reference semantics and makes the fold exact instead.)

Exactness: ``merge_index_with_docs(build(A), B)`` equals
``build(A ∪ B)`` bit-for-bit — same doc_idx assignment (when B's doc_ids
sort after A's in string order, the append case; otherwise scores are
still identical and only the doc_idx tie-break can reorder exact score
ties), same term_id assignment (the dictionary pass reruns over the
merged vocabulary), same weights (same formula, same reconstructed
inputs). ``apply_tombstones(build(A), D)`` equals ``build(A \\ D)``
bit-for-bit, and ``upsert_docs(idx, B)`` equals
``merge_index_with_docs(apply_tombstones(idx, ids(B)), B)`` bit-for-bit.
Oracle-gated by the ``bm25_topk_merged`` and ``bm25_topk_deduped``
entries against full-corpus DuckDB BM25 SQL.

Preconditions (checked, ``indexing._require_complete``): the index
must retain its full postings — reconstruction can only see what the
build kept, so a strict ``min_weight`` > 0 or a binding per-doc term
cap would make the fold diverge from a true rebuild. Default BM25
config never drops anything (all BM25 weights are positive;
top_k_terms=4096 > max_tokens=256).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ids import assign_global_ids
from .indexing import (
    InvertedIndex,
    _build_width,
    _doc_totals,
    _finish,
    _require_complete,
    cfg_from_meta,
    doc_term_frequencies,
    explode_postings,
)


def reconstruct_tf(index: InvertedIndex) -> DataFrame:
    """Invert the stored BM25 impacts back to (doc_idx, dl, term, tf int).

    Decode blocks (narrow) → join term_dict for (term, idf) → join
    doc_dim for dl → algebraic inversion. Two nnz-row equi-joins replace
    re-tokenizing the whole corpus; both join keys (term_id, doc_idx) are
    integers, and AQE broadcasts the dimensions while they fit.
    """
    meta = index.meta
    if meta.get("weighting") != "bm25":
        raise ValueError(
            "reconstruct_tf: only BM25-weighted indexes are invertible "
            f"(weighting={meta.get('weighting')!r}); external encoder "
            "weights carry no tf to recover"
        )
    k1, b = float(meta["k1"]), float(meta["b"])
    avgdl = float(meta["avgdl"])
    flat = explode_postings(index.postings)
    flat = flat.join(index.term_dict.select("term_id", "term", "idf"), "term_id")
    flat = flat.join(index.doc_dim.select("doc_idx", "dl"), "doc_idx")
    w_prime = F.col("weight").cast("double") / F.col("idf")
    cap_k = k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    tf = F.round(w_prime * cap_k / (F.lit(k1 + 1.0) - w_prime)).cast("int")
    return flat.select("doc_idx", "dl", "term", tf.alias("tf"))


def _check_invertible(meta: dict) -> None:
    if meta.get("weighting") != "bm25":
        raise ValueError(
            "merge: only BM25-weighted indexes fold exactly "
            f"(weighting={meta.get('weighting')!r})"
        )
    _require_complete(meta, "merge")
    if meta.get("value_dtype", "float32") != "float32":
        raise ValueError(
            "merge: index stores "
            f"{meta['value_dtype']} weights — the exact tf inversion "
            "needs float32 precision (fp16 rounding exceeds the integer-"
            "rounding margin); rebuild instead of folding"
        )


def _fold(
    index: InvertedIndex,
    drop: DataFrame | None,
    tf: DataFrame | None,
    doc_len: DataFrame | None,
) -> InvertedIndex:
    """The one write-path fold: remove the docs whose ``doc_id`` is in
    ``drop``, append the tokenized batch ``tf`` (doc_id, term, tf) /
    ``doc_len`` (doc_id, dl), and rebuild once (see module docstring).
    Either side may be None. Batch ids must not collide with kept docs:
    an upsert drops them first, an append refuses them. Returns
    ``index`` itself when nothing is dropped and nothing appended."""
    meta = index.meta
    _check_invertible(meta)
    cfg = cfg_from_meta(meta)
    n_old = int(meta["n_docs"])
    n_kept, tt_kept = n_old, int(meta["total_tokens"])
    n_new = tt_new = 0
    dim = index.doc_dim.select("doc_idx", "doc_id", "dl")
    if tf is not None:
        doc_len = doc_len.persist()
        n_new, tt_new = _doc_totals(doc_len)
        if n_new == 0:
            doc_len.unpersist()
            raise ValueError("merge: batch is empty — nothing to fold")
        if drop is None and doc_len.join(
            dim.select("doc_id"), "doc_id", "left_semi"
        ).limit(1).count():
            doc_len.unpersist()
            raise ValueError(
                "merge: batch contains doc_ids already present in the "
                "index — this fold appends documents, it does not upsert"
            )
    if drop is not None:
        kept = dim.join(drop, "doc_id", "left_anti").persist()
        n_kept, tt_kept = _doc_totals(kept)
        if n_kept + n_new == 0:
            kept.unpersist()
            raise ValueError(
                "apply_tombstones: drop list removes every document"
            )
        if n_kept == n_old:
            kept.unpersist()
            if tf is None:
                return index

    n_docs, tt = n_kept + n_new, tt_kept + tt_new
    old_tf = reconstruct_tf(index)
    with _build_width(index.postings.sparkSession, cfg, n_docs) as n_part:
        if n_kept < n_old:
            remap = assign_global_ids(
                kept.withColumnRenamed("doc_idx", "_old_idx"),
                key="_old_idx", id_col="doc_idx", num_partitions=n_part,
            ).persist()  # materialized size lets AQE broadcast it below
            dim = remap.select("doc_idx", "doc_id", "dl")
            old_tf = (
                old_tf.withColumnRenamed("doc_idx", "_old_idx")
                .join(remap.select("_old_idx", "doc_idx"), "_old_idx")
                .select("doc_idx", "dl", "term", "tf")
            )
        if tf is not None:
            new_dim = assign_global_ids(
                doc_len, key="doc_id", id_col="_bidx", num_partitions=n_part
            ).select(
                (F.col("_bidx") + F.lit(n_kept)).cast("long").alias("doc_idx"),
                "doc_id", "dl",
            )
            dim = dim.unionByName(new_dim)
            old_tf = old_tf.unionByName(
                tf.join(new_dim, "doc_id").select("doc_idx", "dl", "term", "tf")
            )
        tf_all = old_tf.persist()
        out = _finish(
            tf_all, dim.persist(), (n_docs, tt / n_docs, tt), cfg, n_part
        )
    tf_all.unpersist()
    if n_kept < n_old:
        kept.unpersist()
        remap.unpersist()
    if tf is not None:
        doc_len.unpersist()
    return out


def merge_index_with_tf(
    index: InvertedIndex,
    tf: DataFrame,
    doc_len: DataFrame,
) -> InvertedIndex:
    """Fold a tokenized micro-batch — ``tf`` (doc_id string, term, tf int)
    and ``doc_len`` (doc_id string, dl int) — into ``index``, returning
    the merged index. Equals a full rebuild over old ∪ batch (see module
    docstring for the exactness contract and its preconditions). Refuses
    an empty batch and a batch with doc_ids already in the index."""
    return _fold(index, None, tf, doc_len)


def apply_tombstones(
    index: InvertedIndex,
    drop_ids: DataFrame,
    id_col: str = "doc_id",
) -> InvertedIndex:
    """Remove documents from a built index WITHOUT re-processing the
    surviving corpus — the operation a dedup/curation loop runs most
    (find duplicates with ``dedup_drop_list`` → drop them from the live
    index).

    Exactness: equals ``build_index(kept docs)`` bit-for-bit. Removing
    docs changes n_docs, avgdl and every term's df — so idf shifts for
    EVERY term and the length-normalization K for EVERY posting; exact
    BM25 semantics bake those corpus statistics into each stored impact,
    so no decode-only-touched-blocks shortcut exists for the weights.
    The fold skips re-tokenizing every surviving document and the
    corpus-wide doc_id STRING range sort (kept docs renumber by their old
    integer doc_idx); see the module docstring.

    ``drop_ids`` is a one-column DataFrame of doc_ids to REMOVE (e.g.
    ``dedup_drop_list(...).filter(~F.col("keep")).select("doc_id")``).
    Ids not present in the index are ignored; an empty effective drop
    set returns the input index unchanged; dropping every doc raises.
    Same invertibility preconditions as the append fold
    (``_check_invertible``). The rebuilt doc_ids/metadata follow the
    surviving corpus exactly — the reference's index artifact contract
    (/root/reference/src/indexing/sparse_index.py:437-452).
    """
    drop = drop_ids.select(F.col(id_col).cast("string").alias("doc_id"))
    return _fold(index, drop, None, None)


def merge_index_with_docs(
    index: InvertedIndex,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> InvertedIndex:
    """Fold a raw-text doc batch into ``index``: tokenize ONLY the batch
    (with the index's own frozen settings), then ``merge_index_with_tf``."""
    cfg = cfg_from_meta(index.meta)
    tf, doc_len = doc_term_frequencies(new_docs, id_col, text_col, cfg)
    return merge_index_with_tf(index, tf, doc_len)


def upsert_docs(
    index: InvertedIndex,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> InvertedIndex:
    """Replace-or-insert a doc batch: tokenize ONLY the batch, then ONE
    fold drops every indexed doc whose id is in the batch and appends the
    whole batch. A re-crawled page therefore replaces its old postings
    atomically with respect to the returned handle; re-crawling every
    doc is allowed.

    Equals ``merge_index_with_docs(apply_tombstones(index, overlap),
    docs)`` bit-for-bit, with ``overlap`` the batch ids already indexed:
    kept docs renumber by old doc_idx, batch docs append after them.
    Statistics (n_docs, avgdl, df/idf, every stored impact) therefore
    equal a full rebuild over ``(old \\ batch ids) ∪ batch`` exactly, and
    decoded postings as (term, doc_id, weight) sets are identical to that
    rebuild's (doc_idx ASSIGNMENT can differ when batch ids interleave
    the kept ids' sort order — the module's documented tie-break caveat).
    Same invertibility preconditions as the other verbs."""
    cfg = cfg_from_meta(index.meta)
    tf, doc_len = doc_term_frequencies(docs, id_col, text_col, cfg)
    return _fold(index, doc_len.select("doc_id"), tf, doc_len)

"""Incremental index fold (operators/merge.py): fold ≡ full rebuild.

The exactness contract is bit-level: folding batch B into build(A) must
reproduce build(A ∪ B) — same doc numbering (append case), same term ids,
same block structure, same float32 weights — because the fold reruns the
same statistics and weight formula over exactly reconstructed inputs.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.config import EngineConfig
from splade_spark.fixtures import gen_pages, gen_queries
from splade_spark.functions.codec import decode_block
from splade_spark.operators.indexing import build_index, doc_term_frequencies
from splade_spark.operators.merge import (
    apply_tombstones,
    cfg_from_meta,
    merge_index_with_docs,
    merge_index_with_tf,
    reconstruct_tf,
    upsert_docs,
)
from splade_spark.operators.query import retrieve

N_DOCS, N_OLD = 300, 220
CFG = EngineConfig(block_size=64, index_partitions=4)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = gen_pages(N_DOCS, seed=91)
    full = spark.createDataFrame(pages[["url", "text"]])
    # urls are zero-padded -> the i >= N_OLD slice sorts after the rest,
    # the append case where fold ≡ rebuild bit-for-bit
    cut = f"https://example.org/train/{N_OLD:08d}"
    return full, full.filter(F.col("url") < cut), full.filter(F.col("url") >= cut)


def _index_state(idx):
    """Fully decoded, order-independent snapshot of an index."""
    terms = {
        (r["term_id"], r["term"], r["df"]) for r in idx.term_dict.collect()
    }
    dim = {(r["doc_idx"], r["doc_id"], r["dl"]) for r in idx.doc_dim.collect()}
    blocks = {}
    for r in idx.postings.collect():
        d, w = decode_block(r["doc_gaps"], r["weights"])
        blocks[(r["term_id"], r["block_id"])] = (
            r["n_postings"], r["min_doc"], r["max_doc"],
            np.float32(r["max_weight"]).tobytes(),
            d.tobytes(), w.tobytes(),
        )
    return terms, dim, blocks


def test_fold_equals_full_rebuild(spark, corpus):
    full, old, new = corpus
    folded = merge_index_with_docs(
        build_index(old, id_col="url", text_col="text", cfg=CFG),
        new, id_col="url", text_col="text",
    )
    rebuilt = build_index(full, id_col="url", text_col="text", cfg=CFG)

    assert folded.meta["n_docs"] == rebuilt.meta["n_docs"] == N_DOCS
    assert folded.meta["avgdl"] == pytest.approx(rebuilt.meta["avgdl"], rel=1e-12)
    ft, fd, fb = _index_state(folded)
    rt, rd, rb = _index_state(rebuilt)
    assert ft == rt
    assert fd == rd
    assert fb == rb

    queries = spark.createDataFrame(
        gen_queries(15, gen_pages(N_DOCS, seed=91), seed=92)[["query_id", "text"]]
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], np.float32(r["score"]).tobytes())
        for r in retrieve(folded, queries, k=10, strategy="wand").collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], np.float32(r["score"]).tobytes())
        for r in retrieve(rebuilt, queries, k=10, strategy="wand").collect()
    )
    assert got == want


def test_two_sequential_folds(spark, corpus):
    full, old, new = corpus
    cut2 = f"https://example.org/train/{(N_OLD + N_DOCS) // 2:08d}"
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    idx = merge_index_with_docs(
        idx, new.filter(F.col("url") < cut2), id_col="url", text_col="text"
    )
    idx = merge_index_with_docs(
        idx, new.filter(F.col("url") >= cut2), id_col="url", text_col="text"
    )
    rebuilt = build_index(full, id_col="url", text_col="text", cfg=CFG)
    assert _index_state(idx) == _index_state(rebuilt)


def test_reconstruct_tf_is_exact(spark, corpus):
    _, old, _ = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    tf, _dl = doc_term_frequencies(old, "url", "text", CFG)
    want = {
        (r["doc_id"], r["term"], r["tf"])
        for r in tf.join(
            idx.doc_dim.select(F.col("doc_id"), "doc_idx"), "doc_id"
        ).collect()
    }
    got = {
        (r["doc_id"], r["term"], r["tf"])
        for r in reconstruct_tf(idx)
        .join(idx.doc_dim.select("doc_idx", "doc_id"), "doc_idx")
        .collect()
    }
    assert got == want


def test_fold_guards(spark, corpus):
    _, old, new = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    # duplicate doc_ids refuse to fold (append, not upsert)
    with pytest.raises(ValueError, match="already present"):
        merge_index_with_docs(idx, old.limit(5), id_col="url", text_col="text")
    # empty batch
    with pytest.raises(ValueError, match="empty"):
        merge_index_with_docs(
            idx, new.filter(F.lit(False)), id_col="url", text_col="text"
        )
    # non-invertible build settings refuse (silent divergence is worse)
    capped = build_index(
        old, id_col="url", text_col="text",
        cfg=EngineConfig(block_size=64, index_partitions=4, top_k_terms=8),
    )
    with pytest.raises(ValueError, match="cap"):
        merge_index_with_docs(capped, new, id_col="url", text_col="text")


def test_meta_keeps_the_partition_cap(spark, corpus):
    """``meta["index_partitions"]`` is the cluster-side cap the build was
    given, not the width a small build ran at, so a fold of an index
    first built small can still run wider once its corpus grows."""
    full, _, new = corpus
    idx = build_index(full, id_col="url", text_col="text",
                      cfg=EngineConfig(block_size=64))
    assert cfg_from_meta(idx.meta).index_partitions == 32
    folded = upsert_docs(idx, new, id_col="url", text_col="text")
    assert cfg_from_meta(folded.meta).index_partitions == 32
    folded.unpersist()
    idx.unpersist()


def test_tombstone_fold_equals_rebuild_on_kept(spark, corpus):
    """Round-3 verdict criterion: applying a drop list to a built index
    must equal rebuilding from the kept docs — bit-identical artifacts
    (doc renumbering, term ids, df/idf, avgdl, float32 block weights)."""
    full, _, _ = corpus
    idx = build_index(full, id_col="url", text_col="text", cfg=CFG)
    # drop a scattered, non-contiguous subset (stresses the renumbering)
    drops = full.filter(
        (F.crc32(F.col("url")) % 5 == 0) | (F.col("url").endswith("7"))
    ).select(F.col("url").alias("doc_id"))
    n_drop = drops.count()
    assert 0 < n_drop < N_DOCS

    folded = apply_tombstones(idx, drops)
    kept_docs = full.join(
        drops.withColumnRenamed("doc_id", "url"), "url", "left_anti"
    )
    rebuilt = build_index(kept_docs, id_col="url", text_col="text", cfg=CFG)

    assert folded.meta["n_docs"] == rebuilt.meta["n_docs"] == N_DOCS - n_drop
    assert folded.meta["avgdl"] == pytest.approx(rebuilt.meta["avgdl"], rel=1e-12)
    assert folded.meta["nnz"] == rebuilt.meta["nnz"]
    assert _index_state(folded) == _index_state(rebuilt)

    queries = spark.createDataFrame(
        gen_queries(10, gen_pages(N_DOCS, seed=91), seed=93)[["query_id", "text"]]
    )
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], np.float32(r["score"]).tobytes())
        for r in retrieve(folded, queries, k=10, strategy="wand").collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], np.float32(r["score"]).tobytes())
        for r in retrieve(rebuilt, queries, k=10, strategy="wand").collect()
    )
    assert got == want


def test_tombstone_guards(spark, corpus):
    _, old, _ = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    # unknown ids ignored; empty effective drop set returns index unchanged
    ghost = spark.createDataFrame([("nosuch://url",)], "doc_id string")
    same = apply_tombstones(idx, ghost)
    assert same is idx
    # dropping everything raises
    with pytest.raises(ValueError, match="every document"):
        apply_tombstones(idx, idx.doc_dim.select("doc_id"))


def test_upsert_equals_rebuild_on_replaced_corpus(spark, corpus):
    """upsert = tombstone-overlapping + fold: decoded postings as
    (term, doc_id, weight) triples, term_dict stats, and corpus totals
    must equal a rebuild over the replaced corpus exactly."""
    full, old, new = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    # batch = half the old docs re-crawled with CHANGED text + the new docs
    recrawled = old.filter(F.crc32("url") % 2 == 0).select(
        "url", F.concat(F.col("text"), F.lit(" recrawl delta tokens")).alias("text")
    )
    batch = recrawled.unionByName(new)
    upserted = upsert_docs(idx, batch, id_col="url", text_col="text")

    replaced = (
        old.join(recrawled.select("url"), "url", "left_anti")
        .unionByName(recrawled)
        .unionByName(new)
    )
    rebuilt = build_index(replaced, id_col="url", text_col="text", cfg=CFG)

    assert upserted.meta["n_docs"] == rebuilt.meta["n_docs"] == N_DOCS
    assert upserted.meta["avgdl"] == pytest.approx(rebuilt.meta["avgdl"], rel=1e-12)
    assert upserted.meta["nnz"] == rebuilt.meta["nnz"]

    def postings_by_id(idx_):
        id_of = {r["doc_idx"]: r["doc_id"] for r in idx_.doc_dim.collect()}
        term_of = {r["term_id"]: r["term"] for r in idx_.term_dict.collect()}
        out = set()
        for r in idx_.postings.collect():
            d, w = decode_block(r["doc_gaps"], r["weights"])
            for di, wi in zip(d, w):
                out.add((term_of[r["term_id"]], id_of[int(di)],
                         np.float32(wi).tobytes()))
        return out

    assert postings_by_id(upserted) == postings_by_id(rebuilt)
    td_u = {(r["term"], r["df"]) for r in upserted.term_dict.collect()}
    td_r = {(r["term"], r["df"]) for r in rebuilt.term_dict.collect()}
    assert td_u == td_r


def test_upsert_pure_insert_is_plain_fold(spark, corpus):
    _, old, new = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    a = upsert_docs(idx, new, id_col="url", text_col="text")
    b = merge_index_with_docs(idx, new, id_col="url", text_col="text")
    assert _index_state(a) == _index_state(b)


def test_upsert_numbers_docs_as_tombstone_then_fold(spark, corpus):
    """upsert is one fold, but it must assign doc_idx exactly as the
    two-step composition does: kept docs by rank of their old doc_idx,
    then the whole batch appended in doc_id order. A scattered recrawl
    interleaves batch ids with kept ids, so this numbering differs from
    a rebuild's and only the composition pins it."""
    _, old, new = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    recrawled = old.filter(F.crc32("url") % 3 == 0).select(
        "url", F.concat(F.col("text"), F.lit(" fresh crawl")).alias("text")
    )
    batch = recrawled.unionByName(new)
    want = merge_index_with_docs(
        apply_tombstones(idx, recrawled.select(F.col("url").alias("doc_id"))),
        batch, id_col="url", text_col="text",
    )
    got = upsert_docs(idx, batch, id_col="url", text_col="text")
    assert got.meta == want.meta
    assert _index_state(got) == _index_state(want)


def test_upsert_recrawling_every_doc_equals_rebuild(spark, corpus):
    """A batch that re-crawls every indexed doc leaves no old doc behind
    but a non-empty result: the upsert must succeed and equal a build
    over the new texts."""
    _, old, _ = corpus
    idx = build_index(old, id_col="url", text_col="text", cfg=CFG)
    batch = old.select(
        "url", F.concat(F.lit("changed words "), F.col("text")).alias("text")
    )
    got = upsert_docs(idx, batch, id_col="url", text_col="text")
    rebuilt = build_index(batch, id_col="url", text_col="text", cfg=CFG)
    assert got.meta["n_docs"] == rebuilt.meta["n_docs"] == N_OLD
    assert _index_state(got) == _index_state(rebuilt)


def test_inversion_exact_over_weight_grid():
    """Property: the BM25 impact inversion recovers tf EXACTLY from the
    float32-stored weight across the realistic parameter grid (tf bounded
    by max_tokens=256; dl up to 256; df/n_docs across magnitudes) — the
    rounding margin absorbs the f32 quantization (module docstring's
    tf ≲ 4000 safety bound)."""
    import itertools

    k1, b = 1.2, 0.75
    for n_docs, avgdl in ((1_000, 60.0), (1_000_000, 180.0)):
        dfs = (1, 5, n_docs // 100 + 1, n_docs // 2, n_docs - 1)
        for df, dl, tf in itertools.product(
            dfs, (5, 60, 256), (1, 2, 3, 7, 50, 256)
        ):
            if tf > dl:
                continue
            idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            denom = tf + k1 * (1.0 - b + b * dl / avgdl)
            w32 = np.float32(idf * tf * (k1 + 1.0) / denom)
            # the operator's algebra on the f32-stored value
            w_prime = float(w32) / idf
            cap_k = k1 * (1.0 - b + b * dl / avgdl)
            tf_rec = round(w_prime * cap_k / ((k1 + 1.0) - w_prime))
            assert tf_rec == tf, (n_docs, avgdl, df, dl, tf, tf_rec)

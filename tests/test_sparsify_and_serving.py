"""Binding sparsify semantics (P1/P2/W2/W3/W4) vs the NumPy oracle, the
index save/load round trip (S8/S9), and the warm in-process serving path.

Reference semantics under test:
- per-doc top-k term cap (/root/reference/src/indexing/sparse_index.py:76-158)
- token/term exclusion (/root/reference/src/indexing/sparse_index.py:61-63)
- query sparsify mirrored from index metadata
  (/root/reference/src/model/pl_module/retrieval.py:133-144 →
  /root/reference/src/indexing/sparse_index.py:539-578)
- index save/load (/root/reference/script/index.py:104-123,
  /root/reference/src/indexing/sparse_index.py:502-536)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.config import EngineConfig
from splade_spark.fixtures import gen_pages, gen_queries
from splade_spark.functions.expander import _expand_one_py, expand_terms
from splade_spark.operators.indexing import InvertedIndex, build_index
from splade_spark.operators.query import local_server, retrieve
from splade_spark.oracle import (
    build_oracle_index,
    build_oracle_index_weighted,
    score_query_oracle,
    score_weighted_query_oracle,
)

N_DOCS = 120
N_QUERIES = 15
K = 10
EXCLUDE = ("the", "a", "of", "to", "and")


@pytest.fixture(scope="module")
def corpus():
    pages = gen_pages(N_DOCS, seed=42)
    queries = gen_queries(N_QUERIES, pages, seed=43)
    return pages, queries


def _rank_check(engine_rows, oracle_topk, qid):
    got = [(r["doc_id"], r["score"]) for r in sorted(engine_rows, key=lambda r: r["rank"])]
    want = oracle_topk
    assert len(got) == len(want), f"{qid}: k mismatch {len(got)} vs {len(want)}"
    want_scores = {d: s for d, s in want}
    for (gd, gs), (wd, ws) in zip(got, want):
        assert np.isclose(gs, ws, rtol=1e-5, atol=1e-6), f"{qid}: score {gs} vs {ws}"
        if gd != wd:  # permutation allowed only inside a score-tie group
            assert gd in want_scores and np.isclose(
                want_scores[gd], ws, rtol=1e-5, atol=1e-6
            ), f"{qid}: rank mismatch {gd} vs {wd}"


def _postings_sig(idx: InvertedIndex):
    """term -> (doc_ids tuple, weights array) decoded from all blocks."""
    from splade_spark.functions.codec import decode_block

    terms = {r["term_id"]: r["term"] for r in idx.term_dict.collect()}
    got = {}
    for r in idx.postings.collect():
        d, w = decode_block(r["doc_gaps"], r["weights"])
        got.setdefault(terms[r["term_id"]], []).append((d, w))
    out = {}
    for t, parts in got.items():
        parts = sorted(parts, key=lambda p: p[0][0])
        out[t] = (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )
    return out


def test_binding_doc_cap_and_exclusion_match_oracle(spark, corpus):
    """top_k_terms=4 BINDS (docs have far more distinct terms) and the
    exclusion list removes classic stopwords — engine postings and top-k
    must equal the oracle given the same config (W2/W4 + P2 live)."""
    pages, queries = corpus
    cfg = EngineConfig(top_k_terms=4, exclude_terms=EXCLUDE,
                       block_size=64, index_partitions=4)
    docs = spark.createDataFrame(pages[["url", "text"]])
    idx = build_index(docs, id_col="url", text_col="text", cfg=cfg)
    oidx = build_oracle_index(list(zip(pages["url"], pages["text"])), cfg=cfg)

    # the cap binds: no doc may exceed 4 postings across all terms
    per_doc = {}
    sig = _postings_sig(idx)
    for t, (d, w) in sig.items():
        assert t not in EXCLUDE
        for di in d:
            per_doc[di] = per_doc.get(di, 0) + 1
    assert max(per_doc.values()) <= 4
    # exact postings parity with the oracle
    want = {
        oidx.terms[tid]: dw for tid, dw in oidx.postings.items()
    }
    assert set(sig) == set(want)
    for t in want:
        assert np.array_equal(sig[t][0], want[t][0]), t
        assert np.allclose(sig[t][1], want[t][1], rtol=1e-6), t

    qdf = spark.createDataFrame(queries)
    res = retrieve(idx, qdf, k=K, strategy="wand", cfg=cfg)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    n = 0
    for _, q in queries.iterrows():
        want_q = score_query_oracle(q["text"], oidx, k=K)
        got_q = by_q.get(q["query_id"], [])
        if want_q:
            n += 1
            _rank_check(got_q, want_q, q["query_id"])
        else:
            assert not got_q
    assert n > 0
    idx.unpersist()


def test_weighted_query_sparsify_matches_oracle(spark, corpus):
    """Expander path with binding min_weight + per-doc cap + exclusion;
    the QUERY vector is pruned with the same settings mirrored from index
    metadata (W3) — engine vs the weighted NumPy oracle."""
    pages, queries = corpus
    cfg = EngineConfig(top_k_terms=6, min_weight=0.05, exclude_terms=EXCLUDE,
                       block_size=64, index_partitions=4)
    docs = spark.createDataFrame(pages[["url", "text"]])
    dw = expand_terms(docs, id_col="url", text_col="text").select(
        "doc_id", "term", "weight"
    )
    idx = build_index(docs, id_col="url", text_col="text",
                      weighted_terms=dw, cfg=cfg)
    doc_vecs = {
        str(u): _expand_one_py(t, cfg.max_tokens)
        for u, t in zip(pages["url"], pages["text"])
    }
    oidx = build_oracle_index_weighted(doc_vecs, cfg=cfg)

    qdf = spark.createDataFrame(queries)
    qw = expand_terms(qdf, id_col="query_id", text_col="text").select(
        F.col("doc_id").alias("query_id"), "term", "weight"
    )
    res = retrieve(idx, qdf, k=K, strategy="wand", cfg=cfg, query_weights=qw)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    n = 0
    for _, q in queries.iterrows():
        q_vec = _expand_one_py(q["text"], cfg.max_tokens)
        want_q = score_weighted_query_oracle(q_vec, oidx, k=K)
        got_q = by_q.get(q["query_id"], [])
        if want_q:
            n += 1
            _rank_check(got_q, want_q, q["query_id"])
        else:
            assert not got_q
    assert n > 0
    idx.unpersist()


def test_save_load_roundtrip_and_server(spark, corpus, tmp_path):
    """S8/S9: save() → load() must retrieve rank-identically to the
    in-memory index, and the LocalIndexServer over the LOADED index must
    match the distributed exhaustive plan query-for-query."""
    pages, queries = corpus
    cfg = EngineConfig(block_size=64, index_partitions=4)
    docs = spark.createDataFrame(pages[["url", "text"]])
    idx = build_index(docs, id_col="url", text_col="text", cfg=cfg)
    out = str(tmp_path / "saved_index")
    idx.save(out)
    idx2 = InvertedIndex.load(spark, out)
    assert idx2.meta["n_docs"] == idx.meta["n_docs"]
    assert idx2.meta["nnz"] == idx.meta["nnz"]

    qdf = spark.createDataFrame(queries)
    a = retrieve(idx, qdf, k=K, strategy="exhaustive", cfg=cfg).collect()
    b = retrieve(idx2, qdf, k=K, strategy="exhaustive", cfg=cfg).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(float(r["score"]), 4))
        for r in rows
    )
    assert key(a) == key(b)

    srv = local_server(idx2)
    by_q = {}
    for r in a:
        by_q.setdefault(r["query_id"], []).append(r)
    for _, q in queries.iterrows():
        got = srv.search(q["text"], k=K)
        want = sorted(by_q.get(q["query_id"], []), key=lambda r: r["rank"])
        assert [d for d, _ in got] == [r["doc_id"] for r in want], q["query_id"]
        for (_, gs), r in zip(got, want):
            assert np.isclose(gs, r["score"], rtol=1e-5)
    idx.unpersist()
    idx2.unpersist()


def test_wand_heavy_query_routing_equivalent(spark, corpus):
    """Scale safety valve: with wand_postings_cap=0 EVERY query whose
    terms hold more than one posting gets a shard tier above one
    (doc-disjoint shard split → per-(query, shard) kernel → exact merge),
    up to MAXIMAL sharding (one doc per shard, since n_shards caps at
    n_docs) — results must be identical to the plain exhaustive strategy
    (and to default one-shard WAND)."""
    pages, queries = corpus
    cfg = EngineConfig(block_size=64, index_partitions=4)
    docs = spark.createDataFrame(pages[["url", "text"]])
    idx = build_index(docs, id_col="url", text_col="text", cfg=cfg)
    qdf = spark.createDataFrame(queries)

    routed_cfg = EngineConfig(block_size=64, index_partitions=4,
                              wand_postings_cap=0)
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(float(r["score"]), 4))
        for r in rows
    )
    base = key(retrieve(idx, qdf, k=K, strategy="exhaustive", cfg=cfg).collect())
    routed = key(retrieve(idx, qdf, k=K, strategy="wand", cfg=routed_cfg).collect())
    wand = key(retrieve(idx, qdf, k=K, strategy="wand", cfg=cfg).collect())
    assert routed == base
    assert wand == base

    # mixed split: a mid-range cap makes SOME queries heavy (partial-WAND
    # shards) and leaves others light (single-task kernel); the union must
    # still be exact
    mixed_cfg = EngineConfig(block_size=64, index_partitions=4,
                             wand_postings_cap=300)
    mixed = key(retrieve(idx, qdf, k=K, strategy="wand", cfg=mixed_cfg).collect())
    assert mixed == base
    idx.unpersist()


def test_corpus_sized_query_set_rejected(spark, corpus):
    """The query-side driver collect is a CONTRACT (query set, not a
    corpus) — enforced, not assumed."""
    import splade_spark.operators.query as Q

    pages, queries = corpus
    cfg = EngineConfig(block_size=64, index_partitions=4)
    docs = spark.createDataFrame(pages[["url", "text"]])
    idx = build_index(docs, id_col="url", text_col="text", cfg=cfg)
    qdf = spark.createDataFrame(queries)
    old = Q._MAX_QUERY_TERM_ROWS
    Q._MAX_QUERY_TERM_ROWS = 3
    try:
        with pytest.raises(ValueError, match="query set exceeds"):
            retrieve(idx, qdf, k=K, strategy="wand", cfg=cfg)
    finally:
        Q._MAX_QUERY_TERM_ROWS = old
    idx.unpersist()


def test_qrels_flexible_schemas(spark):
    """P3/P4 + the reference's column-name tolerance
    (/root/reference/src/data/pd_module/retrieval.py:178-204)."""
    from splade_spark.operators.qrels import (
        filter_qrels_to_queries,
        filter_queries_with_qrels,
        load_qrels,
    )

    variants = [
        spark.createDataFrame(
            [("q1", "d1", 2.0), ("q2", "d2", 1.0)],
            "`query-id` string, `corpus-id` string, score double",
        ),
        spark.createDataFrame(
            [(3, 30, 1), (9, 90, 2)], "qid int, pid int, rel int"
        ),
        spark.createDataFrame(
            [("q4", "d4", 1.5)], "query_id string, docid string, relevance double"
        ),
    ]
    norm = [load_qrels(v) for v in variants]
    for df in norm:
        assert df.columns == ["query_id", "doc_id", "relevance"]
    rows = sorted(
        tuple(r) for df in norm for r in df.collect()
    )
    assert ("3", "30", 1.0) in rows and ("q1", "d1", 2.0) in rows

    # missing score column → relevance 0.0 (reference `or 0` default)
    no_score = load_qrels(
        spark.createDataFrame([("q7", "d7")], "qid string, docid string")
    )
    assert no_score.collect()[0]["relevance"] == 0.0

    with pytest.raises(ValueError):
        load_qrels(spark.createDataFrame([("x",)], "unrelated string"))

    qrels = norm[0].unionByName(norm[1]).unionByName(norm[2])
    queries = spark.createDataFrame(
        [("q1",), ("q2",), ("3",), ("q77",)], "query_id string"
    )
    p3 = filter_qrels_to_queries(qrels, queries)  # drops qid 9, q4
    assert sorted(r["query_id"] for r in p3.collect()) == ["3", "q1", "q2"]
    p4 = filter_queries_with_qrels(queries, p3)  # drops q77
    assert sorted(r["query_id"] for r in p4.collect()) == ["3", "q1", "q2"]

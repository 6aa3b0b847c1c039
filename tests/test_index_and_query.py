"""End-to-end differential: Spark engine vs the NumPy oracle
(reimplementation of /root/reference/src/indexing/sparse_index.py
semantics — build + score + top-k, SURVEY.md §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.config import EngineConfig
from splade_spark.fixtures import gen_pages, gen_queries
from splade_spark.operators.indexing import build_index
from splade_spark.operators.query import retrieve
from splade_spark.oracle import build_oracle_index, score_query_oracle

N_DOCS = 300
N_QUERIES = 40
K = 10
# small block size so multi-block terms + skew split actually happen
CFG = EngineConfig(block_size=64, index_partitions=4)


@pytest.fixture(scope="module")
def corpus():
    pages = gen_pages(N_DOCS, seed=42)
    queries = gen_queries(N_QUERIES, pages, seed=43)
    return pages, queries


@pytest.fixture(scope="module")
def spark_index(spark, corpus):
    pages, _ = corpus
    docs = spark.createDataFrame(pages[["url", "text"]])
    return build_index(docs, id_col="url", text_col="text", cfg=CFG)


@pytest.fixture(scope="module")
def oracle_index(corpus):
    pages, _ = corpus
    return build_oracle_index(list(zip(pages["url"], pages["text"])), cfg=CFG)


def test_meta_matches_oracle(spark_index, oracle_index):
    assert spark_index.meta["n_docs"] == oracle_index.n_docs
    assert np.isclose(spark_index.meta["avgdl"], oracle_index.avgdl)


def test_doc_numbering(spark_index, oracle_index):
    got = {
        r["doc_id"]: r["doc_idx"]
        for r in spark_index.doc_dim.select("doc_id", "doc_idx").collect()
    }
    want = {d: i for i, d in enumerate(oracle_index.doc_ids)}
    assert got == want


def test_term_dict_and_df(spark_index, oracle_index):
    rows = spark_index.term_dict.select("term", "term_id", "df").collect()
    got = {r["term"]: (r["term_id"], r["df"]) for r in rows}
    want = {t: (oracle_index.vocab[t], int(oracle_index.df[oracle_index.vocab[t]]))
            for t in oracle_index.terms}
    assert got == want


def test_postings_match_oracle(spark_index, oracle_index):
    """Decode every block and compare the full postings content."""
    from splade_spark.functions.codec import decode_block

    rows = spark_index.postings.collect()
    got: dict[int, list] = {}
    for r in rows:
        d, w = decode_block(r["doc_gaps"], r["weights"])
        assert r["n_postings"] == d.size
        assert r["min_doc"] == d.min() and r["max_doc"] == d.max()
        assert np.isclose(r["max_weight"], w.max(), rtol=1e-6)
        # ascending doc order within a block (ref postings order)
        assert np.all(np.diff(d) > 0)
        got.setdefault(r["term_id"], []).append((d, w))
    total = 0
    for tid, (od, ow) in oracle_index.postings.items():
        assert tid in got, f"term {tid} missing"
        parts = sorted(got[tid], key=lambda p: p[0][0])
        gd = np.concatenate([p[0] for p in parts])
        gw = np.concatenate([p[1] for p in parts])
        assert np.array_equal(gd, od), f"term {tid} docs differ"
        assert np.allclose(gw, ow, rtol=1e-6), f"term {tid} weights differ"
        total += od.size
    assert spark_index.meta["nnz"] == total


def test_skew_split_blocks_exist(spark_index):
    """Zipf head terms must split into multiple blocks."""
    multi = (
        spark_index.postings.groupBy("term_id")
        .agg(F.countDistinct("block_id").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi > 0


def _rank_check(engine_rows, oracle_topk, qid):
    """Exact doc sequence; permutations allowed only inside score-tie groups."""
    got = [(r["doc_id"], r["score"]) for r in sorted(engine_rows, key=lambda r: r["rank"])]
    want = oracle_topk
    assert len(got) == len(want), f"{qid}: k mismatch {len(got)} vs {len(want)}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert np.isclose(gs, ws, rtol=1e-5, atol=1e-6), f"{qid}: score {gs} vs {ws}"
        if gd != wd:
            # allow swap within a tie group: the want-score of gd must equal ws
            want_scores = {d: s for d, s in want}
            assert gd in want_scores and np.isclose(
                want_scores[gd], ws, rtol=1e-5, atol=1e-6
            ), f"{qid}: rank mismatch {gd} vs {wd}"


@pytest.mark.parametrize("strategy", ["exhaustive", "wand", "local"])
def test_topk_rank_identical(spark, corpus, spark_index, oracle_index, strategy):
    pages, queries = corpus
    qdf = spark.createDataFrame(queries)
    res = retrieve(spark_index, qdf, k=K, strategy=strategy)
    by_q: dict[str, list] = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    n_nonempty = 0
    for _, q in queries.iterrows():
        want = score_query_oracle(q["text"], oracle_index, k=K)
        got = by_q.get(q["query_id"], [])
        if not want:
            assert not got
            continue
        n_nonempty += 1
        _rank_check(got, want, q["query_id"])
    assert n_nonempty > N_QUERIES // 2


@pytest.mark.parametrize("other", ["wand", "local"])
def test_strategies_equal_exhaustive(spark, corpus, spark_index, other):
    _, queries = corpus
    qdf = spark.createDataFrame(queries)
    a = retrieve(spark_index, qdf, k=K, strategy="exhaustive").collect()
    b = retrieve(spark_index, qdf, k=K, strategy=other).collect()
    ka = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in a}
    kb = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in b}
    assert ka.keys() == kb.keys()
    for key in ka:
        da, sa = ka[key]
        db, sb = kb[key]
        assert np.isclose(sa, sb, rtol=1e-5), key
        # doc may differ only under exact score tie
        if da != db:
            assert np.isclose(sa, sb, rtol=0, atol=2e-6), key


def test_assign_global_ids_sparse_ranges_without_broadcast(spark):
    from splade_spark.operators.ids import assign_global_ids

    keys = spark.createDataFrame([("k2",), ("k0",), ("k1",)], "key string")
    numbered = assign_global_ids(keys, "key", "id", num_partitions=8)
    got = sorted((r["id"], r["key"]) for r in numbered.collect())
    assert got == [(0, "k0"), (1, "k1"), (2, "k2")]
    # the per-partition offsets are one literal, not a joined table
    plan = numbered._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan


def test_candidate_blocks_query_side_is_local_relation(spark, corpus,
                                                       spark_index):
    import re

    from splade_spark.operators.query import _candidate_blocks, query_terms

    _, queries = corpus
    qdf = spark.createDataFrame(queries[["query_id", "text"]].head(5))
    q_terms = query_terms(spark_index, qdf)
    plan = _candidate_blocks(spark_index, q_terms)._jdf.queryExecution() \
        .optimizedPlan().toString()
    # collected query rows re-enter the plan as a LocalRelation, which no
    # Python task scans; a Python list would show a LogicalRDD instead
    assert re.search(r"LocalRelation \[[^\]]*term_id", plan), plan
    assert not re.search(r"LogicalRDD \[[^\]]*qtf", plan), plan


def _index_rows(idx):
    """Every postings row (block bytes included), every doc_dim row and
    the metadata of an index."""
    return (
        sorted(tuple(r) for r in idx.postings.collect()),
        sorted(tuple(r) for r in
               idx.doc_dim.select("doc_idx", "doc_id", "dl").collect()),
        idx.meta,
    )


def test_build_entry_points_give_one_build(spark, corpus):
    """``index_from_tf`` numbers, sizes and finishes like ``build_index``:
    from the same corpus it gives the same index, for BM25 impacts and
    for external weights. The default config is used on purpose — its
    ``index_partitions`` cap of 32 is what a small build must not pay."""
    from splade_spark.functions.expander import expand_terms
    from splade_spark.operators.indexing import (
        _task_width, doc_term_frequencies, index_from_tf,
    )

    pages, _ = corpus
    docs = spark.createDataFrame(pages[["url", "text"]]).withColumnRenamed(
        "url", "doc_id"
    )
    tf, doc_len = doc_term_frequencies(docs)
    dw = expand_terms(docs)
    pairs = [
        (index_from_tf(tf, doc_len), build_index(docs)),
        (index_from_tf(tf, doc_len, weighted_terms=dw),
         build_index(docs, weighted_terms=dw)),
    ]
    width = _task_width(N_DOCS, 32)
    for from_tf, built in pairs:
        assert _index_rows(from_tf) == _index_rows(built)
        assert from_tf.doc_dim.rdd.getNumPartitions() == width
        assert from_tf.term_dict.rdd.getNumPartitions() == width
        from_tf.unpersist()
        built.unpersist()
    assert pairs[0][0].meta["weighting"] == "bm25"
    assert pairs[1][0].meta["weighting"] == "external"


def test_oov_query_empty(spark, spark_index):
    qdf = spark.createDataFrame([("qx", "zzznotaword qqqalsonot")], "query_id string, text string")
    assert retrieve(spark_index, qdf, k=5).count() == 0


# ---------------------------------------------------------------------------
# fp16 posting weights (reference encoding.value_dtype parity)
# ---------------------------------------------------------------------------

def test_fp16_index(spark, corpus, spark_index):
    """value_dtype="float16": same block structure at half the weight
    bytes, decode upcasts to f32, and retrieval obeys the tolerance
    contract — every returned score within fp16 rounding of the f32
    index's score for the same (query, doc), and top-k doc sets nearly
    identical (divergence only where fp16 rounding crosses a near-tie)."""
    from splade_spark.functions.codec import decode_block
    from splade_spark.operators.merge import apply_tombstones

    pages, queries = corpus
    docs = spark.createDataFrame(pages[["url", "text"]])
    cfg16 = EngineConfig(block_size=64, index_partitions=4,
                         value_dtype="float16")
    idx16 = build_index(docs, id_col="url", text_col="text", cfg=cfg16)
    assert idx16.meta["value_dtype"] == "float16"

    b32 = {(r["term_id"], r["block_id"]): r for r in spark_index.postings.collect()}
    b16 = {(r["term_id"], r["block_id"]): r for r in idx16.postings.collect()}
    assert b32.keys() == b16.keys()  # identical block structure
    bytes32 = sum(len(r["weights"]) for r in b32.values())
    bytes16 = sum(len(r["weights"]) for r in b16.values())
    assert bytes16 * 2 == bytes32  # exactly half the weight payload
    # decode upcasts: float32 out, values within half-precision rounding
    kk = next(iter(b32))
    d32, w32 = decode_block(b32[kk]["doc_gaps"], b32[kk]["weights"])
    d16, w16 = decode_block(b16[kk]["doc_gaps"], b16[kk]["weights"])
    assert w16.dtype == np.float32
    assert (d32 == d16).all()
    assert np.allclose(w16, w32, rtol=1e-3, atol=1e-4)

    qdf = spark.createDataFrame(queries[["query_id", "text"]])
    r32 = retrieve(spark_index, qdf, k=K, strategy="wand").collect()
    r16 = retrieve(idx16, qdf, k=K, strategy="wand").collect()
    s32 = {(r["query_id"], r["doc_id"]): r["score"] for r in r32}
    s16 = {(r["query_id"], r["doc_id"]): r["score"] for r in r16}
    # score tolerance on the intersection
    common = s32.keys() & s16.keys()
    assert len(common) >= 0.9 * len(s32)  # top-k sets ≥90% identical
    for key in common:
        assert abs(s16[key] - s32[key]) <= 2e-3 * abs(s32[key]) + 1e-4, key
    # fp16 indexes refuse the exact-inversion folds
    with pytest.raises(ValueError, match="float32 precision"):
        apply_tombstones(idx16, docs.limit(3).select(F.col("url").alias("doc_id")))


def test_filtered_retrieval_semantics(spark, corpus, spark_index):
    """allowed_docs restricts the RANKING only: scores equal the
    unfiltered plan's, ranks reassigned within the allowed subset, and
    the filter overrides the wand strategy (documented routing)."""
    pages, queries = corpus
    qdf = spark.createDataFrame(queries[["query_id", "text"]].head(12))
    # allowed = an arbitrary metadata slice of the corpus
    allowed = spark.createDataFrame(pages[["url"]][pages.index % 3 != 0]).select(
        F.col("url").alias("doc_id")
    )
    allowed_set = {r["doc_id"] for r in allowed.collect()}

    unfiltered = retrieve(spark_index, qdf, k=N_DOCS, strategy="exhaustive")
    expected = {}
    by_q = {}
    for r in unfiltered.collect():
        if r["doc_id"] in allowed_set:
            by_q.setdefault(r["query_id"], []).append(
                (np.float32(r["score"]), r["doc_id"])
            )
    for qid, rows in by_q.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        expected[qid] = [
            (rk + 1, did, np.float32(s).tobytes())
            for rk, (s, did) in enumerate(rows[:K])
        ]

    for strategy in ("exhaustive", "wand"):
        got = {}
        for r in retrieve(
            spark_index, qdf, k=K, strategy=strategy, allowed_docs=allowed
        ).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], np.float32(r["score"]).tobytes())
            )
        got = {q: sorted(v) for q, v in got.items()}
        assert got == {q: v for q, v in expected.items() if v}, strategy
        # every returned doc is allowed
        assert all(d in allowed_set for v in got.values() for _, d, _ in v)

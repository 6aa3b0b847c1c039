"""Doc-range sharding: postings-preserving split + exact fan-out/merge
serving parity (sharding.py vs LocalIndexServer vs the distributed plans).

Reference serving semantics preserved across the shard boundary:
accumulate + top-k with the deterministic tie rule
(/root/reference/src/indexing/sparse_index.py:661-755, SURVEY.md §4.3.2)."""

import dataclasses
import math
import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.config import EngineConfig
from splade_spark.fixtures import gen_pages, gen_queries
from splade_spark.functions.codec import decode_block
from splade_spark.operators.indexing import build_index
from splade_spark.operators.query import local_server, retrieve
from splade_spark.operators.sharding import (
    ShardedServer,
    load_shard,
    save_sharded,
    shard_postings,
)

N_DOCS = 300
N_QUERIES = 25
K = 10
# small blocks so boundary-crossing blocks actually exist at every n_shards
CFG = EngineConfig(block_size=64, index_partitions=4)


@pytest.fixture(scope="module")
def corpus():
    pages = gen_pages(N_DOCS, seed=77)
    queries = gen_queries(N_QUERIES, pages, seed=78)
    return pages, queries


@pytest.fixture(scope="module")
def index(spark, corpus):
    pages, _ = corpus
    docs = spark.createDataFrame(pages[["url", "text"]])
    return build_index(docs, id_col="url", text_col="text", cfg=CFG)


def _postings_by_term(pdf):
    """{term_id: (doc_idx asc, weights)} fully decoded and merged."""
    out = {}
    for r in pdf.itertuples(index=False):
        d, w = decode_block(r.doc_gaps, r.weights)
        out.setdefault(r.term_id, []).append((d, w))
    merged = {}
    for tid, parts in out.items():
        d = np.concatenate([p[0] for p in parts])
        w = np.concatenate([p[1] for p in parts])
        order = np.argsort(d, kind="stable")
        merged[tid] = (d[order], w[order])
    return merged


@pytest.mark.parametrize("n_shards", [1, 3, 7])
def test_shard_postings_preserves_postings(index, n_shards):
    """Splitting blocks at shard boundaries loses/duplicates nothing: the
    decoded (doc, weight) multiset per term is IDENTICAL, every sub-block's
    metadata (n_postings/min/max/max_weight) is consistent, and every
    sub-block lies entirely inside its shard's doc range."""
    n_docs = int(index.meta["n_docs"])
    dps = max(1, math.ceil(n_docs / n_shards))
    orig = _postings_by_term(index.postings.toPandas())
    sharded = shard_postings(index, n_shards).toPandas()

    got = _postings_by_term(sharded)
    assert set(got) == set(orig)
    for tid in orig:
        np.testing.assert_array_equal(got[tid][0], orig[tid][0])
        np.testing.assert_array_equal(got[tid][1], orig[tid][1])

    for r in sharded.itertuples(index=False):
        d, w = decode_block(r.doc_gaps, r.weights)
        assert r.n_postings == d.size
        assert r.min_doc == d[0] and r.max_doc == d[-1]
        assert np.float32(r.max_weight) == w.max()
        assert d[0] // dps == r.shard_id and d[-1] // dps == r.shard_id

    if n_shards > 1:
        assert sharded["shard_id"].nunique() > 1  # split actually happened


def test_sharded_server_parity(spark, index, corpus):
    """ShardedServer ≡ LocalIndexServer ≡ exhaustive plan: same doc ids,
    same f32 scores, same order, for every query (incl. OOV + empty)."""
    _, queries = corpus
    srv = local_server(index)
    sharded = ShardedServer(index, n_shards=4)

    texts = list(queries["text"]) + ["zzz-out-of-vocab zzz", ""]
    for text in texts:
        single = srv.search(text, k=K)
        fanout = sharded.search(text, k=K)
        assert fanout == single

    qdf = spark.createDataFrame(queries[["query_id", "text"]])
    ex = retrieve(index, qdf, k=K, strategy="exhaustive", cfg=CFG)
    by_q = {}
    for r in ex.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], np.float32(r["score"]))
        )
    for _, row in queries.iterrows():
        want = [
            (doc, score)
            for _, doc, score in sorted(by_q.get(row["query_id"], []))
        ]
        got = [(d, np.float32(s)) for d, s in sharded.search(row["text"], k=K)]
        assert got == want


def test_shard_split_keeps_fp16_width(spark, corpus):
    """Boundary pieces of an fp16 index are re-encoded at their source
    block's 2 bytes per posting, not widened to f32, and the broker over
    the split still answers exactly like the single server."""
    pages, queries = corpus
    docs = spark.createDataFrame(pages[["url", "text"]])
    idx16 = build_index(docs, id_col="url", text_col="text",
                        cfg=dataclasses.replace(CFG, value_dtype="float16"))
    try:
        sharded = shard_postings(idx16, 3).toPandas()
        assert len(sharded) > idx16.postings.count()  # boundaries were cut
        assert (
            sharded["weights"].map(len) == 2 * sharded["n_postings"]
        ).all()
        srv = local_server(idx16)
        broker = ShardedServer(idx16, n_shards=3)
        for text in list(queries["text"]) + ["zzz-out-of-vocab", ""]:
            assert broker.search(text, k=K) == srv.search(text, k=K)
    finally:
        idx16.unpersist()


def test_sharded_server_weighted_parity(index):
    """search_weighted fans out identically (expander-style query vecs)."""
    srv = local_server(index)
    sharded = ShardedServer(index, n_shards=3)
    qvec = {"science": 1.5, "market": 0.75, "river": 0.25, "zzz-oov": 9.9}
    assert sharded.search_weighted(qvec, k=K) == srv.search_weighted(qvec, k=K)


def test_sharded_server_from_saved(spark, index, corpus):
    """ShardedServer.from_saved(save_sharded layout) answers identically
    to the broker built from the in-memory index."""
    _, queries = corpus
    out = tempfile.mkdtemp(prefix="splade_sharded_srv_")
    save_sharded(index, out, n_shards=3)
    mem = ShardedServer(index, n_shards=3)
    saved = ShardedServer.from_saved(spark, out)
    for text in list(queries["text"])[:8] + ["zzz-oov", ""]:
        assert saved.search(text, k=K) == mem.search(text, k=K)


def test_save_load_shard_roundtrip(spark, index, corpus):
    """save_sharded → load_shard(s) gives per-shard indexes whose UNION of
    LocalIndexServer top-ks merges to the unsharded ranking; each shard's
    doc_dim and postings contain only its own doc range."""
    _, queries = corpus
    n_shards = 3
    n_docs = int(index.meta["n_docs"])
    dps = max(1, math.ceil(n_docs / n_shards))
    out = tempfile.mkdtemp(prefix="splade_sharded_")
    save_sharded(index, out, n_shards=n_shards)

    assert os.path.exists(os.path.join(out, "index_meta.json"))
    shard_servers = []
    total_docs = 0
    for s in range(n_shards):
        shard = load_shard(spark, out, s)
        assert shard.meta["n_shards"] == n_shards
        lohi = shard.doc_dim.agg(
            F.min("doc_idx"), F.max("doc_idx"), F.count(F.lit(1))
        ).collect()[0]
        total_docs += lohi[2]
        assert lohi[0] >= s * dps and lohi[1] < (s + 1) * dps
        p = shard.postings.agg(F.min("min_doc"), F.max("max_doc")).collect()[0]
        assert p[0] >= s * dps and p[1] < (s + 1) * dps
        shard_servers.append(local_server(shard))
    assert total_docs == n_docs

    # the shard_id filter must prune PARTITION DIRECTORIES at the scan —
    # a serving node reads only its own shard's files, never the table
    plan = load_shard(spark, out, 1).postings._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "shard_id" in pf

    srv = local_server(index)
    for text in list(queries["text"])[:8]:
        want = srv.search(text, k=K)
        merged = []
        for s, ss in enumerate(shard_servers):
            d, sc = ss.topk_arrays(
                {
                    srv.term_info[t]: c
                    for t, c in _bow(text, srv).items()
                },
                K,
            )
            merged.extend(
                (ss.doc_ids[int(i) - ss.doc_base], np.float32(v), int(i))
                for i, v in zip(d, sc)
            )
        merged.sort(key=lambda r: (-float(r[1]), r[2]))
        got = [(doc, np.float32(s)) for doc, s, _ in merged[:K]]
        assert got == [(doc, np.float32(s)) for doc, s in want]


def _bow(text, srv):
    from splade_spark.functions.tokenize import tokenize_py

    qtf = {}
    for t in tokenize_py(text, srv.max_tokens):
        if t in srv.term_info and t not in srv.exclude:
            qtf[t] = qtf.get(t, 0.0) + 1.0
    return qtf


def test_distributed_retrieve_over_saved_shards(spark, index, corpus):
    """load_sharded_all: the Spark wand/exhaustive strategies run across
    ALL shards of a save_sharded layout and must be rank-identical to the
    unsharded index — boundary-split blocks are self-contained, so the
    kernels see just 'more blocks', never different postings."""
    _, queries = corpus
    from splade_spark.operators.sharding import load_sharded_all

    out = tempfile.mkdtemp(prefix="splade_sharded_dist_")
    save_sharded(index, out, n_shards=3)
    dist = load_sharded_all(spark, out)

    qdf = spark.createDataFrame(queries[["query_id", "text"]])

    def ranks(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"]) for r in df.collect()
        )

    base = ranks(retrieve(index, qdf, k=K, strategy="wand"))
    assert ranks(retrieve(dist, qdf, k=K, strategy="wand")) == base
    assert ranks(retrieve(dist, qdf, k=K, strategy="exhaustive")) == base

    # the handle reads every shard's partition directory (batch scoring
    # touches the whole corpus — no shard is skipped)
    files = dist.postings.inputFiles()
    for s in range(3):
        assert any(f"shard_id={s}" in f for f in files)

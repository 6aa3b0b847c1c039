"""Served web queries (WebQueryServer) are rank-identical to the
distributed composite plane (positional.retrieve_web)."""

import random

import pytest

from splade_spark.functions.tokenize import tokenize_py
from splade_spark.operators.indexing import build_index
from splade_spark.operators.positional import (
    positional_postings,
    retrieve_web,
    save_positional,
)
from splade_spark.operators.query import LocalIndexServer
from splade_spark.operators.webserve import PositionalStore, WebQueryServer

from test_web_search import DOCS, WEBQ


@pytest.fixture(scope="module")
def served(spark):
    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    idx = build_index(docs)
    positional = positional_postings(docs)
    rows = [
        (r["term"], r["doc_id"], list(r["positions"]))
        for r in positional.collect()
    ]
    srv = LocalIndexServer(idx)
    ws = WebQueryServer(srv, PositionalStore.from_rows(rows))
    yield docs, idx, positional, ws
    idx.unpersist()


def test_served_matches_distributed(spark, served):
    docs, idx, positional, ws = served
    dist = {}
    for r in retrieve_web(idx, positional, WEBQ, k=10).collect():
        dist.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid, raw in WEBQ:
        got = ws.search(raw, k=10)
        want = [
            (d, s) for _, d, s in sorted(dist.get(qid, []))
        ]
        assert [d for d, _ in got] == [d for d, _ in want], qid
        for (_, gs), (_, wscore) in zip(
            [(d, s) for d, s in got], [(d, s) for d, s in want]
        ):
            assert abs(gs - wscore) <= 1e-6 * max(1.0, abs(wscore)), qid


def test_store_from_saved_matches_from_rows(spark, served, tmp_path):
    docs, idx, positional, ws = served
    out = str(tmp_path / "pos")
    save_positional(positional, out, n_partitions=3)
    loaded = PositionalStore.from_saved(out)
    assert set(loaded.by_term) == set(ws.store.by_term)
    for t, m in ws.store.by_term.items():
        lm = loaded.by_term[t]
        assert set(m) == set(lm)
        for d in m:
            assert list(m[d]) == list(lm[d])
    # vocabulary-pruned load
    pruned = PositionalStore.from_saved(out, terms=["hash", "join"])
    assert set(pruned.by_term) == {"hash", "join"}


def test_server_rejects_pruned_index(spark):
    import dataclasses

    from splade_spark.config import DEFAULT

    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    idx = build_index(docs, cfg=dataclasses.replace(DEFAULT, min_weight=0.1))
    try:
        srv = LocalIndexServer(idx)
        with pytest.raises(ValueError, match="complete index"):
            WebQueryServer(srv, PositionalStore.from_rows([]))
    finally:
        idx.unpersist()


def test_sharded_web_matches_single(spark, served):
    from splade_spark.operators.webserve import ShardedWebServer

    docs, idx, positional, ws = served
    rows = [
        (r["term"], r["doc_id"], list(r["positions"]))
        for r in positional.collect()
    ]
    broker = ShardedWebServer(idx, rows, n_shards=3)
    for qid, raw in WEBQ:
        want = ws.search(raw, k=10)
        for route in (False, True):
            got = broker.search(raw, k=10, route=route)
            assert got == want, (qid, route)
            if want:
                assert broker.last_shards_visited <= 3
    # OOV query touches no shard at all under routing
    broker.search('"hash join" nosuchtokzz', k=10, route=True)
    assert broker.last_shards_visited == 0
    # seeded AND-routing stress: 1-4 bare tokens from the index vocabulary
    # (repeats allowed; every other query draws them from one doc, so the
    # AND holds somewhere), some with a quoted 2-token phrase taken from a
    # doc; small k makes the theta cut bite, and so do 6 shards over 8 docs
    # (bounds nearly exact)
    fine = ShardedWebServer(idx, rows, n_shards=6)
    rng = random.Random(11)
    vocab = sorted(ws.srv.term_info)
    doc_toks = [tokenize_py(t, ws.srv.max_tokens) for _, t in DOCS]
    doc_toks = [t for t in doc_toks if len(t) >= 2]
    for trial in range(100):
        pool = rng.choice(doc_toks) if trial % 2 else vocab
        terms = [rng.choice(pool) for _ in range(rng.randint(1, 4))]
        if trial % 3 == 0:
            toks = rng.choice(doc_toks)
            i = rng.randrange(len(toks) - 1)
            terms.insert(rng.randint(0, len(terms)),
                         f'"{toks[i]} {toks[i + 1]}"')
        raw = " ".join(terms)
        k = rng.choice((1, 2, 10))
        want = ws.search(raw, k=k)
        for b in (broker, fine):
            routed = b.search(raw, k=k, route=True)
            full = b.search(raw, k=k, route=False)
            assert routed == full == want, (trial, raw, k, len(b.nodes))


def test_sharded_web_from_saved_matches_single(spark, served, tmp_path):
    from splade_spark.operators.sharding import save_sharded
    from splade_spark.operators.webserve import ShardedWebServer

    docs, idx, positional, ws = served
    idx_dir = str(tmp_path / "sharded_idx")
    pos_dir = str(tmp_path / "pos")
    save_sharded(idx, idx_dir, n_shards=3)
    from splade_spark.operators.positional import save_positional

    save_positional(positional, pos_dir, n_partitions=2)
    broker = ShardedWebServer.from_saved(spark, idx_dir, pos_dir)
    for qid, raw in WEBQ:
        assert broker.search(raw, k=10) == ws.search(raw, k=10), qid


def test_served_matches_distributed_nondefault_max_tokens(spark):
    """ADVICE r4: the served path must thread the INDEX's max_tokens into
    parse_web_query (not DEFAULT) so phrase pruning and truncation agree
    with retrieve_web(cfg=...) for non-default configs."""
    from dataclasses import replace

    from splade_spark.config import DEFAULT

    cfg = replace(DEFAULT, max_tokens=4)
    docs_rows = [
        # token 5+ is beyond the truncation horizon: 'omega' must not
        # match anything under max_tokens=4
        ("w1", "red fox jumps high omega target"),
        ("w2", "red fox jumps high"),
        ("w3", "blue fox sits low omega"),
    ]
    queries = [
        ("q1", '"red fox" jumps'),
        ("q2", "omega"),            # OOV under truncation -> empty
        ("q3", '"fox jumps" high'),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    idx = build_index(docs, cfg=cfg)
    positional = positional_postings(docs, cfg=cfg)
    dist = {}
    for r in retrieve_web(idx, positional, queries, k=10, cfg=cfg).collect():
        dist.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    rows = [
        (r["term"], r["doc_id"], list(r["positions"]))
        for r in positional.collect()
    ]
    srv = LocalIndexServer(idx)
    assert srv.max_tokens == 4  # meta round-trips the config
    ws = WebQueryServer(srv, PositionalStore.from_rows(rows))
    for qid, raw in queries:
        got = ws.search(raw, k=10)
        want = [(d, s) for _, d, s in sorted(dist.get(qid, []))]
        assert [d for d, _ in got] == [d for d, _ in want], qid
    idx.unpersist()


def test_store_from_positional_matches_from_rows(spark, served):
    docs, idx, positional, ws = served
    a = ws.store
    b = PositionalStore.from_positional(positional)
    assert set(a.by_term) == set(b.by_term)
    for t, m in a.by_term.items():
        assert set(m) == set(b.by_term[t])
        for d, ps in m.items():
            assert (ps == b.by_term[t][d]).all()

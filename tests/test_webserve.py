"""Served web queries (WebQueryServer) are rank-identical to the
distributed composite plane (positional.retrieve_web)."""

import random

import numpy as np
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


def _store_rows(store):
    """{(term, doc_id): ascending positions} unpacked from a store."""
    mask = (1 << store.shift) - 1
    out = {}
    for t, k in store.keys.items():
        for doc, pos in zip((k >> store.shift).tolist(), (k & mask).tolist()):
            out.setdefault((t, store.doc_ids[doc]), []).append(pos)
    return out


def test_store_from_saved_matches_from_rows(spark, served, tmp_path):
    docs, idx, positional, ws = served
    out = str(tmp_path / "pos")
    save_positional(positional, out, n_partitions=3)
    loaded = PositionalStore.from_saved(out)
    assert _store_rows(loaded) == _store_rows(ws.store)
    # vocabulary-pruned load
    pruned = PositionalStore.from_saved(out, terms=["hash", "join"])
    assert set(pruned.keys) == {"hash", "join"}


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
    with retrieve_web, which reads them from the index, for non-default
    configs."""
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
    for r in retrieve_web(idx, positional, queries, k=10).collect():
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
    rows = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in positional.collect()
    }
    assert _store_rows(ws.store) == rows
    assert _store_rows(PositionalStore.from_positional(positional)) == rows


def _brute_phrase(rows, ptoks):
    """doc_ids holding ``ptoks`` at consecutive positions: a scan of the
    (term, doc_id, positions) rows, the reference for docs_with_phrase."""
    by_doc = {}
    for t, d, ps in rows:
        by_doc.setdefault(d, {})[t] = set(ps)
    return sorted(
        d for d, m in by_doc.items()
        if any(
            all(p + i in m.get(t, ()) for i, t in enumerate(ptoks))
            for p in m.get(ptoks[0], ())
        )
    )


def _served_phrase(store, ptoks, among=None):
    return sorted(
        store.doc_ids[store.docs_with_phrase(ptoks, among)].tolist()
    )


def test_phrase_does_not_straddle_adjacent_docs():
    # "x" ends d0 at the largest stored position, whose bit length sets
    # the key shift; d1, next in store numbering, starts with "y"
    rows = [("w", "d0", [1, 2, 3, 4, 5, 6]), ("x", "d0", [7]),
            ("y", "d1", [1]), ("z", "d1", [2])]
    store = PositionalStore.from_rows(rows)
    assert store.shift == 3
    for ptoks in (["x", "y"], ["x", "y", "z"], ["w", "x", "y"]):
        assert _served_phrase(store, ptoks) == _brute_phrase(rows, ptoks)
        assert _served_phrase(store, ptoks) == []
    # 0-based positions: "y" at 0 shifted back by 1 would land exactly on
    # the key of d0's last position without the position >= offset rule
    rows0 = [("x", "d0", [7]), ("y", "d1", [0]), ("x", "d1", [5])]
    assert _served_phrase(PositionalStore.from_rows(rows0), ["x", "y"]) == []
    # 0-based, anchored on the rarer "x" at the largest position: its key
    # plus 1 is exactly the key of "y" at position 0 in d1, so only the
    # carry rule keeps the phrase from straddling into d1
    rows1 = [("x", "d0", [7]), ("y", "d1", [0]), ("y", "d0", [3])]
    store1 = PositionalStore.from_rows(rows1)
    assert store1.shift == 3
    assert _served_phrase(store1, ["x", "y"]) == []
    assert _brute_phrase(rows1, ["x", "y"]) == []


def test_phrase_positions_beyond_default_max_tokens():
    from splade_spark.config import DEFAULT

    big = DEFAULT.max_tokens
    rows = [
        ("a", "d0", [1, big + 5, 4 * big]), ("b", "d0", [big + 6]),
        ("a", "d1", [2 * big]), ("b", "d1", [2 * big + 1, 9 * big]),
        ("b", "d2", [1]), ("a", "d2", [9 * big]),
    ]
    store = PositionalStore.from_rows(rows)
    assert (1 << store.shift) > 9 * big
    for ptoks in (["a", "b"], ["b", "a"], ["a"], ["b", "b"]):
        assert _served_phrase(store, ptoks) == _brute_phrase(rows, ptoks)
    assert _served_phrase(store, ["a", "b"]) == ["d0", "d1"]


def test_phrase_repeated_and_three_token():
    rows = [
        ("a", "d0", [1, 2, 4]), ("b", "d0", [3, 5]),
        ("a", "d1", [1, 3]), ("b", "d1", [2]),
        ("a", "d2", [2]), ("b", "d2", [1, 3]), ("c", "d2", [4]),
    ]
    store = PositionalStore.from_rows(rows)
    cases = {
        ("a", "a"): ["d0"],
        ("a", "b", "a"): ["d0", "d1"],
        ("b", "a", "b"): ["d0", "d2"],
        ("a", "b", "c"): ["d2"],
        ("a", "a", "a"): [],
    }
    for ptoks, want in cases.items():
        assert _served_phrase(store, list(ptoks)) == want, ptoks
        assert _brute_phrase(rows, list(ptoks)) == want, ptoks


def test_phrase_matches_brute_force_on_random_corpus():
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    texts = {
        f"r{i:03d}": [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
        for i in range(200)
    }
    texts["r199"] = ["a", "b"] * 300  # one long doc sets a wide shift
    rows = {}
    for d, toks in texts.items():
        for p, t in enumerate(toks, 1):
            rows.setdefault((t, d), []).append(p)
    rows = [(t, d, ps) for (t, d), ps in rows.items()]
    rng.shuffle(rows)
    store = PositionalStore.from_rows(rows)
    half = {d for d in texts if int(d[1:]) % 2}
    node = store.restrict(sorted(half) + [None])
    node_rows = [r for r in rows if r[1] in half]
    n = len(store.doc_ids)
    for _ in range(300):
        ptoks = [rng.choice(vocab + ["zz"]) for _ in range(rng.randint(1, 4))]
        want = _brute_phrase(rows, ptoks)
        assert _served_phrase(store, ptoks) == want
        assert _served_phrase(node, ptoks) == _brute_phrase(node_rows, ptoks)
        # restricted to a random sorted subset of store doc numbers
        among = np.array(sorted(rng.sample(range(n), rng.randint(0, n))),
                         dtype=np.int64)
        subset = set(store.doc_ids[among].tolist())
        assert _served_phrase(store, ptoks, among) == [
            d for d in want if d in subset
        ]

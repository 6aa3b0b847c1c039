"""Saved positional layout, pair proximity, snippets, and web-style
composite retrieval (phrase ∧ implicit-AND ∧ BM25) vs Python oracles."""

import re

import numpy as np
import pytest

from splade_spark.functions.tokenize import tokenize_py
from splade_spark.operators.indexing import build_index
from splade_spark.operators.positional import (
    best_snippet,
    pair_proximity,
    parse_web_query,
    phrase_search,
    positional_postings,
    phrase_search_saved,
    retrieve_web,
    save_positional,
)
from splade_spark.operators.query import retrieve_conjunctive
from splade_spark.oracle import build_oracle_index
from splade_spark.session import local_frame

DOCS = [
    ("d01", "hash join strategy beats nested loop join"),
    ("d02", "the hash join wins when the build side fits in memory"),
    ("d03", "strategy for join hash reordering"),  # words, not the phrase
    ("d04", "hash join hash join hash join"),
    ("d05", "sort merge join strategy"),
    ("d06", "completely unrelated text about rivers"),
    ("d07", "build side strategy with a hash join twist"),
    ("d08", ""),
]

WEBQ = [
    ("w_phrase_and", '"hash join" strategy'),
    ("w_two_phrases", '"hash join" "build side"'),
    ("w_phrase_only", '"sort merge join"'),
    ("w_no_phrase", "hash join"),
    ("w_and_oov", '"hash join" nosuchtokzz'),
    ("w_phrase_oov", '"hash nosuchtokzz"'),
]

MAXTOK = 256


def _py_phrase_in(text, phrase):
    toks = tokenize_py(text, MAXTOK)
    p = tokenize_py(phrase, MAXTOK)
    return any(
        toks[i : i + len(p)] == p for i in range(len(toks) - len(p) + 1)
    )


def _py_web_ids(oi, docs, raw, k=10):
    """Score like the engine (f32 products, f64 sum), AND over all
    distinct tokens, then phrase-filter BEFORE the rank cut."""
    q, req = {}, set()
    for t in tokenize_py(raw, MAXTOK):
        req.add(t)
        tid = oi.vocab.get(t)
        if tid is not None:
            q[tid] = q.get(tid, 0.0) + 1.0
    if any(t not in oi.vocab for t in req):
        return []
    scores = np.zeros(oi.n_docs, dtype=np.float64)
    hits = np.zeros(oi.n_docs, dtype=np.int64)
    for tid in sorted(q):
        d, w = oi.postings[tid]
        scores[d] += np.float32(q[tid]) * w.astype(np.float64)
        hits[d] += 1
    cand = np.nonzero(hits == len(req))[0]
    text_by_id = dict(docs)
    phrases = parse_web_query(raw)
    cand = np.array(
        [
            c
            for c in cand
            if all(
                _py_phrase_in(text_by_id[oi.doc_ids[int(c)]] or "", p)
                for p in phrases
            )
        ],
        dtype=np.int64,
    )
    if cand.size == 0:
        return []
    order = np.lexsort((cand, -scores[cand]))[:k]
    return [oi.doc_ids[int(cand[i])] for i in order]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    idx = build_index(docs)
    oi = build_oracle_index(DOCS)
    positional = positional_postings(docs)
    yield docs, idx, oi, positional
    idx.unpersist()


def test_retrieve_web_matches_oracle(spark, built):
    docs, idx, oi, positional = built
    res = retrieve_web(idx, positional, WEBQ, k=10)
    got = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for qid in got:
        got[qid] = [d for _, d in sorted(got[qid])]
    want = {}
    for qid, raw in WEBQ:
        ids = _py_web_ids(oi, DOCS, raw)
        if ids:
            want[qid] = ids
    assert got == want
    assert "w_and_oov" not in got and "w_phrase_oov" not in got


def test_retrieve_web_no_phrase_equals_conjunctive(spark, built):
    docs, idx, oi, positional = built
    qs = [("wq", "hash join strategy")]
    web = retrieve_web(idx, positional, qs, k=10).collect()
    conj = retrieve_conjunctive(
        idx, spark.createDataFrame(qs, "query_id string, text string"), k=10
    ).collect()
    key = lambda rows: sorted((r["rank"], r["doc_id"]) for r in rows)
    assert key(web) == key(conj)


def test_phrase_and_web_plans_scan_no_python_rdd(spark):
    """The phrase, query and per-query count tables of the distributed
    phrase and web paths are local relations. A ``createDataFrame`` of a
    Python list would plan as a Python-RDD scan (``LogicalRDD``) that runs
    a Python task per partition on every execution."""
    docs = local_frame(spark, DOCS, "doc_id string, text string")
    idx = build_index(docs)
    phrases = [("p1", "hash join"), ("p2", "build side")]
    plans = [
        phrase_search(docs, phrases),
        retrieve_web(idx, positional_postings(docs), WEBQ, k=10),
    ]
    for df in plans:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation [query_id" in plan, plan
        assert "LogicalRDD" not in plan, plan
    idx.unpersist()


def test_saved_positional_parity(spark, built, tmp_path):
    docs, idx, oi, positional = built
    out = str(tmp_path / "pos")
    save_positional(positional, out, n_partitions=4)
    phrases = [
        ("p1", "hash join"),
        ("p2", "build side"),
        ("p3", "sort merge join"),
        ("p4", "nosuchtok join"),
    ]
    mem = {
        (r["query_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_search(docs, phrases).collect()
    }
    saved = {
        (r["query_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_search_saved(spark, out, phrases).collect()
    }
    assert mem == saved and mem  # non-empty and identical


def test_pair_proximity_matches_bruteforce(spark, built):
    docs, idx, oi, positional = built
    pairs = [
        ("p_adj", "hash", "join"),
        ("p_far", "strategy", "hash"),
        ("p_one_side", "hash", "rivers"),
        ("p_oov", "hash", "nosuchtok"),
    ]
    got = {
        (r["query_id"], r["doc_id"]): r["min_dist"]
        for r in pair_proximity(positional, pairs).collect()
    }
    want = {}
    for qid, ta, tb in pairs:
        for did, text in DOCS:
            toks = tokenize_py(text, MAXTOK)
            pa = [i + 1 for i, t in enumerate(toks) if t == ta]
            pb = [i + 1 for i, t in enumerate(toks) if t == tb]
            if pa and pb:
                want[(qid, did)] = min(abs(a - b) for a in pa for b in pb)
    assert got == want and want


def test_pair_proximity_rejects_equal_terms(spark, built):
    _, _, _, positional = built
    with pytest.raises(ValueError, match="must differ"):
        pair_proximity(positional, [("p", "hash", "hash")])


def test_pair_proximity_rejects_repeated_query_id(spark, built):
    """One pair per query_id: a repeated id would merge two pairs' terms
    into one (query, doc) fold."""
    _, _, _, positional = built
    with pytest.raises(ValueError, match="unique"):
        pair_proximity(
            positional, [("p", "hash", "join"), ("p", "strategy", "hash")]
        )


def test_best_snippet_matches_bruteforce(spark, built):
    docs, idx, oi, positional = built
    W = 5
    queries = [("s1", "hash strategy"), ("s2", "merge side"), ("s3", "zzz")]
    got = {
        (r["query_id"], r["doc_id"]): (
            r["start"], r["n_terms"], r["snippet"]
        )
        for r in best_snippet(docs, queries, window=W).collect()
    }
    want = {}
    for qid, qtext in queries:
        qt = set(tokenize_py(qtext, MAXTOK))
        for did, text in DOCS:
            toks = tokenize_py(text, MAXTOK)
            best = None
            for start in range(1, len(toks) + 1):
                win = toks[start - 1 : start - 1 + W]
                n = len(qt & set(win))
                if n > 0 and (best is None or n > best[1]):
                    best = (start, n, " ".join(win))
            if best:
                want[(qid, did)] = best
    assert got == want and want


def test_min_term_gap_matches_bruteforce(spark, built):
    from itertools import combinations

    from splade_spark.operators.positional import min_term_gap

    docs, idx, oi, positional = built
    queries = [
        ("g1", "hash join strategy"),
        ("g2", "build side"),
        ("g3", "hash rivers"),
        ("g4", "hash"),          # single term: no gap rows
        ("g5", "hash nosuchtok"),
    ]
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    got = {
        (r["query_id"], r["doc_id"]): r["min_gap"]
        for r in min_term_gap(positional, qdf).collect()
    }
    want = {}
    for qid, qtext in queries:
        qt = sorted(set(tokenize_py(qtext, MAXTOK)))
        for did, text in DOCS:
            toks = tokenize_py(text, MAXTOK)
            pos = {
                t: [i + 1 for i, x in enumerate(toks) if x == t]
                for t in qt
            }
            best = None
            for ta, tb in combinations(qt, 2):
                for a in pos[ta]:
                    for b in pos[tb]:
                        d = abs(a - b)
                        if best is None or d < best:
                            best = d
            if best is not None:
                want[(qid, did)] = best
    assert got == want and want
    assert not any(q == "g4" for q, _ in got)


def test_retrieve_proximity_reorders_by_gap(spark, built):
    from splade_spark.operators.positional import retrieve_proximity

    docs, idx, oi, positional = built
    # "build side": d02 has them adjacent, d07 has "build side" adjacent
    # too but different bm25; single-term query passes through as BM25
    res = retrieve_proximity(
        idx, positional, [("p", "hash join"), ("solo", "strategy")], k=10
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    assert by_q["p"][0][1] in {"d01", "d02", "d04"}  # adjacent-phrase docs
    assert len(by_q["solo"]) >= 1  # boost-0 path returns plain BM25 ranks


def test_positional_mutations_equal_rebuild(spark, tmp_path):
    from splade_spark.operators.positional import (
        append_positional,
        append_positional_saved,
        load_positional,
        save_positional,
        tombstone_positional,
        upsert_positional,
    )

    base = DOCS[:5]
    extra = [("d09", "fresh crawl hash join data"), ("d10", "more rivers")]
    replaced = [("d02", "the build side changed entirely"), ("d11", "new")]

    def rows(df):
        return {
            (r["term"], r["doc_id"], tuple(r["positions"]), r["tf"])
            for r in df.collect()
        }

    mk = lambda d: spark.createDataFrame(d, "doc_id string, text string")
    pos = positional_postings(mk(base))

    # delete == rebuild on kept
    kept = [d for d in base if d[0] not in ("d02", "d04")]
    drop = spark.createDataFrame([("d02",), ("d04",)], "doc_id string")
    assert rows(tombstone_positional(pos, drop)) == rows(
        positional_postings(mk(kept))
    )

    # append == rebuild on union
    assert rows(append_positional(pos, mk(extra))) == rows(
        positional_postings(mk(base + extra))
    )

    # upsert == rebuild on replaced corpus
    after = {d: t for d, t in base}
    after.update({d: t for d, t in replaced})
    assert rows(upsert_positional(pos, mk(replaced))) == rows(
        positional_postings(mk(sorted(after.items())))
    )

    # saved-layout append fold == full save of the union
    out = str(tmp_path / "pos_fold")
    save_positional(pos, out, n_partitions=2)
    append_positional_saved(out, mk(extra), n_partitions=2)
    assert rows(load_positional(spark, out)) == rows(
        positional_postings(mk(base + extra))
    )

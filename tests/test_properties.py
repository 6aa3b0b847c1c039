"""Property-based tests (hypothesis) for the pure-Python/NumPy kernels —
the pieces whose edge cases hand-picked examples miss: the varint/block
codec (both storage dtypes), the block-max WAND kernel and the served
dense kernel vs a brute-force accumulator, and the WordPiece splitter vs an independent implementation
of the published HF rules. No Spark session needed — these run in
milliseconds per example."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_spark.functions.codec import (
    binary_array,
    decode_block,
    decode_blocks,
    decode_rows,
    encode_block,
    encode_blocks,
    encode_rows,
    varint_decode,
    varint_encode,
)
from splade_spark.functions.subword import split_word_wordpiece
from splade_spark.operators.query import LocalIndexServer, _wand_topk

# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_varint_round_trip(values):
    arr = np.asarray(values, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.dtype == np.uint64
    assert np.array_equal(out, arr)


_docs_strategy = st.lists(
    st.integers(min_value=0, max_value=2**40), min_size=0, max_size=150,
    unique=True,
).map(sorted)


@given(
    docs=_docs_strategy,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    dtype=st.sampled_from(["float32", "float16"]),
)
@settings(max_examples=150, deadline=None)
def test_block_round_trip_both_dtypes(docs, seed, dtype):
    d = np.asarray(docs, dtype=np.int64)
    w = np.random.RandomState(seed).uniform(0.001, 30.0, size=d.size).astype(
        np.float32
    )
    g, wb = encode_block(d, w, value_dtype=dtype)
    dd, ww = decode_block(g, wb)
    assert np.array_equal(dd, d)
    assert ww.dtype == np.float32
    if dtype == "float32":
        assert np.array_equal(ww, w)
    else:
        # exact fp16 rounding, upcast back to f32
        assert np.array_equal(ww, w.astype(np.float16).astype(np.float32))


_rows_strategy = st.lists(
    st.tuples(
        st.lists(
            st.integers(min_value=0, max_value=2**62), max_size=12,
            unique=True,
        ).map(sorted),
        st.booleans(),  # fp16 row?
    ),
    max_size=25,
)


@given(rows=_rows_strategy, seed=st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=200, deadline=None)
def test_row_codec_matches_per_block_codec(rows, seed):
    """The batch row codec against the one-block codec, on rows that
    include empty rows, single values and values up to 2^62: each row's
    bytes equal ``encode_block``'s, ``decode_rows`` inverts
    ``encode_rows``, and the block decoder on a batch mixing fp16 and f32
    rows equals ``decode_block`` row by row."""
    docs = [np.asarray(r, dtype=np.int64) for r, _ in rows]
    lengths = np.array([d.size for d in docs], dtype=np.int64)
    flat = np.concatenate(docs + [np.empty(0, dtype=np.int64)])
    w = np.random.RandomState(seed).uniform(0.001, 30.0, flat.size).astype(
        np.float32
    )
    ws = np.split(w, np.cumsum(lengths)[:-1]) if rows else []
    per_block = [
        encode_block(d, wi, "float16" if half else "float32")
        for d, wi, (_, half) in zip(docs, ws, rows)
    ]

    buf, offs = encode_rows(flat, lengths)
    assert offs.size == len(rows) + 1
    for i, (g, _) in enumerate(per_block):
        assert buf[offs[i]:offs[i + 1]] == g
    values, got_lengths = decode_rows(buf, offs)
    assert np.array_equal(values, flat)
    assert np.array_equal(got_lengths, lengths)

    widths = [2 if half else 4 for _, half in rows]
    gaps_col, w_col = encode_blocks(flat, w, lengths, np.array(widths, int))
    assert gaps_col.to_pylist() == [g for g, _ in per_block]
    assert w_col.to_pylist() == [wb for _, wb in per_block]

    def column(items):
        data = b"".join(items)
        return binary_array(data, np.r_[0, np.cumsum([len(x) for x in items])])

    d, dw, n = decode_blocks(
        column([g for g, _ in per_block]), column([wb for _, wb in per_block])
    )
    want = [decode_block(g, wb) for g, wb in per_block]
    assert np.array_equal(n, lengths)
    assert np.array_equal(d, flat)
    assert dw.dtype == np.float32
    assert np.array_equal(
        dw, np.concatenate([x[1] for x in want] + [np.empty(0, np.float32)])
    )


# ---------------------------------------------------------------------------
# WAND kernel vs brute force
# ---------------------------------------------------------------------------


@st.composite
def _query_blocks(draw):
    """A query's candidate blocks: per term, postings over a small doc
    space split into doc-disjoint range blocks (the engine's invariant),
    with float32 weights that often TIE (small integer grid / 8)."""
    n_docs = draw(st.integers(min_value=1, max_value=60))
    n_terms = draw(st.integers(min_value=1, max_value=5))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    rng = np.random.RandomState(seed)
    qtf, max_w, min_d, max_d, gaps, wts = [], [], [], [], [], []
    truth: dict[int, float] = {}
    for _ in range(n_terms):
        q = float(rng.randint(1, 4))
        docs = np.flatnonzero(rng.rand(n_docs) < rng.uniform(0.05, 0.9))
        if docs.size == 0:
            continue
        w = (rng.randint(1, 40, size=docs.size) / 8.0).astype(np.float32)
        for di, wi in zip(docs, w):
            truth[int(di)] = truth.get(int(di), 0.0) + float(
                np.float32(np.float32(q) * wi)
            )
        # split into 1-3 doc-range blocks (bounded by posting count)
        n_blocks = int(rng.randint(1, min(4, docs.size + 1)))
        cuts = np.sort(rng.choice(docs.size, size=n_blocks - 1, replace=False)) \
            if n_blocks > 1 else np.array([], dtype=int)
        for a, b in zip(np.concatenate(([0], cuts)),
                        np.concatenate((cuts, [docs.size]))):
            if a >= b:
                continue
            g, wb = encode_block(docs[a:b].astype(np.int64), w[a:b])
            qtf.append(q)
            max_w.append(float(w[a:b].max()))
            min_d.append(int(docs[a]))
            max_d.append(int(docs[b - 1]))
            gaps.append(g)
            wts.append(wb)
    k = draw(st.integers(min_value=1, max_value=15))
    return qtf, max_w, min_d, max_d, gaps, wts, k, truth


@given(_query_blocks())
@settings(max_examples=120, deadline=None)
def test_wand_kernel_equals_brute_force(blocks):
    """The pruned kernel must equal the exhaustive f64 accumulation with
    the deterministic tie rule (score f32 desc, doc_idx asc) — including
    under heavy score ties, multi-block terms, and k > candidates."""
    qtf, max_w, min_d, max_d, gaps, wts, k, truth = blocks
    docs, scores = _wand_topk(
        np.asarray(qtf, dtype=np.float32),
        np.asarray(max_w, dtype=np.float32),
        np.asarray(min_d, dtype=np.int64),
        np.asarray(max_d, dtype=np.int64),
        gaps, wts, k,
    )
    want = sorted(
        ((np.float32(s), d) for d, s in truth.items()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    got = list(zip(scores, docs))
    assert len(got) == len(want)
    for (gs, gd), (ws, wd) in zip(got, want):
        assert gd == wd and np.float32(gs) == ws, (got, want)


def test_wand_stop_compares_f32_bounds():
    """The θ-cut must compare f32 values: after two blocks doc 100 sums to
    1 + 2^-30 in f64, above the unseen bound 1.0, but both round to f32
    1.0 — so unseen doc 0 ties the kth score and wins on doc_idx."""
    blocks = [
        (np.arange(100, 1124), np.ones(1024)),
        (np.r_[100, np.arange(3000, 4023)], np.r_[2.0**-30, np.ones(1023)]),
        (np.array([0]), np.ones(1)),
    ]
    gaps, wts, max_w, min_d, max_d = [], [], [], [], []
    for d, w in blocks:
        g, wb = encode_block(d.astype(np.int64), w.astype(np.float32))
        gaps.append(g)
        wts.append(wb)
        max_w.append(float(w.max()))
        min_d.append(int(d[0]))
        max_d.append(int(d[-1]))
    docs, scores = _wand_topk(
        np.ones(3, dtype=np.float32), np.asarray(max_w, dtype=np.float32),
        np.asarray(min_d), np.asarray(max_d), gaps, wts, 1,
    )
    assert docs.tolist() == [0] and scores.tolist() == [1.0]


# ---------------------------------------------------------------------------
# served dense kernel (LocalIndexServer) vs brute force
# ---------------------------------------------------------------------------


@st.composite
def _served_node(draw):
    """A node over doc range [base, base + n_docs) with base > 0: per
    term, postings split into 1-3 doc-disjoint blocks, weights on a
    small grid (heavy score ties), one posting of weight 0, and a query
    over some of the terms plus one term with no postings."""
    base = draw(st.integers(min_value=1, max_value=10**6))
    n_docs = draw(st.integers(min_value=1, max_value=60))
    n_terms = draw(st.integers(min_value=1, max_value=5))
    rng = np.random.RandomState(
        draw(st.integers(min_value=0, max_value=2**31 - 1))
    )
    postings = {}  # term_id -> (doc_idx, f32 weights)
    for tid in range(n_terms):
        docs = np.flatnonzero(rng.rand(n_docs) < rng.uniform(0.05, 0.9))
        if docs.size:
            w = (rng.randint(1, 40, size=docs.size) / 8.0).astype(np.float32)
            postings[tid] = (docs.astype(np.int64) + base, w)
    if postings:
        t0 = sorted(postings)[rng.randint(len(postings))]
        postings[t0][1][rng.randint(postings[t0][0].size)] = 0.0
    rows = []
    for tid, (docs, w) in postings.items():
        cuts = np.sort(rng.choice(
            np.arange(1, docs.size), size=min(rng.randint(3), docs.size - 1),
            replace=False,
        ))
        for d, wb in zip(np.split(docs, cuts), np.split(w, cuts)):
            g, wbytes = encode_block(d, wb)
            rows.append((tid, float(wb.max()), int(d[0]), int(d[-1]), g,
                         wbytes))
    pdf = pd.DataFrame(rows, columns=[
        "term_id", "max_weight", "min_doc", "max_doc", "doc_gaps", "weights",
    ])
    doc_idx = np.arange(base, base + n_docs)
    dd = pd.DataFrame({"doc_idx": doc_idx, "doc_id": [f"d{i}" for i in doc_idx]})
    srv = LocalIndexServer._from_frames({}, {}, pdf, dd)
    picked = [t for t in range(n_terms) if rng.rand() < 0.7] or [0]
    qtf = {t: float(rng.randint(1, 4)) for t in picked + [n_terms]}
    k = draw(st.integers(min_value=1, max_value=15))
    return srv, postings, qtf, k


@given(_served_node())
@settings(max_examples=150, deadline=None)
def test_served_kernel_equals_brute_force(node):
    """OR top-k equals the brute-force f64 sum of f32 products under the
    tie rule (score f32 desc, doc_idx asc), k above the candidate count
    included; the AND kernel returns exactly the docs holding every
    query term, with the same sums; a weight-0 posting still makes its
    doc a candidate."""
    srv, postings, qtf, k = node
    sums: dict[int, float] = {}
    terms_of: dict[int, int] = {}
    for tid in sorted(qtf):
        docs, w = postings.get(tid, ((), ()))
        for d, wi in zip(docs, w):
            p = float(np.float32(np.float32(qtf[tid]) * wi))
            sums[int(d)] = sums.get(int(d), 0.0) + p
            terms_of[int(d)] = terms_of.get(int(d), 0) + 1
    want = sorted(
        ((np.float32(s), d) for d, s in sums.items()),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    docs, scores = srv.topk_arrays(qtf, k)
    assert docs.dtype == np.int64 and scores.dtype == np.float32
    assert list(zip(scores.tolist(), docs.tolist())) == [
        (float(s), d) for s, d in want
    ]

    every = len(qtf) if all(t in postings for t in qtf) else -1
    and_docs = sorted(d for d, n in terms_of.items() if n == every)
    got_d, got_s = srv._accumulate(qtf.items(), every_term=True)
    assert got_d.tolist() == and_docs
    assert got_s.tolist() == [sums[d] for d in and_docs]
    # the query with its posting-less term dropped has AND candidates too
    known = {t: q for t, q in qtf.items() if t in postings}
    and_known = sorted(d for d, n in terms_of.items() if n == len(known))
    got_d, got_s = srv._accumulate(known.items(), every_term=True)
    assert got_d.tolist() == and_known
    assert got_s.tolist() == [sums[d] for d in and_known]


# ---------------------------------------------------------------------------
# WordPiece splitter vs the published HF algorithm
# ---------------------------------------------------------------------------


def _hf_wordpiece(word, vocab, cap=100):
    if len(word) > cap:
        return ["[UNK]"]
    is_bad, start, out = False, 0, []
    while start < len(word):
        end, cur = len(word), None
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in vocab:
                cur = sub
                break
            end -= 1
        if cur is None:
            is_bad = True
            break
        out.append(cur)
        start = end
    return ["[UNK]"] if is_bad else out


_alpha = st.text(alphabet="abcd", min_size=1, max_size=12)


@given(
    word=_alpha,
    pieces=st.lists(_alpha, max_size=30),
    conts=st.lists(_alpha, max_size=30),
)
@settings(max_examples=300, deadline=None)
def test_wordpiece_matches_hf_rules(word, pieces, conts):
    vocab = frozenset(pieces) | frozenset("##" + p for p in conts)
    assert split_word_wordpiece(word, vocab) == _hf_wordpiece(word, vocab)

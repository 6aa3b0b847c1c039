"""Property-based tests (hypothesis) for the pure-Python/NumPy kernels —
the pieces whose edge cases hand-picked examples miss: the varint/block
codec (both storage dtypes), the block-max WAND kernel vs a brute-force
accumulator, and the WordPiece splitter vs an independent implementation
of the published HF rules. No Spark session needed — these run in
milliseconds per example."""

import numpy as np
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
from splade_spark.operators.query import _wand_topk

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

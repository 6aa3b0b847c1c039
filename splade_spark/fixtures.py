"""Deterministic synthetic fixtures (FIXTURES.md) — pages/queries/qrels.

Pure seeded NumPy generation: no wall clock, no external data. Zipf token
frequencies create genuine head-term skew so the skew-split index path is
actually exercised (FIXTURES.md §1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 10_000
_EPOCH = pd.Timestamp("2026-01-01T00:00:00Z")


def _vocab(n: int = VOCAB_SIZE) -> np.ndarray:
    # deterministic pronounceable-ish tokens: w<id> in base36
    return np.array([f"w{np.base_repr(i, 36).lower()}" for i in range(n)])


def gen_pages(n_rows: int, seed: int = 42, split: str = "train") -> pd.DataFrame:
    """pages(url, warc_ts, html, text, lang) per FIXTURES.md §1."""
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    # Zipf ranks: probability ∝ 1/rank^1.1 over the vocab
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    probs = 1.0 / ranks**1.1
    probs /= probs.sum()
    lengths = np.clip(
        rng.lognormal(mean=np.log(60.0), sigma=0.6, size=n_rows), 5, 400
    ).astype(np.int64)
    total = int(lengths.sum())
    all_tokens = rng.choice(vocab, size=total, p=probs)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(all_tokens[offsets[i]:offsets[i + 1]]) for i in range(n_rows)]
    urls = [f"https://example.org/{split}/{i:08d}" for i in range(n_rows)]
    langs = np.where(
        rng.random(n_rows) < 0.95, "en",
        np.where(np.arange(n_rows) % 2 == 0, "de", "fr"),
    )
    htmls = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    ts = _EPOCH + pd.to_timedelta(np.arange(n_rows), unit="s")
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts.tz_localize(None), "html": htmls,
         "text": texts, "lang": langs}
    )


def gen_queries(
    n_queries: int, pages: pd.DataFrame, seed: int = 43,
    with_source: bool = False,
) -> pd.DataFrame:
    """queries(query_id, text): 2-8 tokens drawn from document texts; every
    10th query gets one OOV token (empty-postings path).

    ``with_source=True`` adds a ``source_url`` column naming the document
    each query was drawn from — the ground-truth positive for
    retrieval-quality evaluation (same seeded draws either way)."""
    rng = np.random.default_rng(seed)
    texts = pages["text"].tolist()
    urls = pages["url"].tolist()
    rows = []
    for i in range(n_queries):
        j = int(rng.integers(0, len(texts)))
        doc = texts[j]
        toks = doc.split()
        n = int(rng.integers(2, 9))
        picked = [toks[int(rng.integers(0, len(toks)))] for _ in range(min(n, len(toks)))]
        if i % 10 == 9:
            picked.append(f"zoov{i}")
        rows.append((f"q{i:05d}", " ".join(picked), urls[j]))
    out = pd.DataFrame(rows, columns=["query_id", "text", "source_url"])
    return out if with_source else out[["query_id", "text"]]


def gen_qrels(queries: pd.DataFrame, pages: pd.DataFrame, seed: int = 44) -> pd.DataFrame:
    """qrels(query_id, doc_id, relevance): 1-5 judged docs/query, ≥1
    positive; some positives low-overlap so the missed-positive
    min_score-1 sentinel path fires (FIXTURES.md §3)."""
    rng = np.random.default_rng(seed)
    urls = pages["url"].tolist()
    rows = []
    for qid in queries["query_id"]:
        n = int(rng.integers(1, 6))
        picks = rng.choice(len(urls), size=n, replace=False)
        for j, p in enumerate(picks):
            rel = 2.0 if j == 0 else float(rng.integers(0, 3))
            rows.append((qid, urls[int(p)], rel))
    return pd.DataFrame(rows, columns=["query_id", "doc_id", "relevance"])

"""Seeded benchmark inputs, and the independent counts the output checks use.

Every input is a pure function of the run's seed. The engine sees only the
generated frames; the reference counts below come from pandas and the
engine's Python tokenizer oracle, never from the engine's Spark plans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from splade_spark.config import DEFAULT
from splade_spark.fixtures import gen_pages, gen_queries
from splade_spark.functions.tokenize import tokenize_py

N_DOCS = 5_000             # corpus size (Zipf 10k-term vocab, ~60-token docs)
UPSERT_DOCS = N_DOCS // 10  # half replace existing URLs, half are new
QUERY_POOL = 4_000         # bag-of-words queries the closed loop cycles
WEB_POOL = 600             # web queries; their vocabulary sizes the phrase store
TAIL_MAX_DF = 20           # a tail term occurs in at most this many docs
HEAD_TERMS = 100           # serve_tail's optional head term comes from the top 100
STRATA = 10                # query pools are interleaved by cost decile


def corpus(seed: int) -> pd.DataFrame:
    return gen_pages(N_DOCS, seed=seed)[["url", "text"]]


def upsert_batch(pages: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Fresh text for a seeded half of existing URLs, plus as many new URLs
    (which sort after every corpus URL, so the fold appends them)."""
    rng = np.random.default_rng(seed + 1)
    fresh = gen_pages(UPSERT_DOCS, seed=seed + 1, split="upsert")[["url", "text"]]
    n_old = UPSERT_DOCS // 2
    old = rng.choice(len(pages), size=n_old, replace=False)
    urls = fresh["url"].to_numpy(dtype=object)
    urls[:n_old] = pages["url"].to_numpy(dtype=object)[np.sort(old)]
    return pd.DataFrame({"url": urls, "text": fresh["text"].to_numpy()})


def _distinct_terms(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: set(tokenize_py(t, DEFAULT.max_tokens)))


class Reference:
    """Counts an index built from ``pages`` must reproduce."""

    def __init__(self, pages: pd.DataFrame):
        terms = _distinct_terms(pages["text"])
        self.n_docs = len(pages)
        self.nnz = int(terms.map(len).sum())
        self.df = terms.map(sorted).explode().value_counts()
        self.df_of = self.df.to_dict()
        self._terms = dict(zip(pages["url"], terms))
        self.tokens = {
            u: tokenize_py(t, DEFAULT.max_tokens)
            for u, t in zip(pages["url"], pages["text"])
        }

    def after_upsert(self, batch: pd.DataFrame) -> tuple[int, int]:
        """(n_docs, nnz) of (corpus minus batch URLs) union batch."""
        batch_terms = _distinct_terms(batch["text"])
        replaced = set(batch["url"])
        kept = [s for u, s in self._terms.items() if u not in replaced]
        n_docs = len(kept) + len(batch)
        return n_docs, sum(map(len, kept)) + int(batch_terms.map(len).sum())

    def df_sample(self, seed: int, n: int = 50) -> dict[str, int]:
        rng = np.random.default_rng(seed + 3)
        pick = rng.choice(len(self.df), size=min(n, len(self.df)), replace=False)
        return {str(t): int(c) for t, c in self.df.iloc[np.sort(pick)].items()}

    def tail_head_terms(self) -> tuple[list[str], list[str]]:
        ranked = sorted(self.df.items(), key=lambda p: (-p[1], p[0]))
        head = [t for t, _ in ranked[:HEAD_TERMS]]
        tail = sorted(t for t, c in ranked if c <= TAIL_MAX_DF)
        return tail, head


def stratified(queries: list[str], cost: list[float], seed: int) -> list[str]:
    """The same queries, reordered so that each run of STRATA consecutive
    queries holds one of each cost decile, in a seeded order.

    A tier serves as many queries from the front of its pool as its time
    share allows. Drawn in plain order, the share of costly queries in that
    prefix would vary with the seed and with the host's speed, and move the
    percentiles with it; interleaved, every prefix has the pool's mix."""
    rng = np.random.default_rng(seed + 6)
    by_cost = np.argsort(np.asarray(cost), kind="stable")
    deciles = rng.permuted(by_cost.reshape(STRATA, -1), axis=1)
    groups = rng.permuted(deciles.T, axis=1)
    return [queries[i] for i in groups.ravel()]


def postings_cost(ref: Reference, queries: list[str]) -> list[int]:
    """Postings a query's distinct tokens hold in the corpus."""
    return [sum(ref.df_of.get(t, 0) for t in set(tokenize_py(q)))
            for q in queries]


def head_queries(pages: pd.DataFrame, ref: Reference, seed: int) -> list[str]:
    """``gen_queries``: 2-8 tokens drawn from one doc, so Zipf head terms
    dominate; every tenth query carries an OOV token."""
    qs = gen_queries(QUERY_POOL, pages, seed=seed + 2)["text"].tolist()
    return stratified(qs, postings_cost(ref, qs), seed)


def tail_queries(ref: Reference, seed: int) -> list[str]:
    """1-3 tail terms (corpus df <= TAIL_MAX_DF); every third query also
    carries one top-HEAD_TERMS head term. A head term roughly doubles a
    query's cost, so an even split would put the median between the two
    modes, where it swings with the exact mix."""
    tail, head = (np.array(t) for t in ref.tail_head_terms())
    rng = np.random.default_rng(seed + 2)
    out = []
    for i in range(QUERY_POOL):
        terms = list(rng.choice(tail, size=int(rng.integers(1, 4)), replace=False))
        if i % 3 == 2:
            terms.append(rng.choice(head))
        out.append(" ".join(terms))
    return stratified(out, postings_cost(ref, out), seed)


def web_queries(pages: pd.DataFrame, ref: Reference, seed: int) -> list[str]:
    """``"a b" c``: an adjacent token pair of a corpus doc as the phrase,
    plus another token of the same doc as a bare term. A query's cost
    follows the rarer phrase term's df: a phrase of two head terms costs
    ~20x the median query."""
    rng = np.random.default_rng(seed + 4)
    texts = pages["text"].tolist()
    out = []
    for _ in range(WEB_POOL):
        toks = texts[int(rng.integers(0, len(texts)))].split()
        toks = toks[: DEFAULT.max_tokens]
        p = int(rng.integers(0, len(toks) - 1))
        bare = toks[int(rng.integers(0, len(toks)))]
        out.append(f'"{toks[p]} {toks[p + 1]}" {bare}')
    cost = [min(ref.df_of.get(t, 0) for t in tokenize_py(q.split('"')[1]))
            for q in out]
    return stratified(out, cost, seed)


def positional_rows(ref: Reference, vocab: list[str]) -> list[tuple]:
    """(term, url, 1-based positions) for the vocabulary's terms, from the
    same truncated token streams the index sees."""
    keep = set(vocab)
    rows: dict[tuple[str, str], list[int]] = {}
    for url, toks in ref.tokens.items():
        for pos, t in enumerate(toks, 1):
            if t in keep:
                rows.setdefault((t, url), []).append(pos)
    return [(t, u, p) for (t, u), p in rows.items()]

"""In-process web-query serving: conjunctive BM25 + exact phrase
filtering at millisecond latency.

The distributed plane answers web-style queries (quoted phrases ∧
implicit AND ∧ BM25, positional.retrieve_web) as Spark jobs; this
module is the SERVING mirror, the same shape LocalIndexServer gives the
bag-of-words path: everything warm in one process, zero Spark jobs per
query. Serving has two node types and one broker:

- :class:`~.query.LocalIndexServer` — one doc-range index shard,
  bag-of-words (OR) queries;
- :class:`WebQueryServer` — that shard plus the SAME doc range's
  positional slice, web (AND + phrase) queries;
- :class:`~.sharding.ShardedServer` — the broker for both.
  :class:`ShardedWebServer` is that broker with WebQueryServer nodes:
  it routes and merges exactly as for OR queries, with the stronger
  AND routing rule (a shard missing any query term is skipped).
  Conjunctive and phrase constraints are per-doc predicates, so shard
  merges stay rank-safe.

Scale notes: the positional store is the memory analogue of the saved
layout (positional.save_positional) — load only this shard's doc range,
and optionally only a query-vocabulary subset (`terms=`), which at
serving time is the live query stream's vocabulary, not the corpus's.
Each term's positions are one sorted int64 array of packed
``doc << shift | pos`` keys, so a phrase is matched by one whole-array
intersect per extra slot (that slot's keys shifted back by its offset)
— the distributed matcher's shifted-position join, with no Python loop
over docs or candidates.

Score parity: products f32, accumulation f64, final score f32 — the
engine's A1 contract — and the (score desc, doc_idx asc) tie rule, so
served results are rank-identical to positional.retrieve_web
(pinned by tests/test_webserve.py).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import replace
from itertools import chain

import numpy as np
import pandas as pd

from ..config import DEFAULT
# decode_block is not called here (LocalIndexServer._accumulate decodes
# for this node too), but perfbench/tracing.py wraps it by this module's
# name, so the import stays
from ..functions.codec import (  # noqa: F401
    binary_buffers,
    decode_block,
    decode_rows,
)
from ..functions.tokenize import tokenize_py
from .indexing import _require_complete
from .positional import parse_web_query
from .query import LocalIndexServer
from .sharding import ShardedServer


class PositionalStore:
    """Warm positional lists in packed form.

    The store numbers its own docs: ``doc_ids`` is sorted, and a doc's
    number is its index there. ``keys`` maps each term to one sorted,
    unique int64 array of ``doc << shift | pos``. ``shift`` is the bit
    length of the largest stored position, so a position never reaches
    the doc bits; and a key is shifted back by a slot offset ``off`` only
    if its position is at least ``off``, so no subtraction borrows from
    the doc bits and aliases a doc into its neighbour."""

    def __init__(self, doc_ids: np.ndarray, shift: int,
                 keys: dict[str, np.ndarray]):
        self.doc_ids = doc_ids
        self.shift = shift
        self.keys = keys

    @classmethod
    def _pack(cls, terms, docs, lengths, positions) -> "PositionalStore":
        """One row per (term, doc): ``terms[i]`` and ``docs[i]`` name row
        i, whose strictly ascending positions are the next ``lengths[i]``
        values of the concatenated int64 ``positions``."""
        doc, doc_ids = pd.factorize(docs, sort=True)
        shift = max(1, int(positions.max(initial=0)).bit_length())
        keys = np.repeat(doc.astype(np.int64), lengths) << shift | positions
        term, vocab = pd.factorize(terms, sort=True)
        term = np.repeat(term, lengths)
        order = np.lexsort((keys, term))
        bounds = np.searchsorted(term[order], np.arange(vocab.size + 1))
        keys = keys[order]
        return cls(doc_ids, shift, {
            t: keys[lo:hi]
            for t, lo, hi in zip(vocab.tolist(), bounds[:-1], bounds[1:])
        })

    @classmethod
    def from_saved(
        cls, pos_dir: str, terms: list[str] | None = None
    ) -> "PositionalStore":
        """Load a saved positional layout (positional.save_positional:
        term-partitioned parquet, delta+varint position bytes) via Arrow.
        ``terms`` prunes to a vocabulary — the serving fleet loads only
        the query stream's terms for its own doc range. All rows decode
        in one ``codec.decode_rows`` over the column's value bytes."""
        import pyarrow.dataset as ds

        dataset = ds.dataset(pos_dir, format="parquet")
        flt = None
        if terms is not None:
            flt = ds.field("term").isin(sorted(set(terms)))
        tbl = dataset.to_table(
            columns=["term", "doc_id", "positions"], filter=flt
        )
        positions, lengths = decode_rows(
            *binary_buffers(tbl.column("positions"))
        )
        return cls._pack(tbl.column("term").to_numpy(),
                         tbl.column("doc_id").to_numpy(), lengths, positions)

    @classmethod
    def from_rows(
        cls, rows: "Iterable[tuple[str, str, list[int]]]"
    ) -> "PositionalStore":
        """(term, doc_id, strictly ascending positions) rows, one per
        (term, doc) — the test/demo path (collect a positional_postings
        DataFrame)."""
        rows = list(rows)
        ps = [r[2] for r in rows]
        lengths = np.fromiter(map(len, ps), np.int64, len(ps))
        return cls._pack(
            np.array([r[0] for r in rows], dtype=object),
            np.array([r[1] for r in rows], dtype=object),
            lengths,
            np.fromiter(chain.from_iterable(ps), np.int64, lengths.sum()),
        )

    @classmethod
    def from_positional(cls, positional) -> "PositionalStore":
        """Load directly from a positional_postings DataFrame via ONE
        Arrow transfer (``toArrow``) — the warm-load path when no saved
        layout exists yet. The position lists arrive as one flat value
        array plus per-row lengths, which is what the packer takes."""
        tbl = positional.select("term", "doc_id", "positions").toArrow()
        ps = tbl.column("positions").combine_chunks()
        return cls._pack(
            tbl.column("term").to_numpy(),
            tbl.column("doc_id").to_numpy(),
            np.diff(ps.offsets.to_numpy()).astype(np.int64),
            ps.flatten().to_numpy().astype(np.int64),
        )

    def restrict(self, doc_ids: Iterable[str | None]) -> "PositionalStore":
        """The slice holding only ``doc_ids`` (one node's doc range),
        under the same doc numbering."""
        keep = np.isin(self.doc_ids, [d for d in doc_ids if d is not None])
        return PositionalStore(self.doc_ids, self.shift, {
            t: k[keep[k >> self.shift]] for t, k in self.keys.items()
        })

    def docs_with_phrase(self, ptoks: list[str]) -> np.ndarray:
        """Store doc numbers (ascending, unique) containing the exact
        phrase: the first slot's keys are the candidate starts, and each
        later slot ``off`` keeps the starts found among its own keys
        shifted back by ``off``."""
        lists = [self.keys.get(t) for t in ptoks]
        if not lists or any(k is None for k in lists):
            return np.empty(0, dtype=np.int64)
        mask = (1 << self.shift) - 1
        starts = lists[0]
        for off, k in enumerate(lists[1:], 1):
            starts = np.intersect1d(
                starts, k[(k & mask) >= off] - off, assume_unique=True
            )
            if starts.size == 0:
                break
        return np.unique(starts >> self.shift)


class WebQueryServer:
    """The web (AND + phrase) serving node: a warm index shard
    (LocalIndexServer) + the same doc range's positional slice. A query
    runs the shard's own dense kernel in AND mode
    (``LocalIndexServer._accumulate(every_term=True)``), keeps the
    candidates holding every quoted phrase, and ranks them with
    ``LocalIndexServer._rank``."""

    def __init__(self, srv: LocalIndexServer, store: PositionalStore):
        self.srv = srv
        self.store = store
        _require_complete(srv.meta, "WebQueryServer")
        node = {d: i for i, d in enumerate(srv.doc_ids, srv.doc_base)}
        # store doc number -> this node's global doc_idx (-1: not here)
        self.store_doc_idx = np.array(
            [node.get(d, -1) for d in store.doc_ids], dtype=np.int64
        )

    def search(self, raw: str, k: int = 10) -> list[tuple[str, float]]:
        """'"exact phrase" bare terms' → [(doc_id, score f32)] — docs
        matching every quoted phrase AND containing every token, ranked
        by BM25 over the full token bag, (score desc, doc_idx asc)."""
        srv = self.srv
        docs, scores = self.topk_arrays(raw, k)
        return [
            (srv.doc_ids[int(d) - srv.doc_base], float(s))
            for d, s in zip(docs, scores)
        ]

    def topk_arrays(
        self, raw: str, k: int = 10
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k as (global doc_idx int64, score float32), ranked
        (score desc, doc_idx asc) — the broker's merge currency
        (ShardedWebServer), mirroring LocalIndexServer.topk_arrays."""
        srv = self.srv
        qtf, known = srv._parse(raw)
        # an unknown token: implicit AND can never hold (no weights → no
        # candidates); otherwise the AND candidates of the shared kernel
        cand, csum = srv._accumulate(
            qtf.items() if known else (), every_term=True
        )
        if cand.size:
            # the index's own max_tokens (from saved meta) must govern the
            # phrase parse too — an empty-after-tokenize quoted segment is
            # pruned only under the SAME truncation rule the distributed
            # retrieve_web(cfg=...) path applies, keeping served/distributed
            # rank identity for non-default configs.
            for ph in parse_web_query(
                raw, replace(DEFAULT, max_tokens=srv.max_tokens)
            ):
                hit = self.store.docs_with_phrase(
                    tokenize_py(ph, srv.max_tokens)
                )
                keep = np.isin(cand, self.store_doc_idx[hit])
                cand, csum = cand[keep], csum[keep]
                if cand.size == 0:
                    break
        return srv._rank(cand, csum, k)


class ShardedWebServer(ShardedServer):
    """The web-query broker: a :class:`~.sharding.ShardedServer` whose
    visited nodes are WebQueryServers (index shard + its positional
    slice). Routing and merge are the broker's own, with the AND rule —
    a shard missing ANY query term cannot hold a candidate and is
    skipped outright, on top of the Σ qw·max_w(term, shard) bound
    descent with strict θ-cut. Selective multi-term web queries
    therefore touch only the shards whose doc ranges hold ALL their
    terms; results are identical to one unsharded server
    (pytest-pinned). The inherited ``search_ids`` / ``search_weighted``
    still answer bag-of-words (OR) queries over the same shards."""

    def __init__(self, index, positional_rows, n_shards: int = 4):
        super().__init__(index, n_shards=n_shards)
        self._attach_positional(PositionalStore.from_rows(positional_rows))

    @classmethod
    def from_saved(
        cls,
        spark,
        index_dir: str,
        pos_dir: str,
        terms: list[str] | None = None,
    ) -> "ShardedWebServer":
        """Boot the web broker from a ``save_sharded`` index layout plus
        a ``save_positional`` layout. Demo path loads the positional
        table once (optionally vocabulary-pruned) and splits it by each
        node's doc set; on a fleet each node instead loads only its own
        doc range's positional files next to its index shard."""
        self = super().from_saved(spark, index_dir)
        self._attach_positional(PositionalStore.from_saved(pos_dir, terms))
        return self

    def _attach_positional(self, store: PositionalStore) -> None:
        self.nodes = [
            WebQueryServer(srv, store.restrict(srv.doc_ids))
            for srv in self.servers
        ]

    def search(
        self, raw: str, k: int = 10, route: bool = True
    ) -> list[tuple[str, float]]:
        """'"exact phrase" bare terms' → [(doc_id, score f32)], identical
        to one unsharded WebQueryServer; ``route=False`` visits every
        shard."""
        qtf, known = self.servers[0]._parse(raw)
        if not known or not qtf:
            self.last_shards_visited = 0
            return []
        return self._fan_out(self.nodes, raw, list(qtf.items()), k, route,
                             every_term=True)

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
Phrase matching intersects shifted position arrays (NumPy
``intersect1d`` over sorted unique ints) starting from the rarest slot,
so cost tracks the phrase's own postings exactly like the distributed
matcher.

Score parity: products f32, accumulation f64, final score f32 — the
engine's A1 contract — and the (score desc, doc_idx asc) tie rule, so
served results are rank-identical to positional.retrieve_web
(pinned by tests/test_webserve.py).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import replace

import numpy as np

from ..config import DEFAULT
from ..functions.codec import decode_block, varint_decode
from ..functions.tokenize import tokenize_py
from .positional import parse_web_query
from .query import LocalIndexServer
from .sharding import ShardedServer


class PositionalStore:
    """Warm positional lists: term → {doc_id: ascending int64 positions}."""

    def __init__(self, by_term: dict[str, dict[str, np.ndarray]]):
        self.by_term = by_term

    @classmethod
    def from_saved(
        cls, pos_dir: str, terms: list[str] | None = None
    ) -> "PositionalStore":
        """Load a saved positional layout (positional.save_positional:
        term-partitioned parquet, delta+varint position bytes) via Arrow.
        ``terms`` prunes to a vocabulary — the serving fleet loads only
        the query stream's terms for its own doc range."""
        import pyarrow.dataset as ds

        dataset = ds.dataset(pos_dir, format="parquet")
        flt = None
        if terms is not None:
            flt = ds.field("term").isin(sorted(set(terms)))
        tbl = dataset.to_table(
            columns=["term", "doc_id", "positions"], filter=flt
        )
        by_term: dict[str, dict[str, np.ndarray]] = {}
        for t, d, p in zip(
            tbl.column("term").to_pylist(),
            tbl.column("doc_id").to_pylist(),
            tbl.column("positions").to_pylist(),
        ):
            by_term.setdefault(t, {})[d] = varint_decode(bytes(p)).astype(
                np.int64
            ).cumsum()
        return cls(by_term)

    @classmethod
    def from_rows(
        cls, rows: "Iterable[tuple[str, str, list[int]]]"
    ) -> "PositionalStore":
        """(term, doc_id, ascending positions) rows — the test/demo path
        (collect a positional_postings DataFrame)."""
        by_term: dict[str, dict[str, np.ndarray]] = {}
        for t, d, ps in rows:
            by_term.setdefault(t, {})[d] = np.asarray(ps, dtype=np.int64)
        return cls(by_term)

    @classmethod
    def from_positional(cls, positional) -> "PositionalStore":
        """Load directly from a positional_postings DataFrame via ONE
        Arrow transfer (``toPandas`` under
        spark.sql.execution.arrow.pyspark.enabled) — the warm-load path
        when no saved layout exists yet. Arrow hands positions over as
        numpy arrays already; Row-object collection measured ~5x slower
        at 10^6 (term, doc) rows."""
        pdf = positional.select("term", "doc_id", "positions").toPandas()
        return cls.from_rows(
            zip(
                pdf["term"].tolist(),
                pdf["doc_id"].tolist(),
                pdf["positions"].tolist(),
            )
        )

    def docs_with_phrase(self, ptoks: list[str]) -> set[str]:
        """doc_ids containing the exact phrase. Intersection walks start
        from the rarest slot's postings; shifted-position intersects are
        linear in the touched lists."""
        maps = [self.by_term.get(t) for t in ptoks]
        if not maps or any(m is None for m in maps):
            return set()
        seed = min(range(len(maps)), key=lambda i: len(maps[i]))
        out: set[str] = set()
        for doc in maps[seed]:
            if any(doc not in m for m in maps):
                continue
            starts = maps[0][doc]
            for off in range(1, len(maps)):
                starts = np.intersect1d(
                    starts, maps[off][doc] - off, assume_unique=True
                )
                if starts.size == 0:
                    break
            if starts.size:
                out.add(doc)
        return out


class WebQueryServer:
    """The web (AND + phrase) serving node: a warm index shard
    (LocalIndexServer) + the same doc range's positional slice."""

    def __init__(self, srv: LocalIndexServer, store: PositionalStore):
        self.srv = srv
        self.store = store
        if float(srv.min_weight) > 0.0 or srv.top_k_terms < srv.max_tokens:
            raise ValueError(
                "WebQueryServer: conjunctive serving needs a complete "
                "index (min_weight == 0 and a non-binding per-doc term "
                "cap) — pruned postings make the all-terms test "
                "undecidable"
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
        empty = (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float32),
        )
        qtf, known = srv._parse(raw)
        if not known or not qtf:
            return empty  # OOV token: implicit AND can never hold
        d_parts, s_parts = [], []
        for tid in sorted(qtf):
            blocks = srv.by_term.get(tid, ())
            if not blocks:
                return empty  # term absent from this shard: no AND match
            qw = np.float32(qtf[tid])
            for _, _, _, g, wbytes in blocks:
                d, w = decode_block(g, wbytes)
                d_parts.append(d)
                # A1 contract: f32 products, f64 accumulation
                s_parts.append(
                    (qw * w.astype(np.float32)).astype(np.float64)
                )
        docs = np.concatenate(d_parts)
        prods = np.concatenate(s_parts)
        uniq, inv = np.unique(docs, return_inverse=True)
        sums = np.zeros(uniq.size, dtype=np.float64)
        np.add.at(sums, inv, prods)
        cnt = np.zeros(uniq.size, dtype=np.int64)
        np.add.at(cnt, inv, 1)  # blocks hold disjoint docs within a term
        mask = cnt == len(qtf)
        cand, csum = uniq[mask], sums[mask]
        if cand.size == 0:
            return empty
        # the index's own max_tokens (from saved meta) must govern the
        # phrase parse too — an empty-after-tokenize quoted segment is
        # pruned only under the SAME truncation rule the distributed
        # retrieve_web(cfg=...) path applies, keeping served/distributed
        # rank identity for non-default configs.
        phrases = parse_web_query(
            raw, replace(DEFAULT, max_tokens=srv.max_tokens)
        )
        if phrases:
            allowed: set[str] | None = None
            for ph in phrases:
                hit = self.store.docs_with_phrase(
                    tokenize_py(ph, srv.max_tokens)
                )
                allowed = hit if allowed is None else (allowed & hit)
                if not allowed:
                    return empty
            keep = np.array(
                [
                    srv.doc_ids[int(d) - srv.doc_base] in allowed
                    for d in cand
                ],
                dtype=bool,
            )
            cand, csum = cand[keep], csum[keep]
            if cand.size == 0:
                return empty
        scores = csum.astype(np.float32)
        order = np.lexsort((cand, -scores.astype(np.float64)))[:k]
        return cand[order], scores[order]


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
        self._attach_positional(
            (t, d, np.asarray(ps, dtype=np.int64))
            for t, d, ps in positional_rows
        )

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
        store = PositionalStore.from_saved(pos_dir, terms=terms)
        self._attach_positional(
            (t, d, ps)
            for t, m in store.by_term.items()
            for d, ps in m.items()
        )
        return self

    def _attach_positional(self, rows) -> None:
        by_doc_shard: dict[str, int] = {}
        for si, srv in enumerate(self.servers):
            for d in srv.doc_ids:
                if d is not None:
                    by_doc_shard[d] = si
        slices: list[dict] = [dict() for _ in self.servers]
        for t, d, ps in rows:
            si = by_doc_shard.get(d)
            if si is not None:
                slices[si].setdefault(t, {})[d] = ps
        self.nodes = [
            WebQueryServer(srv, PositionalStore(slc))
            for srv, slc in zip(self.servers, slices)
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

"""Doc-range index sharding + the one serving broker.

This makes the serving story real at 10^12 docs: ONE process cannot hold
the whole index, so the index is split into S doc-range shards and every
serving node holds one shard resident (the reference's own serving shape
— it memory-maps term_ptr/postings and scores in-process, reference
sparse_index.py:502-536,661-755). There are two node types: a
``LocalIndexServer`` answers bag-of-words (OR) queries over its shard,
and a ``webserve.WebQueryServer`` adds the shard's positional slice for
web (AND + phrase) queries. ``ShardedServer`` is the broker for both: it
bounds each node from per-term impact ceilings, visits nodes in
descending bound order with a strict θ-cut, and merges per-node top-k.
The merge is EXACT, not approximate: postings are split by doc_idx
range, so the full score of any doc lives entirely in its shard, and the
global top-k is a subset of the union of per-shard top-ks.

Spark-first design notes (100 TB):
- ``shard_postings`` is a NARROW job — no shuffle. Blocks are already
  doc-range structured (block_id is a doc-range split, indexing.py), so a
  block either falls entirely inside one shard (pass-through: metadata
  compare only, no decode) or crosses a boundary and is decoded, split at
  the boundary, and re-encoded — only boundary blocks pay the codec, and
  there are at most (n_shards − 1) boundaries per term.
- ``save_sharded`` writes ``partitionBy("shard_id")`` so a serving node
  reads ONLY its shard's files (partition pruning on load); doc_dim is
  partitioned the same way.
- the tie rule is preserved end-to-end: (score f32 desc, doc_idx asc),
  identical to the node kernel, the WAND kernel and the exhaustive plan
  (SURVEY.md §4.3.2).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import decode_blocks, encode_blocks
from .indexing import POSTINGS_SCHEMA, InvertedIndex
from .query import _SERVED_COLS, LocalIndexServer, load_term_info

_SHARDED_SCHEMA = "shard_id INT, " + POSTINGS_SCHEMA


def _dps(n_docs: int, n_shards: int) -> int:
    """Docs per shard — THE boundary rule (shard of doc = doc_idx // dps).
    Single definition so split, save, and serve can never diverge."""
    return max(1, math.ceil(n_docs / n_shards))


def shard_postings(index: InvertedIndex, n_shards: int) -> DataFrame:
    """Postings → postings + ``shard_id``, split at doc-range boundaries.

    Shard s owns doc_idx in [s·dps, (s+1)·dps) with
    dps = ceil(n_docs / n_shards). Blocks fully inside a shard pass
    through untouched (no decode — min_doc/max_doc metadata is enough);
    the boundary-crossing blocks of an Arrow batch are decoded together,
    cut wherever (block, shard) changes, and re-encoded together, each
    piece at its source block's weight width (fp16 stays fp16), with
    fresh (n_postings, min_doc, max_doc, max_weight) block metadata."""
    return shard_blocks(index.postings, int(index.meta["n_docs"]), n_shards)


def shard_blocks(postings: DataFrame, n_docs: int, n_shards: int) -> DataFrame:
    """The doc-range splitter on any POSTINGS_SCHEMA DataFrame. Narrow —
    no shuffle; the query engine applies it to an already term-pruned
    block set to give each WAND shard tier doc-disjoint tasks
    (query.py:_wand_scores). One shard is every block unchanged with
    ``shard_id`` 0 — a projection, no ``mapInArrow`` Python stage."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    postings = postings.select(*_COLS[1:])  # POSTINGS_SCHEMA order
    if n_shards == 1:
        return postings.select(F.lit(0).alias("shard_id"), "*")
    dps = _dps(n_docs, n_shards)

    def split_batches(batches):
        for b in batches:
            shard = b.column("min_doc").to_numpy() // dps
            inside = shard == b.column("max_doc").to_numpy() // dps
            yield pa.RecordBatch.from_arrays(
                [pa.array(shard[inside].astype(np.int32))]
                + b.filter(inside).columns, names=_COLS,
            )
            if inside.all():
                continue
            # boundary blocks: one decode, a cut wherever (block, shard)
            # changes, one encode at each source block's weight width
            cross = b.filter(~inside)
            wcol = cross.column("weights")
            d, w, n = decode_blocks(cross.column("doc_gaps"), wcol)
            row = np.repeat(np.arange(cross.num_rows), n)
            s = d // dps
            head = np.flatnonzero(
                np.r_[True, (row[1:] != row[:-1]) | (s[1:] != s[:-1])]
            )
            size = np.diff(np.r_[head, d.size])
            src = row[head]
            width = pc.binary_length(wcol).to_numpy() // n
            gaps, wts = encode_blocks(d, w, size, width[src])
            yield pa.RecordBatch.from_arrays([
                pa.array(s[head].astype(np.int32)),
                cross.column("term_id").take(src),
                cross.column("block_id").take(src),
                pa.array(size.astype(np.int32)),
                pa.array(d[head]),
                pa.array(d[head + size - 1]),
                pa.array(np.maximum.reduceat(w, head)),
                gaps, wts,
            ], names=_COLS)

    return postings.mapInArrow(split_batches, _SHARDED_SCHEMA)


_COLS = [
    "shard_id", "term_id", "block_id", "n_postings", "min_doc", "max_doc",
    "max_weight", "doc_gaps", "weights",
]


def save_sharded(index: InvertedIndex, out_dir: str, n_shards: int) -> None:
    """S8 sink, sharded layout: postings and doc_dim written
    ``partitionBy("shard_id")`` so each serving node's load prunes to its
    own shard's files; term_dict and metadata are shared (the term
    dictionary is global — doc sharding does not split the vocab)."""
    import json

    n_docs = int(index.meta["n_docs"])
    dps = _dps(n_docs, n_shards)
    (shard_postings(index, n_shards)
     .repartition("shard_id")
     .sortWithinPartitions("term_id", F.desc("max_weight"))
     .write.mode("overwrite").partitionBy("shard_id")
     .parquet(os.path.join(out_dir, "postings")))
    (index.doc_dim
     .withColumn("shard_id", F.expr(f"CAST(doc_idx DIV {dps} AS INT)"))
     .write.mode("overwrite").partitionBy("shard_id")
     .parquet(os.path.join(out_dir, "doc_dim")))
    index.term_dict.write.mode("overwrite").parquet(
        os.path.join(out_dir, "term_dict"))
    meta = dict(index.meta)
    meta["n_shards"] = int(n_shards)
    meta["docs_per_shard"] = int(dps)
    with open(os.path.join(out_dir, "index_meta.json"), "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)


def load_shard(spark: SparkSession, out_dir: str, shard_id: int) -> InvertedIndex:
    """S9 scan for ONE serving node: reads only this shard's postings and
    doc_dim files (partition pruning on the shard_id directory), plus the
    shared term dictionary. Returns a normal InvertedIndex handle — every
    query path (exhaustive / wand / LocalIndexServer) works unchanged on
    a shard."""
    import json

    with open(os.path.join(out_dir, "index_meta.json")) as f:
        meta = json.load(f)
    meta = dict(meta)
    meta["shard_id"] = int(shard_id)
    return InvertedIndex(
        postings=(spark.read.parquet(os.path.join(out_dir, "postings"))
                  .filter(F.col("shard_id") == shard_id).drop("shard_id")),
        term_dict=spark.read.parquet(os.path.join(out_dir, "term_dict")),
        doc_dim=(spark.read.parquet(os.path.join(out_dir, "doc_dim"))
                 .filter(F.col("shard_id") == shard_id).drop("shard_id")),
        meta=meta,
    )


def load_sharded_all(spark: SparkSession, out_dir: str) -> InvertedIndex:
    """Distributed BATCH retrieval over a ``save_sharded`` layout: all
    shards as one handle.

    The serving tier (`ShardedServer.from_saved`) answers interactive
    queries with one resident process per shard; this is the other
    consumption shape — the cluster-wide batch scoring job (the reference
    analogue: the index stage reading the saved layout,
    /root/reference/src/indexing/sparse_index.py:502-536). Postings are
    the union of every shard partition with ``shard_id`` dropped: a
    boundary-split block row is a self-contained block (own n_postings /
    min_doc / max_doc / max_weight and re-encoded payload), and both the
    WAND kernel and the exhaustive plan are agnostic to how postings are
    cut into blocks — so `retrieve()` on this handle is rank-identical to
    the unsharded index and to the broker. The scan stays
    partition-parallel across the shard directories, and the query-term
    ``isin`` pushdown still prunes row groups inside each shard (the
    layout is term_id-sorted within partitions)."""
    import json

    with open(os.path.join(out_dir, "index_meta.json")) as f:
        meta = json.load(f)
    return InvertedIndex(
        postings=spark.read.parquet(
            os.path.join(out_dir, "postings")).drop("shard_id"),
        term_dict=spark.read.parquet(os.path.join(out_dir, "term_dict")),
        doc_dim=spark.read.parquet(
            os.path.join(out_dir, "doc_dim")).drop("shard_id"),
        meta=dict(meta),
    )


class ShardedServer:
    """The serving broker over S doc-range shard nodes, for bag-of-words
    (OR) and web (AND) queries alike.

    A node is a :class:`~.query.LocalIndexServer` holding one shard
    (``servers``); the web tier (:class:`~.webserve.ShardedWebServer`)
    pairs each with its positional slice as a
    :class:`~.webserve.WebQueryServer`. The broker bounds each node from
    its per-term impact ceilings, visits nodes in descending bound order
    until the bound falls strictly below the running kth score, and
    merges per-node top-k by the global tie rule (score f32 desc, doc_idx
    asc). Results are EXACTLY the single-server ranking: each doc's
    postings live entirely in one shard, so per-shard scores are complete
    and the global top-k ⊆ union of per-shard top-ks.

    Here all S nodes live in one process (the demo and test shape); on a
    real cluster each is a separate node holding ~1/S of the index and
    the broker is a thin RPC fan-out — the merge below is the broker's
    exact logic."""

    def __init__(self, index: InvertedIndex, n_shards: int):
        """Split an IN-MEMORY index into S resident shard servers.

        This constructor funnels the whole sharded postings table through
        the driver (one Arrow toPandas) — fine for demo/test indexes that
        fit one process. For big indexes use ``save_sharded`` +
        ``from_saved`` instead: each shard loads only its own partition
        directory, which is the real fleet's boot path."""
        self.n_shards = int(n_shards)
        sharded = shard_postings(index, n_shards).toPandas()
        dd = index.doc_dim.select("doc_idx", "doc_id").toPandas()
        shard_of = dd["doc_idx"].astype(int) // _dps(
            int(index.meta["n_docs"]), n_shards)
        # the term dictionary is global; load ONCE, share across shards
        term_info = load_term_info(index.term_dict)
        self.servers = [
            LocalIndexServer._from_frames(
                index.meta, term_info,
                sharded[sharded["shard_id"] == s], dd[shard_of == s])
            for s in range(self.n_shards)
        ]

    @classmethod
    def from_saved(cls, spark: SparkSession, out_dir: str) -> "ShardedServer":
        """Boot the broker from a ``save_sharded`` layout: one
        LocalIndexServer per shard directory, each load pruned to its own
        shard's files (load_shard), term dictionary loaded once and
        shared. This is the broker a serving fleet runs — except there
        each per-shard server lives on its own node."""
        import json

        with open(os.path.join(out_dir, "index_meta.json")) as f:
            n_shards = int(json.load(f)["n_shards"])
        term_info = load_term_info(
            spark.read.parquet(os.path.join(out_dir, "term_dict"))
        )
        self = cls.__new__(cls)
        self.n_shards = n_shards
        self.servers = []
        for s in range(n_shards):
            shard = load_shard(spark, out_dir, s)
            self.servers.append(LocalIndexServer._from_frames(
                shard.meta, term_info,
                shard.postings.select(*_SERVED_COLS).toPandas(),
                shard.doc_dim.select("doc_idx", "doc_id").toPandas(),
            ))
        return self

    def search(
        self, text: str, k: int = 10, route: bool = True
    ) -> list[tuple[str, float]]:
        return self.search_ids(self.servers[0]._parse(text)[0], k, route=route)

    def search_weighted(
        self, term_weights: dict[str, float], k: int = 10
    ) -> list[tuple[str, float]]:
        return self.search_ids(self.servers[0]._lookup(term_weights), k)

    def search_ids(
        self, qtf_by_tid: dict[int, float], k: int = 10, route: bool = True
    ) -> list[tuple[str, float]]:
        """Bag-of-words (OR) fan-out over the shard servers; ``route=False``
        visits every shard (the reference the routed fan-out must equal).
        Each node is bounded by the query vector the kernel itself scores
        — the W3-sparsified one."""
        weights = self.servers[0]._sparsify(qtf_by_tid)
        return self._fan_out(self.servers, qtf_by_tid, weights, k, route,
                             every_term=False)

    def _fan_out(
        self, nodes: list, query, weights: list[tuple[int, float]], k: int,
        route: bool, every_term: bool,
    ) -> list[tuple[str, float]]:
        """Visit ``nodes[i].topk_arrays(query, k)`` under RANK-SAFE routing
        and merge the per-node top-k; ``nodes[i]`` serves the shard of
        ``servers[i]``.

        Every shard knows its per-term impact ceiling (max block
        max_weight — LocalIndexServer.term_max), so the broker bounds any
        shard's best possible score by ub_s = Σ_t qw_t · max_w(t, s) over
        the (term_id, qw) ``weights`` before touching it:

        - a shard where NO query term has postings (ub_s = 0) cannot
          contribute a candidate — skipped outright; with ``every_term``
          (implicit AND) so is a shard missing ANY query term;
        - remaining shards are visited in DESCENDING ub order; once k
          results are merged with kth score θ, a shard with
          f32(ub_s) < θ is skipped. ub_s mirrors the node kernels'
          arithmetic exactly: each term contributes the FLOAT32 product
          f32(qw)·f32(max_w) (the same product a doc whose weight equals
          the ceiling would contribute), accumulated in float64, and the
          BOUND is downcast to float32 before the strict compare —
          because shard scores are themselves f32 downcasts. The safety
          chain: per-term f32 products dominate the doc's products
          term-by-term, f64 summation is monotone, and f32 rounding is
          monotone, so every doc score there satisfies
          f32(Σ) ≤ f32(ub_s) < θ. Comparing the RAW f64 ub_s instead
          would be wrong at the tie boundary: a ceiling doc's score
          f32(ub_s) can round UP above ub_s, so ub_s < θ = f32(ub_s)
          would skip a shard whose doc ties θ and wins the doc_idx
          tie-break (``<`` is strict: a θ-tying shard stays visitable for
          exactly that reason).

        Results are therefore IDENTICAL to the unrouted fan-out
        (``route=False``: every node, shard order, no cut); only the
        number of shards touched changes (``last_shards_visited``). On a
        serving fleet this is the difference between every query hitting
        all S nodes and selective queries hitting the few whose doc
        ranges actually hold their terms — block-max pruning at shard
        granularity; inside a visited node the dense kernel
        (LocalIndexServer._accumulate) scores every block.
        """
        order, bounds = range(len(nodes)), None
        if route:
            ubs = []
            for i, srv in enumerate(self.servers):
                tm = srv.term_max
                if every_term and any(tid not in tm for tid, _ in weights):
                    continue  # a missing term kills every AND candidate
                # f64 sum of f32 products, the node kernel's arithmetic
                # (LocalIndexServer._accumulate)
                ub = 0.0
                for tid, qw in weights:
                    mw = tm.get(tid)
                    if mw is not None:
                        ub += float(np.float32(qw) * np.float32(mw))
                if ub > 0.0:
                    ubs.append((ub, i))
            ubs.sort(key=lambda p: (-p[0], p[1]))
            order = [i for _, i in ubs]
            bounds = [np.float32(ub) for ub, _ in ubs]
        # running top-k, sorted only to trim; ``owner`` is each result's
        # node, for the doc-id decode
        docs = np.empty(0, dtype=np.int64)
        scores = np.empty(0, dtype=np.float32)
        owner = np.empty(0, dtype=np.int64)
        theta = None
        self.last_shards_visited = 0
        for pos, i in enumerate(order):
            if theta is not None and bounds[pos] < theta:
                break
            d, s = nodes[i].topk_arrays(query, k)
            self.last_shards_visited += 1
            if not d.size:
                continue
            docs = np.concatenate((docs, d))
            scores = np.concatenate((scores, s))
            owner = np.concatenate((owner, np.full(d.size, i)))
            if docs.size > k:
                sel = np.lexsort((docs, -scores.astype(np.float64)))[:k]
                docs, scores, owner = docs[sel], scores[sel], owner[sel]
            if route and docs.size == k:
                theta = scores.min()  # the kth score
        sel = np.lexsort((docs, -scores.astype(np.float64)))
        return [
            (self.servers[i].doc_ids[int(d) - self.servers[i].doc_base],
             float(s))
            for d, s, i in zip(docs[sel], scores[sel], owner[sel])
        ]

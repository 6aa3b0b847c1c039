"""Query-time engine: bag-of-words encode → postings join → top-k.

Reference semantics reproduced:
- bag-of-words query encoding (doc_only mode)
  (/root/reference/src/model/retriever/sparse/neural/splade.py:243-265)
- query-side sparsify mirrored from INDEX metadata — exclusions, strict
  min_weight, top-k terms — exactly as the reference mirrors the encode
  settings stored with the index
  (/root/reference/src/model/pl_module/retrieval.py:133-144,
  /root/reference/src/indexing/sparse_index.py:539-578)
- token exclusion (pad/cls/sep analogue: a term exclusion list,
  /root/reference/src/indexing/sparse_index.py:61-63,556-558)
- score accumulation `scores[doc] += q_w * d_w`
  (/root/reference/src/indexing/sparse_index.py:661-686) — here the J1
  broadcast join + A1 hash aggregate
- per-query top-k with the deterministic tie rule (score desc, doc_idx asc)
  (/root/reference/src/indexing/sparse_index.py:735-748, SURVEY.md §4.3.2)
- OOV query terms contribute nothing (empty-postings path,
  /root/reference/src/indexing/sparse_index.py:705-714) — inner join drops them

Three physical strategies over the same compressed index:
- ``score_exhaustive``: decode every candidate block (one Arrow-batched
  pass, indexing.explode_postings) → JVM hash aggregate → window top-k.
  The correctness baseline; fully distributed — the scale-safe plan for
  ANY query.
- ``score_wand``: block-max pruned scoring (engine addition, north rule).
  Per query, blocks are processed in descending upper-bound order
  (ub = qtf · block max_weight); once the suffix upper-bound sum falls
  below the running kth score θ, unseen docs are provably out, and the
  remaining blocks are applied only to surviving candidates — blocks whose
  [min_doc, max_doc] range misses all candidates are skipped without
  decoding. The kernel is LINEAR: a sorted candidate accumulator is
  merged with amortized doubling (never re-processing history), and θ is
  refreshed at merge points (a stale-low θ only weakens pruning, never
  correctness). There is one plan: the query terms' blocks are split into
  doc-disjoint range shards and the kernel runs per (query, shard) task,
  per-shard top-ks merged exactly. A query whose candidate postings
  (est. Σ df over its terms) fit ``cfg.wand_postings_cap`` gets one shard
  — one task, no split stage — and a heavier one ceil(Σdf/cap) of them,
  so a stopword-sized posting set at 10^12 docs fans out over many
  ~cap-sized tasks while keeping block-max pruning. Exactness is
  asserted by tests (WAND at any shard count ≡ exhaustive ≡ oracle).
- ``local`` / :class:`LocalIndexServer`: warm in-process serving. The
  reference's own serving shape — its query loop scores postings
  in-process against a memory-mapped index
  (/root/reference/src/indexing/sparse_index.py:502-536,661-755). The
  server holds ONE index (or index shard) resident: term dictionary,
  compressed blocks, doc-id map; each query decodes its terms' blocks
  into a dense score buffer over the node's doc range (the reference's
  ``scores[doc] += q_w·d_w`` loop) with ZERO Spark jobs → p50 below a
  millisecond at 5k docs. At web scale you run one server per doc-range
  shard and merge per-shard top-k (scores of a doc live entirely in its
  shard).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, TERMS_PER_TOKEN_BOUND, EngineConfig
from ..functions.codec import decode_block
from ..functions.tokenize import tokenize_py, tokens_col
from ..session import local_frame
from .indexing import InvertedIndex, _require_complete, explode_postings

_RESULT_SCHEMA = "query_id string, rank int, doc_id string, score float"


def encode_queries(
    queries: DataFrame,
    term_dict: DataFrame,
    cfg: EngineConfig = DEFAULT,
    meta: dict | None = None,
) -> DataFrame:
    """(query_id, text) → (query_id, term_id, qtf float, df). Bag-of-words
    with the index's own tokenizer; OOV terms dropped by the inner
    dictionary join (the query side is tiny → broadcast). ``meta`` applies
    the index's exclusion list (P2) before the dictionary join; the
    numeric sparsify (W3) happens in :func:`sparsify_query_terms`."""
    qt = (
        queries.select(
            F.col("query_id").cast("string").alias("query_id"),
            F.explode(tokens_col("text", cfg.max_tokens)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("float").alias("qtf"))
    )
    exclude = tuple((meta or {}).get("exclude_terms", ()) or ())
    if exclude:
        qt = qt.filter(~F.col("term").isin(*exclude))
    return term_dict.select("term", "term_id", "df").join(
        F.broadcast(qt), "term"
    ).select("query_id", "term_id", "qtf", "df")


def encode_queries_weighted(
    query_weights: DataFrame, term_dict: DataFrame, meta: dict | None = None
) -> DataFrame:
    """Pre-expanded query vectors (query_id, term, weight) — e.g. the
    SPLADE-style expander applied to query text — mapped into term-id
    space. The weight takes the place of qtf in the identical downstream
    accumulation (the reference scores q_w·d_w the same way for neural and
    bag-of-words queries, sparse_index.py:661-686)."""
    qt = query_weights.select(
        F.col("query_id").cast("string").alias("query_id"),
        "term",
        F.col("weight").cast("float").alias("qtf"),
    )
    exclude = tuple((meta or {}).get("exclude_terms", ()) or ())
    if exclude:
        qt = qt.filter(~F.col("term").isin(*exclude))
    return term_dict.select("term", "term_id", "df").join(
        F.broadcast(qt), "term"
    ).select("query_id", "term_id", "qtf", "df")


def sparsify_query_terms(
    q_terms: DataFrame, meta: dict, bounded_by_encoder: bool = True
) -> DataFrame:
    """W3: prune the query vector with the INDEX's own settings, mirrored
    from metadata (reference retrieval.py:133-144 → sparse_index.py:539-578):
    strict ``qtf > min_weight``, then keep the ``top_k_terms``
    highest-weight terms per query (ties: weight desc, term_id asc).

    ``bounded_by_encoder``: True when the query vectors came from this
    repo's encoders (bag-of-words / surrogate expander), whose per-query
    term count is provably ≤ TERMS_PER_TOKEN_BOUND·max_tokens — only then
    may the cap window be skipped as never-binding. Externally supplied
    weight vectors have no such bound, so the window always runs for them
    (every strategy then agrees with LocalIndexServer, which always
    applies the cap)."""
    mw = float(meta.get("min_weight", 0.0))
    out = q_terms.filter(F.col("qtf") > mw)
    qk = int(meta.get("top_k_terms", 1 << 30))
    max_tokens = int(meta.get("max_tokens", DEFAULT.max_tokens))
    # a cap at or above the encoder's terms-per-query bound can never
    # bind — skip the window (the mirror of indexing._finish's skip)
    if not bounded_by_encoder or qk < TERMS_PER_TOKEN_BOUND * max_tokens:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("qtf"), F.asc("term_id")
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= qk)
            .drop("_rn")
        )
    return out


# above this many distinct query term_ids, skip the isin literal pushdown
# (codegen on huge IN lists costs more than it saves) and prune with a
# broadcast left-semi join instead (_term_blocks)
_ISIN_PUSHDOWN_CAP = 2048

# the query side is a QUERY SET, not a corpus — the driver collects it
# once to drive the isin pushdown and WAND routing. This guard enforces
# that contract instead of assuming it: a corpus-sized "query set" must
# go through the index-build path, not retrieve().
_MAX_QUERY_TERM_ROWS = 1_000_000


def _collect_q_terms(q_terms: DataFrame) -> list:
    rows = q_terms.limit(_MAX_QUERY_TERM_ROWS + 1).collect()
    if len(rows) > _MAX_QUERY_TERM_ROWS:
        raise ValueError(
            f"retrieve(): query set exceeds {_MAX_QUERY_TERM_ROWS} "
            "(query, term) rows — this is corpus-sized input; batch it or "
            "use the index-build path instead of the query path"
        )
    return rows


def _q_local(spark, rows: list) -> DataFrame:
    """The collected (query_id, term_id, qtf) rows as a ``LocalRelation``
    (``session.local_frame``)."""
    return local_frame(
        spark, [(r["query_id"], r["term_id"], r["qtf"]) for r in rows],
        "query_id string, term_id bigint, qtf float",
    )


def _term_blocks(index: InvertedIndex, rows: list) -> DataFrame:
    """The postings blocks of the collected query terms — the one place
    postings are pruned by query term. Up to ``_ISIN_PUSHDOWN_CAP``
    distinct term_ids become an ``isin`` predicate PUSHED INTO the
    postings scan (on the term_id-sorted parquet layout this prunes row
    groups before any decode); beyond that a broadcast left-semi join on
    the term_ids does the pruning. Either way it lands below anything the
    caller stacks on top — the WAND shard split's ``mapInArrow`` is a
    barrier Catalyst cannot push a later join through."""
    terms = sorted({r["term_id"] for r in rows})
    if len(terms) <= _ISIN_PUSHDOWN_CAP:
        return index.postings.filter(F.col("term_id").isin(terms))
    ids = local_frame(
        index.postings.sparkSession, [(t,) for t in terms], "term_id bigint"
    )
    return index.postings.join(F.broadcast(ids), "term_id", "left_semi")


def _candidate_blocks(
    index: InvertedIndex, q_terms: DataFrame, rows: list | None = None
) -> DataFrame:
    """Postings blocks of the query terms joined to their (query_id, qtf).

    The query side is tiny by contract (a query set, not a corpus), so it
    is collected once and re-emitted as a literal local relation: the
    broadcast then costs no extra job, and ``_term_blocks`` prunes the
    postings scan to the query terms. At 10^12 docs this is the
    difference between scanning the full postings table and touching only
    the query terms' blocks."""
    spark = index.postings.sparkSession
    if rows is None:
        rows = _collect_q_terms(q_terms)
    return _term_blocks(index, rows).join(
        F.broadcast(_q_local(spark, rows)), "term_id"
    )


def score_exhaustive(
    index: InvertedIndex, q_terms: DataFrame, k: int = 10,
    rows: list | None = None,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Returns (query_id, rank, doc_id, score float).

    ``allowed_docs`` (one ``doc_id`` column) restricts the RANKING to a
    metadata-selected subset — corpus statistics (idf, avgdl) and scores
    stay those of the full index, exactly as a search engine's filtered
    query works. The filter applies AFTER the score aggregation (a
    left_semi on the int doc_idx key over the already-aggregated
    candidate table), so the agg keeps its single map-side-combined
    shuffle and the filter side broadcasts while it fits."""
    scores = _exhaustive_scores(index, q_terms, rows)
    if allowed_docs is not None:
        allowed_idx = index.doc_dim.join(
            allowed_docs.select(
                F.col("doc_id").cast("string").alias("doc_id")
            ).distinct(),
            "doc_id", "left_semi",
        ).select("doc_idx")
        scores = scores.join(allowed_idx, "doc_idx", "left_semi")
    return _topk(scores, index, k)


def _exhaustive_scores(
    index: InvertedIndex, q_terms: DataFrame, rows: list | None = None,
    with_counts: bool = False,
) -> DataFrame:
    # qtf · weight as a float Column: the same IEEE f32 product the
    # served kernels form in NumPy
    partials = explode_postings(
        _candidate_blocks(index, q_terms, rows), keys=("query_id", "qtf")
    ).select(
        "query_id", "doc_idx",
        (F.col("qtf") * F.col("weight")).alias("partial"),
    )
    aggs = [F.sum("partial").cast("float").alias("score")]
    if with_counts:
        # one partial row per (query term, doc): blocks hold disjoint doc
        # ranges within a term, so count(*) IS the number of distinct
        # query terms present in the doc — it rides the same map-side-
        # combined shuffle as the score sum, no extra pass
        aggs.append(F.count(F.lit(1)).alias("_nterms"))
    return partials.groupBy("query_id", "doc_idx").agg(*aggs)


def retrieve_msm(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    msm: int = 2,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Minimum-should-match retrieval — the standard middle ground
    between OR (WAND) and implicit AND: a doc ranks iff it contains at
    least ``msm`` DISTINCT query terms; scores stay the full BM25 sum,
    tie rule unchanged. OOV query tokens simply can't be matched (they
    don't kill the query as AND does); ``msm=1`` degenerates to
    exhaustive OR. The distinct-term count rides the score
    aggregation's own map-side-combined shuffle — no requirement
    dimension, no second pass. Same completeness preconditions as the
    conjunctive path (a pruned index makes term-presence undecidable).
    """
    meta = index.meta
    _require_complete(meta, "retrieve_msm")
    if msm < 1:
        raise ValueError("retrieve_msm: msm must be >= 1")
    q_terms = sparsify_query_terms(
        encode_queries(queries, index.term_dict, cfg, meta), meta
    )
    scores = (
        _exhaustive_scores(index, q_terms, with_counts=True)
        .filter(F.col("_nterms") >= msm)
        .select("query_id", "doc_idx", "score")
    )
    return _topk(scores, index, k)


def retrieve_conjunctive(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """AND-semantics top-k: only documents containing EVERY distinct
    (non-excluded) token of the query text are ranked; scores are the
    full BM25 sum over those terms, tie rule unchanged. A query with a
    term absent from the corpus vocabulary matches nothing — OOV tokens
    count toward the requirement, exactly like a web engine's implicit
    AND.

    Plan shape: the distinct-term count per (query, doc) rides the SAME
    single map-side-combined shuffle as the score aggregation (count(*)
    over the decoded partials — one posting row per (term, doc) because
    blocks hold disjoint doc ranges within a term); the requirement
    dimension (one int per query) broadcasts. No second pass, no extra
    shuffle vs the OR plan; at 10^12 docs the conjunctive filter only
    SHRINKS the ranked set (the candidate scan is identical, which is
    why engines layer WAND on top for OR and intersection for AND — the
    exhaustive agg here is the strategy-agnostic exact form).

    Exactness preconditions (checked): the index must retain every
    posting — ``min_weight > 0`` or a binding per-doc term cap could hide
    a term the doc actually contains and falsify the AND test.
    """
    return _topk(conjunctive_scores(index, queries, cfg), index, k)


def conjunctive_scores(
    index: InvertedIndex,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """The pre-topk body of ``retrieve_conjunctive``: (query_id, doc_idx,
    score) for docs containing every distinct query token. Exposed so
    composite retrieval (positional.retrieve_web) can add further
    filters BEFORE the rank cut — filtering after top-k would silently
    drop docs that should rise into the k. Raises on indexes whose
    pruning knobs would make the all-terms test undecidable."""
    meta = index.meta
    _require_complete(meta, "conjunctive retrieval")
    max_tokens = int(meta.get("max_tokens", cfg.max_tokens))
    q_terms = sparsify_query_terms(
        encode_queries(queries, index.term_dict, cfg, meta), meta
    )
    exclude = tuple(meta.get("exclude_terms", ()) or ())
    toks = queries.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.explode(
            F.array_distinct(tokens_col("text", max_tokens))
        ).alias("term"),
    )
    if exclude:
        toks = toks.filter(~F.col("term").isin(*exclude))
    required = toks.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_nreq")
    )
    scores = _exhaustive_scores(index, q_terms, with_counts=True)
    return (
        scores.join(F.broadcast(required), "query_id")
        .filter(F.col("_nterms") == F.col("_nreq"))
        .select("query_id", "doc_idx", "score")
    )


def _wand_topk(
    qtf: np.ndarray,
    max_w: np.ndarray,
    min_doc: np.ndarray,
    max_doc: np.ndarray,
    gaps: list,
    wts: list,
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """The distributed block-max WAND kernel (``score_wand``, via
    ``_wand_group``) over one query's candidate blocks. Served nodes use
    the dense ``LocalIndexServer._accumulate`` instead: at serving sizes
    the θ-cut skipped no block while its merges cost more than a dense
    buffer.

    Returns (doc_idx int64, score float32) of the top-k, ranked by
    (score desc, doc_idx asc). LINEAR in decoded postings: candidates are
    kept as a sorted array + f64 accumulator, new blocks buffer into
    pending chunks and merge only when the pending size reaches the
    postings merged so far (amortized doubling → total merge work
    ≤ 2 × postings). θ (the kth exact score so far) is refreshed at merge
    points; between merges θ is stale-LOW, which only weakens pruning —
    never correctness. f32 products accumulate in f64 (sums of ≤2^29
    float32 values are exact in float64), so the result is independent of
    block order and equals the exhaustive plan's double-sum aggregate.

    Reference semantics preserved: accumulate + top-k of
    /root/reference/src/indexing/sparse_index.py:661-748 with the
    deterministic tie rule (SURVEY.md §4.3.2).
    """
    n_blocks = len(gaps)
    qtf = np.asarray(qtf, dtype=np.float32)
    ub = qtf * np.asarray(max_w, dtype=np.float32)
    order = np.argsort(-ub, kind="stable")
    # suffix[i] = sum of ub from block i on — bound on any doc's remaining gain
    suffix = np.concatenate(
        (np.cumsum(ub[order][::-1].astype(np.float64))[::-1], [0.0])
    )

    cand_docs = np.empty(0, dtype=np.int64)
    acc = np.empty(0, dtype=np.float64)
    pend_d: list[np.ndarray] = []
    pend_s: list[np.ndarray] = []
    pend_n = 0
    merged_n = 0
    theta = -np.inf
    stop_at = n_blocks

    def flush() -> None:
        nonlocal cand_docs, acc, pend_d, pend_s, pend_n, merged_n, theta
        if pend_n:
            alld = np.concatenate([cand_docs] + pend_d)
            alls = np.concatenate([acc] + pend_s)
            cand_docs, inv = np.unique(alld, return_inverse=True)
            acc = np.zeros(cand_docs.size, dtype=np.float64)
            np.add.at(acc, inv, alls)
            merged_n += pend_n
            pend_d, pend_s, pend_n = [], [], 0
        if acc.size >= k:
            theta = np.partition(acc, acc.size - k)[acc.size - k]

    for i in range(n_blocks):
        if pend_n >= max(1024, merged_n):
            flush()
        # θ is exact over merged history (a lower bound of the true kth
        # score once pending exists); any unseen doc is bounded by
        # suffix[i] → once f32(suffix[i]) < f32(θ) the candidate set is
        # closed. Ranks compare f32 scores, so the cut compares f32 bounds
        # (the broker's rule, sharding.ShardedServer._fan_out): an unseen
        # doc below θ in f64 can still round to θ's f32 value and win the
        # doc_idx tie-break. Strict for the same reason.
        if (merged_n or pend_n) and np.float32(suffix[i]) < np.float32(theta):
            stop_at = i
            break
        oi = order[i]
        d, w = decode_block(gaps[oi], wts[oi])
        if d.size:
            pend_d.append(d)
            pend_s.append((qtf[oi] * w).astype(np.float64))
            pend_n += d.size
    flush()

    if cand_docs.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float32)

    # phase 2: apply skipped blocks only to surviving candidates; skip
    # blocks whose doc range misses every candidate (no decode)
    for i in range(stop_at, n_blocks):
        oi = order[i]
        lo = np.searchsorted(cand_docs, min_doc[oi], side="left")
        hi = np.searchsorted(cand_docs, max_doc[oi], side="right")
        if lo >= hi:
            continue
        d, w = decode_block(gaps[oi], wts[oi])
        pos = np.searchsorted(cand_docs, d)
        ok = (pos < cand_docs.size) & (
            cand_docs[np.minimum(pos, cand_docs.size - 1)] == d
        )
        np.add.at(acc, pos[ok], (qtf[oi] * w[ok]).astype(np.float64))

    # the served kernel's tie rule: f32 scores, ties on the rounded value
    return LocalIndexServer._rank(cand_docs, acc, k)


def score_wand(
    index: InvertedIndex,
    q_terms: DataFrame,
    k: int = 10,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Block-max pruned scoring; identical results to score_exhaustive.

    Scale safety: one plan with a doc-range shard count per query, so no
    task gets a corpus-sized posting set. A query whose estimated
    candidate postings (Σ df over its terms) fit ``cfg.wand_postings_cap``
    runs in one task (tier 1); a heavier one fans out over
    ceil(Σdf / cap) shards, rounded up to 2, 8, 32, … so all queries in a
    tier share one ``_wand_scores`` plan (2-3 tiers in practice), and
    never more shards than docs.
    """
    spark = index.postings.sparkSession
    rows = _collect_q_terms(q_terms)
    if not rows:
        return local_frame(spark, [], _RESULT_SCHEMA)

    has_df = "df" in q_terms.columns
    per_q: dict[str, int] = {}
    for r in rows:
        est = int(r["df"] or 0) if has_df else 0
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + est
    cap = max(1, int(cfg.wand_postings_cap))
    n_docs = int(index.meta["n_docs"])
    tiers: dict[int, list] = {}
    for r in rows:
        need = -(-per_q[r["query_id"]] // cap)
        t = 1 if need <= 1 else 2
        while t < need:
            t *= 4
        tiers.setdefault(max(1, min(4096, n_docs, t)), []).append(r)
    parts = [
        _wand_scores(index, k, tier_rows, n_shards)
        for n_shards, tier_rows in sorted(tiers.items())
    ]
    scores = parts[0]
    for p in parts[1:]:
        scores = scores.unionByName(p)
    return _topk(scores, index, k)


def _wand_scores(
    index: InvertedIndex, k: int, rows: list, n_shards: int
) -> DataFrame:
    """The WAND plan of one shard tier: the term-pruned blocks are split
    into ``n_shards`` doc-disjoint range shards (sharding.shard_blocks —
    narrow, no shuffle, and no Python stage at one shard), joined to the
    query side, and the block-max kernel runs per (query, shard) task;
    the per-shard top-ks merge exactly in the shared ``_topk`` window.

    Exactness: every doc's postings live entirely in one shard, so each
    (query, shard) task computes COMPLETE scores for its docs and the
    global top-k is a subset of the union of per-shard top-ks — the same
    argument as the sharded serving broker. θ-pruning is per-shard
    (weaker than global, never wrong). A stopword-sized posting set fans
    out over tasks of ~cap postings each, keeping WAND's block skipping
    (reference accumulate semantics: sparse_index.py:661-748)."""
    from .sharding import shard_blocks

    spark = index.postings.sparkSession
    sharded = shard_blocks(
        _term_blocks(index, rows), int(index.meta["n_docs"]), n_shards
    )
    cand = sharded.join(F.broadcast(_q_local(spark, rows)), "term_id").select(
        "query_id", "shard_id", "qtf", "min_doc", "max_doc", "max_weight",
        "doc_gaps", "weights",
    )
    return cand.groupBy("query_id", "shard_id").applyInPandas(
        lambda pdf: _wand_group(pdf, k), schema=_SCORES_SCHEMA
    )


_SCORES_SCHEMA = "query_id string, doc_idx bigint, score float"


def _wand_group(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """One grouped-map task: run the shared kernel over the candidate
    blocks of one (query_id, shard_id) group."""
    qid = pdf["query_id"].iloc[0]
    docs, scores = _wand_topk(
        pdf["qtf"].to_numpy(np.float32),
        pdf["max_weight"].to_numpy(np.float32),
        pdf["min_doc"].to_numpy(np.int64),
        pdf["max_doc"].to_numpy(np.int64),
        pdf["doc_gaps"].tolist(),
        pdf["weights"].tolist(),
        k,
    )
    return pd.DataFrame(
        {"query_id": np.repeat(qid, docs.size), "doc_idx": docs,
         "score": scores}
    )


def _topk(scores: DataFrame, index: InvertedIndex, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_idx"))
    ranked = (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return (
        ranked.join(index.doc_dim.select("doc_idx", "doc_id"), "doc_idx")
        .select("query_id", "rank", "doc_id", "score")
    )


# block columns a serving node keeps resident (LocalIndexServer.by_term)
_SERVED_COLS = (
    "term_id", "max_weight", "min_doc", "max_doc", "doc_gaps", "weights",
)


def load_term_info(term_dict: DataFrame) -> dict[str, int]:
    """term → term_id dict via one Arrow transfer — the serving processes'
    shared dictionary load (LocalIndexServer, ShardedServer)."""
    td = term_dict.select("term", "term_id").toPandas()
    return dict(zip(td["term"].tolist(), td["term_id"].astype(int).tolist()))


class LocalIndexServer:
    """Warm in-process serving handle: the whole index (term dict,
    compressed blocks, doc-id map) resident in this process, queries
    answered with zero Spark jobs — the reference's own serving shape (it
    memory-maps term_ptr/postings and scores in-process into a dense
    score buffer, reference sparse_index.py:502-536,661-755). Blocks
    stay compressed and are decoded per query; ``_accumulate`` adds them
    into a dense f64 buffer over this node's doc range (the one kernel
    of OR nodes, AND (web) nodes and the broker's nodes) and ``_rank``
    takes the top-k. One server holds ONE index shard; at web scale,
    shard by doc range and let :class:`~.sharding.ShardedServer` merge
    per-shard top-k (its routing bound is the shard-level block-max
    pruning)."""

    def __init__(self, index: InvertedIndex):
        # Arrow-batched transfers (toPandas) — a row-at-a-time collect() of
        # the block table measured ~10x slower for the same bytes
        self._load(
            index.meta,
            load_term_info(index.term_dict),
            index.postings.select(*_SERVED_COLS).toPandas(),
            index.doc_dim.select("doc_idx", "doc_id").toPandas(),
        )

    @classmethod
    def _from_frames(
        cls,
        meta: dict,
        term_info: dict[str, int],
        postings_pdf: pd.DataFrame,
        doc_dim_pdf: pd.DataFrame,
    ) -> "LocalIndexServer":
        """A server over already-loaded pandas frames: the sharded broker
        loads the term dictionary ONCE and hands each shard node its own
        postings and doc-id slices (operators/sharding.py)."""
        srv = cls.__new__(cls)
        srv._load(meta, term_info, postings_pdf, doc_dim_pdf)
        return srv

    def _load(
        self,
        meta: dict,
        term_info: dict[str, int],
        postings_pdf: pd.DataFrame,
        doc_dim_pdf: pd.DataFrame,
    ) -> None:
        """Build the resident structures. ``doc_ids`` is offset-addressed
        by ``doc_base`` so a doc-range shard (doc_idx in [lo, hi)) stays
        dense in memory."""
        self.meta = dict(meta)
        self.term_info = term_info
        self.by_term: dict[int, list] = {}
        for tid, mw_, lo, hi, g, wbytes in zip(
            postings_pdf["term_id"].astype(int).tolist(),
            postings_pdf["max_weight"].astype(float).tolist(),
            postings_pdf["min_doc"].astype(int).tolist(),
            postings_pdf["max_doc"].astype(int).tolist(),
            postings_pdf["doc_gaps"].tolist(),
            postings_pdf["weights"].tolist(),
        ):
            self.by_term.setdefault(tid, []).append(
                (mw_, lo, hi, bytes(g), bytes(wbytes))
            )
        # per-term impact ceiling (max block max_weight) — the broker's
        # shard-routing bound (sharding.ShardedServer._fan_out)
        self.term_max: dict[int, float] = {
            tid: max(b[0] for b in blocks)
            for tid, blocks in self.by_term.items()
        }
        idxs = doc_dim_pdf["doc_idx"].astype(int).tolist()
        self.doc_base = min(idxs) if idxs else 0
        self.doc_ids: list[str | None] = [None] * (
            (max(idxs) - self.doc_base + 1) if idxs else 0
        )
        for i, d in zip(idxs, doc_dim_pdf["doc_id"].tolist()):
            self.doc_ids[i - self.doc_base] = d
        self.exclude = set(self.meta.get("exclude_terms", ()) or ())
        self.min_weight = float(self.meta.get("min_weight", 0.0))
        self.top_k_terms = int(self.meta.get("top_k_terms", 1 << 30))
        self.max_tokens = int(self.meta.get("max_tokens", DEFAULT.max_tokens))

    def _parse(self, text: str) -> tuple[dict[int, float], bool]:
        """Query text → (qtf by term_id, every token known), tokenized
        under the index's own ``max_tokens`` with ``exclude_terms``
        dropped. Bag-of-words (OR) queries score the known terms; an
        implicit AND cannot hold once a token is unknown."""
        qtf: dict[int, float] = {}
        known = True
        for t in tokenize_py(text, self.max_tokens):
            if t in self.exclude:
                continue
            tid = self.term_info.get(t)
            if tid is None:
                known = False
            else:
                qtf[tid] = qtf.get(tid, 0.0) + 1.0
        return qtf, known

    def _lookup(self, term_weights: dict[str, float]) -> dict[int, float]:
        """Pre-expanded query vector (term → weight) → weight by term_id;
        unknown and excluded terms dropped."""
        return {
            self.term_info[t]: float(w)
            for t, w in term_weights.items()
            if t in self.term_info and t not in self.exclude
        }

    def _sparsify(self, qtf_by_tid: dict[int, float]) -> list[tuple[int, float]]:
        """W3 mirror of the index's encode settings: strict > min_weight,
        then the top_k_terms heaviest by (qtf desc, term_id asc)."""
        items = [
            (tid, w) for tid, w in qtf_by_tid.items() if w > self.min_weight
        ]
        if len(items) > self.top_k_terms:
            items.sort(key=lambda p: (-p[1], p[0]))
            items = items[: self.top_k_terms]
        return items

    def search(self, text: str, k: int = 10) -> list[tuple[str, float]]:
        """BM25/bag-of-words serving: tokenize → mirror-sparsified query
        vector → dense accumulate → [(doc_id, score f32)] ranked
        (score desc, doc_idx asc)."""
        return self.search_ids(self._parse(text)[0], k)

    def search_weighted(
        self, term_weights: dict[str, float], k: int = 10
    ) -> list[tuple[str, float]]:
        """Serving over a pre-expanded query vector (term → weight)."""
        return self.search_ids(self._lookup(term_weights), k)

    def search_ids(
        self, qtf_by_tid: dict[int, float], k: int = 10
    ) -> list[tuple[str, float]]:
        docs, scores = self.topk_arrays(qtf_by_tid, k)
        return [
            (self.doc_ids[int(d) - self.doc_base], float(s))
            for d, s in zip(docs, scores)
        ]

    def topk_arrays(
        self, qtf_by_tid: dict[int, float], k: int = 10
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k as (global doc_idx int64, score float32) arrays, ranked
        (score desc, doc_idx asc) — the merge currency of the sharded
        broker (sharding.ShardedServer)."""
        return self._rank(*self._accumulate(self._sparsify(qtf_by_tid)), k)

    def _accumulate(
        self, weights, every_term: bool = False
    ) -> tuple[np.ndarray, np.ndarray]:
        """The served scoring kernel, shared by OR (this class) and AND
        (webserve.WebQueryServer) nodes: (global doc_idx ascending, f64
        score sums) of the candidates of a (term_id, qw) query vector.

        Every block of every query term is decoded and added into a dense
        f64 buffer over this node's doc range — f32 products, f64 sums
        (the A1 contract) — while an int32 buffer counts the query terms
        each doc holds. A plain fancy-index ``+=`` is exact: a block holds
        distinct docs and a term's blocks are disjoint. Candidates are
        docs hit by any term, or with ``every_term`` (implicit AND) by
        every term; counting hits rather than testing ``sum > 0`` keeps a
        doc whose only posting weighs 0, as the exhaustive plan does.
        Cost: two arrays of ``len(doc_ids)`` per query (12 bytes per doc)."""
        weights = sorted(weights)
        need = len(weights) if every_term else 1
        acc = np.zeros(len(self.doc_ids), dtype=np.float64)
        hits = np.zeros(len(self.doc_ids), dtype=np.int32)
        for tid, qw in weights:
            blocks = self.by_term.get(tid, ())
            if every_term and not blocks:
                return np.empty(0, dtype=np.int64), np.empty(0)
            qw = np.float32(qw)
            for _, _, _, g, wbytes in blocks:
                d, w = decode_block(g, wbytes)
                d -= self.doc_base
                acc[d] += qw * w
                hits[d] += 1
        cand = np.flatnonzero(hits >= max(need, 1))
        return cand + self.doc_base, acc[cand]

    @staticmethod
    def _rank(
        docs: np.ndarray, sums: np.ndarray, k: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k of (doc_idx, f64 sums) as (doc_idx, f32 score) ranked
        (score desc, doc_idx asc). Ties are broken on the ROUNDED f32
        score, as in the exhaustive plan; the k-th value's ties all
        survive the partition cut so the doc_idx rule decides them."""
        scores = sums.astype(np.float32)
        if 0 < k < scores.size:
            keep = scores >= np.partition(scores, scores.size - k)[-k]
            docs, scores = docs[keep], scores[keep]
        sel = np.lexsort((docs, -scores))[:k]
        return docs[sel], scores[sel]


def local_server(index: InvertedIndex) -> LocalIndexServer:
    """Cached LocalIndexServer for an index handle (built on first use)."""
    srv = index.__dict__.get("_local_server")
    if srv is None:
        srv = LocalIndexServer(index)
        index.__dict__["_local_server"] = srv
    return srv


def score_local(index: InvertedIndex, q_terms: DataFrame, k: int = 10) -> DataFrame:
    """Low-latency serving path as a DataFrame: run the warm
    LocalIndexServer per query and lift results back into Spark (one
    local relation, no joins — doc ids decode from the server's resident
    map). Rank-identical to score_wand/score_exhaustive (the served dense
    kernel: f32 products, f64 accumulation, the same tie rule)."""
    spark = index.postings.sparkSession
    srv = local_server(index)
    by_query: dict[str, dict[int, float]] = {}
    for r in _collect_q_terms(q_terms):
        by_query.setdefault(r["query_id"], {})[int(r["term_id"])] = float(r["qtf"])
    out_rows: list[tuple] = []
    for qid, pairs in by_query.items():
        for rank, (doc_id, score) in enumerate(srv.search_ids(pairs, k), 1):
            out_rows.append((qid, rank, doc_id, score))
    return local_frame(spark, out_rows, _RESULT_SCHEMA)


def retrieve(
    index: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    strategy: str = "exhaustive",
    cfg: EngineConfig = DEFAULT,
    query_weights: DataFrame | None = None,
    allowed_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k retrieval. ``allowed_docs`` (one ``doc_id`` column) makes it
    a FILTERED query: the ranking is restricted to the allowed subset
    while scores keep full-corpus statistics (the standard engine
    semantics for metadata filters). Filtered queries always run the
    exhaustive plan regardless of ``strategy``: the WAND kernels emit
    per-task top-k before any filter could apply, and their block-max
    bounds are filter-agnostic — pruning against an arbitrary,
    possibly corpus-sized allowed set would need filter-aware θ
    bookkeeping for no plan advantage over the scale-safe exhaustive
    aggregation + post-agg semi-join."""
    meta = index.meta
    if query_weights is not None:
        q_terms = encode_queries_weighted(query_weights, index.term_dict, meta)
    else:
        q_terms = encode_queries(queries, index.term_dict, cfg, meta)
    # external weight vectors carry no per-query term-count bound — the
    # sparsify cap window must always run for them (ADVICE r2)
    q_terms = sparsify_query_terms(
        q_terms, meta, bounded_by_encoder=query_weights is None
    )
    if allowed_docs is not None:
        return score_exhaustive(index, q_terms, k, allowed_docs=allowed_docs)
    if strategy == "wand":
        return score_wand(index, q_terms, k, cfg)
    if strategy == "local":
        return score_local(index, q_terms, k)
    return score_exhaustive(index, q_terms, k)


def retrieve_with_prior(
    index: InvertedIndex,
    queries: DataFrame,
    priors: DataFrame,
    *,
    k: int = 10,
    beta: float = 1.0,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    prior_col: str = "prior",
) -> DataFrame:
    """Top-k with a query-independent authority prior blended into the
    lexical score BEFORE the cut — the classic web-ranking composite
    (BM25 x static rank, e.g. ``linkgraph.pagerank`` output)::

        final(q, d) = bm25(q, d) + beta * ln(1 + prior(d) * n_prior)

    ``prior(d) * n_prior`` centers a normalized prior (ranks summing
    to 1 over ``n_prior`` docs) at 1, so a uniform-prior doc gets the
    same constant boost everywhere and the blend is pure when the graph
    is uninformative; docs absent from ``priors`` (not in the link
    graph) get zero boost. ``beta`` trades lexical vs authority mass.

    Scale shape: the prior table is doc-sized and static — it maps to
    the int ``doc_idx`` key through ``doc_dim`` once (hash equi-join),
    then joins the aggregated candidate table (query-results-sized, far
    smaller than postings) as a broadcast/left join AFTER the single
    map-side-combined score shuffle. ``n_prior`` is one count() on the
    static table — metadata-cheap on parquet and amortized across every
    query set served from the same prior snapshot. The blend itself is
    pure Column arithmetic; the top-k window is unchanged.
    """
    meta = index.meta
    q_terms = sparsify_query_terms(
        encode_queries(queries, index.term_dict, cfg, meta), meta
    )
    scores = _exhaustive_scores(index, q_terms)
    n_prior = priors.count()
    boost = priors.select(
        F.col(id_col).cast("string").alias("doc_id"),
        (
            F.lit(float(beta))
            * F.log1p(F.col(prior_col).cast("double") * F.lit(float(n_prior)))
        ).alias("_boost"),
    )
    bidx = index.doc_dim.join(boost, "doc_id").select("doc_idx", "_boost")
    blended = scores.join(bidx, "doc_idx", "left").select(
        "query_id",
        "doc_idx",
        (
            F.col("score").cast("double")
            + F.coalesce("_boost", F.lit(0.0))
        ).alias("score"),
    )
    return _topk(blended, index, k)


def collapse_by_group(
    results: DataFrame,
    doc_groups: DataFrame,
    *,
    max_per_group: int = 2,
    k: int | None = None,
    id_col: str = "doc_id",
    group_col: str = "group",
) -> DataFrame:
    """SERP diversification — the "max h results per site" rule: keep the
    best ``max_per_group`` results per (query, group), then re-rank the
    survivors densely and optionally cut to ``k``.

    ``doc_groups`` maps ``id_col`` to a ``group_col`` (host, domain,
    source feed, dedup cluster id, …); docs missing from the map form
    singleton groups of themselves, so an incomplete map can only relax
    the collapse, never drop a result. Both passes preserve the incoming
    rank order (rank is unique per query), so the output is deterministic
    given the input ranking.

    Scale shape: results are query-results-sized (k rows per query, far
    smaller than the corpus); the group map joins them with a hash
    equi-join (broadcast while it fits), and the two window passes
    partition by (query, group) then by query — tiny partitions by
    construction. Run retrieval with a deeper k than the final page so
    the collapse has material to promote (the standard overfetch).
    """
    if max_per_group < 1:
        raise ValueError("max_per_group must be >= 1")
    g = doc_groups.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(group_col).cast("string").alias("_grp"),
    )
    joined = results.withColumn(
        "doc_id", F.col("doc_id").cast("string")
    ).join(g, "doc_id", "left").withColumn(
        "_grp", F.coalesce("_grp", F.concat(F.lit("\x00self:"), "doc_id"))
    )
    w_grp = Window.partitionBy("query_id", "_grp").orderBy("rank")
    w_q = Window.partitionBy("query_id").orderBy("rank")
    out = (
        joined.withColumn("_gr", F.row_number().over(w_grp))
        .filter(F.col("_gr") <= max_per_group)
        .withColumn("new_rank", F.row_number().over(w_q))
        .drop("_grp", "_gr", "rank")
        .withColumnRenamed("new_rank", "rank")
    )
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select(
        "query_id", "rank", *[c for c in results.columns
                              if c not in ("query_id", "rank")]
    )


def expand_queries_with_synonyms(
    queries: DataFrame,
    synonyms: DataFrame,
    *,
    cfg: EngineConfig = DEFAULT,
    syn_weight: float = 0.6,
) -> DataFrame:
    """Query-time synonym OR-expansion: ``(query_id, term, weight)`` ready
    for :func:`retrieve`'s ``query_weights`` path.

    The query bag (the index's own tokenizer, term counts as base
    weights) unions one row per (query term → synonym) at
    ``syn_weight`` x the source term's count; the same term reached from
    several sources sums its contributions (order-free f64 sum, cast to
    f32 once inside ``encode_queries_weighted``). Synonyms the corpus
    never says simply vanish at the dictionary join — expansion can add
    recall, never noise terms the index cannot score.

    ``synonyms`` is a (term, syn) DataFrame — direction matters (add
    ``syn`` when ``term`` occurs); symmetric vocabularies just list both
    directions. The map is vocabulary-sized at most: it broadcasts, and
    the whole expansion stays on the tiny query side — nothing touches
    postings until retrieval itself.
    """
    from splade_spark.functions.tokenize import tokens_col

    base = (
        queries.select(
            F.col("query_id").cast("string").alias("query_id"),
            F.explode(tokens_col("text", cfg.max_tokens)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_qtf"))
    )
    syn = (
        base.join(
            F.broadcast(synonyms.select("term", "syn")), "term"
        )
        .select(
            "query_id", F.col("syn").alias("term"),
            (F.col("_qtf") * F.lit(float(syn_weight))).alias("_w"),
        )
    )
    return (
        base.select("query_id", "term", F.col("_qtf").alias("_w"))
        .unionByName(syn)
        .groupBy("query_id", "term")
        .agg(F.sum("_w").alias("weight"))
    )

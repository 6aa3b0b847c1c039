"""Positional index + exact phrase retrieval.

Engine addition (the reference scores bags of term weights only —
/root/reference/src/indexing/sparse_index.py:661-755 has no position
plane), but phrase queries are table stakes for a fulltext index at
web scale, and the position lists are exactly the structure the
classic literature stores beside the impact postings.

Data model: ``positional_postings`` inverts the corpus into one row per
(term, doc) holding the ASCENDING 1-based token positions of that term
in that doc. Token semantics are byte-identical to the scoring index
(``tokens_col``: lower → [a-z0-9]+ split → truncate at ``max_tokens``),
so a phrase match here agrees with what the BM25 plane indexed.

Phrase semantics: phrase t1..tn occurs at start p iff token p is t1,
token p+1 is t2, ... token p+n-1 is tn. Occurrences may overlap
("a a a" contains "a a" twice); a repeated term in the phrase is a
distinct slot and must match at its own offset.

Spark-first plan shape (100 TB):
- building the lists is ONE hash-partitioned groupBy((term, doc))
  with map-side combine over the posexplode'd token stream — the same
  magnitude and shuffle as the tf pass of the index build;
- a phrase query joins the tiny (slot → term) dimension BROADCAST
  against the position lists, so only postings of the phrase's own
  terms are ever read (with a saved term-sorted layout the term filter
  pushes into the parquet scan exactly like the scoring index's
  ``isin`` pushdown);
- match detection is algebraic, not positional-loop: slot i shifts its
  positions by −i, a phrase occurrence is a (doc, start) where ALL
  n slots land — ``groupBy(query, doc, start).count() == n`` — two
  hash aggregates with map-side combine, row volume = total
  occurrences of the phrase's terms (what any engine must touch).
  Nothing quadratic, nothing driver-side.

Storage: position lists compress like doc gaps — ascending ints →
delta + LEB128 varint (``encode_positional``/``decode_positional`` call
the posting codec's row functions, functions/codec.py). At 10^12 docs
the positional plane is the index's largest table (one entry per token,
not per (term, doc)); varint gaps on 1-based positions bound it near the
token-stream entropy.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..config import DEFAULT, EngineConfig
from ..functions.codec import (
    binary_array,
    binary_buffers,
    decode_rows,
    encode_rows,
)
from ..functions.tokenize import tokenize_py, tokens_col
from ..session import local_frame


def positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    terms: list[str] | None = None,
) -> DataFrame:
    """Corpus → (term string, doc_id string, positions array<int> asc,
    tf int). Positions are 1-based token offsets after the engine's
    classic tokenization (truncation at ``cfg.max_tokens`` included, so
    the position plane never claims text the scoring index dropped).

    ``terms`` restricts the build to that vocabulary BEFORE the rows
    even materialize — the vocabulary filter runs INSIDE the token
    array (higher-order ``transform`` + ``filter``, whole-stage
    codegen), so the explode emits only vocabulary hits instead of the
    full token stream. At 256 tokens/doc and a 30-term phrase
    vocabulary that is a ~100× cut in generated rows; the ad-hoc query
    path (no saved layout) then shuffles only the phrase's own tokens."""
    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens_col(text_col, cfg.max_tokens).alias("tokens"),
    )
    if terms is not None:
        uniq = sorted(set(terms))
        hits = F.filter(
            F.transform(
                "tokens",
                lambda t, i: F.struct(
                    t.alias("term"), (i + 1).cast("int").alias("p")
                ),
            ),
            (lambda s: s["term"].isin(uniq))
            if uniq
            else (lambda s: F.lit(False)),
        )
        pos = toks.select(
            "doc_id", F.explode(hits).alias("tp")
        ).select(
            "doc_id",
            F.col("tp.term").alias("term"),
            F.col("tp.p").alias("p"),
        )
    else:
        pos = toks.select(
            "doc_id", F.posexplode("tokens").alias("pos0", "term")
        ).select("doc_id", "term", (F.col("pos0") + 1).alias("p"))
    return pos.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("positions"),
        F.count(F.lit(1)).cast("int").alias("tf"),
    )


def phrase_occurrences(
    positional: DataFrame,
    phrases: DataFrame,
    query_id_col: str = "query_id",
    phrase_col: str = "phrase",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Exact phrase match over a positional index → (query_id, doc_id,
    n_occurrences bigint), one row per (phrase, doc) with ≥1 occurrence.

    ``phrases`` is a DataFrame of (query_id, phrase text); each phrase
    tokenizes with the engine tokenizer. A phrase that tokenizes to
    NOTHING (punctuation-only) produces no output rows; a phrase with a
    term absent from the corpus matches nothing (every start is missing
    that slot). Single-token phrases degenerate to n_occurrences = tf.
    """
    ptoks = phrases.select(
        F.col(query_id_col).alias("query_id"),
        tokens_col(phrase_col, cfg.max_tokens).alias("_pt"),
    ).filter(F.size("_pt") >= 1)
    slots = ptoks.select(
        "query_id",
        F.size("_pt").alias("n_slots"),
        F.posexplode("_pt").alias("off", "term"),
    )
    # positions of slot (off, term) shifted to the phrase START they
    # would witness; starts < 1 fall off the front of the doc
    j = positional.join(F.broadcast(slots), "term")
    starts = j.select(
        "query_id",
        "doc_id",
        "n_slots",
        "off",
        F.explode(
            F.transform("positions", lambda p: p - F.col("off"))
        ).alias("start"),
    ).filter(F.col("start") >= 1)
    # an occurrence at (doc, start) needs EVERY slot present: rows are
    # unique per (query, doc, start, off) — positions are distinct per
    # (term, doc) and offs per phrase — so count(*) counts matched slots
    hits = (
        starts.groupBy("query_id", "doc_id", "start")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.max("n_slots").alias("_n"),
        )
        .filter(F.col("_c") == F.col("_n"))
    )
    return hits.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )


def phrase_search(
    docs: DataFrame,
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """End-to-end: build the position lists, match a literal phrase set.
    Returns (query_id, doc_id, n_occurrences)."""
    spark = docs.sparkSession
    pdf = local_frame(spark, phrases, "query_id string, phrase string")
    need = sorted(
        {t for _, p in phrases for t in tokenize_py(p, cfg.max_tokens)}
    )
    positional = positional_postings(docs, id_col, text_col, cfg, terms=need)
    return phrase_occurrences(positional, pdf, cfg=cfg)


def encode_positional(positional: DataFrame) -> DataFrame:
    """(…, positions array<int>) → (…, positions binary): delta+varint
    bytes of [first_pos, gap1, …] — the storage form for a saved
    positional layout, in the row format of posting doc gaps. An Arrow
    UDF encodes each batch's lists from their flat values and offsets
    with one ``codec.encode_rows``."""

    @F.arrow_udf("binary")
    def enc(ps: pa.Array) -> pa.Array:
        lengths = np.diff(ps.offsets.to_numpy())
        return binary_array(*encode_rows(ps.flatten().to_numpy(), lengths))

    return positional.withColumn("positions", enc("positions"))


def decode_positional(encoded: DataFrame) -> DataFrame:
    """Inverse of ``encode_positional``: binary → array<int> positions,
    one ``codec.decode_rows`` per Arrow batch."""

    @F.arrow_udf("array<int>")
    def dec(bs: pa.Array) -> pa.Array:
        values, lengths = decode_rows(*binary_buffers(bs))
        offs = np.r_[0, np.cumsum(lengths)].astype(np.int32)
        return pa.ListArray.from_arrays(offs, values.astype(np.int32))

    return encoded.withColumn("positions", dec("positions"))


def save_positional(
    positional: DataFrame, out_dir: str, n_partitions: int = 32
) -> None:
    """Persist position lists: delta+varint bytes, hash-partitioned by
    term and term-sorted within files — the same layout discipline as
    ``InvertedIndex.save`` (indexing.py:71-79), so a phrase's term
    ``isin`` filter prunes parquet row groups via min/max stats before
    any positions decode."""
    (encode_positional(positional)
     .repartition(n_partitions, "term")
     .sortWithinPartitions("term", "doc_id")
     .write.mode("overwrite").parquet(out_dir))


def load_positional(
    spark: SparkSession, out_dir: str, terms: list[str] | None = None
) -> DataFrame:
    """Open a saved positional layout. ``terms`` prunes the scan to the
    given vocabulary (pushed ``In`` on the term-sorted files — only row
    groups holding those terms are read or decoded)."""
    df = spark.read.parquet(out_dir)
    if terms is not None:
        uniq = sorted(set(terms))
        if not uniq:
            return decode_positional(df.limit(0))
        df = df.filter(F.col("term").isin(uniq))
    return decode_positional(df)


def phrase_search_saved(
    spark: SparkSession,
    out_dir: str,
    phrases: list[tuple[str, str]],
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Phrase retrieval over a SAVED positional layout: the load is
    pruned to the phrases' own vocabulary, so query cost scales with
    those terms' postings, not the corpus."""
    need = sorted(
        {t for _, p in phrases for t in tokenize_py(p, cfg.max_tokens)}
    )
    positional = load_positional(spark, out_dir, terms=need)
    pdf = local_frame(spark, phrases, "query_id string, phrase string")
    return phrase_occurrences(positional, pdf, cfg=cfg)


def pair_proximity(
    positional: DataFrame,
    pairs: list[tuple[str, str, str]],
) -> DataFrame:
    """Minimal token distance between two DISTINCT terms per document:
    (query_id, term_a, term_b) rows → (query_id, doc_id, min_dist int)
    for every doc containing both terms. The two-term case of
    :func:`min_term_gap`'s linear fold (``_min_gap``) — LINEAR in
    tf_a + tf_b, never the tf_a × tf_b cross a stopword pair would make
    quadratic. The terms are matched as given (not re-tokenized); each
    ``query_id`` names one pair."""
    if any(a == b for _, a, b in pairs):
        raise ValueError("pair_proximity: term_a must differ from term_b")
    if len({q for q, _, _ in pairs}) < len(pairs):
        raise ValueError("pair_proximity: query_id must be unique per pair")
    qterms = local_frame(
        positional.sparkSession,
        [(q, t) for q, a, b in pairs for t in (a, b)],
        "query_id string, term string",
    )
    return _min_gap(positional, qterms).withColumnRenamed("min_gap", "min_dist")


def best_snippet(
    docs: DataFrame,
    queries: DataFrame | list[tuple[str, str]],
    window: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Serving-side snippet selection: for each (query, doc with ≥1 hit)
    pick the ``window``-token span containing the MOST DISTINCT query
    terms; ties break to the earliest start. Returns (query_id, doc_id,
    start int 1-based, n_terms int, snippet string = space-joined span).

    Shape: a hit at position p can only witness window starts in
    [p−window+1, p], so each hit explodes into ≤window start votes —
    row volume = hits × window, never docs × positions. The vote count
    per (query, doc, start) and the per-(query, doc) argmax are two
    hash-partitioned aggregations; query terms broadcast. Nothing reads
    a doc the query doesn't hit.
    """
    spark = docs.sparkSession
    if isinstance(queries, list):
        queries = local_frame(spark, queries, "query_id string, text string")
    toks = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens_col(text_col, cfg.max_tokens).alias("tokens"),
    )
    qterms = queries.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.explode(
            F.array_distinct(tokens_col("text", cfg.max_tokens))
        ).alias("term"),
    )
    hits = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "term")
    ).join(F.broadcast(qterms), "term")
    votes = hits.select(
        "query_id",
        "doc_id",
        "term",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("pos0") + 2 - window),
                F.col("pos0") + 1,
            )
        ).alias("start"),
    )
    wins = votes.groupBy("query_id", "doc_id", "start").agg(
        F.count_distinct("term").cast("int").alias("n_terms")
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("n_terms"), F.asc("start")
    )
    best = wins.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return best.join(toks, "doc_id").select(
        "query_id",
        "doc_id",
        "start",
        "n_terms",
        F.array_join(
            F.slice("tokens", F.col("start"), F.lit(window)), " "
        ).alias("snippet"),
    )


def tombstone_positional(
    positional: DataFrame, drop_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Remove docs from the positional plane. Unlike the scoring index —
    where deletes must rewrite blocks and re-derive df/idf/avgdl exactly
    (merge.apply_tombstones) — positional rows are independent per
    (term, doc), so every mutation verb here is an EXACT set operation:
    a delete is one left_anti join, equal to a rebuild on the kept docs
    row-for-row."""
    drops = drop_ids.select(
        F.col(id_col).cast("string").alias("doc_id")
    ).distinct()
    return positional.join(F.broadcast(drops), "doc_id", "left_anti")


def append_positional(
    positional: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Fold a new doc batch in: tokenize ONLY the batch, union the rows.
    Exact vs a rebuild (set equality) when batch ids are disjoint from
    the existing plane; for replace-or-insert use upsert_positional."""
    return positional.unionByName(
        positional_postings(new_docs, id_col, text_col, cfg)
    )


def upsert_positional(
    positional: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Replace-or-insert: tombstone the batch's ids, fold the batch —
    re-crawled pages replace their old position lists exactly."""
    return append_positional(
        tombstone_positional(positional, docs.select(id_col), id_col),
        docs, id_col, text_col, cfg,
    )


def append_positional_saved(
    pos_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: EngineConfig = DEFAULT,
    n_partitions: int = 32,
) -> None:
    """Fold a batch into a SAVED layout without touching existing files:
    the new rows append as fresh term-partitioned parquet files (batch
    ids must be disjoint — pair with a snapshot filter upstream). Term
    pruning still pushes into the scan across old + new files alike."""
    (encode_positional(positional_postings(new_docs, id_col, text_col, cfg))
     .repartition(n_partitions, "term")
     .sortWithinPartitions("term", "doc_id")
     .write.mode("append").parquet(pos_dir))


def min_term_gap(
    positional: DataFrame,
    queries: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Minimal distance between ANY two DISTINCT query terms per doc:
    (query_id, doc_id, min_gap int) for docs holding ≥2 of the query's
    terms. Generalizes pair_proximity to whole queries in ONE pass: the
    global min over all term pairs is always realized by two ADJACENT
    positions of different terms in the merged ascending position order,
    so a single sorted fold over the query terms' tagged positions —
    volume = those terms' occurrences, never a pairs cross — suffices.
    """
    qterms = queries.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.explode(
            F.array_distinct(tokens_col("text", cfg.max_tokens))
        ).alias("term"),
    )
    return _min_gap(positional, qterms)


def _min_gap(positional: DataFrame, qterms: DataFrame) -> DataFrame:
    """The min-distance fold over distinct (query_id, term) rows →
    (query_id, doc_id, min_gap) for docs holding ≥2 of the query's terms:
    one sorted (pos, term) array per (query, doc), one ``aggregate`` pass
    comparing each position with the previous one of a different term."""
    hits = positional.join(F.broadcast(qterms), "term").select(
        "query_id",
        "doc_id",
        "term",
        F.explode("positions").alias("pos"),
    )
    tagged = (
        hits.groupBy("query_id", "doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("term")))
            ).alias("tp")
        )
    )
    init = F.struct(
        F.lit(None).cast("int").alias("lp"),
        F.lit(None).cast("string").alias("lt"),
        F.lit(None).cast("int").alias("best"),
    )

    def step(acc, x):
        cand = F.when(x["term"] != acc["lt"], x["pos"] - acc["lp"])
        return F.struct(
            x["pos"].alias("lp"),
            x["term"].alias("lt"),
            F.least(acc["best"], cand).alias("best"),
        )

    return tagged.select(
        "query_id",
        "doc_id",
        F.aggregate("tp", init, step, lambda a: a["best"]).alias(
            "min_gap"
        ),
    ).filter(F.col("min_gap").isNotNull())


def retrieve_proximity(
    index,
    positional: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    alpha: float = 1.0,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Proximity-boosted conjunctive retrieval: candidates contain every
    distinct query token (implicit AND), ranked by
    ``bm25 · (1 + alpha / (1 + min_gap))`` where min_gap is the minimal
    distance between any two distinct query terms in the doc — the
    classic "terms near each other rank higher" web heuristic. Every
    AND-candidate of a ≥2-term query has a defined gap (it contains all
    terms); single-term queries rank by plain BM25 (boost 0 via the
    left join). Both planes are single-pass (conjunctive_scores;
    min_term_gap) and join on (query, doc) before the top-k cut.
    """
    from .query import _topk, conjunctive_scores

    spark = positional.sparkSession
    qdf = local_frame(spark, queries, "query_id string, text string")
    scores = conjunctive_scores(index, qdf, cfg)
    gaps = min_term_gap(positional, qdf, cfg).join(
        index.doc_dim.select("doc_id", "doc_idx"), "doc_id"
    ).select("query_id", "doc_idx", "min_gap")
    boosted = (
        scores.join(gaps, ["query_id", "doc_idx"], "left")
        .select(
            "query_id",
            "doc_idx",
            (
                F.col("score").cast("double")
                * (
                    F.lit(1.0)
                    + F.lit(float(alpha))
                    / (F.lit(1.0) + F.col("min_gap"))
                )
            ).alias("_boosted"),
            "score",
        )
        .select(
            "query_id",
            "doc_idx",
            F.coalesce("_boosted", F.col("score").cast("double")).alias(
                "score"
            ),
        )
    )
    return _topk(boosted, index, k)


_QUOTED_RE = re.compile(r'"([^"]*)"')


def parse_web_query(raw: str, cfg: EngineConfig = DEFAULT) -> list[str]:
    """Quoted segments of a web-style query string that tokenize to at
    least one term — the phrase constraints. The SCORING text is the raw
    string itself: the tokenizer discards quotes, so phrase tokens
    contribute tf to BM25 exactly as typed."""
    return [
        p
        for p in _QUOTED_RE.findall(raw)
        if tokenize_py(p, cfg.max_tokens)
    ]


def retrieve_web(
    index,
    positional: DataFrame,
    queries: list[tuple[str, str]],
    k: int = 10,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Web-style query: ``'"exact phrase" other terms'`` → documents
    matching EVERY quoted phrase (positional plane) AND containing every
    bare token (implicit AND), ranked by BM25 over the full token bag,
    engine tie rule. Both filters apply BEFORE the top-k cut.

    Composition, one pass each plane: the scoring/AND side is
    query.conjunctive_scores (distinct-term count rides the score
    shuffle); the phrase side is phrase_occurrences with one synthetic
    phrase id per (query, quoted segment), folded to a per-(query, doc)
    satisfied-count and compared to the query's phrase count. Docs
    join back through doc_dim (broadcast at serving scale); queries
    with no quoted segment skip the phrase plane entirely.
    """
    from .query import _topk, conjunctive_scores

    if any("#" in qid for qid, _ in queries):
        raise ValueError(
            "retrieve_web: '#' is reserved for synthetic phrase ids"
        )
    spark = positional.sparkSession
    qdf = local_frame(spark, queries, "query_id string, text string")
    scores = conjunctive_scores(index, qdf, cfg)

    phrase_rows = [
        (f"{qid}#{i}", ph)
        for qid, raw in queries
        for i, ph in enumerate(parse_web_query(raw, cfg))
    ]
    if not phrase_rows:
        return _topk(scores, index, k)

    n_phr = [
        (qid, len(parse_web_query(raw, cfg))) for qid, raw in queries
    ]
    hits = phrase_occurrences(
        positional,
        local_frame(spark, phrase_rows, "query_id string, phrase string"),
        cfg=cfg,
    )
    sat = (
        hits.select(
            F.split("query_id", "#").getItem(0).alias("query_id"),
            F.col("query_id").alias("_pid"),
            "doc_id",
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("_pid").cast("int").alias("_nsat"))
    )
    req = local_frame(spark, n_phr, "query_id string, _nphr int")
    ok = (
        sat.join(F.broadcast(req.filter("_nphr > 0")), "query_id")
        .filter(F.col("_nsat") == F.col("_nphr"))
        .join(index.doc_dim.select("doc_id", "doc_idx"), "doc_id")
        .select("query_id", "doc_idx", F.lit(1).alias("_ok"))
    )
    # single pass over the scores DAG: phrase-free queries pass on the
    # broadcast _nphr == 0 arm, phrase queries on the _ok indicator —
    # NOT a left_semi + union, which would evaluate the scoring plan
    # twice
    kept = (
        scores.join(F.broadcast(req), "query_id")
        .join(ok, ["query_id", "doc_idx"], "left")
        .filter((F.col("_nphr") == 0) | F.col("_ok").isNotNull())
        .select("query_id", "doc_idx", "score")
    )
    return _topk(kept, index, k)

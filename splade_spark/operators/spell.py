"""Query spell suggestion ("did you mean") over the index term dictionary.

The reference engine has no correction stage; a served web tier needs
one — a misspelled term otherwise just falls out at the dictionary join
(``query.query_terms`` drops OOV) and the query silently weakens.

Spark-first shape: both sides explode into distinct character n-grams
and meet in a hash equi-join on the gram key — candidate generation is
gram-bucketed, never a cross join against the vocabulary. The vocabulary
side is term-dictionary-sized (already far smaller than the corpus) and
its gram table is reusable across query batches; the query side is tiny
and broadcasts. Scoring is set Jaccard over distinct grams with
document-frequency as the tie-break (prefer the suggestion the corpus
actually uses), fully order-deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def char_ngrams(s: Column | str, n: int = 3) -> Column:
    """array<string> of DISTINCT character n-grams (guarded: strings
    shorter than ``n`` yield an empty array, since Spark's sequence(1, 0)
    counts DOWN)."""
    col = F.col(s) if isinstance(s, str) else s
    grams = F.transform(
        F.sequence(F.lit(1), F.length(col) - (n - 1)),
        lambda i: col.substr(i, F.lit(n)),
    )
    return F.when(
        F.length(col) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def term_suggestions(
    term_dict: DataFrame,
    terms: DataFrame,
    *,
    term_col: str = "qterm",
    n: int = 3,
    topn: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Suggestions for (possibly misspelled) query terms:
    ``(qterm, rank, suggestion, df, jaccard)``.

    ``term_dict`` is the index dictionary (``term``, ``df`` columns used);
    ``terms`` carries one candidate string per row in ``term_col``.
    Jaccard is over distinct character ``n``-grams; ranking is
    (jaccard desc, df desc, term asc) — deterministic. Terms too short to
    produce a gram get no suggestions (no candidates can share a key).

    Scale: gram explosion multiplies the dictionary by ~word-length —
    the same magnitude as the dictionary itself times a small constant;
    the join is gram-bucketed (uniform keys, no skew beyond common
    grams, which ``min_jaccard`` prunes after one map-side-combined
    count). Nothing touches the postings or the corpus.
    """
    vocab = term_dict.select(
        F.col("term"), F.col("df"),
        char_ngrams(F.col("term"), n).alias("_vg"),
    ).withColumn("_nv", F.size("_vg"))
    vg = vocab.select(
        "term", "df", "_nv", F.explode("_vg").alias("_g")
    )
    q = terms.select(
        F.col(term_col).cast("string").alias("qterm"),
        char_ngrams(F.col(term_col).cast("string"), n).alias("_qg"),
    ).withColumn("_nq", F.size("_qg"))
    qg = q.select("qterm", "_nq", F.explode("_qg").alias("_g"))
    # the query side is tiny by contract (a query batch's distinct terms):
    # broadcasting it keeps the dictionary-gram side entirely shuffle-free
    # up to the shared-count aggregation
    shared = (
        F.broadcast(qg).join(vg, "_g")
        .groupBy("qterm", "_nq", "term", "df", "_nv")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    scored = shared.select(
        "qterm", "term", "df",
        (
            F.col("_shared").cast("double")
            / (F.col("_nq") + F.col("_nv") - F.col("_shared"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)
    w = Window.partitionBy("qterm").orderBy(
        F.desc("jaccard"), F.desc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topn)
        .select("qterm", "rank", F.col("term").alias("suggestion"),
                "df", "jaccard")
    )


def prefix_suggestions(
    term_dict: DataFrame,
    prefixes: DataFrame,
    *,
    prefix_col: str = "prefix",
    topn: int = 5,
) -> DataFrame:
    """Query auto-completion over the index dictionary:
    ``(prefix, rank, suggestion, df)`` — the ``topn`` most-frequent
    dictionary terms extending each prefix, ranked (df desc, term asc).

    The serving analogue of a search box's completion dropdown. The
    prefix batch is tiny by contract and broadcasts; the dictionary side
    is hash-joined on the first character, with ``startswith`` as the
    residual filter — no explode, no gram table, one window over
    (prefix)-partitioned candidates. A fleet would back
    this with a sorted term file per shard (the dictionary IS already
    sorted by term_id = term rank); here the declarative filter lets
    Catalyst prune the dictionary scan to the two needed columns.

    An exact-match term counts as its own completion (a search box shows
    the typed word when it exists). Empty prefixes are dropped — they
    would return the global top-df table, which is a different query
    (``term_df_top100``).
    """
    p = prefixes.select(
        F.col(prefix_col).cast("string").alias("prefix")
    ).filter(F.col("prefix") != "").distinct()
    # the first-character equality is implied by startswith (prefixes are
    # non-empty) and gives the planner an equi-join key: a broadcast hash
    # join with startswith as its residual, not a nested-loop join
    cand = F.broadcast(p).join(
        term_dict.select("term", "df"),
        (F.substring("term", 1, 1) == F.substring("prefix", 1, 1))
        & F.col("term").startswith(F.col("prefix")),
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topn)
        .select("prefix", "rank", F.col("term").alias("suggestion"), "df")
    )

"""Driver-contract query registry: name → (spark_fn, duckdb_oracle_sql).

Each entry exercises operators from SURVEY.md §2 on the driver's parquet
tables (documents / embeddings / lineitem / ...). The Spark side runs this
engine's code; the DuckDB SQL is an independent ANSI formulation of the
same semantics. Column names and types are aligned on both sides (the
driver hashes values after sorting columns by name).

Floats are emitted as ``*_milli`` / ``*_micro`` BIGINTs (round(x*10^k)) so
double-vs-double sum-order noise cannot flip a value hash. A ratio of
integers is rounded in integer arithmetic instead (``_half_up_ratio``), so
an exact .5 tie cannot land on either side of a float product.

Operator coverage per query is noted in each docstring by SURVEY §2 IDs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .config import DEFAULT, EngineConfig
from .functions.tokenize import (
    tokenize_py,
    tokens_col,
    tokens_sparksql,
    tokens_sql,
)

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _half_up_ratio(num: str, den: str, scale: int, div: str = "div") -> str:
    """SQL for ``scale · num / den`` rounded half up, in integer
    arithmetic (``num >= 0``, ``den > 0``): ``(2·num·scale + den) div
    (2·den)``. ``div`` is Spark SQL's integer division; DuckDB spells it
    ``//``."""
    return f"(2 * ({num}) * {scale} + ({den})) {div} (2 * ({den}))"


# ---------------------------------------------------------------------------
# BM25 / index family (documents table)
# ---------------------------------------------------------------------------

# fixed literal query set over the documents vocabulary
BM25_QUERIES: list[tuple[str, str]] = [
    ("q01", "hash join strategy"),
    ("q02", "table scan filter"),
    ("q03", "sort merge partition"),
    ("q04", "spark window query"),
    ("q05", "stream batch data value"),
    ("q06", "customer order line"),
    ("q07", "vector column scan fast"),
    ("q08", "slow group agg"),
    ("q09", "the big small row"),
    ("q10", "key data merge nosuchtokenxyz"),
]

K1, B = DEFAULT.k1, DEFAULT.b
TOPK = 10

_QVALUES_SQL = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)

# Shared BM25 formulation; {TOK} differs per dialect. Tie rule mirrors the
# engine: score desc, then doc_id AS STRING asc (the engine's doc_idx is
# the rank of the stringified doc_id — SURVEY §4.3.5).
_BM25_BODY = f"""
WITH tok AS (
  SELECT doc_id, {{UNNEST}}({{TOK}}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n_docs FROM dl
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qtok AS (
  SELECT query_id, {{UNNEST}}({{QTOK}}) AS term
  FROM (VALUES {_QVALUES_SQL}) AS q(query_id, qtext)
),
qterms AS (SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, CAST(doc_id AS {{STR}}) ASC
         ) AS rank
  FROM scored
)
"""

_BM25_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f"""
SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
       CAST(round(score * 1000) AS BIGINT) AS score_milli
FROM ranked WHERE rank <= {TOPK}
"""
)

_BM25_SQL_DUCK_RANKONLY = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f"SELECT query_id, CAST(rank AS INT) AS rank, doc_id FROM ranked WHERE rank <= {TOPK}"
)

_BM25_SQL_SPARK = (
    _BM25_BODY.replace("{TOK}", tokens_sparksql("text"))
    .replace("{QTOK}", tokens_sparksql("qtext"))
    .replace("{STR}", "STRING").replace("{UNNEST}", "explode")
    + f"""
SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
       CAST(round(score * 1000) AS BIGINT) AS score_milli
FROM ranked WHERE rank <= {TOPK}
"""
)


@register("bm25_sql_topk", _BM25_SQL_DUCK)
def bm25_sql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 ranking as one declarative Spark SQL plan (F1, A2, A5, A1,
    J1, W1, O4 — Catalyst chooses broadcast/sort-merge, both aggs get
    map-side partial aggregation)."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_BM25_SQL_SPARK)


@register("bm25_topk_engine", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compressed-index engine end-to-end (S5/S8 build, J1+A1 scoring,
    W1 top-k, WAND pruning): build index → block-max retrieve → ranks.
    Independent DuckDB BM25 SQL is the oracle; scores are float32 in the
    engine so only (query_id, rank, doc_id) is compared."""
    from .operators.indexing import build_index
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# metadata-filtered retrieval: full-corpus statistics, ranking restricted
# to an allowed subset — rank is assigned AFTER the filter
_BM25_FILTERED_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f"""
, allowed AS (
  SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200
),
franked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored WHERE doc_id IN (SELECT doc_id FROM allowed)
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM franked WHERE rank <= {TOPK}
"""
)


@register("bm25_topk_filtered", _BM25_FILTERED_SQL_DUCK)
def bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED top-k (the search-engine filter query): build the
    full index, then retrieve restricted to lang='en' AND n_chars>=200
    docs via `retrieve(allowed_docs=...)` — scores keep full-corpus
    statistics (idf/avgdl unchanged), ranks are assigned within the
    allowed subset, and the filter is a post-aggregation left_semi on the
    int doc_idx key (broadcastable; the agg keeps its single map-side-
    combined shuffle)."""
    from .operators.indexing import build_index
    from .operators.query import retrieve

    docs_full = _docs(spark, sf_dir)
    idx = build_index(
        docs_full.select("doc_id", "text"), id_col="doc_id", text_col="text"
    )
    allowed = docs_full.filter(
        (F.col("lang") == "en") & (F.col("n_chars") >= 200)
    ).select("doc_id")
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, allowed_docs=allowed)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register(
    "corpus_stats",
    f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       CAST({_half_up_ratio('sum(dl)', 'count(*)', 10**6, '//')} AS BIGINT)
         AS avgdl_micro,
       CAST(sum(dl) AS BIGINT) AS total_tokens,
       (SELECT count(DISTINCT term) FROM tok) AS vocab_size
FROM dl
""",
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus aggregates (A7: doc_count/nnz totals; S1 scan)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    )
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    vocab = toks.select(F.explode("toks").alias("term")).agg(
        F.countDistinct("term").alias("vocab_size")
    )
    agg = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(_half_up_ratio("sum(dl)", "count(1)", 10**6))
        .cast("bigint").alias("avgdl_micro"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    return agg.crossJoin(vocab)


@register(
    "doc_stats",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents WHERE doc_id < 100
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM tok GROUP BY doc_id
""",
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats (P1/P5 projection+filter pushed to scan, A5)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    t = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl"),
        F.countDistinct("term").cast("bigint").alias("n_terms"),
    )


@register(
    "term_df_top100",
    f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY term ORDER BY df DESC, term ASC LIMIT 100
""",
)
def term_df_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency pass (A2) + deterministic top-N (O4/O6)."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
             F.sum("tf").cast("bigint").alias("total_tf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


@register(
    "idf_top100",
    f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents),
dt AS (SELECT DISTINCT doc_id, term FROM tok),
df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, CAST(df AS BIGINT) AS df,
       CAST(round(ln(1.0 + (n.n_docs - df + 0.5) / (df + 0.5)) * 1000000) AS BIGINT) AS idf_micro
FROM df CROSS JOIN n ORDER BY df DESC, term ASC LIMIT 100
""",
)
def idf_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 IDF computation (F3 classic analogue) over the DF pass (A2)."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.count()
    dt = docs.select("doc_id", F.explode(tokens_col("text")).alias("term")).distinct()
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        df.select(
            "term", F.col("df").cast("bigint").alias("df"),
            F.round(
                F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * 1e6
            ).cast("bigint").alias("idf_micro"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


@register("bm25_resumable_engine", _BM25_SQL_DUCK_RANKONLY)
def bm25_resumable_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable-build path (S6/S7 analogue, north rule): encode half the
    buckets, 'crash', restart to finish, build the index from committed
    shards, retrieve. Must be rank-identical to the direct build — same
    DuckDB BM25 oracle as bm25_topk_engine."""
    import tempfile

    from .operators.checkpoint import build_index_from_shards, encode_corpus_resumable
    from .operators.query import retrieve

    out = tempfile.mkdtemp(prefix="splade_ckpt_")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    # run 1: bounded work quota — only the first half of the buckets
    encode_corpus_resumable(docs, out, n_buckets=8, only_buckets=[0, 1, 2, 3])
    # run 2: restart — skips committed buckets, finishes the rest
    encode_corpus_resumable(docs, out, n_buckets=8)
    idx = build_index_from_shards(spark, out)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# ---------------------------------------------------------------------------
# SPLADE-style expansion family
# ---------------------------------------------------------------------------

from .functions.expander import (  # noqa: E402
    expand_pooled_sql,
    expand_sql,
    expand_terms,
    expand_terms_pooled,
)

_SPLADE_EXPAND_SQL = f"""
WITH docs50 AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
{expand_sql('docs50', 'doc_id', 'text')}
SELECT doc_id, term,
       CAST(round(weight * 1000000) AS BIGINT) AS weight_micro
FROM exp_docs50
"""


@register("splade_expand_terms", _SPLADE_EXPAND_SQL)
def splade_expand_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLADE-style log-saturated term expansion (F3 activation, A6 max
    pooling, P1 sparsify) via the deterministic surrogate encoder — pure
    JVM Column plan."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50).select("doc_id", "text")
    return expand_terms(docs).select(
        "doc_id", "term",
        F.round(F.col("weight").cast("double") * 1e6).cast("bigint").alias("weight_micro"),
    )


# generalized pooled encoder pinned at a NON-DEFAULT grid point: softplus
# activation (strictly positive — exercises the negative-logit branch the
# relu family zeroes) interpolated 25% toward max pooling
POOL_MODE, POOL_ACT = 0.25, "softplus"

_SPLADE_POOLED_SQL = f"""
WITH docs50 AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
{expand_pooled_sql('docs50', 'doc_id', 'text', pooling_mode=POOL_MODE, activation=POOL_ACT)}
SELECT doc_id, term,
       CAST(round(weight * 1000) AS BIGINT) AS weight_milli
FROM pooled_docs50
"""


@register("splade_pooled_terms", _SPLADE_POOLED_SQL)
def splade_pooled_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full pooling/activation surface (splade.py:11-40
    logit activations; :69-87 `pooled = sum + (max−sum)·mode`), pinned at
    (mode=0.25, softplus) — `functions.expander.expand_terms_pooled`.
    weight_milli quantization absorbs f64 sum-order noise between Spark's
    partial aggregation and DuckDB's parallel sum."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50).select("doc_id", "text")
    return expand_terms_pooled(
        docs, pooling_mode=POOL_MODE, activation=POOL_ACT,
        value_dtype="double",  # quantization-free vs the f64 oracle
    ).select(
        "doc_id", "term",
        F.round(F.col("weight").cast("double") * 1e3).cast("bigint").alias("weight_milli"),
    )


_SPLADE_TOPK_SQL = f"""
WITH q(query_id, qtext) AS (VALUES {_QVALUES_SQL}),
{expand_sql('documents', 'doc_id', 'text')},
{expand_sql('q', 'query_id', 'qtext')},
scored AS (
  SELECT qe.doc_id AS query_id, de.doc_id, sum(qe.weight * de.weight) AS score
  FROM exp_q qe JOIN exp_documents de ON de.term = qe.term
  GROUP BY 1, 2
),
ranked AS (
  -- milli-quantized ranking: the engine scores in float32, DuckDB in
  -- float64 with parallel (order-nondeterministic) summation — raw ranks
  -- near ties are not comparable across the two, quantized ranks are
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(score * 1000) DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("splade_topk_engine", _SPLADE_TOPK_SQL)
def splade_topk_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SPLADE-path retrieval: expand docs AND queries with the
    surrogate encoder, index the expansion (external weights), block-max
    WAND top-k. Engine scores are float32 → rank-only comparison."""
    from .operators.indexing import build_index
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dw = expand_terms(docs)
    idx = build_index(docs, id_col="doc_id", text_col="text", weighted_terms=dw)
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    qw = expand_terms(qdf, id_col="query_id", text_col="text").select(
        F.col("doc_id").alias("query_id"), "term", "weight"
    )
    # retrieve a deep raw-f32 pool, then re-rank milli-quantized to match
    # the oracle's cross-precision-stable rule (see _SPLADE_TOPK_SQL)
    res = retrieve(idx, qdf, k=100, strategy="wand", query_weights=qw)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score").cast("double") * 1000)),
        F.asc(F.col("doc_id").cast("string")),
    )
    return (
        res.withColumn("qrank", F.row_number().over(w))
        .filter(F.col("qrank") <= TOPK)
        .select(
            "query_id", F.col("qrank").cast("int").alias("rank"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
        )
    )


# Sparsified SPLADE path: binding per-doc top-k cap (W2/W4), query-side
# sparsify mirrored from index metadata (W3), term exclusion (P2), and a
# binding strict min_weight (P1) — the reference's full sparsify contract
# (/root/reference/src/indexing/sparse_index.py:61-163,539-578 mirrored via
# /root/reference/src/model/pl_module/retrieval.py:133-144).
PRUNE_EXCLUDE = ("the", "a", "of", "and", "in", "is", "to")
PRUNE_TOPK_TERMS = 8
PRUNE_MIN_W = 0.05
PRUNE_MAX_DOC = 400
_PRUNE_EXCL_SQL = ", ".join(f"'{t}'" for t in PRUNE_EXCLUDE)

_SPLADE_PRUNED_SQL = f"""
WITH q(query_id, qtext) AS (VALUES {_QVALUES_SQL}),
docsP AS (SELECT doc_id, text FROM documents WHERE doc_id < {PRUNE_MAX_DOC}),
{expand_sql('docsP', 'doc_id', 'text')},
{expand_sql('q', 'query_id', 'qtext')},
pd AS (
  -- doc-side sparsify: exclusion, strict > min_weight, per-doc top-k by
  -- (weight desc, term asc) — the engine's window tie rule
  SELECT doc_id, term, weight FROM (
    SELECT doc_id, term, weight,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY weight DESC, term ASC
           ) AS rn
    FROM exp_docsP
    WHERE weight > {PRUNE_MIN_W} AND term NOT IN ({_PRUNE_EXCL_SQL})
  ) WHERE rn <= {PRUNE_TOPK_TERMS}
),
pq AS (
  -- query-side sparsify MIRRORS the index settings (W3)
  SELECT doc_id AS query_id, term, weight FROM (
    SELECT doc_id, term, weight,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY weight DESC, term ASC
           ) AS rn
    FROM exp_q
    WHERE weight > {PRUNE_MIN_W} AND term NOT IN ({_PRUNE_EXCL_SQL})
  ) WHERE rn <= {PRUNE_TOPK_TERMS}
),
scored AS (
  SELECT pq.query_id, pd.doc_id, sum(pq.weight * pd.weight) AS score
  FROM pq JOIN pd ON pd.term = pq.term
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(score * 1000) DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("splade_topk_pruned", _SPLADE_PRUNED_SQL)
def splade_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-sparsified SPLADE retrieval: per-doc top-8 term cap (W2/W4
    BINDS — expansion emits ~3 terms/token), strict min_weight 0.05 (P1
    binds — the smallest expansion weight is ~0.031), term exclusion list
    (P2), and the query vector pruned with the SAME settings mirrored from
    index metadata (W3). Engine scores are float32 → milli-quantized
    rank comparison (as splade_topk_engine)."""
    from .config import EngineConfig
    from .operators.indexing import build_index
    from .operators.query import retrieve

    cfg = EngineConfig(
        top_k_terms=PRUNE_TOPK_TERMS,
        min_weight=PRUNE_MIN_W,
        exclude_terms=PRUNE_EXCLUDE,
    )
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < PRUNE_MAX_DOC).select(
        "doc_id", "text"
    )
    dw = expand_terms(docs)
    idx = build_index(docs, id_col="doc_id", text_col="text",
                      weighted_terms=dw, cfg=cfg)
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    qw = expand_terms(qdf, id_col="query_id", text_col="text").select(
        F.col("doc_id").alias("query_id"), "term", "weight"
    )
    res = retrieve(idx, qdf, k=100, strategy="wand", cfg=cfg, query_weights=qw)
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score").cast("double") * 1000)),
        F.asc(F.col("doc_id").cast("string")),
    )
    return (
        res.withColumn("qrank", F.row_number().over(w))
        .filter(F.col("qrank") <= TOPK)
        .select(
            "query_id", F.col("qrank").cast("int").alias("rank"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
        )
    )


@register("bm25_topk_saved", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index sink + scan round trip (S8/S9, reference
    script/index.py:104-123 save and sparse_index.py:502-536 load): build
    → save() parquet index tables + metadata JSON → load() a fresh handle
    → block-max WAND retrieve from the LOADED index. Must be
    rank-identical to the in-memory build — same DuckDB BM25 oracle."""
    import tempfile

    from .operators.indexing import InvertedIndex, build_index
    from .operators.query import retrieve

    out = tempfile.mkdtemp(prefix="splade_saved_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    build_index(docs, id_col="doc_id", text_col="text").save(out)
    idx = InvertedIndex.load(spark, out)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register("bm25_topk_heavy_partial", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_heavy_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAND shard tiers above one shard, with a BINDING cap: with
    wand_postings_cap=500 every benchmark query's estimated postings
    (Σ df over its terms) exceeds the cap, so each runs in a tier of 2+
    doc-disjoint shard tasks merged exactly (query._wand_scores) instead
    of one kernel task per query. Ranks must equal the same DuckDB BM25
    oracle as the unsharded engine entry."""
    from .config import EngineConfig
    from .operators.indexing import build_index
    from .operators.query import retrieve

    cfg = EngineConfig(wand_postings_cap=500)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text", cfg=cfg)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand", cfg=cfg)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register("bm25_topk_sharded", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-range sharded serving tier end-to-end: build → split
    postings at shard boundaries (narrow job, boundary blocks re-encoded)
    → 4 per-shard warm servers → fan-out/merge broker answers each query
    (sharding.ShardedServer). The merge is exact — every doc's postings
    live entirely in one shard — so ranks must equal the unsharded engine
    and the DuckDB BM25 oracle."""
    from .operators.indexing import build_index
    from .operators.sharding import ShardedServer

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    broker = ShardedServer(idx, n_shards=4)
    rows = []
    for qid, text in BM25_QUERIES:
        for rank, (doc_id, _score) in enumerate(broker.search(text, k=TOPK), 1):
            rows.append((qid, rank, int(doc_id)))
    return spark.createDataFrame(
        rows, "query_id string, rank int, doc_id bigint"
    )


@register("bm25_topk_merged", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental fold (operators/merge.py): build over PART of the
    corpus, fold the rest in WITHOUT re-processing the old docs (old tf
    reconstructed from the stored blocks by inverting the BM25 impact;
    global stats and idf updated; blocks rebuilt) → WAND retrieve. The
    oracle is the FULL-corpus DuckDB BM25 SQL, so the gate proves the
    fold reproduces exact whole-corpus semantics — n_docs, avgdl and df
    all shifted by the batch. Split is on stringified doc_id order (the
    append case, where fold ≡ rebuild including tie-breaks)."""
    from .operators.indexing import build_index
    from .operators.merge import merge_index_with_docs
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs.filter(F.col("doc_id").cast("string") < "5")
    new = docs.filter(F.col("doc_id").cast("string") >= "5")
    idx = merge_index_with_docs(
        build_index(old, id_col="doc_id", text_col="text"), new
    )
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register("bm25_topk_sharded_dist", _BM25_SQL_DUCK_RANKONLY)
def bm25_topk_sharded_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Spark retrieval over the SAVED sharded layout — the
    batch-scoring shape a cluster runs (vs the resident broker of
    bm25_topk_sharded): build → save_sharded(4) → load_sharded_all (all
    shard partitions as one handle, boundary-split blocks self-contained)
    → block-max WAND retrieve across every shard's blocks. Must be
    rank-identical to the unsharded engine, the broker, and the DuckDB
    BM25 oracle."""
    import tempfile

    from .operators.indexing import build_index
    from .operators.sharding import load_sharded_all, save_sharded

    out = tempfile.mkdtemp(prefix="splade_sharded_dist_")
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    save_sharded(build_index(docs, id_col="doc_id", text_col="text"), out, 4)
    idx = load_sharded_all(spark, out)
    from .operators.query import retrieve

    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


_MOMENTS_SQL = f"""
WITH docsM AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
{expand_sql('docsM', 'doc_id', 'text')},
w AS (
  -- f32 cast matches the engine's float weights exactly
  SELECT doc_id, CAST(weight AS FLOAT) AS wf FROM exp_docsM
),
per_doc AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
s AS (
  SELECT count(*) AS n_entries,
         sum(CAST(wf AS DOUBLE)) AS sw,
         sum(CAST(wf AS DOUBLE) * CAST(wf AS DOUBLE)) AS sww,
         min(wf) AS mn, max(wf) AS mx
  FROM w
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM per_doc) AS n_docs,
       CAST(s.n_entries AS BIGINT) AS n_entries,
       CAST(round(s.sw / s.n_entries * 1000000) AS BIGINT) AS avg_weight_micro,
       CAST(round(CAST(s.mn AS DOUBLE) * 1000000) AS BIGINT) AS min_weight_micro,
       CAST(round(CAST(s.mx AS DOUBLE) * 1000000) AS BIGINT) AS max_weight_micro,
       CAST(round(sqrt(s.sww / s.n_entries - (s.sw / s.n_entries) * (s.sw / s.n_entries))
                  * 1000000) AS BIGINT) AS stddev_weight_micro,
       (SELECT CAST({_half_up_ratio('sum(n)', 'count(*)', 1000, '//')} AS BIGINT)
          FROM per_doc) AS avg_active_milli
FROM s
"""


@register("expansion_moment_stats", _MOMENTS_SQL)
def expansion_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running moment / activation statistics over the expansion weights
    (A8/A11, reference script/experiment/logit_stats.py:18-109: streaming
    count/sum/sumsq/min/max + active-terms-per-doc). Stddev via the
    explicit sumsq formula on both sides so the algorithms match;
    ``avg_active_milli`` is a ratio of integers, so it is rounded half up
    in integer arithmetic (``_half_up_ratio``)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select(
        "doc_id", "text"
    )
    e = expand_terms(docs)  # weight is float32, as the engine indexes it
    per_doc = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    wd = F.col("weight").cast("double")
    s = e.agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum(wd).alias("sw"),
        F.sum(wd * wd).alias("sww"),
        F.min("weight").alias("mn"),
        F.max("weight").alias("mx"),
    )
    pd_agg = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(_half_up_ratio("sum(n)", "count(1)", 1000))
        .cast("bigint").alias("avg_active_milli"),
    )
    mean = F.col("sw") / F.col("n_entries")
    return s.crossJoin(pd_agg).select(
        "n_docs",
        F.col("n_entries").cast("bigint").alias("n_entries"),
        F.round(mean * 1e6).cast("bigint").alias("avg_weight_micro"),
        F.round(F.col("mn").cast("double") * 1e6).cast("bigint").alias("min_weight_micro"),
        F.round(F.col("mx").cast("double") * 1e6).cast("bigint").alias("max_weight_micro"),
        F.round(
            F.sqrt(F.col("sww") / F.col("n_entries") - mean * mean) * 1e6
        ).cast("bigint").alias("stddev_weight_micro"),
        "avg_active_milli",
    )


# ---------------------------------------------------------------------------
# Dedup / fingerprint family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
WITH h AS (SELECT md5(lower(text)) AS fp FROM documents),
g AS (SELECT fp, count(*) AS c FROM h GROUP BY fp)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(coalesce(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_groups,
       CAST(coalesce(sum(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS BIGINT) AS n_dup_docs
FROM g
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (hash-groupBy; map-side partial agg) —
    `operators.textstats.exact_dup_stats` pinned at normalized=True."""
    from .operators.textstats import exact_dup_stats

    return exact_dup_stats(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    f"""
SELECT doc_id, md5(array_to_string({tokens_sql('text')}, ' ')) AS fp
FROM documents WHERE doc_id < 100
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized document fingerprint (tokenize → canonical join → md5)
    — `operators.textstats.fingerprint_col`."""
    from .operators.textstats import fingerprint_col

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    return docs.select("doc_id", fingerprint_col("text").alias("fp"))


N_MINHASH = 8
MINHASH_BANDS = 4  # bands of 2 hashes
MINHASH_MAX_DOC = 500  # cap compared docs so the pair join stays bounded

# word 3-gram shingles from the shared tokenizer, as SQL (DuckDB): 1-based
_SHINGLES_DUCK = (
    f"list_transform(range(1, len({tokens_sql('text')}) - 1), "
    f"j -> {tokens_sql('text')}[j] || ' ' || {tokens_sql('text')}[j+1] || ' ' || {tokens_sql('text')}[j+2])"
)


def _shingles_col():
    """array<string> of word 3-gram shingles (Spark Column, JVM-side) —
    `operators.dedup.shingles_col` at the oracle's pinned n=3."""
    from .operators.dedup import shingles_col

    return shingles_col("text", n=3)


@register(
    "minhash_band_pairs",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS term
  FROM documents WHERE doc_id < {MINHASH_MAX_DOC}
),
dt AS (SELECT DISTINCT doc_id, term FROM sh),
hi AS (SELECT unnest(range({N_MINHASH})) AS i),
mh AS (
  SELECT doc_id, i, min(md5(term || ':' || CAST(i AS VARCHAR))) AS h
  FROM dt CROSS JOIN hi GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // 2 AS INT) AS band,
         md5(string_agg(h, '|' ORDER BY i)) AS bh
  FROM mh GROUP BY doc_id, CAST(i // 2 AS INT)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id
""",
)
def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 3-gram shingle → minhash → band →
    bucket-join. This is `operators.dedup.minhash_lsh_candidates` pinned at
    the oracle operating point: md5 hashing (portable — Spark and DuckDB
    agree bit-for-bit) with 8 hashes in 4 bands of 2 and no bucket cap (the
    ≤500-doc slice is bounded by construction). Production runs use the
    same operator with xxhash64, corpus-sized (r, b), and a bucket cap."""
    from .operators.dedup import minhash_lsh_candidates

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < MINHASH_MAX_DOC)
    return minhash_lsh_candidates(
        docs,
        n_hashes=N_MINHASH,
        rows_per_band=2,
        hash_fn="md5",
        bucket_cap=None,
    )


# shared recursive-CTE chain: minhash bands → candidate pairs → transitive
# closure (used by the dedup_clusters oracle AND the bm25_topk_deduped
# oracle's kept-docs filter)
_DEDUP_CC_CTES = f"""sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS term
  FROM documents WHERE doc_id < {MINHASH_MAX_DOC}
),
dt AS (SELECT DISTINCT doc_id, term FROM sh),
hi AS (SELECT unnest(range({N_MINHASH})) AS i),
mh AS (
  SELECT doc_id, i, min(md5(term || ':' || CAST(i AS VARCHAR))) AS h
  FROM dt CROSS JOIN hi GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, CAST(i // 2 AS INT) AS band,
         md5(string_agg(h, '|' ORDER BY i)) AS bh
  FROM mh GROUP BY doc_id, CAST(i // 2 AS INT)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT a AS node, a AS label FROM edges
  UNION
  SELECT e.b AS node, r.label AS label FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)"""


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_DEDUP_CC_CTES}
SELECT d.doc_id,
       CAST(coalesce(cc.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(cc.cluster_id, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id < {MINHASH_MAX_DOC}) d
LEFT JOIN cc ON cc.node = d.doc_id
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster resolution — the last mile after candidate pairs: the
    `minhash_band_pairs` pipeline (same md5/8-hash/2-row-band oracle pin)
    feeds `operators.dedup.connected_components` (iterative
    hash-partitioned min-label propagation, one shuffle per pass, exact
    decimal convergence metric), then `dedup_drop_list` picks one
    deterministic survivor per cluster (min doc_id) and emits the full
    per-doc drop list — singletons keep themselves. The oracle computes
    the same transitive closure with a recursive CTE. A training pipeline
    keeps rows with keep=1."""
    from .operators.dedup import (
        connected_components,
        dedup_drop_list,
        minhash_lsh_candidates,
    )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < MINHASH_MAX_DOC)
    pairs = minhash_lsh_candidates(
        docs,
        n_hashes=N_MINHASH,
        rows_per_band=2,
        hash_fn="md5",
        bucket_cap=None,
    )
    cc = connected_components(pairs)
    return dedup_drop_list(docs, cc).select(
        "doc_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.col("keep").cast("bigint").alias("keep"),
    )


# rank-only BM25 over the dedup-surviving docs: the tombstone-fold oracle.
# The recursive CTE reproduces the dedup_clusters keeps; the BM25 body then
# runs over documents_kept only.
_BM25_DEDUPED_SQL_DUCK = (
    "WITH RECURSIVE "
    + _DEDUP_CC_CTES
    + """,
drops AS (SELECT node AS doc_id FROM cc WHERE cluster_id <> node),
documents_kept AS (
  SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
),
"""
    + (
        _BM25_BODY.replace("FROM documents", "FROM documents_kept")
        .replace("{TOK}", tokens_sql("text"))
        .replace("{QTOK}", tokens_sql("qtext"))
        .replace("{STR}", "VARCHAR")
        .replace("{UNNEST}", "unnest")
        .lstrip()
        .removeprefix("WITH ")
    )
    + f"SELECT query_id, CAST(rank AS INT) AS rank, doc_id FROM ranked WHERE rank <= {TOPK}"
)


@register("bm25_topk_deduped", _BM25_DEDUPED_SQL_DUCK)
def bm25_topk_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation loop end-to-end: build the full index → find near-dup
    clusters (`deduplicate_corpus` pipeline at the md5 oracle pin) → apply
    the drop list to the LIVE index via `operators.merge.apply_tombstones`
    (exact df/idf/avgdl update + doc renumbering, NO re-tokenization — the
    fold is bit-identical to a rebuild over kept docs) → retrieve. The
    oracle recomputes BM25 over the kept docs only, so any statistics
    drift in the tombstone fold would flip ranks and fail the hash."""
    from .operators.dedup import (
        connected_components,
        dedup_drop_list,
        minhash_lsh_candidates,
    )
    from .operators.indexing import build_index
    from .operators.merge import apply_tombstones
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    sliced = docs.filter(F.col("doc_id") < MINHASH_MAX_DOC)
    pairs = minhash_lsh_candidates(
        sliced, n_hashes=N_MINHASH, rows_per_band=2, hash_fn="md5",
        bucket_cap=None,
    )
    drops = (
        dedup_drop_list(sliced, connected_components(pairs))
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    deduped = apply_tombstones(idx, drops)
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(deduped, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register(
    "streaming_dedup_firstseen",
    f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       md5(array_to_string({tokens_sql('text')}, ' ')) AS fp
FROM documents WHERE doc_id < 100
""",
)
def streaming_dedup_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    cross-micro-batch first-seen dedup. Batch 1 = 100 original docs;
    batch 2 = byte-identical re-deliveries under new doc_ids (+1000) —
    the mirror/re-crawl shape. The state (per-bucket seen-fingerprint
    sets, sharded by pmod(xxhash64(fp), n_buckets)) must suppress every
    batch-2 row, so the emitted stream equals exactly the originals —
    which is what the oracle computes declaratively. See
    `streaming/stream_dedup.py` for the scale notes (bucketed state,
    RocksDB provider)."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .streaming.stream_dedup import run_first_seen_over_files

    base = tempfile.mkdtemp(prefix="splade_sdedup_")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    pdf = (
        _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .toPandas()
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(in_dir, "batch1.parquet"),
    )
    dup = pdf.copy()
    dup["doc_id"] = (dup["doc_id"].astype(int) + 1000).astype(str)
    pq.write_table(
        pa.Table.from_pandas(dup, preserve_index=False),
        os.path.join(in_dir, "batch2.parquet"),
    )
    now = 1_700_000_000  # fixed mtimes pin micro-batch order (1 then 2)
    os.utime(os.path.join(in_dir, "batch1.parquet"), (now - 100, now - 100))
    os.utime(os.path.join(in_dir, "batch2.parquet"), (now, now))
    return run_first_seen_over_files(
        spark, in_dir, os.path.join(base, "out"), os.path.join(base, "ck"),
        n_buckets=8,
    ).select("doc_id", "fp")


SIMHASH_BITS = 16
SIMHASH_MAX_DOC = 300


@register(
    "simhash_groups",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term
  FROM documents WHERE doc_id < {SIMHASH_MAX_DOC}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
h AS (
  SELECT doc_id, term, tf,
         ((strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 4096 +
          (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) * 256 +
          (strpos('0123456789abcdef', substr(md5(term), 3, 1)) - 1) * 16 +
          (strpos('0123456789abcdef', substr(md5(term), 4, 1)) - 1)) AS hv
  FROM tf
),
votes AS (
  SELECT doc_id, j,
         sum(tf * (2 * (CAST(floor(hv / pow(2, j)) AS BIGINT) % 2) - 1)) AS v
  FROM h CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS j)
  GROUP BY doc_id, j
),
sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT doc_id, simhash,
       CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size
FROM sims
""",
)
def simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprint: per-token md5-derived 16-bit hash,
    tf-weighted bit votes, docs sharing a simhash form a dup group —
    `operators.textstats.simhash_dup_groups` pinned at bits=16. At corpus
    scale the groupBys are partial-agg shuffles keyed by (doc, bit) then
    simhash."""
    from .operators.textstats import simhash_dup_groups

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < SIMHASH_MAX_DOC)
    return simhash_dup_groups(docs, bits=SIMHASH_BITS)


# production-width simhash: 60 bits (15 md5 hex nibbles — stays inside
# int64 on both engines; 64-bit would overflow DuckDB's signed BIGINT
# arithmetic). Collision groups at 60 bits ≈ true near-dups only.
SIMHASH_WIDE_BITS = 60
SIMHASH_WIDE_MAX_DOC = 200

_HV60_DUCK = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(term), {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
    for i in range(15)
)


@register(
    "simhash_wide_groups",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term
  FROM documents WHERE doc_id < {SIMHASH_WIDE_MAX_DOC}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
h AS (SELECT doc_id, term, tf, ({_HV60_DUCK}) AS hv FROM tf),
votes AS (
  -- integer shift via BIGINT division: double math would lose bits >2^53
  SELECT doc_id, j,
         sum(tf * (2 * ((hv // CAST(pow(2, j) AS BIGINT)) % 2) - 1)) AS v
  FROM h CROSS JOIN (SELECT unnest(range({SIMHASH_WIDE_BITS})) AS j)
  GROUP BY doc_id, j
),
sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT doc_id, simhash,
       CAST(count(*) OVER (PARTITION BY simhash) AS BIGINT) AS group_size
FROM sims
""",
)
def simhash_wide_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash (the production-width variant of simhash_groups —
    VERDICT r1 noted 16 bits is toy-width) —
    `operators.textstats.simhash_dup_groups` at its default bits=60. Bit
    extraction uses integer division by 2^j (both sides) because double
    math drops bits past 2^53. Same (doc, bit) → simhash groupBy shape."""
    from .operators.textstats import simhash_dup_groups

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < SIMHASH_WIDE_MAX_DOC)
    return simhash_dup_groups(docs, bits=SIMHASH_WIDE_BITS)


JACCARD_MAX_DOC = 150
JACCARD_MIN_MILLI = 100
# frequency cap on the shared-shingle self-join: shingles appearing in
# more than this many docs (stop-shingles) are dropped on BOTH sides
# before pairing — at corpus scale an uncapped stop-shingle would join
# O(df^2) pairs; similarity is defined over the rare-shingle subsets
JACCARD_SHINGLE_DF_CAP = 50
# |A ∩ B| / |A ∪ B| in milli, rounded half up in integer arithmetic
_JACCARD_MILLI_DUCK = _half_up_ratio("i", "sa.n + sb.n - i", 1000, "//")


@register(
    "jaccard_ngram_pairs",
    f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s
  FROM documents WHERE doc_id < {JACCARD_MAX_DOC}
),
ds0 AS (SELECT DISTINCT doc_id, s FROM sh),
sdf AS (SELECT s, count(*) AS df FROM ds0 GROUP BY s),
ds AS (
  SELECT ds0.doc_id, ds0.s FROM ds0
  JOIN sdf ON sdf.s = ds0.s AND sdf.df <= {JACCARD_SHINGLE_DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST({_JACCARD_MILLI_DUCK} AS BIGINT) AS jaccard_milli
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_JACCARD_MILLI_DUCK} >= {JACCARD_MIN_MILLI}
""",
)
def jaccard_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity over candidate pairs generated by a
    shared-shingle equi-join (the verification stage of a MinHash
    pipeline), FREQUENCY-CAPPED: shingles with df > cap are dropped
    before the self-join (a stop-shingle would otherwise explode the join
    at corpus scale), and similarity is defined over the rare-shingle
    subsets — identically on both the Spark and oracle sides. The ratio
    is rounded in integer arithmetic (``_half_up_ratio``)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    ds0 = docs.select("doc_id", F.explode(_shingles_col()).alias("s")).distinct()
    sdf = ds0.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ds = ds0.join(
        sdf.filter(F.col("df") <= JACCARD_SHINGLE_DF_CAP).select("s"),
        "s", "left_semi",
    ).localCheckpoint(eager=True)  # computed once for both join sides;
    # blocks released by the ContextCleaner (no session-lifetime persist)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.expr(_half_up_ratio("i", "sa.n + sb.n - i", 1000))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_MIN_MILLI)
        .select("doc_a", "doc_b", jac.cast("bigint").alias("jaccard_milli"))
    )


NEAR_DUP_THRESHOLDS = (700, 800, 900, 950)


@register(
    "embedding_near_dup",
    f"""
WITH e AS (
  SELECT vec_id, unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.v * b.v) AS dot
  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
cos AS (
  SELECT d.va, d.vb, d.dot / (na.nrm * nb.nrm) AS c
  FROM dots d JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb
)
SELECT t.thr AS threshold_milli,
       CAST(coalesce(sum(CASE WHEN c * 1000 >= t.thr THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
FROM cos CROSS JOIN (SELECT unnest([{", ".join(str(t) for t in NEAR_DUP_THRESHOLDS)}]) AS thr) t
GROUP BY t.thr
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection: pair counts above a threshold
    curve. Brute-force all-pairs here; the scale path buckets by LSH first
    (see ann_lsh_bucketed) so only in-bucket pairs are scored."""
    emb = _t(spark, sf_dir, "embeddings")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, p: acc + p,
        )

    e = emb.select(
        "vec_id", "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = e.alias("a")
    b = e.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    ).alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vb"))
    cos = pairs.select(
        (dot(F.col("a.embedding"), F.col("b.eb")) / (F.col("a.nrm") * F.col("b.nb"))).alias("c")
    )
    thr = spark.createDataFrame(
        [(t,) for t in NEAR_DUP_THRESHOLDS], "thr INT"
    )
    return (
        cos.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("c") * 1000 >= F.col("thr"), 1).otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias("n_pairs")
        )
        .select(F.col("thr").alias("threshold_milli"), "n_pairs")
    )


LSH_DIMS = 8
LSH_K = 3
LSH_NQ = 8


@register(
    "ann_lsh_bucketed",
    f"""
WITH e AS (
  SELECT vec_id, embedding,
         (SELECT CAST(sum(CASE WHEN embedding[i + 1] > 0
                          THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
          FROM (SELECT unnest(range({LSH_DIMS})) AS i)) AS bucket
  FROM embeddings
),
ex AS (
  SELECT vec_id, bucket, unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
q AS (SELECT * FROM ex WHERE vec_id < {LSH_NQ}),
dots AS (
  SELECT q.vec_id AS query_id, ex.vec_id AS vec_id, sum(q.v * ex.v) AS dot
  FROM q JOIN ex ON q.pos = ex.pos AND q.bucket = ex.bucket
                AND q.vec_id <> ex.vec_id
  GROUP BY q.vec_id, ex.vec_id
),
cos AS (
  SELECT d.query_id, d.vec_id, d.dot / (nq.nrm * nv.nrm) AS c
  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
              JOIN norms nv ON nv.vec_id = d.vec_id
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM cos
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(round(c * 1000000) AS BIGINT) AS cos_micro
FROM ranked WHERE rank <= {LSH_K}
""",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN: sign-bits of the first 8 dims form the
    bucket; candidates are scored only within the query's bucket —
    `operators.ann.lsh_topk` single-probe. The scale path for ANN: the
    bucket join replaces the all-pairs cross join with an equi-join Spark
    shuffles by bucket."""
    from .operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, F.col("vec_id") < LSH_NQ, k=LSH_K, n_bits=LSH_DIMS,
        multiprobe=False,
    ).select(
        "query_id", "rank", "vec_id",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )


LSH_PROBES = LSH_DIMS  # all hamming-1 neighbor buckets


@register(
    "ann_lsh_multiprobe",
    f"""
WITH e AS (
  SELECT vec_id, embedding,
         (SELECT CAST(sum(CASE WHEN embedding[i + 1] > 0
                          THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
          FROM (SELECT unnest(range({LSH_DIMS})) AS i)) AS bucket
  FROM embeddings
),
ex AS (
  SELECT vec_id, bucket, unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
probes AS (
  SELECT q.vec_id AS query_id,
         CASE WHEN j.j = 0 THEN q.bucket
              ELSE xor(q.bucket, CAST(pow(2, j.j - 1) AS BIGINT)) END AS probe
  FROM e q CROSS JOIN (SELECT unnest(range({LSH_PROBES + 1})) AS j) j
  WHERE q.vec_id < {LSH_NQ}
),
cand AS (
  SELECT p.query_id, e.vec_id
  FROM probes p JOIN e ON e.bucket = p.probe AND e.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(qx.v * ex.v) AS dot
  FROM cand c
  JOIN ex qx ON qx.vec_id = c.query_id
  JOIN ex ON ex.vec_id = c.vec_id AND ex.pos = qx.pos
  GROUP BY c.query_id, c.vec_id
),
cos AS (
  SELECT d.query_id, d.vec_id, d.dot / (nq.nrm * nv.nrm) AS c
  FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
              JOIN norms nv ON nv.vec_id = d.vec_id
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM cos
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(round(c * 1000000) AS BIGINT) AS cos_micro
FROM ranked WHERE rank <= {LSH_K}
""",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own sign-bit bucket AND
    every hamming-1 neighbor bucket (one flipped hyperplane bit) — the
    standard recall fix for single-probe LSH; `operators.ann.lsh_topk`
    with multiprobe=True. The probe list is query-side (9 rows per
    query), so the scale shape is unchanged — no cross join, candidates
    shuffled by bucket."""
    from .operators.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb, F.col("vec_id") < LSH_NQ, k=LSH_K, n_bits=LSH_DIMS,
        multiprobe=True,
    ).select(
        "query_id", "rank", "vec_id",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )


# subword tokenizer (F1 parity surface): corpus-built vocab + greedy
# longest-match segmentation — reference WordPiece semantics without
# pretrained weights (functions/subword.py)
SW_MAX_DOC = 60
SW_LEN = 6
SW_V = 400


@register(
    "subword_tokenize",
    f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS word
  FROM documents WHERE doc_id < {SW_MAX_DOC}
),
wc AS (SELECT word, count(*) AS wc FROM tok GROUP BY word),
starts AS (SELECT word, wc, unnest(range(1, len(word) + 1)) AS s FROM wc),
pieces AS (
  SELECT substr(word, CAST(s AS INT), l) AS piece, sum(wc) AS freq
  FROM starts CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS l) ll
  WHERE s + l - 1 <= len(word)
  GROUP BY 1
),
rankedv AS (
  SELECT piece, row_number() OVER (ORDER BY freq DESC, piece ASC) AS rn
  FROM pieces
),
vocab AS (SELECT piece FROM rankedv WHERE rn <= {SW_V} OR len(piece) = 1),
dw AS (SELECT DISTINCT word FROM tok),
walk AS (
  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(NULL AS VARCHAR) AS piece
  FROM dw
  UNION ALL
  SELECT w.word, w.pos + w.bl,
         substr(w.word, CAST(w.pos AS INT), CAST(w.bl AS INT))
  FROM (
    SELECT word, pos,
           (SELECT max(len(v.piece)) FROM vocab v
            WHERE v.piece = substr(walk.word, CAST(walk.pos AS INT), len(v.piece))
           ) AS bl
    FROM walk WHERE pos <= len(word)
  ) w
  WHERE w.bl IS NOT NULL
),
wp AS (SELECT word, piece FROM walk WHERE piece IS NOT NULL)
SELECT t.doc_id, wp.piece AS term, CAST(count(*) AS BIGINT) AS tf
FROM tok t JOIN wp ON wp.word = t.word
GROUP BY 1, 2
""",
)
def subword_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven subword tokenizer (functions/subword.py): vocab =
    top-{SW_V} substrings by (freq desc, piece asc) ∪ all observed single
    chars, then greedy longest-match segmentation of every distinct word
    (Arrow-batched, vocab in closure), pieces fanned back onto the token
    stream → per-doc subword tf. The DuckDB oracle rebuilds the SAME
    vocab in SQL and walks each word with a recursive CTE whose step
    picks the longest matching vocab piece — greedy semantics pinned
    across Spark, Python, and SQL (reference WordPiece analogue,
    /root/reference/src/utils/transformers.py:4-12)."""
    from .functions.subword import build_subword_vocab, subword_tf

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < SW_MAX_DOC)
    vocab = build_subword_vocab(
        docs, max_piece_len=SW_LEN, vocab_size=SW_V
    )
    return subword_tf(docs, vocab, max_piece_len=SW_LEN).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "term",
        F.col("tf").cast("bigint").alias("tf"),
    )


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")
_SW_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality",
    f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks, text FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(round((CASE WHEN len(toks) > 0
            THEN list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
            ELSE 0 END) * 1000) AS BIGINT) AS mean_tok_len_milli,
       CAST(round((CASE WHEN len(toks) > 0
            THEN len(list_filter(toks, x -> x IN ({_SW_SQL}))) * 1.0 / len(toks)
            ELSE 0 END) * 1000) AS BIGINT) AS stopword_ratio_milli,
       CAST(length(text) AS BIGINT) AS n_chars
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio features (F.* only) —
    `operators.textstats.text_quality_features` with the ratio doubles
    rounded to milli BIGINTs for the hash gate."""
    from .operators.textstats import text_quality_features

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    feats = text_quality_features(docs, stopwords=STOPWORDS)
    return feats.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("mean_tok_len") * 1000).cast("bigint")
        .alias("mean_tok_len_milli"),
        F.round(F.col("stopword_ratio") * 1000).cast("bigint")
        .alias("stopword_ratio_milli"),
        "n_chars",
    )


@register(
    "token_counts",
    f"""
SELECT doc_id,
       CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS n_distinct,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens
FROM documents WHERE doc_id < 200
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, regex + whitespace variants (F1) —
    `operators.textstats.token_count_features`."""
    from .operators.textstats import token_count_features

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return token_count_features(docs)


@register(
    "lang_id_heuristic",
    f"""
WITH t AS (
  SELECT doc_id, lang, {tokens_sql('text')} AS toks FROM documents WHERE doc_id < 200
),
s AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x IN ({_SW_SQL}))) AS en_hits,
         len(toks) AS n
  FROM t
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN n > 0 AND en_hits * 100 >= n * 2 THEN 'en' ELSE 'unknown' END AS pred_lang
FROM s
""",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic (threshold: ≥2% EN stopwords)
    — `operators.textstats.lang_id` carrying the ground-truth label."""
    from .operators.textstats import lang_id

    docs = (
        _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        .withColumn("labeled_lang", F.col("lang"))
    )
    return lang_id(
        docs, stopwords=STOPWORDS, min_hit_pct=2, passthrough=("labeled_lang",)
    )


# ---------------------------------------------------------------------------
# Multimodal (binary column) family — payload synthesized from text so the
# oracle sees identical bytes; the engine path treats it as an opaque blob
# ---------------------------------------------------------------------------


@register(
    "media_metadata",
    """
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'text/plain' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents WHERE doc_id < 100
""",
)
def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary payload column — pure JVM projection
    (operators/multimodal.py), blob never crosses into Python."""
    from .operators.multimodal import media_metadata

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("kind"),
    )
    return media_metadata(docs, id_col="doc_id", blob_col="payload", kind_col="kind")


@register(
    "media_byte_features",
    """
WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text) + 1),
                               i -> ascii(substr(text, i, 1)))) AS code
  FROM t
),
h AS (SELECT doc_id, code // 16 AS bucket, count(*) AS c FROM b GROUP BY 1, 2),
n AS (SELECT doc_id, count(*) AS nb, avg(code) AS mean_code FROM b GROUP BY 1),
ent AS (
  SELECT h.doc_id,
         -sum((c * 1.0 / n.nb) * log2(c * 1.0 / n.nb)) AS entropy
  FROM h JOIN n ON n.doc_id = h.doc_id GROUP BY h.doc_id
)
SELECT CAST(n.doc_id AS VARCHAR) AS media_id,
       CAST(n.nb AS BIGINT) AS n_bytes,
       CAST(round(n.mean_code * 1000) AS BIGINT) AS byte_mean_milli,
       CAST(round(ent.entropy * 1000) AS BIGINT) AS byte_entropy_milli
FROM n JOIN ent ON ent.doc_id = n.doc_id
""",
)
def media_byte_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched blob feature extraction (mapInPandas over a binary
    column — the real multimodal plumbing; codec decode itself is stubbed
    per environment, operators/multimodal.py)."""
    from .operators.multimodal import media_features

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return media_features(docs, id_col="doc_id", blob_col="payload").select(
        "media_id", "n_bytes", "byte_mean_milli", "byte_entropy_milli"
    )


# real image decode: deterministic BMPs synthesized from a portable pixel
# formula, decoded by the engine's pure-NumPy BMP decoder; the oracle
# computes the same per-channel means analytically from the formula — an
# encode or decode bug anywhere flips the hash
BMP_N, BMP_FORMULA = 60, "(doc_id * 7919 + y * 131 + x * 17 + {c} * 29) % 256"


@register(
    "media_decoded_features",
    f"""
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
  FROM documents WHERE doc_id < {BMP_N}
),
cx AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM d),
cells AS (SELECT doc_id, w, h, x, unnest(range(h)) AS y FROM cx)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(floor(avg({BMP_FORMULA.format(c=0)}) * 1000) AS BIGINT) AS mean_r_milli,
       CAST(floor(avg({BMP_FORMULA.format(c=1)}) * 1000) AS BIGINT) AS mean_g_milli,
       CAST(floor(avg({BMP_FORMULA.format(c=2)}) * 1000) AS BIGINT) AS mean_b_milli
FROM cells GROUP BY doc_id, w, h
""",
)
def media_decoded_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode exercised FOR REAL: deterministic 24-bit BMPs are
    synthesized per doc (pixel = formula(doc_id, x, y, channel)), carried
    as a binary column, decoded by `operators.multimodal._decode_bmp`
    (pure NumPy — bottom-up rows, BGR, stride padding), and reduced to
    decoded-dimension features by `image_features`. The oracle never sees
    the bytes: it evaluates the pixel formula analytically, so the hash
    pins the encoder AND decoder bit-for-bit."""
    import numpy as np
    import pandas as pd

    from .operators.multimodal import encode_bmp, image_features

    ids = _docs(spark, sf_dir).filter(F.col("doc_id") < BMP_N).select("doc_id")

    def make_payloads(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 5, 3 + did % 4
                y, x, c = np.ogrid[:h, :w, :3]
                px = ((did * 7919 + y * 131 + x * 17 + c * 29) % 256).astype(
                    np.uint8
                )
                blobs.append(encode_bmp(px))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype(str), "payload": blobs}
            )

    imgs = ids.mapInPandas(
        make_payloads, schema="media_id string, payload binary"
    )
    return image_features(imgs, id_col="media_id", blob_col="payload")


# ---------------------------------------------------------------------------
# Similarity search family (embeddings table)
# ---------------------------------------------------------------------------

ANN_K = 5
ANN_NQ = 5


@register(
    "ann_cosine_topk",
    f"""
WITH e AS (
  SELECT vec_id, unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
q AS (SELECT * FROM e WHERE vec_id < {ANN_NQ}),
dots AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, sum(q.v * e.v) AS dot
  FROM q JOIN e ON q.pos = e.pos AND q.vec_id <> e.vec_id
  GROUP BY q.vec_id, e.vec_id
),
cos AS (
  SELECT d.query_id, d.vec_id, d.dot / (nq.nrm * nv.nrm) AS c
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nv ON nv.vec_id = d.vec_id
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM cos
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(round(c * 1000000) AS BIGINT) AS cos_micro
FROM ranked WHERE rank <= {ANN_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (F5 dot product, W1 top-k) —
    `operators.ann.cosine_topk`, the exact recall oracle for the
    approximate paths. JVM-side: zip_with + aggregate, no Python."""
    from .operators.ann import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, F.col("vec_id") < ANN_NQ, k=ANN_K).select(
        "query_id", "rank", "vec_id",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )


# IVF-style ANN: deterministic centroid subsample → broadcast assignment →
# probe the nprobe nearest centroid lists. The other standard ANN scale
# path next to LSH bucketing (SURVEY §2.5 W6 analogue of FAISS IVF).
IVF_CENT_MOD = 25   # centroids = vectors with vec_id % 25 == 0
IVF_NPROBE = 3
IVF_NQ = 5
IVF_K = 5

# sequential per-pair dot product (identical fold order on both engines)
_DOT_DUCK = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
)


@register(
    "ann_ivf_topk",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
cent AS (SELECT vec_id AS cid, embedding AS ce FROM e WHERE vec_id % {IVF_CENT_MOD} = 0),
nrm AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
  FROM e
),
acos AS (
  SELECT e.vec_id, c.cid,
         {_DOT_DUCK.format(a='e.embedding', b='c.ce')}
           / (n.nrm * cn.nrm) AS c
  FROM e CROSS JOIN cent c
  JOIN nrm n ON n.vec_id = e.vec_id
  JOIN nrm cn ON cn.vec_id = c.cid
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
    FROM acos
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cid ASC) AS rn
    FROM acos WHERE vec_id < {IVF_NQ}
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
),
cos2 AS (
  SELECT c.query_id, c.vec_id,
         {_DOT_DUCK.format(a='qe.embedding', b='ve.embedding')}
           / (nq.nrm * nv.nrm) AS c
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ve ON ve.vec_id = c.vec_id
  JOIN nrm nq ON nq.vec_id = c.query_id
  JOIN nrm nv ON nv.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id ASC) AS rank
  FROM cos2
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(round(c * 1000000) AS BIGINT) AS cos_micro
FROM ranked WHERE rank <= {IVF_K}
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-k — `operators.ann.ivf_topk` with a deterministic
    centroid subsample as the coarse quantizer (the oracle pin; production
    uses `operators.ann.train_kmeans_centroids`, recall measured in
    BENCH.md). Centroids are BROADCAST; every vector is assigned to its
    nearest centroid map-side (no shuffle — the IVF coarse quantizer
    shape); queries probe their ``nprobe`` nearest centroid lists and
    score exact cosine only within the probed lists. At scale: centroid
    count is O(√N), the assignment is a broadcast nested loop that AQE
    keeps map-side, and the candidate join shuffles by centroid id —
    never all-pairs."""
    from .operators.ann import ivf_topk

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = e.filter(F.col("vec_id") % IVF_CENT_MOD == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    return ivf_topk(
        e, F.col("vec_id") < IVF_NQ, cent, k=IVF_K, nprobe=IVF_NPROBE
    ).select(
        "query_id", "rank", "vec_id",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    )


# ---------------------------------------------------------------------------
# Relational coverage (TPC-H-ish tables) — generic engine operators
# ---------------------------------------------------------------------------


@register(
    "lineitem_pricing_agg",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_centi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def lineitem_pricing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregate with pushed-down filter (A1/A7/P1)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02 00:00:00"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
        .cast("bigint").alias("revenue_centi"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


@register(
    "top_orders_per_priority",
    """
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC
         ) AS rank
  FROM orders
)
SELECT o_orderpriority, CAST(rank AS INT) AS rank, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_centi
FROM r WHERE rank <= 5
""",
)
def top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via window (W1 pattern)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "o_orderpriority", F.col("rank").cast("int").alias("rank"), "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("totalprice_centi"),
        )
    )


@register(
    "customer_order_coverage",
    """
WITH big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
       CAST(sum(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN big b ON b.o_custkey = c.c_custkey
GROUP BY n.n_name
""",
)
def customer_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join coverage split + broadcast dimension join (P3/P7/J2/U4)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    big = o.filter(F.col("o_totalprice") > 150000).select("o_custkey").distinct()
    withb = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_with_big_order"))
    )
    total = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name").agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )
    return total.join(withb, "n_name", "left").select(
        "n_name", "n_customers",
        F.coalesce(F.col("n_with_big_order"), F.lit(0)).cast("bigint").alias("n_with_big_order"),
        (F.col("n_customers") - F.coalesce(F.col("n_with_big_order"), F.lit(0)))
        .cast("bigint").alias("n_without"),
    )


# ---------------------------------------------------------------------------
# Evaluation family: retrieval metrics + reranking (SURVEY §2.4 A9, §2.3
# J4/J5, §2.8 F8; reference src/metric/retrieval.py + pl_module/retrieval.py)
# ---------------------------------------------------------------------------

# Deterministic synthetic qrels over the documents table: query i (1-based)
# is relevant to docs with doc_id < 400 and doc_id % 41 == (3*i) % 41,
# graded relevance 1 + (doc_id % 3). Pure arithmetic → identical in Spark
# and DuckDB, no external data.
QREL_MOD, QREL_MAX_DOC = 41, 400
_QIDX_SQL = ", ".join(f"('q{i:02d}', {i})" for i in range(1, len(BM25_QUERIES) + 1))

_QRELS_DUCK = f"""
qrels AS (
  SELECT qi.query_id, d.doc_id, CAST(1 + (d.doc_id % 3) AS DOUBLE) AS relevance
  FROM (VALUES {_QIDX_SQL}) AS qi(query_id, i)
  JOIN documents d
    ON d.doc_id < {QREL_MAX_DOC} AND d.doc_id % {QREL_MOD} = (3 * qi.i) % {QREL_MOD}
)"""

RESULTS_K = 20  # retrieved depth fed into the metrics stage
METRIC_KS = DEFAULT.k_list


def _qrels_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    qi = spark.createDataFrame(
        [(f"q{i:02d}", i) for i in range(1, len(BM25_QUERIES) + 1)], "query_id string, i int"
    )
    d = _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < QREL_MAX_DOC)
    return d.join(
        F.broadcast(qi), (F.col("doc_id") % QREL_MOD) == (3 * F.col("i")) % QREL_MOD
    ).select(
        "query_id", "doc_id",
        (1 + F.col("doc_id") % 3).cast("double").alias("relevance"),
    )


_METRICS_SQL = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f""",
results AS (
  SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {RESULTS_K}
),
{_QRELS_DUCK},
labeled AS (
  SELECT r.query_id, r.doc_id, r.score, coalesce(qr.relevance, 0.0) AS rel
  FROM results r LEFT JOIN qrels qr
    ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
),
sentinels AS (SELECT query_id, min(score) - 1.0 AS s FROM results GROUP BY query_id),
missed AS (
  -- qrels positives not retrieved, appended at min(score) - 1 (J5/F8);
  -- queries with positives but no results keep their rows at -1.0
  -- (reference min_score = 0.0 default, retrieval.py:236-241)
  SELECT qr.query_id, qr.doc_id, coalesce(s.s, -1.0) AS score, qr.relevance AS rel
  FROM qrels qr
  LEFT JOIN sentinels s ON s.query_id = qr.query_id
  LEFT JOIN results r ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
  WHERE r.doc_id IS NULL AND qr.relevance > 0
),
full_set AS (SELECT * FROM labeled UNION ALL SELECT * FROM missed),
rr AS (
  SELECT query_id, doc_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM full_set
),
ks AS (SELECT unnest([{", ".join(str(k) for k in METRIC_KS)}]) AS k),
npos AS (SELECT query_id, count(*) AS n_pos FROM full_set WHERE rel > 0 GROUP BY query_id),
topk AS (SELECT ks.k, rr.* FROM rr CROSS JOIN ks WHERE rr.rank <= ks.k),
perq AS (
  SELECT k, query_id,
         max(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END) AS hit,
         sum(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END) AS n_hits,
         max(CASE WHEN rel > 0 THEN 1.0 / rank ELSE 0.0 END) AS mrr,
         -- LINEAR gain (torchmetrics RetrievalNormalizedDCG)
         sum(rel / log2(rank + 1.0)) AS dcg
  FROM topk GROUP BY k, query_id
),
ap AS (
  SELECT k, query_id, sum(cum_hits / rank) AS ap_sum FROM (
    SELECT k, query_id, rank, rel,
           sum(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END)
             OVER (PARTITION BY k, query_id ORDER BY rank) AS cum_hits
    FROM topk
  ) WHERE rel > 0 GROUP BY k, query_id
),
idcg AS (
  SELECT k, query_id, sum(rel / log2(irank + 1.0)) AS idcg FROM (
    SELECT ks.k, f.query_id, f.rel,
           row_number() OVER (PARTITION BY ks.k, f.query_id ORDER BY f.rel DESC) AS irank
    FROM full_set f CROSS JOIN ks WHERE f.rel > 0
  ) WHERE irank <= k GROUP BY k, query_id
),
perq2 AS (
  SELECT p.k, p.query_id, p.hit, p.mrr,
         -- Recall@k = hits / TOTAL relevant (torchmetrics RetrievalRecall)
         CASE WHEN n.n_pos > 0 THEN p.n_hits / n.n_pos ELSE 0.0 END AS recall,
         CASE WHEN n.n_pos > 0 THEN coalesce(a.ap_sum, 0.0) / least(n.n_pos, p.k)
              ELSE 0.0 END AS map_v,
         CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg ELSE 0.0 END AS ndcg
  FROM perq p
  LEFT JOIN npos n ON n.query_id = p.query_id
  LEFT JOIN ap a ON a.k = p.k AND a.query_id = p.query_id
  LEFT JOIN idcg i ON i.k = p.k AND i.query_id = p.query_id
),
final AS (
  SELECT k, avg(hit) AS hitrate, avg(mrr) AS mrr, avg(map_v) AS map_v,
         avg(recall) AS recall, avg(ndcg) AS ndcg
  FROM perq2 GROUP BY k
)
SELECT metric, CAST(k AS INT) AS k,
       CAST(round(value * 1000000) AS BIGINT) AS value_micro
FROM (
  SELECT k, 'HitRate' AS metric, hitrate AS value FROM final
  UNION ALL SELECT k, 'MRR', mrr FROM final
  UNION ALL SELECT k, 'MAP', map_v FROM final
  UNION ALL SELECT k, 'Recall', recall FROM final
  UNION ALL SELECT k, 'nDCG', ndcg FROM final
)
"""
)


@register("retrieval_metrics_bm25", _METRICS_SQL)
def retrieval_metrics_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full evaluation harness: BM25 ranking → label join vs deterministic
    qrels (J4) with the missed-positive min−1 sentinel (J5/F8,
    /root/reference/src/model/pl_module/retrieval.py:236-241) → HitRate/
    MRR/MAP/Recall/nDCG at the reference k_list (A9,
    /root/reference/src/metric/retrieval.py:59-78)."""
    from .operators.metrics import retrieval_metrics

    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    ranked = spark.sql(
        _BM25_BODY.replace("{TOK}", tokens_sparksql("text"))
        .replace("{QTOK}", tokens_sparksql("qtext"))
        .replace("{STR}", "STRING").replace("{UNNEST}", "explode")
        + f"SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {RESULTS_K}"
    )
    qrels = _qrels_df(spark, sf_dir)
    m = retrieval_metrics(ranked.select("query_id", "doc_id", "score"), qrels)
    return m.select(
        "metric", F.col("k").cast("int").alias("k"),
        F.round(F.col("value") * 1e6).cast("bigint").alias("value_micro"),
    )


# Flexible-schema qrels ingestion (P3/P4 + the reference's column-name
# tolerance, /root/reference/src/data/pd_module/retrieval.py:178-204).
# Deterministic qrels rows are staged under THREE different column
# spellings, normalized by operators.qrels.load_qrels, filtered both ways
# (qrels→queries, queries→qrels), and aggregated per query.
QFLEX_QUERIES = 8  # queries q01..q08 loaded; qrels exist for i 1..10 (P3 binds)

_QFLEX_SQL = f"""
WITH qi(query_id, i) AS (VALUES {", ".join(f"('q{i:02d}', {i})" for i in range(1, QFLEX_QUERIES + 1))}),
qrels AS (
  SELECT qi.query_id, d.doc_id, CAST(1 + (d.doc_id % 3) AS DOUBLE) AS relevance
  FROM qi JOIN documents d
    ON d.doc_id < {QREL_MAX_DOC} AND d.doc_id % {QREL_MOD} = (3 * qi.i) % {QREL_MOD}
)
SELECT query_id, CAST(count(*) AS BIGINT) AS n_pos,
       CAST(sum(relevance) AS BIGINT) AS rel_sum
FROM qrels GROUP BY query_id
"""


@register("qrels_flex_coverage", _QFLEX_SQL)
def qrels_flex_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qrels loader with the reference's flexible schemas: the same
    deterministic qrels arrive split across (query-id, corpus-id, score),
    (qid, pid, rel) and (query_id, docid, relevance) shaped frames;
    load_qrels normalizes each, P3 drops qrels of unloaded queries
    (q09/q10), P4 drops queries without qrels (q98/q99)."""
    from .operators.qrels import (
        filter_qrels_to_queries,
        filter_queries_with_qrels,
        load_qrels,
    )

    base = _qrels_df(spark, sf_dir)  # rule rows for i in 1..10
    variants = [
        base.filter(F.col("doc_id") % 3 == 0).select(
            F.col("query_id").alias("query-id"),
            F.col("doc_id").alias("corpus-id"),
            F.col("relevance").alias("score"),
        ),
        base.filter(F.col("doc_id") % 3 == 1).select(
            F.col("query_id").alias("qid"),
            F.col("doc_id").alias("pid"),
            F.col("relevance").alias("rel"),
        ),
        base.filter(F.col("doc_id") % 3 == 2).select(
            F.col("query_id").alias("query_id"),
            F.col("doc_id").alias("docid"),
            F.col("relevance").alias("relevance"),
        ),
    ]
    loaded = load_qrels(variants[0])
    for v in variants[1:]:
        loaded = loaded.unionByName(load_qrels(v))
    queries = spark.createDataFrame(
        [(f"q{i:02d}",) for i in range(1, QFLEX_QUERIES + 1)]
        + [("q98",), ("q99",)],  # no qrels → P4 drops them
        "query_id string",
    )
    qr = filter_qrels_to_queries(loaded, queries)
    qs = filter_queries_with_qrels(queries, qr)
    return (
        qr.join(qs, "query_id", "left_semi")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pos"),
            F.sum("relevance").cast("bigint").alias("rel_sum"),
        )
    )


NORM_MAX_VEC = 100

_NORMALIZE_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {NORM_MAX_VEC}
),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
  FROM e
)
SELECT vec_id,
       CAST(round(nrm * 1000000) AS BIGINT) AS norm_micro,
       CAST(round(CASE WHEN nrm > 0
            THEN sqrt(list_sum(list_transform(embedding,
                 x -> (CAST(x AS DOUBLE) / nrm) * (CAST(x AS DOUBLE) / nrm))))
            ELSE 0 END * 1000) AS BIGINT) AS unit_norm_milli,
       CAST(round(CASE WHEN nrm > 0 THEN embedding[1] / nrm
                  ELSE CAST(embedding[1] AS DOUBLE) END * 1000000) AS BIGINT)
         AS first_comp_micro
FROM n
"""


@register("embedding_normalize", _NORMALIZE_SQL)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column (F4, the reference's
    optional F.normalize(emb, p=2, dim=-1),
    /root/reference/src/model/retriever/sparse/neural/splade.py:280-293) —
    pure Catalyst transform/aggregate expressions; the unit-norm check
    proves the normalized vector has ‖v‖ = 1."""
    from .functions.vector import l2_norm, l2_normalize

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < NORM_MAX_VEC)
    out = emb.select(
        "vec_id",
        l2_norm("embedding").alias("nrm"),
        l2_normalize("embedding").alias("unit"),
    )
    return out.select(
        "vec_id",
        F.round(F.col("nrm") * 1e6).cast("bigint").alias("norm_micro"),
        F.round(l2_norm("unit") * 1000).cast("bigint").alias("unit_norm_milli"),
        F.round(F.element_at("unit", 1) * 1e6).cast("bigint").alias("first_comp_micro"),
    )


# Reranking path (reference src/model/pl_module/reranking.py:128-192):
# score only fixed (query, candidate) pairs — no index, brute-force dot
# products over the BM25 impact weights. Candidates are deterministic:
# doc_id < 300 with doc_id % 13 == i % 13.
RERANK_MOD, RERANK_MAX_DOC = 13, 300

_RERANK_SQL = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f""",
cand AS (
  SELECT qi.query_id, d.doc_id
  FROM (VALUES {_QIDX_SQL}) AS qi(query_id, i)
  JOIN documents d
    ON d.doc_id < {RERANK_MAX_DOC} AND d.doc_id % {RERANK_MOD} = qi.i % {RERANK_MOD}
),
cscore AS (
  SELECT c.query_id, c.doc_id, coalesce(s.score, 0.0) AS score
  FROM cand c LEFT JOIN scored s
    ON s.query_id = c.query_id AND s.doc_id = c.doc_id
)
SELECT query_id, doc_id,
       CAST(round(score * 1000) AS BIGINT) AS score_milli,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY round(score * 1000) DESC, doc_id ASC
       ) AS INT) AS rank
FROM cscore
"""
)


@register("rerank_candidates", _RERANK_SQL)
def rerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-free reranking: BM25-score a fixed candidate join only
    (reference reranking path, SURVEY §3.3) — the built-in differential
    oracle for the index path. Candidates with no term overlap keep
    score 0, as the reference's dense bmm does."""
    from .operators.indexing import doc_term_frequencies

    docs = _docs(spark, sf_dir)
    tf, doc_len = doc_term_frequencies(docs.select("doc_id", "text"))
    stats = doc_len.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qi = spark.createDataFrame(
        [(f"q{i:02d}", i, BM25_QUERIES[i - 1][1]) for i in range(1, len(BM25_QUERIES) + 1)],
        "query_id string, i int, qtext string",
    )
    qterms = (
        qi.select("query_id", F.explode(tokens_col("qtext")).alias("term"))
        .groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("qtf"))
    )
    cand = (
        _docs(spark, sf_dir).select("doc_id").filter(F.col("doc_id") < RERANK_MAX_DOC)
        .join(F.broadcast(qi.select("query_id", "i")),
              (F.col("doc_id") % RERANK_MOD) == F.col("i") % RERANK_MOD)
        .select("query_id", "doc_id")
    )
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    scored = (
        F.broadcast(qterms).join(tf.withColumn("doc_id", F.col("doc_id").cast("bigint")), "term")
        .join(F.broadcast(dfreq), "term")
        .join(doc_len.withColumn("doc_id", F.col("doc_id").cast("bigint")), "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.col("qtf") * idf * F.col("tf") * (K1 + 1.0)
                / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.lit(avgdl)))
            ).alias("score")
        )
    )
    cscore = cand.join(scored, ["query_id", "doc_id"], "left").select(
        "query_id", "doc_id", F.coalesce("score", F.lit(0.0)).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score") * 1000)), F.asc("doc_id")
    )
    return cscore.select(
        "query_id", "doc_id",
        F.round(F.col("score") * 1000).cast("bigint").alias("score_milli"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


@register(
    "sample_window",
    """
SELECT doc_id, source, lang FROM documents ORDER BY doc_id OFFSET 100 LIMIT 50
""",
)
def sample_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample window — skip N, take M in a deterministic order (S3,
    /root/reference/src/data/dataset/base.py:268-279)."""
    return (
        _docs(spark, sf_dir).select("doc_id", "source", "lang")
        .orderBy("doc_id").offset(100).limit(50)
    )


@register(
    "html_text_extraction",
    """
WITH pages AS (
  SELECT doc_id,
         encode('<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
                || '</title></head><body><p>' || text || '</p></body></html>') AS html,
         text
  FROM documents WHERE doc_id < 200
),
ex AS (
  SELECT doc_id, text,
         regexp_replace(decode(html), '<[^>]*>', '', 'g') AS extracted
  FROM pages
)
SELECT doc_id, md5(extracted) AS extracted_md5,
       CASE WHEN extracted = 'doc ' || CAST(doc_id AS VARCHAR) || text
            THEN 1 ELSE 0 END AS byte_identical
FROM ex
""",
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical per-url text extraction from the html binary column
    (BASELINE.json input_hint; reference text rule
    /root/reference/src/data/dataset/base.py:495-508). Pages are
    synthesized from the documents table so both sides see identical
    bytes; the engine extracts with functions.tokenize.extract_text_html
    and proves the extracted text equals title+text bytes exactly."""
    from .functions.tokenize import extract_text_html

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pages = docs.select(
        "doc_id", "text",
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    ex = pages.select(
        "doc_id", "text", extract_text_html("html").alias("extracted")
    )
    return ex.select(
        "doc_id",
        F.md5("extracted").alias("extracted_md5"),
        F.when(
            F.col("extracted")
            == F.concat(F.lit("doc "), F.col("doc_id").cast("string"), F.col("text")),
            1,
        ).otherwise(0).alias("byte_identical"),
    )


@register(
    "title_text_concat",
    """
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 3 = 0
                THEN 'Doc ' || CAST(doc_id AS VARCHAR) || ': ' || source
              WHEN doc_id % 3 = 1 THEN NULL
              ELSE '' END AS title
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       md5(trim(coalesce(title, '') || ' ' || text)) AS doc_text_md5,
       CAST(length(trim(coalesce(title, '') || ' ' || text)) AS BIGINT) AS n_chars
FROM t
""",
)
def title_text_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference doc-text rule (F2/P6): text = "{title} {text}".strip()
    when a title column exists, null title → empty
    (/root/reference/src/data/dataset/base.py:492-508). Titles are
    synthesized deterministically with all three cases — present, NULL,
    empty — so the single-interior-space + strip semantics are exercised
    byte-for-byte."""
    from .functions.tokenize import concat_text

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    title = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("Doc "), F.col("doc_id").cast("string"),
                     F.lit(": "), F.col("source")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(None).cast("string"))
        .otherwise(F.lit(""))
    )
    t = docs.select("doc_id", title.alias("title"), "text")
    doc_text = concat_text("title", "text")
    return t.select(
        "doc_id",
        F.md5(doc_text).alias("doc_text_md5"),
        F.length(doc_text).cast("bigint").alias("n_chars"),
    )


@register(
    "tsv_triplet_scan",
    f"""
WITH lines AS (
  SELECT CAST(doc_id AS VARCHAR) || chr(9) || source || chr(9) || md5(text)
         AS line
  FROM documents WHERE doc_id < 150 AND doc_id % 7 <> 0
  UNION ALL
  SELECT 'malformed-line-no-tabs' -- must be skipped by the parser
),
parsed AS (
  SELECT string_split(line, chr(9)) AS f FROM lines
)
SELECT CAST(f[1] AS BIGINT) AS doc_id, f[2] AS source, f[3] AS text_md5
FROM parsed WHERE len(f) = 3
""",
)
def tsv_triplet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV line scan with malformed-row skip (S4,
    /root/reference/src/data/dataset/base.py:281-308 — 3-column raw.tsv
    parse, skip lines with the wrong field count). The Spark side writes
    real TSV files to a temp dir, reads them back with the text source,
    splits, and drops malformed rows."""
    import tempfile

    out = tempfile.mkdtemp(prefix="splade_tsv_")
    docs = _docs(spark, sf_dir).filter(
        (F.col("doc_id") < 150) & (F.col("doc_id") % 7 != 0)
    )
    lines = docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "source", F.md5("text"))
        .alias("value")
    ).unionByName(
        spark.createDataFrame([("malformed-line-no-tabs",)], "value string")
    )
    lines.write.mode("overwrite").text(out)
    parsed = spark.read.text(out).select(F.split("value", "\t").alias("f"))
    return parsed.filter(F.size("f") == 3).select(
        F.element_at("f", 1).cast("bigint").alias("doc_id"),
        F.element_at("f", 2).alias("source"),
        F.element_at("f", 3).alias("text_md5"),
    )


@register(
    "events_running_sum",
    """
SELECT event_id, user_id,
       CAST(round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) * 1000) AS BIGINT) AS running_milli
FROM events WHERE user_id < 20
""",
)
def events_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window running aggregate (A3 prefix-sum analogue)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w) * 1000).cast("bigint").alias("running_milli"),
    )


# ---------------------------------------------------------------------------
# Web-URL curation family (operators/weburl.py; BASELINE.json input_hint)
# ---------------------------------------------------------------------------

# Messy-URL synthesis shared (as independent formulations) by the Spark
# entries and their DuckDB oracles: deterministic per doc_id, covering all
# six canonicalization rules (case, www, default/explicit ports, empty and
# trailing-slash paths, tracking params, fragments).
_MESSY_URL_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
    'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.ORG' ||
    (CASE WHEN doc_id % 5 = 0 THEN
            (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
          WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
    (CASE WHEN doc_id % 11 = 0 THEN ''
          ELSE '/Dir/page' || CAST(doc_id % 13 AS VARCHAR) ||
               (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) END) ||
    (CASE WHEN doc_id % 6 IN (0, 1) THEN
            '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1'
          WHEN doc_id % 6 = 2 THEN '?ref=abc'
          WHEN doc_id % 6 = 3 THEN '?z=9&y=8' ELSE '' END) ||
    (CASE WHEN doc_id % 2 = 1 THEN '#sec' ELSE '' END)
"""

# Same synthesis as a Spark SQL expression (Spark spells the string cast
# AS STRING where DuckDB uses AS VARCHAR; everything else is shared).
_MESSY_URL_SPARK = _MESSY_URL_SQL.replace("AS VARCHAR", "AS STRING")


@register(
    "url_canonicalize",
    f"""
WITH raw AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS url
  FROM documents WHERE doc_id < 200
),
p1 AS (
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM raw
),
p2 AS (
  SELECT doc_id, url,
    lower(regexp_extract(nf, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
    regexp_extract(nf, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
  FROM p1
),
p3 AS (
  SELECT doc_id, scheme,
    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\\.', '') AS host,
    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path0,
    regexp_extract(rest, '\\?(.*)$', 1) AS query
  FROM p2
),
p4 AS (
  SELECT doc_id, scheme, host, port,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT regexp_matches(p,
             '^(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&') AS kept,
    CASE WHEN scheme = 'http' THEN '80'
         WHEN scheme = 'https' THEN '443' ELSE '' END AS defport
  FROM p3
)
SELECT doc_id,
  scheme || '://' || host ||
  (CASE WHEN port <> '' AND port <> defport THEN ':' || port ELSE '' END) ||
  path ||
  (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END) AS canonical_url,
  host
FROM p4
""",
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/weburl.py rules 1-6) over messy
    URLs synthesized deterministically from doc_id. The oracle is an
    independent DuckDB re-derivation of every rule, so a drift in any
    single rule (port/default-port pairing, tracking-param filter, sort
    order, empty-path handling) flips the value hash."""
    from .operators.weburl import canonicalize_url, host_of

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    raw = docs.select("doc_id", F.expr(_MESSY_URL_SPARK).alias("url"))
    return raw.select(
        "doc_id",
        canonicalize_url("url").alias("canonical_url"),
        host_of("url").alias("host"),
    )


@register(
    "url_latest_snapshot",
    """
WITH raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
    (CASE WHEN doc_id % 5 = 0 THEN 'SNAP.Example.ORG' ELSE 'snap.example.org' END) ||
    '/page' || CAST(doc_id % 40 AS VARCHAR) ||
    (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END) AS url,
    TIMESTAMP '2024-01-01 00:00:00'
      + to_seconds((doc_id * 37) % 997) AS warc_ts
  FROM documents WHERE doc_id < 200
),
canon AS (
  SELECT doc_id, warc_ts,
    'http' || (CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END) ||
    '://snap.example.org/page' || CAST(doc_id % 40 AS VARCHAR) AS canonical_url
  FROM raw
),
ranked AS (
  SELECT canonical_url, doc_id, warc_ts,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY warc_ts DESC, doc_id DESC) AS rn
  FROM canon
)
SELECT canonical_url, doc_id AS kept_doc_id,
       CAST(epoch(warc_ts) AS BIGINT) AS kept_ts_epoch
FROM ranked WHERE rn = 1
""",
)
def url_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot dedup: newest row per canonical URL
    (weburl.latest_snapshot — one hash-partitioned window, no global
    sort). 200 synthesized snapshots collapse onto 40 canonical URLs
    (spelling noise: case, www, tracking params); the oracle pre-folds
    the canonical form analytically rather than re-deriving the rules —
    agreement pins BOTH the canonicalizer and the window dedup."""
    from .operators.weburl import latest_snapshot

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    raw = docs.select(
        "doc_id",
        F.expr(
            """
            (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://' ||
            (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
            (CASE WHEN doc_id % 5 = 0 THEN 'SNAP.Example.ORG'
                  ELSE 'snap.example.org' END) ||
            '/page' || CAST(doc_id % 40 AS STRING) ||
            (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x' ELSE '' END)
            """
        ).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, (doc_id * 37) % 997)"
        ).alias("warc_ts"),
    )
    kept = latest_snapshot(raw, url_col="url", ts_col="warc_ts", tie_col="doc_id")
    return kept.select(
        "canonical_url",
        F.col("doc_id").alias("kept_doc_id"),
        F.unix_timestamp("warc_ts").cast("bigint").alias("kept_ts_epoch"),
    )


@register(
    "host_doc_stats",
    """
WITH pages AS (
  SELECT doc_id, text, lang,
    'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
    'H' || CAST(doc_id % 11 AS STRING) || '.Example.ORG/p'
      || CAST(doc_id AS STRING) AS url
  FROM documents WHERE doc_id < 300
)
SELECT lower('h' || CAST(doc_id % 11 AS STRING) || '.example.org') AS host,
       count(*) AS n_docs,
       sum(length(text)) AS total_chars,
       CAST((2000 * sum(length(text)) + count(*)) // (2 * count(*))
            AS BIGINT) AS avg_chars_milli,
       count(DISTINCT lang) AS n_langs
FROM pages
GROUP BY 1
""",
)
def host_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level corpus aggregates (weburl.host_stats) — the grouping a
    host-quality filter consumes. host_of strips case/www noise; all
    aggregates are algebraic (map-side partial agg). The oracle computes
    the host analytically from doc_id, so host extraction is pinned."""
    from .operators.weburl import host_stats

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    pages = docs.select(
        "doc_id", "text", "lang",
        F.expr(
            "'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)"
            " || 'H' || CAST(doc_id % 11 AS STRING) || '.Example.ORG/p'"
            " || CAST(doc_id AS STRING)"
        ).alias("url"),
    )
    return host_stats(pages, url_col="url", text_col="text", lang_col="lang")


_SNAP_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC


@register(
    "streaming_latest_snapshot",
    f"""
WITH b1 AS (
  SELECT doc_id,
    'http' || (CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END) ||
    '://snap.example.org/page' || CAST(doc_id % 40 AS VARCHAR) AS canonical_url,
    (doc_id * 37) % 997 AS ts_s
  FROM documents WHERE doc_id < 200
),
b2 AS (
  SELECT doc_id,
    'http' || (CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END) ||
    '://snap.example.org/page' || CAST(doc_id % 40 AS VARCHAR) AS canonical_url,
    (doc_id * 41) % 1500 AS ts_s
  FROM documents WHERE doc_id >= 200 AND doc_id < 300
),
w1 AS (
  SELECT canonical_url, doc_id, ts_s FROM (
    SELECT canonical_url, doc_id, ts_s,
           row_number() OVER (PARTITION BY canonical_url
                              ORDER BY ts_s DESC,
                                       CAST(doc_id AS VARCHAR) DESC) AS rn
    FROM b1) WHERE rn = 1
),
w2 AS (
  SELECT canonical_url, doc_id, ts_s FROM (
    SELECT canonical_url, doc_id, ts_s,
           row_number() OVER (PARTITION BY canonical_url
                              ORDER BY ts_s DESC,
                                       CAST(doc_id AS VARCHAR) DESC) AS rn
    FROM b2) WHERE rn = 1
),
fresh2 AS (
  SELECT w2.canonical_url, w2.doc_id, w2.ts_s
  FROM w2 JOIN w1 USING (canonical_url) WHERE w2.ts_s > w1.ts_s
)
SELECT canonical_url, CAST(doc_id AS VARCHAR) AS doc_id,
       CAST({_SNAP_EPOCH} + ts_s AS BIGINT) AS ts_epoch
FROM (SELECT * FROM w1 UNION ALL SELECT * FROM fresh2)
""",
)
def streaming_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator #2 (applyInPandasWithState):
    cross-micro-batch strictly-newer-per-URL snapshot filter
    (streaming/stream_snapshot.py). Batch 1 = 200 snapshots over 40
    canonical URLs (spelling noise: case, www, tracking params); batch 2
    = 100 re-crawls of the same URLs, some newer, some older. The
    per-bucket URL→max-ts state must emit batch 1's newest row per URL
    plus ONLY the batch-2 rows strictly newer than that — which the
    oracle computes declaratively with two windows and a strict join."""
    import os
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .streaming.stream_snapshot import run_latest_snapshots_over_files

    def synth(lo: int, hi: int, mul: int, mod: int) -> pd.DataFrame:
        ids = (
            _docs(spark, sf_dir)
            .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .select("doc_id").toPandas()["doc_id"].astype(int)
        )
        url = ids.map(
            lambda d: ("https" if d % 2 == 0 else "HTTP") + "://"
            + ("www." if d % 3 == 0 else "")
            + ("SNAP.Example.ORG" if d % 5 == 0 else "snap.example.org")
            + f"/page{d % 40}"
            + ("?utm_source=x" if d % 6 == 0 else "")
        )
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            (ids * mul) % mod, unit="s"
        )
        return pd.DataFrame({
            "url": url, "doc_id": ids.astype(str),
            "warc_ts": ts.astype("datetime64[us]"),
        })

    base = tempfile.mkdtemp(prefix="splade_ssnap_")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    for i, pdf in enumerate([synth(0, 200, 37, 997), synth(200, 300, 41, 1500)]):
        p = os.path.join(in_dir, f"batch{i + 1}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
        os.utime(p, (1_700_000_000 - 100 + i * 100,) * 2)  # pin batch order
    out = run_latest_snapshots_over_files(
        spark, in_dir, os.path.join(base, "out"), os.path.join(base, "ck"),
        n_buckets=8,
    )
    return out.select(
        "canonical_url", "doc_id",
        (F.col("ts_us") / 1_000_000).cast("bigint").alias("ts_epoch"),
    )


@register(
    "repetition_quality",
    f"""
WITH synth AS (
  SELECT doc_id,
    array_to_string(list_slice({tokens_sql('text')}, 1, 4), ' ') AS header,
    text
  FROM documents WHERE doc_id < 200
),
multi AS (
  SELECT doc_id,
    header || chr(10) || text || chr(10) || header ||
    (CASE WHEN doc_id % 3 = 0 THEN chr(10) || header ELSE '' END) AS mtext
  FROM synth
),
lines AS (
  SELECT doc_id, mtext,
    list_filter(list_transform(string_split(mtext, chr(10)), s -> trim(s)),
                s -> s <> '') AS ls,
    {tokens_sql('mtext')} AS t
  FROM multi
),
feat AS (
  SELECT doc_id,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CASE WHEN len(ls) > 0
         THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
         ELSE 0.0 END AS dlf,
    CAST(len(t) AS BIGINT) AS n_tokens, t
  FROM lines
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
  FROM feat, (SELECT unnest(range(1, 300)) AS i)
  WHERE i <= len(t) - 1
),
bgc AS (
  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
),
top AS (SELECT doc_id, max(c) AS maxc FROM bgc GROUP BY doc_id)
SELECT f.doc_id, f.n_lines,
       CAST(round(f.dlf * 1000) AS BIGINT) AS dup_line_frac_milli,
       f.n_tokens,
       CAST(coalesce(top.maxc, 0) AS BIGINT) AS top_bigram_count,
       CAST(CASE WHEN f.n_tokens >= 2
                 THEN {_half_up_ratio('2 * coalesce(top.maxc, 0)', 'f.n_tokens', 1000, '//')}
                 ELSE 0 END AS BIGINT) AS top_bigram_frac_milli
FROM feat f LEFT JOIN top ON f.doc_id = top.doc_id
""",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (textstats.repetition_stats):
    duplicate-line fraction + most-frequent-bigram coverage. Multi-line
    text is synthesized by sandwiching each document between copies of
    its own first-4-token header (an extra copy every third doc), so the
    dup-line fraction is non-trivially varied; the bigram side runs over
    the full token stream. The oracle re-derives both features
    independently (list ops + an unnest-range bigram join). The bigram
    coverage is a ratio of integers, rounded in integer arithmetic
    (``_half_up_ratio``); ``repetition_stats`` exposes no distinct-line
    count, so the duplicate-line fraction keeps milli-rounding."""
    from .operators.textstats import repetition_stats

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    header = F.array_join(F.slice(tokens_col("text"), 1, 4), " ")
    multi = docs.select(
        "doc_id",
        F.concat(
            header, F.lit("\n"), F.col("text"), F.lit("\n"), header,
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("\n"), header)).otherwise(""),
        ).alias("mtext"),
    )
    r = repetition_stats(multi, id_col="doc_id", text_col="mtext")
    return r.select(
        "doc_id", "n_lines",
        F.round(F.col("dup_line_frac") * 1000).cast("bigint")
        .alias("dup_line_frac_milli"),
        "n_tokens", "top_bigram_count",
        F.expr(
            "CASE WHEN n_tokens >= 2 THEN "
            f"{_half_up_ratio('2 * top_bigram_count', 'n_tokens', 1000)} "
            "ELSE 0 END"
        ).cast("bigint").alias("top_bigram_frac_milli"),
    )


@register(
    "pii_scrub",
    r"""
WITH synth AS (
  SELECT doc_id,
    text ||
    (CASE WHEN doc_id % 4 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com now'
          WHEN doc_id % 4 = 1
            THEN ' call +1 (555) 010-22' || CAST(doc_id % 10 AS VARCHAR)
          WHEN doc_id % 4 = 2
            THEN ' origin 10.0.' || CAST(doc_id % 250 AS VARCHAR)
                 || '.7 logged'
          ELSE '' END) AS ptext
  FROM documents WHERE doc_id < 200
),
scrub AS (
  SELECT doc_id, ptext,
    regexp_replace(
      regexp_replace(
        regexp_replace(ptext,
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\+[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
  FROM synth
)
SELECT doc_id,
  CAST(len(regexp_extract_all(ptext,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(ptext,
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(ptext,
    '\+[0-9][0-9()\-. ]{6,}[0-9]')) AS BIGINT) AS n_phones,
  md5(redacted) AS redacted_md5
FROM scrub
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (textstats.pii_stats): per-doc email /
    IPv4 / phone counts and an md5 over the redacted text (pinning
    replacement ORDER as well as the matches — IPs first so the phone
    pattern can't half-eat an address). One planted artifact per doc
    class; both engines run their own regex engines (Java vs RE2) over
    patterns written to the portable common subset."""
    from .operators.textstats import pii_stats

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@mail.example.com now")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit(" call +1 (555) 010-22"),
                           (F.col("doc_id") % 10).cast("string")))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit(" origin 10.0."),
                           (F.col("doc_id") % 250).cast("string"),
                           F.lit(".7 logged")))
            .otherwise(""),
        ).alias("ptext"),
    )
    p = pii_stats(synth, id_col="doc_id", text_col="ptext")
    return p.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


@register(
    "doc_chunks",
    f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS t
  FROM documents WHERE doc_id < 200
),
ks AS (
  SELECT doc_id, t, len(t) AS n, unnest(range(0, 20)) AS k FROM tok
),
valid AS (
  SELECT doc_id, n, k,
         array_to_string(list_slice(t, k * 32 + 1, k * 32 + 48), ' ')
           AS chunk_text
  FROM ks WHERE k * 32 < greatest(n, 1)
)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_chunks,
       CAST(least(greatest(n - k * 32, 0), 48) AS BIGINT) AS n_chunk_tokens,
       chunk_text
FROM valid
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking (textstats.chunk_documents): overlapping
    token windows (chunk 48, overlap 16 → step 32), one generator per
    doc, no shuffle. The oracle re-derives the window rule with an
    unnest-range + list_slice formulation; value hashes pin chunk text,
    count, and trailing-window lengths (including the empty-doc
    one-empty-chunk rule)."""
    from .operators.textstats import chunk_documents

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return chunk_documents(
        docs, chunk_tokens=48, overlap=16, max_tokens=256
    )


# integer keep-thresholds (rate * 2^32) shared verbatim by both engines
_MIX_THR = {"en": int(0.1 * 2**32), "de": int(0.5 * 2**32),
            "fr": int(1.0 * 2**32)}
_HOLDOUT_THR = int(0.25 * 2**32)


@register(
    "stratified_sample_mix",
    f"""
WITH u AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8))::BIGINT AS u32,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split0'), 1, 8))::BIGINT AS s32
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s32 < {_HOLDOUT_THR} THEN 'holdout' ELSE 'train' END AS split
FROM u
WHERE u32 < CASE lang WHEN 'en' THEN {_MIX_THR['en']}
                      WHEN 'de' THEN {_MIX_THR['de']}
                      WHEN 'fr' THEN {_MIX_THR['fr']}
                      ELSE 0 END
""",
)
def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling (operators/sampling.py):
    per-language keep rates (en 10%, de 50%, fr 100%, others dropped)
    decided by an integer-exact salted-md5 rule, plus a disjoint
    train/holdout split column from an independent salt. The oracle
    reruns the same rule in DuckDB — identical row picks pin the hash,
    the thresholds, and the salt separation. Unlike ``df.sample`` this
    is partition-order independent: the judge can repartition either
    side and the hash still matches."""
    from .operators.sampling import split_column, stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    kept = stratified_sample(
        docs, key_col="doc_id", strata_col="lang",
        rates={"en": 0.1, "de": 0.5, "fr": 1.0}, salt="mix1",
    )
    return kept.select(
        "doc_id", "lang",
        split_column("doc_id", holdout_frac=0.25, salt="split0").alias("split"),
    )


# ---------------------------------------------------------------------------
# Decontamination + LM-quality family: the hygiene ops a pipeline runs
# between crawling and training (operators/decontam.py, operators/lm.py)
# ---------------------------------------------------------------------------

# DuckDB n-gram helper text: distinct space-joined n-grams of token list t
def _duck_ngrams(t: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' '))"
    )


@register(
    "decontaminate_corpus",
    f"""
WITH corp AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
  WHERE doc_id < 500 AND doc_id % 97 <> 0
),
cg AS (
  SELECT doc_id, list_distinct({_duck_ngrams('t', 3)}) AS gs FROM corp
),
ev AS (
  SELECT DISTINCT unnest(list_distinct({_duck_ngrams(tokens_sql('text'), 3)})) AS g
  FROM documents WHERE doc_id < 500 AND doc_id % 97 = 0
),
ex AS (
  SELECT doc_id, unnest(gs) AS g FROM cg
),
h AS (
  SELECT ex.doc_id, count(*) AS n_hit
  FROM ex JOIN ev ON ex.g = ev.g
  GROUP BY ex.doc_id
)
SELECT cg.doc_id,
       CAST(len(gs) AS BIGINT) AS n_ngrams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(coalesce(h.n_hit, 0) > 0 AS BIGINT) AS contaminated
FROM cg LEFT JOIN h USING (doc_id)
""",
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): every 97th doc
    plays the held-out eval set; the rest of the corpus is scored by
    distinct 3-gram overlap against it (the GPT-3/Llama "13-gram rule"
    at fixture scale). Engine shape: per-doc DISTINCT n-grams, explode,
    broadcast probe of the eval n-gram set, per-doc hit count — the
    corpus never shuffles on the n-gram key. The oracle re-derives both
    sides with range/list_slice n-grams and an explicit join."""
    from .operators.decontam import contamination_stats

    all_docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    evl = all_docs.filter(F.col("doc_id") % 97 == 0)
    corp = all_docs.filter(F.col("doc_id") % 97 != 0)
    stats = contamination_stats(corp, evl, n=3, method="join")
    return stats.select(
        "doc_id", "n_ngrams", "n_hit",
        F.col("contaminated").cast("bigint").alias("contaminated"),
    )


@register(
    "unigram_lm_cost",
    f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents WHERE doc_id < 300
),
ex AS (SELECT doc_id, unnest(t) AS token FROM tok),
vocab AS (SELECT token, count(*) AS tf FROM ex GROUP BY token),
tot AS (SELECT sum(tf) AS total, count(*) AS v FROM vocab),
cost AS (
  SELECT token,
         CAST(round(-ln((tf + 1) / (total + v)) * 1000000) AS BIGINT)
           AS cost_micro
  FROM vocab, tot
),
dt AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
s AS (
  SELECT dt.doc_id, sum(dt.tf * cost.cost_micro) AS nll
  FROM dt JOIN cost USING (token) GROUP BY dt.doc_id
)
SELECT tok.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.nll, 0) AS BIGINT) AS nll_micro
FROM tok LEFT JOIN s USING (doc_id)
""",
)
def unigram_lm_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with a corpus-trained add-one
    unigram LM (operators/lm.py): train = one token-keyed count shuffle;
    score = per-doc token tf joined to the broadcast vocab. Costs are
    pre-rounded to micro-nats in the vocab table so per-doc totals are
    EXACT integer sums — order-independent and hash-stable (the only
    float op both engines run is ln on bit-identical doubles)."""
    from .operators.lm import doc_lm_cost, train_unigram_lm

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    lm = train_unigram_lm(docs)
    return doc_lm_cost(docs, lm)


@register(
    "top_bigrams",
    f"""
WITH tok AS (
  SELECT {tokens_sql('text')} AS t FROM documents WHERE doc_id < 500
),
g AS (
  SELECT unnest({_duck_ngrams('t', 2)}) AS ngram FROM tok
)
SELECT ngram, CAST(count(*) AS BIGINT) AS freq
FROM g GROUP BY ngram
ORDER BY freq DESC, ngram ASC
LIMIT 50
""",
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram frequency analysis (operators/lm.py
    top_ngrams): boilerplate phrasing surfaces as high-frequency bigrams.
    count-shuffle with map-side partial agg, then a distributed
    TakeOrdered (orderBy+limit) with a total tie-break (freq desc, ngram
    asc) so the cut at rank 50 is deterministic in both engines."""
    from .operators.lm import top_ngrams

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    return top_ngrams(docs, n=2, k=50)


# decontaminate -> build -> retrieve, the pre-training variant of the
# bm25_topk_deduped curation loop: the eval slice (every 97th doc) must
# not leak into the index, and neither may any training doc that shares a
# 3-gram with it. The oracle recomputes the keep-set and runs rank-only
# BM25 over it.
_BM25_DECONTAM_SQL_DUCK = (
    f"""WITH corp0 AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents WHERE doc_id % 97 <> 0
),
cg AS (
  SELECT doc_id, list_distinct({_duck_ngrams('t', 3)}) AS gs FROM corp0
),
ev AS (
  SELECT DISTINCT unnest(list_distinct({_duck_ngrams(tokens_sql('text'), 3)})) AS g
  FROM documents WHERE doc_id % 97 = 0
),
cx AS (SELECT doc_id, unnest(gs) AS g FROM cg),
contaminated AS (SELECT DISTINCT cx.doc_id FROM cx JOIN ev ON cx.g = ev.g),
documents_kept AS (
  SELECT * FROM documents
  WHERE doc_id % 97 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
"""
    + (
        _BM25_BODY.replace("FROM documents", "FROM documents_kept")
        .replace("{TOK}", tokens_sql("text"))
        .replace("{QTOK}", tokens_sql("qtext"))
        .replace("{STR}", "VARCHAR")
        .replace("{UNNEST}", "unnest")
        .lstrip()
        .removeprefix("WITH ")
    )
    + f"SELECT query_id, CAST(rank AS INT) AS rank, doc_id FROM ranked WHERE rank <= {TOPK}"
)


@register("bm25_topk_decontaminated", _BM25_DECONTAM_SQL_DUCK)
def bm25_topk_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training curation end-to-end: hold out every 97th doc as the
    eval set, drop every training doc sharing a distinct 3-gram with it
    (`operators.decontam.decontaminate`, broadcast-probe join), then
    build the index over the survivors and retrieve
    (`build_index` -> `retrieve(strategy="wand")`). The oracle recomputes
    the keep-set and rank-only BM25 over it in DuckDB, so a doc wrongly
    kept or dropped shifts every downstream statistic (df, avgdl, ranks)
    and fails the hash."""
    from .operators.decontam import decontaminate
    from .operators.indexing import build_index
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    evl = docs.filter(F.col("doc_id") % 97 == 0)
    corp = docs.filter(F.col("doc_id") % 97 != 0)
    kept = decontaminate(corp, evl, n=3)
    idx = build_index(kept, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(BM25_QUERIES, "query_id string, text string")
    res = retrieve(idx, queries, k=TOPK, strategy="wand")
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


@register(
    "embedding_near_dup_lsh",
    f"""
WITH e AS (
  SELECT vec_id, embedding,
         (SELECT CAST(sum(CASE WHEN embedding[i + 1] > 0
                          THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT)
          FROM (SELECT unnest(range({LSH_DIMS})) AS i)) AS bucket
  FROM embeddings
),
ex AS (
  SELECT vec_id, bucket, unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM e
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.pos = b.pos AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
cos AS (
  SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS c
  FROM dots d JOIN norms na ON na.vec_id = d.id_a
              JOIN norms nb ON nb.vec_id = d.id_b
)
SELECT id_a, id_b, CAST(round(c * 1000000) AS BIGINT) AS cos_micro
FROM cos WHERE round(c * 1000000) >= 300000
""",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale (`operators.dedup
    .embedding_near_dup_pairs`): sign-LSH bucket equi-join instead of the
    all-pairs cross join of the `embedding_near_dup` demo — the
    production path whose pair cost follows bucket occupancy, not n^2.
    Pinned at the axis-aligned 8-bit bucket (DuckDB-portable); the
    threshold test runs on the ROUNDED micro value in both engines so no
    pair can straddle the cut by a final-ulp difference. The synthetic
    embeddings hold no true near-dups (max in-bucket cosine ~0.43), so
    the gate pins the pipeline at the 0.30 level the fixtures populate;
    production thresholds (0.9+) are the same plan."""
    from .operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, n_bits=LSH_DIMS, threshold=0.0, hyperplanes="axis"
    )
    return pairs.select(
        "id_a", "id_b",
        F.round(F.col("cos") * 1e6).cast("bigint").alias("cos_micro"),
    ).filter(F.col("cos_micro") >= 300000)


@register(
    "boilerplate_stripped",
    """
WITH d AS (
  SELECT doc_id, source,
         'nav menu ' || source || chr(10) || text || chr(10)
           || 'copyright ' || source AS mtext
  FROM documents WHERE doc_id < 400
),
l0 AS (SELECT doc_id, source, string_split(mtext, chr(10)) AS ls FROM d),
l AS (
  SELECT doc_id, source,
         unnest(range(1, len(ls) + 1)) AS pos,
         unnest(ls) AS line
  FROM l0
),
ln AS (SELECT doc_id, source, pos, line, trim(line) AS norm FROM l),
b AS (
  SELECT source, norm FROM (
    SELECT source, norm, count(DISTINCT doc_id) AS nd
    FROM ln WHERE norm <> '' GROUP BY source, norm
  ) WHERE nd >= 5
),
k AS (
  SELECT ln.doc_id, ln.pos, ln.line
  FROM ln LEFT JOIN b ON ln.source = b.source AND ln.norm = b.norm
  WHERE b.norm IS NULL
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY doc_id),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM k GROUP BY doc_id
)
SELECT tot.doc_id,
       CAST(tot.n_lines AS BIGINT) AS n_lines,
       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(reb.text, '')) AS clean_md5
FROM tot LEFT JOIN reb USING (doc_id)
""",
)
def boilerplate_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate line removal
    (`operators.textstats.strip_boilerplate_lines`) — the CCNet/
    RefinedWeb page-cleaning stage: a trimmed line occurring in >= 5
    distinct docs of the same source is chrome, dropped everywhere; body
    lines survive in order. The fixture docs carry no newlines, so the
    entry synthesizes the page structure (per-source nav header + body +
    footer) byte-identically in both engines — the header/footer lines
    repeat across every doc of a source and must vanish; each body line
    is unique and must survive. Hash pins per-doc line counts and the
    md5 of the rebuilt text."""
    from .operators.textstats import strip_boilerplate_lines

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400).select(
        "doc_id", "source",
        F.concat(
            F.lit("nav menu "), F.col("source"), F.lit("\n"),
            F.col("text"), F.lit("\n"),
            F.lit("copyright "), F.col("source"),
        ).alias("mtext"),
    )
    out = strip_boilerplate_lines(
        docs, text_col="mtext", group_col="source", min_docs=5
    )
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("text").alias("clean_md5")
    )


PQ_M = 8            # subspaces over the 64-dim embeddings
PQ_K = 16           # codewords per subspace (seed codebook)
PQ_NQ = 5           # queries: vec_id < 5
PQ_TOPK = 10
_PQ_DSUB = 8


@register(
    "pq_adc_topk",
    f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sub AS (
  SELECT vec_id, s.sub,
         list_transform(
           list_slice(embedding, s.sub * {_PQ_DSUB} + 1,
                      s.sub * {_PQ_DSUB} + {_PQ_DSUB}),
           x -> CAST(x AS DOUBLE)) AS sv
  FROM e, (SELECT unnest(range({PQ_M})) AS sub) s
),
seeds AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K}),
cb AS (
  SELECT sub,
         row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS cid,
         sv AS ce
  FROM sub JOIN seeds USING (vec_id)
),
enc_d AS (
  SELECT s.vec_id, s.sub, c.cid,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1),
           i -> (s.sv[i] - c.ce[i]) * (s.sv[i] - c.ce[i]))) AS d2
  FROM sub s JOIN cb c ON s.sub = c.sub
),
codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM enc_d
  ) WHERE rn = 1
),
dtab AS (
  SELECT q.vec_id AS qid, c.sub, c.cid,
         list_sum(list_transform(range(1, {_PQ_DSUB} + 1),
           i -> (q.sv[i] - c.ce[i]) * (q.sv[i] - c.ce[i]))) AS d
  FROM sub q JOIN cb c ON q.sub = c.sub
  WHERE q.vec_id < {PQ_NQ}
),
scored AS (
  SELECT dt.qid, co.vec_id,
         list_sum(list(dt.d ORDER BY dt.sub)) AS dist
  FROM codes co JOIN dtab dt ON dt.sub = co.sub AND dt.cid = co.cid
  WHERE dt.qid <> co.vec_id
  GROUP BY dt.qid, co.vec_id
),
ranked AS (
  SELECT qid AS query_id, vec_id, dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
       CAST(round(dist * 1000000) AS BIGINT) AS dist_micro
FROM ranked WHERE rank <= {PQ_TOPK}
""",
)
def pq_adc_topk_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): encode every embedding
    to {PQ_M} codeword ids (a 32x payload cut vs raw floats) and answer
    top-k by asymmetric distance — per-query (m x k) table broadcast, doc
    distance = table-lookup sum folded in subspace order. Pinned at the
    deterministic SEED codebook (iters=0: the {PQ_K} lowest-id vectors'
    subvectors) so DuckDB reproduces codebook, codes, and every ADC sum
    bit-for-bit; trained Lloyd codebooks are pytest-pinned
    (tests/test_pq.py) with recall in BENCH.md §6d."""
    from .operators.pq import pq_adc_topk, pq_encode, train_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb, m=PQ_M, k=PQ_K, iters=0, dim=64)
    codes = pq_encode(emb, cb, m=PQ_M, dim=64)
    queries = emb.filter(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = pq_adc_topk(
        codes, queries, cb, k=PQ_TOPK, m=PQ_M, dim=64,
        exclude_same_id=True,
    )
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "vec_id",
        F.round(F.col("dist") * 1e6).cast("bigint").alias("dist_micro"),
    )


_SPAM_SPAN = ("free prize click now to claim your exclusive reward "
              "today friend")


@register(
    "dup_span_removal",
    f"""
WITH d0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN '{_SPAM_SPAN} ' || text ELSE text END AS mtext
  FROM documents WHERE doc_id < 400
),
d AS (SELECT doc_id, {tokens_sql('mtext')} AS t FROM d0),
ws AS (
  SELECT doc_id, t,
         unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS p
  FROM d
),
w AS (
  SELECT doc_id, p,
         md5(array_to_string(list_slice(t, p, p + 7), ' ')) AS h
  FROM ws
),
r AS (
  SELECT doc_id, p,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM w
),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(p, p + 8)) AS tp
  FROM r WHERE rn >= 2
),
tl AS (
  SELECT doc_id, unnest(range(1, len(t) + 1)) AS tp, unnest(t) AS tok
  FROM d
),
m AS (
  SELECT tl.doc_id, tl.tp, tl.tok, cov.tp IS NOT NULL AS covd
  FROM tl LEFT JOIN cov ON cov.doc_id = tl.doc_id AND cov.tp = tl.tp
),
agg AS (
  SELECT doc_id,
         count(*) FILTER (WHERE NOT covd) AS nk,
         coalesce(string_agg(tok, ' ' ORDER BY tp)
                    FILTER (WHERE NOT covd), '') AS ctext
  FROM m GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.t) AS BIGINT) AS n_tokens,
       CAST(len(d.t) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed,
       md5(coalesce(agg.ctext, '')) AS clean_md5
FROM d LEFT JOIN agg USING (doc_id)
""",
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (`operators.dedup.duplicate_span_removal`,
    the Lee et al. 2021 operator): every 8-token window occurring more
    than once corpus-wide is removed from all but its canonical first
    occurrence. The entry injects an 11-token spam span in front of
    every 5th doc — the lowest such doc keeps it, every other one must
    lose exactly those tokens (boundary windows mix in doc-specific text
    and stay unique) — and the fixtures' exact-duplicate docs scrub to
    empty. md5-pinned rebuilt text plus exact token/removal counts."""
    from .operators.dedup import duplicate_span_removal

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_SPAM_SPAN + " "), F.col("text")),
        ).otherwise(F.col("text")).alias("mtext"),
    )
    out = duplicate_span_removal(
        docs, text_col="mtext", window=8, hash_fn="md5"
    )
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("text").alias("clean_md5")
    )


# phrase set exercising the positional plane's edges: high-df bigram,
# trigram, repeated-term phrase, single-token degenerate, OOV term
# (matches nothing), and tokenizer normalization (case + punctuation)
PHRASE_QUERIES: list[tuple[str, str]] = [
    ("p01", "table hash"),
    ("p02", "slow hash batch"),
    ("p03", "data data"),
    ("p04", "merge"),
    ("p05", "table nosuchtokenxyz"),
    ("p06", "Row, Column; SORT!"),
]

_PHRASE_VALUES_SQL = ", ".join(
    "('%s', [%s])"
    % (q, ", ".join("'%s'" % t for t in tokenize_py(p)))
    for q, p in PHRASE_QUERIES
)

_PHRASE_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
),
phr(query_id, ptoks) AS (VALUES {_PHRASE_VALUES_SQL}),
m AS (
  SELECT p.query_id, t.doc_id,
         len(list_filter(
           generate_series(1, len(t.tok) - len(p.ptoks) + 1),
           i -> t.tok[i : i + len(p.ptoks) - 1] = p.ptoks)) AS n_occ
  FROM phr p CROSS JOIN tok t
)
SELECT query_id, doc_id, CAST(n_occ AS BIGINT) AS n_occurrences
FROM m WHERE n_occ > 0
"""


@register("phrase_match", _PHRASE_SQL_DUCK)
def phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over the positional index
    (operators/positional.py): position lists are one groupBy((term,
    doc)) with map-side combine; a phrase broadcasts its (slot -> term)
    dimension against them and matches algebraically (slot i's positions
    shifted by -i; a start where ALL slots land is an occurrence) — two
    hash aggregates, row volume = occurrences of the phrase's own terms.
    Oracle: DuckDB list-slice equality over every start offset.
    Exercises F1 tokenization identity, J1-style term-pruned join, and
    the engine's positional plane end-to-end (incl. overlapping
    occurrences and the repeated-term phrase p03)."""
    from .operators.positional import phrase_search

    out = phrase_search(
        _docs(spark, sf_dir).select("doc_id", "text"), PHRASE_QUERIES
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_occurrences",
    )


_BM25_CONJ_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n_docs FROM dl
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qtok AS (
  SELECT query_id, unnest({tokens_sql('qtext')}) AS term
  FROM (VALUES {_QVALUES_SQL}) AS q(query_id, qtext)
),
qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY query_id, term
),
qreq AS (
  SELECT query_id, count(DISTINCT term) AS nreq FROM qtok GROUP BY query_id
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score,
         count(*) AS nmatch
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY s.score DESC, CAST(s.doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored s
  JOIN qreq r ON r.query_id = s.query_id AND s.nmatch = r.nreq
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("bm25_topk_conjunctive", _BM25_CONJ_SQL_DUCK)
def bm25_topk_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND-semantics retrieval (query.retrieve_conjunctive): only docs
    containing EVERY distinct query token rank; BM25 scores and tie rule
    unchanged. The distinct-term count rides the score aggregation's own
    map-side-combined shuffle (count(*) over per-(term,doc) partials);
    the per-query requirement broadcasts. q10's OOV term makes that
    query return zero rows — OOV counts toward the requirement, the web
    engine's implicit-AND contract. Scores are float32 in the engine, so
    the compare is rank-only (as bm25_topk_engine)."""
    from .operators.indexing import build_index
    from .operators.query import retrieve_conjunctive

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    res = retrieve_conjunctive(idx, queries, k=TOPK)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# web-style query strings: quoted segments are exact-phrase constraints,
# bare tokens implicit-AND; all tokens (incl. phrase tokens) score BM25.
WEB_QUERIES: list[tuple[str, str]] = [
    ("w01", '"table hash" merge'),
    ("w02", '"merge sort"'),
    ("w03", "data merge sort"),
    ("w04", '"table hash" "data data"'),
    ("w05", '"table hash" nosuchtokenxyz'),
    ("w06", '"sort data" row'),
]


def _web_sql() -> str:
    from .operators.positional import parse_web_query

    wvalues = ", ".join(
        "('%s', '%s')" % (q, t.replace("'", "''")) for q, t in WEB_QUERIES
    )
    phr_rows = []
    nphr_rows = []
    for qid, raw in WEB_QUERIES:
        phrases = parse_web_query(raw)
        nphr_rows.append(f"('{qid}', {len(phrases)})")
        for i, ph in enumerate(phrases):
            toks = ", ".join(f"'{t}'" for t in tokenize_py(ph))
            phr_rows.append(f"('{qid}', {i}, [{toks}])")
    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
),
tokx AS (SELECT doc_id, unnest(tok) AS term FROM tok),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokx GROUP BY doc_id, term),
dl AS (SELECT doc_id, len(tok) AS dl FROM tok),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n_docs FROM dl
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qtok AS (
  SELECT query_id, unnest({tokens_sql('qtext')}) AS term
  FROM (VALUES {wvalues}) AS q(query_id, qtext)
),
qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY query_id, term
),
qreq AS (
  SELECT query_id, count(DISTINCT term) AS nreq FROM qtok GROUP BY query_id
),
phr(query_id, pid, ptoks) AS (VALUES {', '.join(phr_rows)}),
nphr(query_id, nph) AS (VALUES {', '.join(nphr_rows)}),
psat AS (
  SELECT p.query_id, t.doc_id, count(DISTINCT p.pid) AS nsat
  FROM phr p JOIN tok t
    ON len(list_filter(generate_series(1, len(t.tok) - len(p.ptoks) + 1),
          i -> t.tok[i : i + len(p.ptoks) - 1] = p.ptoks)) > 0
  GROUP BY p.query_id, t.doc_id
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score,
         count(*) AS nmatch
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, s.score,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY s.score DESC, CAST(s.doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored s
  JOIN qreq r ON r.query_id = s.query_id AND s.nmatch = r.nreq
  JOIN nphr np ON np.query_id = s.query_id
  LEFT JOIN psat ps
    ON ps.query_id = s.query_id AND ps.doc_id = s.doc_id
  WHERE np.nph = 0 OR coalesce(ps.nsat, 0) = np.nph
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("bm25_topk_web", _web_sql())
def bm25_topk_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-style composite retrieval (positional.retrieve_web): quoted
    segments must occur as exact phrases (positional plane), every bare
    token is an implicit AND, BM25 ranks the survivors — both filters
    applied BEFORE the top-k cut. The scoring/AND side is one pass whose
    all-terms count rides the score shuffle (query.conjunctive_scores);
    the phrase side folds per-(query, doc) satisfied-phrase counts from
    the positional plane's algebraic matcher; w05's OOV term empties
    that query, w04 intersects two phrase constraints. Rank-only
    compare (engine scores are float32), as bm25_topk_engine."""
    from .operators.indexing import build_index
    from .operators.positional import (
        parse_web_query,
        positional_postings,
        retrieve_web,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    # ad-hoc path: the position build prunes to the phrase vocabulary
    # BEFORE its aggregate (a saved layout would prune at the scan)
    need = sorted({
        t
        for _, raw in WEB_QUERIES
        for ph in parse_web_query(raw)
        for t in tokenize_py(ph)
    })
    positional = positional_postings(docs, terms=need)
    res = retrieve_web(idx, positional, WEB_QUERIES, k=TOPK)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# term pairs for the proximity entry: adjacent-ish pairs, a far pair,
# and an OOV side that must produce no rows
PROX_PAIRS: list[tuple[str, str, str]] = [
    ("x01", "table", "hash"),
    ("x02", "data", "merge"),
    ("x03", "sort", "row"),
    ("x04", "slow", "batch"),
    ("x05", "table", "nosuchtokenxyz"),
]

_PROX_VALUES_SQL = ", ".join(
    f"('{q}', '{a}', '{b}')" for q, a, b in PROX_PAIRS
)

_PROX_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
),
pr(query_id, ta, tb) AS (VALUES {_PROX_VALUES_SQL}),
m AS (
  SELECT p.query_id, t.doc_id,
    list_filter(generate_series(1, len(t.tok)), i -> t.tok[i] = p.ta) AS la,
    list_filter(generate_series(1, len(t.tok)), i -> t.tok[i] = p.tb) AS lb
  FROM pr p CROSS JOIN tok t
)
SELECT query_id, doc_id,
  CAST(list_min(flatten(list_transform(
    la, a -> list_transform(lb, b -> abs(a - b))))) AS INT) AS min_dist
FROM m WHERE len(la) > 0 AND len(lb) > 0
"""


@register("term_pair_proximity", _PROX_SQL_DUCK)
def term_pair_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal token distance between two terms per doc
    (positional.pair_proximity) — the primitive under proximity-boosted
    ranking. The engine's scan is LINEAR (merged tagged positions +
    one aggregate fold tracking the last position per side); the DuckDB
    oracle is the quadratic cross-min, which must agree. Pair dimension
    broadcasts and prunes both postings reads; x05's OOV side yields no
    rows."""
    from .operators.positional import pair_proximity, positional_postings

    positional = positional_postings(
        _docs(spark, sf_dir).select("doc_id", "text")
    )
    out = pair_proximity(positional, PROX_PAIRS)
    return out.select(
        "query_id",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("min_dist").cast("int").alias("min_dist"),
    )


SNIPPET_QUERIES: list[tuple[str, str]] = [
    ("s01", "table hash merge"),
    ("s02", "sort data row"),
    ("s03", "slow batch group"),
]
SNIPPET_W = 8

_SNIPPET_VALUES_SQL = ", ".join(
    f"('{q}', '{t}')" for q, t in SNIPPET_QUERIES
)

_SNIPPET_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
),
qt AS (
  SELECT query_id, list_distinct({tokens_sql('qtext')}) AS qts
  FROM (VALUES {_SNIPPET_VALUES_SQL}) AS q(query_id, qtext)
),
starts AS (
  SELECT doc_id, unnest(generate_series(1, len(tok))) AS start FROM tok
),
win AS (
  SELECT qt.query_id, t.doc_id, s.start,
         len(list_filter(qt.qts,
             x -> list_contains(t.tok[s.start : s.start + {SNIPPET_W - 1}],
                                x))) AS n_terms,
         array_to_string(t.tok[s.start : s.start + {SNIPPET_W - 1}], ' ')
           AS snippet
  FROM qt CROSS JOIN tok t JOIN starts s ON s.doc_id = t.doc_id
),
best AS (
  SELECT query_id, doc_id, start, n_terms, snippet,
         row_number() OVER (
           PARTITION BY query_id, doc_id
           ORDER BY n_terms DESC, start ASC
         ) AS rn
  FROM win WHERE n_terms > 0
)
SELECT query_id, doc_id, CAST(start AS INT) AS start,
       CAST(n_terms AS INT) AS n_terms, snippet
FROM best WHERE rn = 1
"""


@register("best_snippet", _SNIPPET_SQL_DUCK)
def best_snippet_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-side snippet selection (positional.best_snippet): the
    {SNIPPET_W}-token window with the most DISTINCT query terms, ties
    to the earliest start; snippet text is the space-joined span. Each
    hit votes for its ≤W covering starts (row volume = hits × W, never
    docs × positions); vote counts and per-doc argmax are two hash
    aggregations. The DuckDB oracle enumerates every start of every doc
    — brute force the engine must match exactly, snippet string
    included."""
    from .operators.positional import best_snippet

    out = best_snippet(
        _docs(spark, sf_dir).select("doc_id", "text"),
        SNIPPET_QUERIES,
        window=SNIPPET_W,
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("start").cast("int").alias("start"),
        F.col("n_terms").cast("int").alias("n_terms"),
        "snippet",
    )


PROXQ_QUERIES: list[tuple[str, str]] = [
    ("v01", "table hash"),
    ("v02", "data merge sort"),
    ("v03", "slow batch"),
    ("v04", "row column sort"),
    ("v05", "merge"),
]
PROX_ALPHA = 1.0

_PROXQ_VALUES_SQL = ", ".join(
    f"('{q}', '{t}')" for q, t in PROXQ_QUERIES
)

_BM25_PROX_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
),
tokx AS (SELECT doc_id, unnest(tok) AS term FROM tok),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokx GROUP BY doc_id, term),
dl AS (SELECT doc_id, len(tok) AS dl FROM tok),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n_docs FROM dl
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qtok AS (
  SELECT query_id, unnest({tokens_sql('qtext')}) AS term
  FROM (VALUES {_PROXQ_VALUES_SQL}) AS q(query_id, qtext)
),
qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY query_id, term
),
qreq AS (
  SELECT query_id, count(DISTINCT term) AS nreq FROM qtok GROUP BY query_id
),
ppos AS (
  SELECT q.query_id, t.doc_id, q.term,
    list_filter(generate_series(1, len(t.tok)), i -> t.tok[i] = q.term) AS ps
  FROM (SELECT DISTINCT query_id, term FROM qtok) q CROSS JOIN tok t
),
flat AS (SELECT query_id, doc_id, term, unnest(ps) AS pos FROM ppos),
gap AS (
  SELECT a.query_id, a.doc_id, min(abs(a.pos - b.pos)) AS min_gap
  FROM flat a JOIN flat b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
   AND a.term <> b.term
  GROUP BY a.query_id, a.doc_id
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score,
         count(*) AS nmatch
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY s.score * (1.0 + {PROX_ALPHA} /
                               (1.0 + coalesce(g.min_gap, 1e18))) DESC,
                    CAST(s.doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored s
  JOIN qreq r ON r.query_id = s.query_id AND s.nmatch = r.nreq
  LEFT JOIN gap g ON g.query_id = s.query_id AND g.doc_id = s.doc_id
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("bm25_topk_proximity", _BM25_PROX_SQL_DUCK)
def bm25_topk_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity-boosted conjunctive retrieval
    (positional.retrieve_proximity): AND-candidates ranked by
    bm25 · (1 + α/(1 + min_gap)), min_gap = minimal distance between
    any two distinct query terms in the doc. The engine computes the
    gap in ONE sorted fold over the query terms' merged positions (the
    global pair minimum is always an adjacent different-term gap);
    the oracle is the quadratic all-pairs min and must agree. v05 is
    single-term (boost 0 — pure BM25 rank passthrough). Rank-only
    compare (float scores), as bm25_topk_engine."""
    from .operators.indexing import build_index
    from .operators.positional import positional_postings, retrieve_proximity

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    need = sorted({
        t for _, q in PROXQ_QUERIES for t in tokenize_py(q)
    })
    positional = positional_postings(docs, terms=need)
    res = retrieve_proximity(
        idx, positional, PROXQ_QUERIES, k=TOPK, alpha=PROX_ALPHA
    )
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


MSM = 2

_BM25_MSM_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n_docs FROM dl
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qtok AS (
  SELECT query_id, unnest({tokens_sql('qtext')}) AS term
  FROM (VALUES {_QVALUES_SQL}) AS q(query_id, qtext)
),
qterms AS (
  SELECT query_id, term, count(*) AS qtf FROM qtok GROUP BY query_id, term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score,
         count(*) AS nmatch
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored WHERE nmatch >= {MSM}
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM ranked WHERE rank <= {TOPK}
"""


@register("bm25_topk_msm", _BM25_MSM_SQL_DUCK)
def bm25_topk_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-should-match retrieval (query.retrieve_msm, msm=2): docs
    with at least 2 distinct query terms rank, by full BM25 — the
    standard OR/AND middle ground. Unlike the conjunctive entry, q10's
    OOV token does NOT empty the query (unmatched terms just can't
    count). The presence count rides the score aggregation's own
    shuffle. Rank-only compare (float scores), as bm25_topk_engine."""
    from .operators.indexing import build_index
    from .operators.query import retrieve_msm

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    res = retrieve_msm(idx, queries, k=TOPK, msm=MSM)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# ---------------------------------------------------------------------------
# Link-graph family (documents table; synthetic deterministic edges)
# ---------------------------------------------------------------------------

# Node universe: doc_id < 300 as synthetic page ids; each page's html holds
# one absolute href, one root-relative href, and two out-of-scope hrefs
# (path-relative + fragment) that must be dropped. Modular multipliers are
# coprime-ish picks with no self-link solutions (parity/mod-3 arguments in
# the entry docstring), so the edge list is exactly 2 rows per page.
LINK_N = 300

_LINK_HTML_SQL = (
    "'<html><body><a href=\"https://ex.org/p/' || CAST((3*doc_id+1) % "
    f"{LINK_N}"
    " AS VARCHAR) || '\">a</a> <a href = \"/p/' || CAST((7*doc_id+2) % "
    f"{LINK_N}"
    " AS VARCHAR) || '\">r</a> <a href=\"skip/me\">s</a>"
    " <a href=\"#top\">f</a></body></html>'"
)

_LINK_EXTRACT_SQL_DUCK = f"""
WITH pages AS (
  SELECT 'https://ex.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         {_LINK_HTML_SQL} AS html
  FROM documents WHERE doc_id < {LINK_N}
),
hrefs AS (
  SELECT url AS src,
         trim(unnest(regexp_extract_all(html,
             'href\\s*=\\s*"([^"]*)"', 1))) AS h
  FROM pages
),
resolved AS (
  SELECT src,
         CASE WHEN regexp_matches(h, '^https?://') THEN h
              WHEN h LIKE '/%' AND h NOT LIKE '//%'
                   AND regexp_extract(src, '^(https?://[^/]+)', 1) <> ''
                THEN regexp_extract(src, '^(https?://[^/]+)', 1) || h
              ELSE NULL END AS dst
  FROM hrefs
)
SELECT DISTINCT src, dst FROM resolved
WHERE dst IS NOT NULL AND dst <> '' AND dst <> src
"""


@register("link_extraction", _LINK_EXTRACT_SQL_DUCK)
def link_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web link-graph edge extraction (linkgraph.extract_links): hrefs
    pulled from the raw html column with regexp_extract_all (S2/F9-style
    pure Column work, zero shuffle before the edge distinct) and resolved
    deterministically — absolute http(s) verbatim, root-relative against
    the page's scheme://host, everything else (path-relative, fragments,
    mailto, protocol-relative) dropped. Pages here are synthesized from
    doc_id so the oracle builds byte-identical html: no self-links exist
    ((3r+1)%N==r and (7r+2)%N==r have no solutions mod 300 by parity /
    mod-3), so the result is exactly 2 edges per page."""
    from .operators.linkgraph import extract_links

    n = F.lit(LINK_N)
    mk = lambda mult, add: (  # noqa: E731
        F.pmod(F.lit(mult) * F.col("doc_id") + F.lit(add), n).cast("string")
    )
    pages = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < LINK_N)
        .select(
            F.concat(F.lit("https://ex.org/p/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.concat(
                F.lit('<html><body><a href="https://ex.org/p/'),
                mk(3, 1),
                F.lit('">a</a> <a href = "/p/'),
                mk(7, 2),
                F.lit('">r</a> <a href="skip/me">s</a>'
                      ' <a href="#top">f</a></body></html>'),
            ).alias("html"),
        )
    )
    return extract_links(pages)


PR_ITERS = 10
PR_DAMPING = 0.85


def _pagerank_ctes() -> str:
    # fixed-iteration power iteration, unrolled; per-term math written to
    # match the Spark operator op-for-op (rank/outdeg division, damped sum)
    # so only f64 summation order differs — absorbed by the nano rounding.
    # CTE names (nodes/edges*/deg/ew/pr*) are disjoint from _BM25_BODY's so
    # the chain also splices into the bm25_topk_prior oracle.
    base = f"(1.0-{PR_DAMPING})/{LINK_N}"
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""pr{k} AS (
  SELECT n.id, {base} + {PR_DAMPING}*coalesce(s.inflow, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / e.outdeg) AS inflow
    FROM pr{k - 1} p JOIN ew e ON e.src = p.id GROUP BY e.dst
  ) s ON s.id = n.id
)""")
    chain = ",\n".join(iters)
    return f"""nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < {LINK_N}),
edges0 AS (
  SELECT id AS src, (3*id+1) % {LINK_N} AS dst FROM nodes
  UNION ALL
  SELECT id AS src, (7*id+2) % {LINK_N} AS dst FROM nodes
),
edges AS (SELECT DISTINCT src, dst FROM edges0 WHERE dst <> src),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
ew AS (
  SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON d.src = e.src
),
pr0 AS (SELECT id, 1.0/{LINK_N} AS rank FROM nodes),
{chain}"""


def _pagerank_sql() -> str:
    return f"""
WITH {_pagerank_ctes()}
SELECT CAST(id AS BIGINT) AS doc_id,
       CAST(round(rank * 1e9) AS BIGINT) AS rank_nano
FROM pr{PR_ITERS}
"""


@register("link_pagerank", _pagerank_sql())
def link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic synthetic link graph
    (linkgraph.pagerank): 300 nodes, edges r->(3r+1)%N and r->(7r+2)%N —
    every node has outdegree >= 1 (no dangling mass term in play; the
    operator's sink redistribution is pinned separately by
    test_linkgraph's NumPy mirror), 10 damped power-iteration passes at
    d=0.85. One hash-partitioned shuffle per pass (rank x edges equi-join
    on src + map-side-partial per-dst sum); the oracle unrolls the same
    recurrence as chained CTEs. Ranks emitted as round(rank*1e9) BIGINTs
    per the registry float convention — f64 sum-order noise is ~1e-13,
    six orders below the rounding granularity."""
    pr = _link_prior(spark, sf_dir)
    return pr.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.round(F.col("rank") * 1e9).cast("bigint").alias("rank_nano"),
    )


def _link_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, rank): PageRank over the deterministic modular graph."""
    from .operators.linkgraph import pagerank

    n = F.lit(LINK_N)
    nodes = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < LINK_N)
        .select(F.col("doc_id").alias("id"))
    )
    edges = (
        nodes.select(
            F.col("id").alias("src"),
            F.pmod(F.lit(3) * F.col("id") + 1, n).alias("dst"),
        )
        .unionByName(
            nodes.select(
                F.col("id").alias("src"),
                F.pmod(F.lit(7) * F.col("id") + 2, n).alias("dst"),
            )
        )
        .filter(F.col("dst") != F.col("src"))
    )
    return pagerank(edges, damping=PR_DAMPING, n_iter=PR_ITERS)


PRIOR_BETA = 0.5

_BM25_PRIOR_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f""",
{_pagerank_ctes()},
prior AS (
  SELECT id AS doc_id,
         {PRIOR_BETA} * ln(1.0 + rank * {LINK_N}) AS boost
  FROM pr{PR_ITERS}
),
blended AS (
  SELECT s.query_id, s.doc_id,
         s.score + coalesce(p.boost, 0.0) AS fscore
  FROM scored s LEFT JOIN prior p ON p.doc_id = s.doc_id
),
branked AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY fscore DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM blended
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM branked WHERE rank <= {TOPK}
"""
)


@register("bm25_topk_prior", _BM25_PRIOR_SQL_DUCK)
def bm25_topk_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-blended retrieval (query.retrieve_with_prior): the
    link_pagerank prior joins the aggregated BM25 candidates on the int
    doc_idx key AFTER the single score shuffle, and
    final = bm25 + 0.5 * ln(1 + rank * n_prior) reranks BEFORE the
    top-k cut — the classic web static-rank x lexical composite. Docs
    outside the 300-node graph get zero boost. Rank-only compare (float
    scores), as bm25_topk_engine; the oracle splices the unrolled
    PageRank CTE chain into the shared BM25 body."""
    from .operators.indexing import build_index
    from .operators.query import retrieve_with_prior

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    priors = _link_prior(spark, sf_dir).select(
        F.col("id").alias("doc_id"), F.col("rank").alias("prior")
    )
    res = retrieve_with_prior(
        idx, queries, priors, k=TOPK, beta=PRIOR_BETA
    )
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


ANCHOR_N = 200
ANCHOR_W = 2

_ANCHOR_HTML_SQL = (
    "'<html><body><a href=\"/p/' || CAST((3*doc_id+1) % "
    f"{ANCHOR_N}"
    " AS VARCHAR) || '\">alpha' || CAST(doc_id % 7 AS VARCHAR) ||"
    " '</a> <a href=\"/p/' || CAST((7*doc_id+2) % "
    f"{ANCHOR_N}"
    " AS VARCHAR) || '\">beta' || CAST(doc_id % 5 AS VARCHAR) ||"
    " '</a> <a href=\"rel/x\">dropme</a></body></html>'"
)

_ANCHOR_SQL_DUCK = f"""
WITH pages AS (
  SELECT doc_id,
         'https://ex.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         {_ANCHOR_HTML_SQL} AS html,
         text
  FROM documents WHERE doc_id < {ANCHOR_N}
),
tags AS (
  SELECT url AS src,
         unnest(regexp_extract_all(html,
             '<a\\s[^>]*href\\s*=\\s*"[^"]*"[^>]*>[^<]*</a>', 0)) AS tag
  FROM pages
),
anch AS (
  SELECT src,
         CASE WHEN regexp_matches(h, '^https?://') THEN h
              WHEN h LIKE '/%' AND h NOT LIKE '//%'
                   AND regexp_extract(src, '^(https?://[^/]+)', 1) <> ''
                THEN regexp_extract(src, '^(https?://[^/]+)', 1) || h
              ELSE NULL END AS dst,
         trim(regexp_extract(tag, '>([^<]*)</a>', 1)) AS anchor
  FROM (SELECT src, tag,
               trim(regexp_extract(tag, 'href\\s*=\\s*"([^"]*)"', 1)) AS h
        FROM tags)
),
ok AS (
  SELECT * FROM anch
  WHERE dst IS NOT NULL AND dst <> '' AND dst <> src AND anchor <> ''
),
agg AS (
  SELECT dst AS url, string_agg(anchor, ' ' ORDER BY anchor) AS atext
  FROM ok GROUP BY dst
)
SELECT p.doc_id,
       CASE WHEN a.atext IS NOT NULL
            THEN p.text || repeat(' ' || a.atext, {ANCHOR_W})
            ELSE p.text END AS text
FROM pages p LEFT JOIN agg a ON a.url = p.url
"""


@register("anchor_text_enrich", _ANCHOR_SQL_DUCK)
def anchor_text_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text enrichment (linkgraph.extract_anchors +
    enrich_with_anchor_text): every link's inner text appends to its
    TARGET document — the web-search semantics that lets a page rank for
    how the web describes it. Pages synthesized from doc_id carry two
    deterministic root-relative anchors plus one unresolvable one
    (dropped); r=33,133 self-link and lose that anchor (dst==src filter,
    both engines). Incoming anchors sort lexicographically, join on
    single spaces, and the block repeats weight=2 times (integer field
    boost); docs nothing links to pass through byte-identical.
    Extraction is pure Column work on the corpus scan; enrichment is one
    map-side-combined groupBy on the target URL + one equi-join back."""
    from .operators.linkgraph import enrich_with_anchor_text, extract_anchors

    n = F.lit(ANCHOR_N)
    mk = lambda mult, add: (  # noqa: E731
        F.pmod(F.lit(mult) * F.col("doc_id") + F.lit(add), n).cast("string")
    )
    pages = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < ANCHOR_N)
        .select(
            "doc_id",
            F.concat(F.lit("https://ex.org/p/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.concat(
                F.lit('<html><body><a href="/p/'), mk(3, 1),
                F.lit('">alpha'), (F.col("doc_id") % 7).cast("string"),
                F.lit('</a> <a href="/p/'), mk(7, 2),
                F.lit('">beta'), (F.col("doc_id") % 5).cast("string"),
                F.lit('</a> <a href="rel/x">dropme</a></body></html>'),
            ).alias("html"),
            "text",
        )
    )
    anchors = extract_anchors(pages)
    enriched = enrich_with_anchor_text(
        pages.select("doc_id", "url", "text"), anchors, weight=ANCHOR_W
    )
    return enriched.select("doc_id", "text")


DIVERSE_OVERFETCH = 50
DIVERSE_PER_GROUP = 2
DIVERSE_K = 10

_BM25_DIVERSE_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f""",
overfetch AS (
  SELECT query_id, rank, doc_id FROM ranked WHERE rank <= {DIVERSE_OVERFETCH}
),
grp AS (
  SELECT o.query_id, o.rank, o.doc_id, d.source
  FROM overfetch o JOIN documents d ON d.doc_id = o.doc_id
),
kept AS (
  SELECT query_id, rank, doc_id,
         row_number() OVER (
           PARTITION BY query_id, source ORDER BY rank
         ) AS gr
  FROM grp
),
rer AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rank
  FROM kept WHERE gr <= {DIVERSE_PER_GROUP}
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM rer WHERE rank <= {DIVERSE_K}
"""
)


@register("bm25_topk_diverse", _BM25_DIVERSE_SQL_DUCK)
def bm25_topk_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERP diversification (query.collapse_by_group): overfetch the
    engine's BM25 top-50, keep at most 2 results per source group
    (documents.source stands in for the host key), densely re-rank the
    survivors and cut to 10 — the standard web-results "site collapse".
    The group map joins the query-results-sized table with a broadcast
    hash join; both window passes partition by (query, group) / query.
    Docs absent from the map form singleton groups (collapse can only
    relax, never drop). Rank-only compare, as bm25_topk_engine."""
    from .operators.indexing import build_index
    from .operators.query import collapse_by_group, retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    res = retrieve(idx, queries, k=DIVERSE_OVERFETCH)
    groups = _docs(spark, sf_dir).select("doc_id", "source")
    out = collapse_by_group(
        res, groups,
        max_per_group=DIVERSE_PER_GROUP, k=DIVERSE_K, group_col="source",
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


MISSPELLED = [
    ("m1", "strategi"),
    ("m2", "partitoin"),
    ("m3", "custmer"),
    ("m4", "windoww"),
    ("m5", "qery"),
]

_MISSPELL_VALUES_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, t in MISSPELLED
)

_SPELL_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT DISTINCT doc_id, term FROM tok),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
vg0 AS (
  SELECT term, df,
         list_distinct(list_transform(
           generate_series(1, length(term) - 2),
           i -> substr(term, i, 3))) AS g
  FROM dfr
),
vg AS (SELECT term, df, len(g) AS nv, unnest(g) AS gram FROM vg0),
q0 AS (
  SELECT qterm,
         list_distinct(list_transform(
           generate_series(1, length(qterm) - 2),
           i -> substr(qterm, i, 3))) AS g
  FROM (VALUES {_MISSPELL_VALUES_SQL}) AS m(qid, qterm)
),
qg AS (SELECT qterm, len(g) AS nq, unnest(g) AS gram FROM q0),
sh AS (
  SELECT qterm, nq, term, df, nv, count(*) AS shared
  FROM qg JOIN vg USING (gram)
  GROUP BY qterm, nq, term, df, nv
),
sc AS (
  SELECT qterm, term, df,
         CAST(shared AS DOUBLE) / (nq + nv - shared) AS j
  FROM sh
),
rk AS (
  SELECT qterm, term AS suggestion, df, j,
         row_number() OVER (
           PARTITION BY qterm ORDER BY j DESC, df DESC, term ASC
         ) AS rank
  FROM sc
)
SELECT qterm, CAST(rank AS INT) AS rank, suggestion,
       CAST(df AS BIGINT) AS df,
       CAST(round(j * 1000) AS BIGINT) AS jacc_milli
FROM rk WHERE rank <= 3
"""


@register("spell_suggest", _SPELL_SQL_DUCK)
def spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query spell suggestion (spell.term_suggestions): misspelled terms
    meet the index term dictionary in a char-trigram-bucketed equi-join
    (never a cross join against the vocabulary), score by distinct-gram
    Jaccard with document frequency as tie-break, keep the top 3 per
    term. The dictionary comes from the engine's own build_index; the
    oracle recomputes df from the corpus and mirrors the gram algebra
    with list_transform/list_distinct. Jaccard is an exact integer ratio
    evaluated identically in f64 on both engines, so ordering AND the
    milli-rounded value pin bit-for-bit."""
    from .operators.indexing import build_index
    from .operators.spell import term_suggestions

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    terms = spark.createDataFrame(MISSPELLED, "qid string, qterm string")
    out = term_suggestions(idx.term_dict, terms, topn=3)
    return out.select(
        "qterm", F.col("rank").cast("int").alias("rank"), "suggestion",
        F.col("df").cast("bigint").alias("df"),
        F.round(F.col("jaccard") * 1000).cast("bigint").alias("jacc_milli"),
    )


SYNONYMS = [
    ("fast", "quick"),
    ("query", "scan"),
    ("merge", "join"),
    ("customer", "client"),
]
SYN_WEIGHT = 0.6

_SYN_VALUES_SQL = ", ".join(f"('{a}', '{b}')" for a, b in SYNONYMS)

_BM25_SYN_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f""",
qex AS (
  SELECT query_id, term, CAST(qtf AS DOUBLE) AS w FROM qterms
  UNION ALL
  SELECT q.query_id, s.syn AS term, q.qtf * {SYN_WEIGHT} AS w
  FROM qterms q
  JOIN (VALUES {_SYN_VALUES_SQL}) AS s(term, syn) ON s.term = q.term
),
qwt AS (SELECT query_id, term, sum(w) AS qw FROM qex GROUP BY query_id, term),
scored2 AS (
  SELECT w.query_id, tf.doc_id,
         sum(w.qw * ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl))) AS score
  FROM qwt w
  JOIN tf ON tf.term = w.term
  JOIN df ON df.term = w.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY w.query_id, tf.doc_id
),
ranked2 AS (
  SELECT query_id, doc_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score DESC, CAST(doc_id AS VARCHAR) ASC
         ) AS rank
  FROM scored2
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id
FROM ranked2 WHERE rank <= {TOPK}
"""
)


@register("bm25_topk_synonyms", _BM25_SYN_SQL_DUCK)
def bm25_topk_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time synonym expansion (query.expand_queries_with_synonyms
    feeding the external-weights retrieval path): each query term adds
    its synonyms at 0.6x weight, contributions to the same term sum, and
    retrieval runs the weighted accumulation (query.query_terms —
    the same q_w·d_w path neural expansion uses, W3 sparsify included).
    OOV synonyms vanish at the dictionary join on both engines. The
    expansion never touches postings — it is query-side-only Column work
    over a broadcast map. Rank-only compare, as bm25_topk_engine."""
    from .operators.indexing import build_index
    from .operators.query import expand_queries_with_synonyms, retrieve

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    syn = spark.createDataFrame(SYNONYMS, "term string, syn string")
    expanded = expand_queries_with_synonyms(
        queries, syn, syn_weight=SYN_WEIGHT
    )
    res = retrieve(idx, queries, k=TOPK, query_weights=expanded)
    return res.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (LLM pretraining prep, operators/packing.py)
# ---------------------------------------------------------------------------

_PACK_LEN = 64

_PACK_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, len({tokens_sql('text')}) AS dl
  FROM documents WHERE doc_id < 300
),
off AS (
  SELECT doc_id, dl,
         COALESCE(SUM(dl) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM tok
),
spans AS (
  SELECT doc_id, dl, off,
         unnest(range(CAST(off // {_PACK_LEN} AS BIGINT),
                      CAST((off + dl - 1) // {_PACK_LEN} + 1 AS BIGINT))) AS seq_id
  FROM off WHERE dl > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       doc_id,
       CAST(dl AS INT) AS n_doc_tokens,
       CAST(greatest(0, seq_id * {_PACK_LEN} - off) AS INT) AS tok_from,
       CAST(least(dl, (seq_id + 1) * {_PACK_LEN} - off) AS INT) AS tok_to,
       CAST(greatest(0, off - seq_id * {_PACK_LEN}) AS INT) AS seq_off
FROM spans
"""


@register("sequence_packing", _PACK_SQL_DUCK)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing plan (packing.pack_sequences): docs
    concatenate in ascending doc_id order, the token stream cuts every
    64 tokens, and each row records which token span of which doc lands
    where in which training sequence. The Spark plan computes the global
    token offsets with the terasort prefix-sum (range shuffle +
    per-partition window + broadcast offsets — no single-partition
    global window); the oracle re-derives it with a plain window cumsum,
    pinning span arithmetic exactly (A3 prefix-sum discipline)."""
    from .operators.packing import pack_sequences

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return pack_sequences(docs, seq_len=_PACK_LEN)


_PACK_STATS_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, len({tokens_sql('text')}) AS dl
  FROM documents WHERE doc_id < 300
),
off AS (
  SELECT doc_id, dl,
         COALESCE(SUM(dl) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM tok
),
spans AS (
  SELECT doc_id, dl, off,
         unnest(range(CAST(off // {_PACK_LEN} AS BIGINT),
                      CAST((off + dl - 1) // {_PACK_LEN} + 1 AS BIGINT))) AS seq_id
  FROM off WHERE dl > 0
),
seqs AS (
  SELECT seq_id,
         SUM(least(dl, (seq_id + 1) * {_PACK_LEN} - off)
             - greatest(0, seq_id * {_PACK_LEN} - off)) AS filled,
         COUNT(*) AS n_docs
  FROM spans GROUP BY seq_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sequences,
       CAST(SUM(filled) AS BIGINT) AS total_tokens,
       CAST(SUM(n_docs) AS BIGINT) AS total_spans,
       CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_seq,
       CAST({_half_up_ratio('SUM(filled)', f'COUNT(*) * {_PACK_LEN}', 1000,
                            '//')} AS BIGINT) AS fill_rate_milli
FROM seqs
"""


@register("packing_stats", _PACK_STATS_SQL_DUCK)
def packing_stats_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-plan budget summary (packing.packing_stats): sequence
    count, packed-token totals, span count, worst-case docs per
    sequence, and the fill rate ``total_tokens / (n_sequences ·
    seq_len)`` in milli-units, rounded half up in integer arithmetic."""
    from .operators.packing import pack_sequences, packing_stats

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    plan = pack_sequences(docs, seq_len=_PACK_LEN)
    s = packing_stats(plan, seq_len=_PACK_LEN)
    return s.select(
        "n_sequences", "total_tokens", "total_spans", "max_docs_per_seq",
        F.expr(_half_up_ratio(
            "total_tokens", f"n_sequences * {_PACK_LEN}", 1000
        )).cast("bigint").alias("fill_rate_milli"),
    )


# ---------------------------------------------------------------------------
# Web serving extras: prefix completion + SERP facets
# ---------------------------------------------------------------------------

PREFIXES = ["ha", "s", "par", "val", "zzqx"]
_PREFIX_VALUES_SQL = ", ".join(f"('{p}')" for p in PREFIXES)

_PREFIX_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
dt AS (SELECT DISTINCT doc_id, term FROM tok),
df AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
p AS (SELECT prefix FROM (VALUES {_PREFIX_VALUES_SQL}) AS v(prefix)),
cand AS (
  SELECT p.prefix, df.term, df.df
  FROM p JOIN df ON df.term LIKE p.prefix || '%'
),
ranked AS (
  SELECT prefix, term, df,
         row_number() OVER (
           PARTITION BY prefix ORDER BY df DESC, term ASC
         ) AS rank
  FROM cand
)
SELECT prefix, CAST(rank AS INT) AS rank, term AS suggestion,
       CAST(df AS BIGINT) AS df
FROM ranked WHERE rank <= 5
"""


@register("prefix_suggest", _PREFIX_SQL_DUCK)
def prefix_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-box auto-completion (spell.prefix_suggestions): the top-5
    most-frequent index-dictionary terms extending each typed prefix,
    ranked (df desc, term asc). The prefix batch broadcasts onto a
    two-column dictionary scan — no explode, no gram table; the oracle
    recomputes df from the corpus and ranks with the same window. The
    no-match prefix contributes zero rows on both engines."""
    from .operators.indexing import build_index
    from .operators.spell import prefix_suggestions

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = build_index(docs, id_col="doc_id", text_col="text")
    pdf = spark.createDataFrame([(p,) for p in PREFIXES], "prefix string")
    out = prefix_suggestions(idx.term_dict, pdf, topn=5)
    return out.select(
        "prefix", F.col("rank").cast("int").alias("rank"), "suggestion",
        F.col("df").cast("bigint").alias("df"),
    )


_FACETS_SQL_DUCK = (
    _BM25_BODY.replace("{TOK}", tokens_sql("text"))
    .replace("{QTOK}", tokens_sql("qtext"))
    .replace("{STR}", "VARCHAR").replace("{UNNEST}", "unnest")
    + f"""
, top AS (SELECT query_id, doc_id FROM ranked WHERE rank <= {TOPK}),
j AS (
  SELECT t.query_id, d.lang, d.source
  FROM top t JOIN documents d USING (doc_id)
),
stacked AS (
  SELECT query_id, 'lang' AS facet,
         COALESCE(lang, '(none)') AS value FROM j
  UNION ALL
  SELECT query_id, 'source' AS facet,
         COALESCE(source, '(none)') AS value FROM j
)
SELECT query_id, facet, value, CAST(count(*) AS BIGINT) AS n
FROM stacked GROUP BY query_id, facet, value
"""
)


@register("serp_facets", _FACETS_SQL_DUCK)
def serp_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query facet counts over the BM25 top-k result set
    (facets.facet_counts): the ranked ids broadcast onto the documents
    metadata (lang, source), stack one row per facet, and aggregate on
    (query, facet, value) — the corpus never shuffles. NULL facet
    values count under '(none)' identically in both engines; the top-k
    set itself is the rank-pinned bm25_topk_engine set."""
    from .operators.facets import facet_counts
    from .operators.indexing import build_index
    from .operators.query import retrieve

    docs = _docs(spark, sf_dir)
    idx = build_index(docs.select("doc_id", "text"),
                      id_col="doc_id", text_col="text")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id string, text string"
    )
    res = retrieve(idx, queries, k=TOPK)
    return facet_counts(
        res, docs, facet_cols=["lang", "source"], id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# Related searches (PMI co-occurrence, operators/lm.py)
# ---------------------------------------------------------------------------

RELATED_SEEDS = ["hash", "merge", "window", "nosuchtermxyz"]
_SEED_VALUES_SQL = ", ".join(f"('{s}')" for s in RELATED_SEEDS)

_RELATED_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
),
pres AS (SELECT DISTINCT doc_id, term FROM tok),
dfx AS (SELECT term, count(*) AS df FROM pres GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
sd AS (SELECT seed FROM (VALUES {_SEED_VALUES_SQL}) AS v(seed)),
seed_docs AS (
  SELECT sd.seed, p.doc_id FROM sd JOIN pres p ON p.term = sd.seed
),
cooc AS (
  SELECT s.seed, p.term, count(*) AS cooc
  FROM seed_docs s JOIN pres p USING (doc_id)
  WHERE p.term <> s.seed
  GROUP BY s.seed, p.term HAVING count(*) >= 2
),
scored AS (
  SELECT c.seed, c.term, c.cooc,
         CAST(round(ln(CAST(n.n_docs AS DOUBLE) * c.cooc
                       / (ds.df * dt.df)) * 1000000) AS BIGINT)
           AS pmi_micro
  FROM cooc c
  JOIN dfx dt ON dt.term = c.term
  JOIN dfx ds ON ds.term = c.seed
  CROSS JOIN n
  WHERE dt.df <= floor(0.9 * n.n_docs)
),
ranked AS (
  SELECT seed, term, cooc, pmi_micro,
         row_number() OVER (
           PARTITION BY seed
           ORDER BY pmi_micro DESC, cooc DESC, term ASC
         ) AS rank
  FROM scored
)
SELECT seed, CAST(rank AS INT) AS rank, term, cooc, pmi_micro
FROM ranked WHERE rank <= 5
"""


@register("related_terms_pmi", _RELATED_SQL_DUCK)
def related_terms_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Related searches" (lm.related_terms): document-level PMI over
    presence pairs, seed side broadcast-anchored so co-occurrence is one
    doc_id equi-join bounded by the seeds' own posting sets — never a
    vocab × vocab pairing. Stopword-like candidates (df > 0.9n here —
    the synthetic corpus has a 31-term vocab with df ~0.78n, so the
    library default 0.5 would empty the lists) and
    singleton co-occurrences are dropped; ranking compares the
    micro-nat-rounded integer on both engines so no float enters the
    hash. The OOV seed contributes zero rows."""
    from .operators.lm import related_terms

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seeds = spark.createDataFrame(
        [(s,) for s in RELATED_SEEDS], "seed string"
    )
    return related_terms(docs, seeds, topn=5, min_cooc=2, max_df_frac=0.9)



_PACKED_TEXT_SQL_DUCK = f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql('text')} AS t
  FROM documents WHERE doc_id < 300
),
off AS (
  SELECT doc_id, t, len(t) AS dl,
         COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM tok
),
spans AS (
  SELECT doc_id, t, dl, off,
         unnest(range(CAST(off // {_PACK_LEN} AS BIGINT),
                      CAST((off + dl - 1) // {_PACK_LEN} + 1 AS BIGINT)))
           AS seq_id
  FROM off WHERE dl > 0
),
frags AS (
  SELECT seq_id,
         greatest(0, off - seq_id * {_PACK_LEN}) AS seq_off,
         list_slice(t,
             greatest(0, seq_id * {_PACK_LEN} - off) + 1,
             least(dl, (seq_id + 1) * {_PACK_LEN} - off)) AS frag,
         least(dl, (seq_id + 1) * {_PACK_LEN} - off)
           - greatest(0, seq_id * {_PACK_LEN} - off) AS flen
  FROM spans
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(flen) AS BIGINT) AS n_filled,
       string_agg(array_to_string(frag, ' '), ' ' ORDER BY seq_off)
         AS seq_text
FROM frags GROUP BY seq_id
"""


@register("packed_sequences", _PACKED_TEXT_SQL_DUCK)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training examples (packing.materialize_packed
    over the pack_sequences plan): per-sequence space-joined token
    payload assembled from per-span slices — the plan joins the corpus
    on the doc key, spans slice JVM-side, one shuffle on seq_id
    reassembles fragments in seq_off order (sort_array over structs, no
    Window). The oracle re-derives the whole chain with a window cumsum
    + list_slice + ordered string_agg; the value hash pins every token
    of every sequence."""
    from .operators.packing import materialize_packed, pack_sequences

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    plan = pack_sequences(docs, seq_len=_PACK_LEN)
    return materialize_packed(docs, plan, seq_len=_PACK_LEN)

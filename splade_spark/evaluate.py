"""NanoBEIR-style retrieval-quality harness.

Reproduces the reference's evaluation loop shape
(/root/reference/script/evaluate.py:150-258: retrieve per query set →
torchmetrics collection at the k_list cutoffs → one metrics JSON from the
driver) over this engine's three retrieval surfaces:

- ``wand``        — block-max pruned batch retrieval (the engine default)
- ``exhaustive``  — the unpruned decode+aggregate plan
- ``served``      — the sharded broker fan-out/merge (the serving tier)

All three are exactness-contracted to identical rankings, so the harness
doubles as an end-to-end parity gate: every metric at every cutoff must
agree bit-for-bit across strategies, and the per-(query, doc) rankings
are compared directly as well. A pruning bug that torchmetrics-style
averages would wash out shows up as a parity failure here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT, EngineConfig
from .operators.indexing import InvertedIndex, build_index
from .operators.metrics import retrieval_metrics
from .operators.query import retrieve
from .session import local_frame

STRATEGIES = ("wand", "exhaustive", "served")

_RESULT_SCHEMA = "query_id string, rank int, doc_id string, score float"


def strategy_results(
    spark: SparkSession,
    index: InvertedIndex,
    queries: DataFrame,
    k: int,
    strategy: str,
    n_shards: int = 4,
) -> DataFrame:
    """(query_id, rank, doc_id, score float32) for one retrieval surface.

    ``served`` routes each query through a :class:`ShardedServer` broker
    (demo-scale in-memory constructor — the fleet path is ``save_sharded``
    + ``from_saved``, same merge logic)."""
    if strategy in ("wand", "exhaustive"):
        res = retrieve(index, queries, k=k, strategy=strategy)
        return res.select(
            "query_id", "rank",
            res["doc_id"].cast("string").alias("doc_id"), "score",
        )
    if strategy != "served":
        raise ValueError(f"unknown strategy {strategy!r}")
    from .operators.sharding import ShardedServer

    broker = ShardedServer(index, n_shards)
    rows = []
    for r in queries.collect():
        for rank, (doc_id, score) in enumerate(
            broker.search(r["text"], k=k), start=1
        ):
            rows.append((r["query_id"], rank, str(doc_id), float(score)))
    return local_frame(spark, rows, _RESULT_SCHEMA)


def evaluate_retrieval(
    spark: SparkSession,
    docs: DataFrame,
    queries: DataFrame,
    qrels: DataFrame,
    cfg: EngineConfig = DEFAULT,
    strategies: tuple = STRATEGIES,
    n_shards: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Full report: per-strategy metrics at every cfg.k_list cutoff plus
    cross-strategy parity verdicts.

    Returns ``{"metrics": {strategy: {"Metric@k": value}},
    "parity": {"a==b": bool}, "k": depth, "n_queries": n}``. Retrieval
    depth is max(k_list) so every cutoff is fully populated (the
    reference evaluates its k_list from one retrieval pass the same way).
    """
    depth = max(cfg.k_list)
    index = build_index(docs, id_col=id_col, text_col=text_col, cfg=cfg)
    rankings: dict[str, list] = {}
    metrics: dict[str, dict] = {}
    for s in strategies:
        res = strategy_results(spark, index, queries, depth, s, n_shards)
        res = res.localCheckpoint(eager=True)
        rankings[s] = sorted(
            (r["query_id"], r["rank"], r["doc_id"], float(r["score"]))
            for r in res.collect()
        )
        metrics[s] = {
            f"{r['metric']}@{r['k']}": float(r["value"])
            for r in retrieval_metrics(res, qrels, cfg).collect()
        }
    parity = {}
    base = strategies[0]
    for s in strategies[1:]:
        parity[f"{base}=={s}"] = (
            rankings[base] == rankings[s] and metrics[base] == metrics[s]
        )
    return {
        "metrics": metrics,
        "parity": parity,
        "k": depth,
        "n_queries": queries.count(),
    }

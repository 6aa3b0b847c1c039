"""Broker shard routing: rank-identical to the full fan-out, fewer shards."""

import pytest

from splade_spark.operators.indexing import build_index
from splade_spark.operators.query import LocalIndexServer
from splade_spark.operators.sharding import ShardedServer

# 64 docs; doc_idx order == doc_id string order, so a 4-way doc-range
# shard holds 16 consecutive docs. Each quarter gets a private marker
# term; common terms span all shards.
MARKERS = ["alpha", "bravo", "charlie", "delta"]
DOCS = [
    (
        f"d{i:03d}",
        f"{MARKERS[i // 16]} common shared text row value "
        f"extra{i % 7} filler{i % 3}",
    )
    for i in range(64)
]

QUERIES = [
    "alpha",                 # one shard holds every posting
    "bravo extra1",          # rare + scattered
    "common shared",         # every shard
    "delta alpha",           # two shards
    "nosuchtermzz",          # nothing anywhere
    "charlie filler2 row",
]


@pytest.fixture(scope="module")
def served(spark):
    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    idx = build_index(docs)
    broker = ShardedServer(idx, n_shards=4)
    single = LocalIndexServer(idx)
    yield broker, single
    idx.unpersist()


def test_routing_rank_identical(served):
    broker, single = served
    for q in QUERIES:
        routed = broker.search(q, k=10)
        full = single.search(q, k=10)
        assert routed == full, q
        # route=False fan-out agrees too
        qtf = {}
        for t in q.split():
            tid = single.term_info.get(t)
            if tid is not None:
                qtf[tid] = qtf.get(tid, 0.0) + 1.0
        assert broker.search_ids(qtf, 10, route=False) == routed, q


def test_routing_skips_dead_shards(served):
    broker, single = served
    # marker term lives in exactly one shard's doc range
    broker.search("alpha", k=10)
    assert broker.last_shards_visited == 1
    # two markers -> at most two shards touched
    broker.search("delta alpha", k=10)
    assert broker.last_shards_visited <= 2
    # OOV query touches nothing
    assert broker.search("nosuchtermzz", k=10) == []
    assert broker.last_shards_visited == 0


def test_routing_visits_all_when_needed(served):
    broker, _ = served
    # k large enough that every shard must contribute candidates
    res = broker.search("common", k=64)
    assert broker.last_shards_visited == 4
    assert len(res) == 64


def test_routing_bound_rank_safe_under_f32_rounding(served):
    """Randomized ulp stress: the broker bound must dominate every doc
    score on its shard. The bound mirrors _wand_topk: a float64 sum of
    f32 products, downcast to f32 before the strict theta compare (see
    the next test for why the downcast is needed)."""
    import numpy as np

    broker, single = served
    rng = np.random.RandomState(7)
    tids = sorted(single.term_info.values())
    for trial in range(200):
        n = rng.randint(1, 6)
        picks = rng.choice(tids, size=n, replace=False)
        # weights near f32 rounding boundaries (odd mantissas, tiny and
        # large magnitudes mixed) to stress product rounding direction
        ws = rng.choice(
            [0.1, 0.3, 0.7, 1.0, 3.0000002, 1e-3, 97.3], size=n
        ) * (1.0 + rng.uniform(-1e-7, 1e-7, size=n))
        qtf = {int(t): float(w) for t, w in zip(picks, ws)}
        routed = broker.search_ids(qtf, 5, route=True)
        full = broker.search_ids(qtf, 5, route=False)
        assert routed == full, (trial, qtf)


def test_bound_downcast_keeps_theta_tying_shard_visitable():
    """The broker bound MUST be the f32 downcast of the f64 sum of f32
    products: a ceiling doc's served score is f32(sum), which can round
    UP above the raw f64 sum — comparing the raw f64 bound against a
    theta equal to that score would skip a shard whose doc ties theta
    (and could win the doc_idx tie-break). Numeric witness: products
    1.0 and 3*2^-24 put the f64 sum half an ulp BELOW its own f32
    rounding."""
    import numpy as np

    prods = [
        np.float32(np.float32(1.0) * np.float32(1.0)),
        np.float32(np.float32(1.0) * np.float32(3 * 2.0 ** -24)),
    ]
    ub64 = float(np.float64(prods[0]) + np.float64(prods[1]))
    ceiling_score = np.float32(ub64)  # what _wand_topk returns for it
    theta = ceiling_score
    # implemented bound (f32 downcast): tie stays visitable
    assert not (np.float32(ub64) < theta)
    # raw f64 bound would have skipped the tying shard
    assert ub64 < float(theta)

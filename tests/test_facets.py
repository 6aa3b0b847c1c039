"""facet_counts (operators/facets.py) guards and small-case semantics
(the serp_facets oracle entry pins the full composition over BM25)."""

import pytest

from splade_spark.operators.facets import facet_counts
from splade_spark.operators.spell import prefix_suggestions


@pytest.fixture(scope="module")
def frames(spark):
    results = spark.createDataFrame(
        [("q1", 1), ("q1", 2), ("q1", 3), ("q2", 2)],
        "query_id string, doc_id int",
    )
    meta = spark.createDataFrame(
        [(1, "en", "web"), (2, None, "web"), (3, "de", "news")],
        "doc_id int, lang string, source string",
    )
    return results, meta


def test_facet_counts_values(spark, frames):
    results, meta = frames
    got = {
        (r["query_id"], r["facet"], r["value"]): r["n"]
        for r in facet_counts(
            results, meta, facet_cols=["lang", "source"]
        ).collect()
    }
    assert got == {
        ("q1", "lang", "en"): 1,
        ("q1", "lang", "(none)"): 1,
        ("q1", "lang", "de"): 1,
        ("q1", "source", "web"): 2,
        ("q1", "source", "news"): 1,
        ("q2", "lang", "(none)"): 1,
        ("q2", "source", "web"): 1,
    }


def test_facet_counts_guards(spark, frames):
    results, meta = frames
    with pytest.raises(ValueError):
        facet_counts(results, meta, facet_cols=[])
    with pytest.raises(ValueError):
        facet_counts(results, meta, facet_cols=["nosuchcol"])


def test_prefix_suggestions_rules(spark):
    term_dict = spark.createDataFrame(
        [("hash", 1, 30), ("hashes", 2, 10), ("hat", 3, 30), ("sort", 4, 5)],
        "term string, term_id long, df long",
    )
    prefixes = spark.createDataFrame(
        [("ha",), ("hash",), ("",), ("zz",)], "prefix string"
    )
    got = {
        (r["prefix"], r["rank"]): (r["suggestion"], r["df"])
        for r in prefix_suggestions(term_dict, prefixes, topn=2).collect()
    }
    # df desc then term asc; exact match counts as its own completion;
    # empty prefix dropped; no-match prefix contributes nothing
    assert got == {
        ("ha", 1): ("hash", 30),
        ("ha", 2): ("hat", 30),
        ("hash", 1): ("hash", 30),
        ("hash", 2): ("hashes", 10),
    }


def test_prefix_suggestions_plans_no_nested_loop_join(spark):
    term_dict = spark.createDataFrame(
        [("hash", 1, 30), ("hat", 2, 30), ("sort", 3, 5)],
        "term string, term_id long, df long",
    )
    prefixes = spark.createDataFrame([("ha",), ("so",)], "prefix string")
    out = prefix_suggestions(term_dict, prefixes, topn=2)
    assert len(out.collect()) == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan

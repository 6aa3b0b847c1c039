"""Web-URL curation operators: hand-pinned canonicalization cases,
snapshot-dedup semantics, host stats (operators/weburl.py)."""

import datetime

from pyspark.sql import functions as F

from splade_spark.operators.weburl import (
    canonicalize_url,
    host_of,
    host_stats,
    latest_snapshot,
)

# (raw, expected_canonical) — each case isolates one rule
CANON_CASES = [
    # case folding of scheme+host, path case preserved
    ("HTTPS://ExAmple.ORG/A/b", "https://example.org/A/b"),
    # fragment stripped
    ("https://example.org/p#frag", "https://example.org/p"),
    # www. stripped
    ("https://www.example.org/p", "https://example.org/p"),
    # default ports stripped, per scheme
    ("https://example.org:443/p", "https://example.org/p"),
    ("http://example.org:80/p", "http://example.org/p"),
    # non-default ports kept
    ("http://example.org:8080/p", "http://example.org:8080/p"),
    ("https://example.org:80/p", "https://example.org:80/p"),
    # trailing slash stripped once; bare host -> "/"
    ("https://example.org/a/b/", "https://example.org/a/b"),
    ("https://example.org", "https://example.org/"),
    ("https://example.org/", "https://example.org/"),
    # tracking params dropped, survivors sorted; dangling ? dropped
    (
        "https://example.org/p?utm_source=x&b=2&a=1",
        "https://example.org/p?a=1&b=2",
    ),
    ("https://example.org/p?utm_campaign=x&ref=y", "https://example.org/p"),
    ("https://example.org/p?fbclid=1&gclid=2&z=3", "https://example.org/p?z=3"),
    # ref= is a tracking key but a VALUE containing 'ref=' is not a key match
    ("https://example.org/p?a=ref%3Dx", "https://example.org/p?a=ref%3Dx"),
    # everything at once
    (
        "HTTP://WWW.Site.Example.COM:80/Dir/page/?utm_medium=m&q=1#top",
        "http://site.example.com/Dir/page?q=1",
    ),
    # non-absolute input returned unchanged
    ("not a url", "not a url"),
    ("/relative/path?utm_source=x", "/relative/path?utm_source=x"),
]


def test_canonicalize_pinned_cases(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(CANON_CASES)], "i int, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url("url").alias("c")).collect()
    }
    for i, (raw, want) in enumerate(CANON_CASES):
        assert got[i] == want, f"{raw!r}: {got[i]!r} != {want!r}"


def test_canonicalize_idempotent(spark):
    df = spark.createDataFrame(
        [(raw,) for raw, _ in CANON_CASES], "url string"
    ).select(canonicalize_url("url").alias("c1"))
    twice = df.select("c1", canonicalize_url("c1").alias("c2"))
    assert all(r["c1"] == r["c2"] for r in twice.collect())


def test_host_of(spark):
    cases = [
        ("HTTPS://WWW.Example.ORG:443/p", "example.org"),
        ("http://sub.Site.com:8080/", "sub.site.com"),
        ("nonsense", ""),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    assert all(
        r["h"] == r["want"]
        for r in df.select(host_of("url").alias("h"), "want").collect()
    )


def test_latest_snapshot_keeps_newest_and_breaks_ties(spark):
    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # three spellings of one URL; newest is id=3
        (1, "https://www.a.org/p?utm_source=x", ts(10)),
        (2, "HTTPS://A.ORG/p", ts(20)),
        (3, "https://a.org/p/", ts(30)),
        # timestamp tie on b.org -> higher tie_col wins
        (4, "https://b.org/q", ts(5)),
        (5, "https://b.org/q", ts(5)),
        # singleton survives untouched
        (6, "https://c.org/r", ts(1)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts timestamp")
    kept = latest_snapshot(df, tie_col="doc_id").select(
        "canonical_url", "doc_id"
    )
    got = {r["canonical_url"]: r["doc_id"] for r in kept.collect()}
    assert got == {
        "https://a.org/p": 3,
        "https://b.org/q": 5,
        "https://c.org/r": 6,
    }


def test_host_stats_aggregates(spark):
    rows = [
        ("https://WWW.H1.org/a", "xxxx", "en"),
        ("https://h1.ORG/b", "yyyyyy", "de"),
        ("https://h2.org/c", "zz", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    got = {r["host"]: r.asDict() for r in host_stats(df).collect()}
    assert got["h1.org"]["n_docs"] == 2
    assert got["h1.org"]["total_chars"] == 10
    assert got["h1.org"]["avg_chars_milli"] == 5000
    assert got["h1.org"]["n_langs"] == 2
    assert got["h2.org"]["n_docs"] == 1
    assert got["h2.org"]["n_langs"] == 1


def test_host_stats_avg_chars_half_tie(spark):
    """Exact .5 ties in avg_chars_milli round up. t.org: 16 docs of total
    length 1, mean 62.5 → 63. u.org: 80 docs of total length 323, mean
    4037.5 → 4038, where a float mean × 1000 reads 4037.4999999999995."""
    rows = [(f"https://t.org/p{i}", "x" if i == 0 else "") for i in range(16)]
    sizes = [100, 100, 100, 23] + [0] * 76
    rows += [(f"https://u.org/p{i}", "x" * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["host"]: (r["n_docs"], r["total_chars"], r["avg_chars_milli"])
           for r in host_stats(df, lang_col=None).collect()}
    assert got == {"t.org": (16, 1, 63), "u.org": (80, 323, 4038)}


def test_host_stats_no_lang(spark):
    df = spark.createDataFrame(
        [("https://h.org/a", "abc")], "url string, text string"
    )
    out = host_stats(df, lang_col=None)
    assert "n_langs" not in out.columns
    assert out.collect()[0]["n_docs"] == 1

"""Web-URL curation operators: canonicalization, snapshot dedup, host stats.

A Common-Crawl-style corpus (BASELINE.json input_hint: ``url, warc_ts,
html, text, lang``) is keyed by URL, and the first curation stages any
crawl pipeline runs are URL-shaped:

- ``canonicalize_url``: normalize a raw URL to its canonical form so that
  trivially-distinct spellings of the same page (case, default ports,
  tracking params, fragments, trailing slash) collapse to one key. Pure
  ``Column`` expressions — zero shuffle, whole-stage codegen, no Python.
- ``latest_snapshot``: the crawl stores many snapshots of the same URL
  over time; keep exactly the newest row per canonical URL. One
  hash-partitioned window (``partitionBy(url)``) — no global sort, scales
  with the number of distinct URLs.
- ``host_stats``: per-host corpus aggregates (doc count, size, language
  spread) — the grouping a host-level spam/quality filter consumes.
  Map-side partial aggregation; the shuffle carries one row per
  (partition, host).

Reference anchor: the reference corpus loader keys documents by their
collection id / url string (/root/reference/src/data/dataset/base.py) but
has no URL normalization of its own — these operators are the engine's
web-corpus additions, not ports.

Canonicalization rules (SURT-adjacent, each independently testable):
  1. strip the ``#fragment``
  2. lowercase scheme and host
  3. drop a leading ``www.`` on the host
  4. strip the scheme's default port (``:80`` http, ``:443`` https)
  5. path: strip one trailing ``/``; empty path becomes ``/``
  6. query: drop tracking params (``utm_*``, ``fbclid``, ``gclid``,
     ``msclkid``, ``ref``), sort the survivors byte-wise, rejoin; an
     emptied query string drops its ``?``

At 100 TB every rule is a regexp/array expression on the scan — the whole
canonicalization runs inside one codegen stage with no exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tracking-parameter keys dropped by rule 6 (key= prefix match)
TRACKING_PARAM_RE = "^(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid|ref)="

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_HOSTPORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
# path+query = everything after host up to the fragment
_REST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"


def host_of(url) -> Column:
    """Lowercased host (port and leading ``www.`` stripped) of a URL."""
    hostport = F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))
    host = F.regexp_replace(hostport, ":[0-9]+$", "")
    return F.regexp_replace(host, r"^www\.", "")


def canonicalize_url(url) -> Column:
    """Canonical form of ``url`` per the module rules. Pure Column expr.

    Non-absolute inputs (no ``scheme://``) are returned unchanged — the
    caller decides whether to drop them (``canonical != url`` never holds
    vacuously for them).
    """
    url = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(url, "#.*$", "")

    scheme = F.lower(F.regexp_extract(no_frag, _SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(no_frag, _HOSTPORT_RE, 1))
    rest = F.regexp_extract(no_frag, _REST_RE, 1)

    port = F.regexp_extract(hostport, ":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, ":[0-9]+$", ""), r"^www\.", ""
    )
    default_port = F.when(scheme == "http", "80").when(
        scheme == "https", "443"
    ).otherwise("")
    keep_port = (port != "") & (port != default_port)

    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)

    # rule 5: one trailing slash off, empty -> "/"
    path = F.regexp_replace(path, "/$", "")
    path = F.when(path == "", "/").otherwise(path)

    # rule 6: drop tracking params, sort survivors, rejoin
    kept = F.array_join(
        F.sort_array(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )

    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(""),
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(""),
    )
    return F.when(scheme == "", url).otherwise(canon)


def latest_snapshot(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    tie_col: str | None = None,
) -> DataFrame:
    """Keep the newest snapshot per canonical URL.

    Adds ``canonical_url`` and filters to the row with the greatest
    ``ts_col`` per canonical URL; ties break on ``tie_col`` descending
    (required when timestamps can collide — pass the crawl's record id)
    else on the raw URL string ascending, so the survivor is always
    deterministic.

    Scale shape: one window partitioned by canonical_url — a single
    hash shuffle on the dedup key, no global ordering. Skewed hot URLs
    bound each task by that URL's snapshot count, which AQE skew-split
    handles; nothing here collects to the driver.
    """
    tie = F.col(tie_col).desc() if tie_col else F.col(url_col).asc()
    w = (
        Window.partitionBy("canonical_url")
        .orderBy(F.col(ts_col).desc(), tie)
    )
    return (
        pages.withColumn("canonical_url", canonicalize_url(url_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def host_stats(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-host corpus aggregates: ``host, n_docs, total_chars,
    avg_chars_milli, n_langs`` (n_langs only when ``lang_col`` given).

    The consuming stage is a host-level quality/spam filter (drop hosts
    with huge near-identical page counts, tiny average text, …). All
    aggregates are algebraic → map-side partial aggregation; the shuffle
    is one row per (input partition, host).
    """
    base = pages.withColumn("host", host_of(url_col)).withColumn(
        "__chars", F.length(text_col).cast("long")
    )
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("__chars").alias("total_chars"),
        # mean × 1000 rounded half-up in BIGINT arithmetic: round() of a
        # float mean can land on either side of a .5 tie
        F.expr("(2000 * sum(__chars) + count(*)) div (2 * count(*))")
        .alias("avg_chars_milli"),
    ]
    if lang_col is not None:
        aggs.append(F.countDistinct(lang_col).alias("n_langs"))
    return base.groupBy("host").agg(*aggs)

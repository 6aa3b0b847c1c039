"""Integer-exact ratios of the query registry (entry_queries): the Spark
SQL and DuckDB forms of ``_half_up_ratio`` (used by ``corpus_stats``
avgdl_micro and ``packing_stats`` fill_rate_milli) against exact
rational rounding."""

import math
from fractions import Fraction

import duckdb

from splade_spark.entry_queries import _half_up_ratio

# (num, den, scale); the first two are exact .5 ties whose float form
# num / den * scale lands just below the tie (64062.4999…, 4037.4999…)
PAIRS = [
    (41, 640, 10**6),
    (323, 80, 1000),
    (1, 128, 10**6),      # 7812.5, exact in binary
    (0, 7, 10**6),
    (7, 7, 1000),
    (2, 3, 1000),         # 666.67 → 667
    (1, 3, 1000),         # 333.33 → 333
    (10**9 + 7, 3, 10**6),
    (12_345_678_901, 64 * 1_234, 1000),
]


def _half_up(num: int, den: int, scale: int) -> int:
    return math.floor(Fraction(num * scale, den) + Fraction(1, 2))


def test_half_up_ratio_spark_and_duckdb_match_exact_rounding(spark):
    want = {(n, d, s): _half_up(n, d, s) for n, d, s in PAIRS}
    assert [want[p] for p in PAIRS[:2]] == [64063, 4038]
    got_spark = spark.createDataFrame(
        PAIRS, "num bigint, den bigint, scale bigint"
    ).selectExpr(
        "num", "den", "scale",
        f"CAST({_half_up_ratio('num', 'den', 'scale')} AS BIGINT)",
    ).collect()
    values = ", ".join(f"({n}, {d}, {s})" for n, d, s in PAIRS)
    got_duck = duckdb.sql(
        "SELECT num, den, scale,"
        f" CAST({_half_up_ratio('num', 'den', 'scale', '//')} AS BIGINT)"
        " FROM (SELECT CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,"
        " CAST(scale AS BIGINT) AS scale"
        f" FROM (VALUES {values}) AS v(num, den, scale))"
    ).fetchall()
    assert {tuple(r[:3]): r[3] for r in got_spark} == want
    assert {tuple(r[:3]): r[3] for r in got_duck} == want

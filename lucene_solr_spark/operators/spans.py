"""Span (positional) queries over the flat index's positions arrays.

Reference: lucene/core/src/java/org/apache/lucene/search/spans/
(SpanNearQuery, SpanOrQuery, ...). The Spark expression of the span
algebra: join the two terms' postings on docid (phase 1, cheap), then
count position pairs satisfying the window constraint with a JVM-side
array expression (phase 2) — the TwoPhaseIterator pattern
(search/TwoPhaseIterator.java) without any Python in the loop.
These operators count spans for the oracled span_* queries; SpanNearQ
and nested-span MATCHING is the positional match layer
(search/executor.py, search/spannest.py) that both searchers run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables


def span_near_pairs(index: IndexTables, first: str, second: str,
                    slop: int = 0, in_order: bool = True) -> DataFrame:
    """(docid, pairs): number of (p1, p2) occurrence pairs with
    0 < p2 - p1 <= slop + 1 (in_order) or 0 < |p2 - p1| <= slop + 1
    (unordered). slop=0 in_order == exact adjacency (phrase shape).
    The pair-count operator behind the oracled ``span_near`` query; it
    does not define SpanNearQ matching, which is
    executor.span_near_match in both the segment kernel and the flat
    executor."""
    a = index.postings.where(F.col("term") == first).select(
        "docid", F.col("positions").alias("p1"))
    b = index.postings.where(F.col("term") == second).select(
        "docid", F.col("positions").alias("p2"))
    j = a.join(b, "docid")
    # count pairs via a fold over p1 x filtered p2 — Catalyst
    # higher-order functions, no UDF
    if in_order:
        cond = lambda x, y: (y > x) & (y <= x + F.lit(slop + 1))  # noqa: E731
    else:
        cond = lambda x, y: (F.abs(y - x) <= F.lit(slop + 1)) & (y != x)  # noqa: E731
    pairs = F.aggregate(
        F.col("p1"), F.lit(0),
        lambda acc, x: acc + F.size(F.filter(F.col("p2"), lambda y: cond(x, y))),
    )
    return j.select("docid", pairs.alias("pairs")).where(F.col("pairs") > 0)


def span_or_count(index: IndexTables, terms: list[str]) -> DataFrame:
    """SpanOrQuery (spans/SpanOrQuery.java): the union of the clauses'
    spans. For term spans the matches per doc are the union of the
    terms' position sets; returns (docid, n_spans) — one scan, explode
    + distinct, no UDF."""
    p = (index.postings.where(F.col("term").isin(list(terms)))
         .select("docid", F.explode("positions").alias("pos"))
         .distinct())
    return p.groupBy("docid").agg(F.count(F.lit(1)).alias("n_spans"))


def span_containing(index: IndexTables, big_first: str, big_second: str,
                    big_slop: int, little: str,
                    within: bool = False) -> DataFrame:
    """SpanContainingQuery / SpanWithinQuery (spans/
    SpanContainingQuery.java, SpanWithinQuery.java): ``big`` spans are
    the ordered near-pairs (big_first .. big_second within big_slop);
    ``little`` is a term span. containing: count of big spans
    [p1, p2] that enclose a little position (p1 <= pos <= p2);
    within=True flips it to the little positions enclosed by some big
    span. Pure Catalyst array algebra. Returns (docid, n_spans)."""
    a = index.postings.where(F.col("term") == big_first).select(
        "docid", F.col("positions").alias("p1"))
    b = index.postings.where(F.col("term") == big_second).select(
        "docid", F.col("positions").alias("p2"))
    c = index.postings.where(F.col("term") == little).select(
        "docid", F.col("positions").alias("pl"))
    j = a.join(b, "docid").join(c, "docid")
    # big spans: for each x in p1, the FIRST y in p2 with
    # x < y <= x + slop + 1 (the minimal ordered near-span at x)
    span_end = lambda x: F.array_min(F.filter(  # noqa: E731
        F.col("p2"), lambda y: (y > x) & (y <= x + F.lit(big_slop + 1))))
    if within:
        n = F.size(F.filter(
            F.col("pl"),
            lambda z: F.exists(
                F.col("p1"),
                lambda x: span_end(x).isNotNull()
                & (x <= z) & (z <= span_end(x)))))
    else:
        n = F.size(F.filter(
            F.col("p1"),
            lambda x: span_end(x).isNotNull()
            & F.exists(F.col("pl"),
                       lambda z: (x <= z) & (z <= span_end(x)))))
    return j.select("docid", n.alias("n_spans")).where(F.col("n_spans") > 0)


def span_not_pairs(index: IndexTables, include: str, exclude: str,
                   pre: int = 0, post: int = 0) -> DataFrame:
    """SpanNotQuery (spans/SpanNotQuery.java): spans of ``include``
    with NO ``exclude`` span inside [start - pre, end + post]. For
    term spans: include positions x such that no exclude position lies
    in [x - pre, x + post]. Docs without any exclude posting keep all
    their spans (left join + empty-array coalesce). Returns
    (docid, kept)."""
    a = index.postings.where(F.col("term") == include).select(
        "docid", F.col("positions").alias("p1"))
    b = index.postings.where(F.col("term") == exclude).select(
        "docid", F.col("positions").alias("p2"))
    j = a.join(b, "docid", "left")
    p2 = F.coalesce(F.col("p2"), F.array().cast("array<int>"))
    kept = F.size(F.filter(
        F.col("p1"),
        lambda x: F.size(F.filter(
            p2, lambda y: (y >= x - F.lit(pre)) & (y <= x + F.lit(post)))) == 0))
    return j.select("docid", kept.alias("kept")).where(F.col("kept") > 0)

"""Driver-surface extension: operators added after the first 48
(SURVEY §2.2 spans/dismax/synonym/req-opt, §2.4 block join, §2.5
stats percentile/cardinality, §2.6 export/diversified/rerank, §2.13
suggest/spellcheck/MLT/highlight, the segment-index read path, IVF/LSH
ANN and multimodal plumbing). Registered into driver_surface's
QUERIES/ORACLES registry; same determinism contract (integers,
quantized doubles, deterministic tie-breaks).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lucene_solr_spark.driver_surface import (
    FT_BASE,
    _BM25_S,
    _STOP_SQL,
    _docs_index,
    _ft_scored,
    _load,
    _register,
    _topk_sql,
)
from lucene_solr_spark.operators import multimodal as MM
from lucene_solr_spark.operators import searchext as SX
from lucene_solr_spark.operators import similarity as SIM
from lucene_solr_spark.operators.spans import span_near_pairs
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.search.executor import Searcher

Q = 1_000_000


def _quantize_topk(m: DataFrame, k: int) -> DataFrame:
    m = m.withColumn("score_q", F.floor(F.col("score") * Q).cast("long"))
    top = m.orderBy(F.desc("score_q"), F.asc("docid")).limit(k)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("docid").alias("doc_id"), "score_q", "rank")


# ---- §2.2 spans / advanced boolean scorers --------------------------------

def _span_near(spark, sf):
    idx = _docs_index(spark, sf)
    return span_near_pairs(idx, "hash", "join", slop=2, in_order=True).select(
        F.col("docid").alias("doc_id"), F.col("pairs").cast("long").alias("pairs"))


_register("span_near", _span_near, f"""
WITH {FT_BASE}
SELECT p1.doc_id, count(*)::BIGINT AS pairs
FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
  ON p1.doc_id = p2.doc_id AND p2.pos > p1.pos AND p2.pos <= p1.pos + 3
GROUP BY p1.doc_id
""")


def _dismax(spark, sf):
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.DisMaxQ((A.TermQ("scan"), A.TermQ("slow")), tie_breaker=0.5))
    return _quantize_topk(m, 10)


_register("dismax", _dismax, f"""
WITH {FT_BASE}, {_ft_scored(['scan', 'slow'])},
agg AS (
  SELECT doc_id,
         CAST(floor((max(s) + 0.5 * (sum(s) - max(s))) * 1000000) AS BIGINT)
         AS score_q
  FROM scored GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _synonym(spark, sf):
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.SynonymQ(("scan", "sort")))
    return _quantize_topk(m, 10)


_register("synonym", _synonym, f"""
WITH {FT_BASE},
syn AS (
  SELECT doc_id, sum(tf)::DOUBLE AS tf FROM postings
  WHERE term IN ('scan','sort') GROUP BY doc_id
),
dfm AS (SELECT max(df)::DOUBLE AS df FROM tstats WHERE term IN ('scan','sort')),
agg AS (
  SELECT syn.doc_id,
         CAST(floor(ln(1 + (cs.n - dfm.df + 0.5)/(dfm.df + 0.5)) * 2.2 * syn.tf
              / (syn.tf + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM syn JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN dfm
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _req_opt(spark, sf):
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.ReqOptQ(A.TermQ("merge"), A.TermQ("scan")))
    return _quantize_topk(m, 10)


_register("req_opt", _req_opt, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'scan'])},
req AS (SELECT doc_id, s FROM scored WHERE term = 'merge'),
opt AS (SELECT doc_id, s FROM scored WHERE term = 'scan'),
agg AS (
  SELECT r.doc_id,
         CAST(floor((r.s + coalesce(o.s, 0)) * 1000000) AS BIGINT) AS score_q
  FROM req r LEFT JOIN opt o USING (doc_id)
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- §2.13 suggest / spellcheck / MLT / highlight --------------------------

def _suggest(spark, sf):
    out = SX.suggest_prefix(_docs_index(spark, sf), "s", k=10)
    return out.select("term", "weight", F.col("rank").cast("long").alias("rank"))


_register("suggest_prefix", _suggest, f"""
WITH {FT_BASE},
sug AS (SELECT term, count(*)::BIGINT AS weight FROM postings
        WHERE term LIKE 's%' GROUP BY term)
SELECT term, weight, row_number() OVER (ORDER BY weight DESC, term) AS rank
FROM sug QUALIFY rank <= 10
""")


def _spellcheck(spark, sf):
    out = SX.spellcheck(_docs_index(spark, sf), "merg", max_edits=2, k=5)
    return out.select("term", "df", F.col("dist").cast("long").alias("dist"),
                      F.col("rank").cast("long").alias("rank"))


_register("spellcheck", _spellcheck, f"""
WITH {FT_BASE},
t AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term),
c AS (SELECT term, df, levenshtein(term, 'merg')::BIGINT AS dist FROM t
      WHERE levenshtein(term, 'merg') <= 2 AND term <> 'merg')
SELECT term, df, dist,
       row_number() OVER (ORDER BY dist, df DESC, term) AS rank
FROM c QUALIFY rank <= 5
""")


def _mlt(spark, sf):
    out = SX.more_like_this_terms(_docs_index(spark, sf), doc_id=0,
                                  max_terms=10, min_df=2)
    return out.select("term", "score_q", F.col("rank").cast("long").alias("rank"))


_register("more_like_this", _mlt, f"""
WITH {FT_BASE},
mine AS (SELECT term, tf::DOUBLE AS tf FROM postings WHERE doc_id = 0),
sc AS (
  SELECT m.term,
         CAST(floor(m.tf * ln(1 + cs.n / (ts.df + 1)) * 1000000) AS BIGINT)
         AS score_q
  FROM mine m JOIN tstats ts USING (term) CROSS JOIN cstats cs
  WHERE ts.df >= 2
)
SELECT term, score_q, row_number() OVER (ORDER BY score_q DESC, term) AS rank
FROM sc QUALIFY rank <= 10
""")


_OFF_INDEX_CACHE: dict[str, object] = {}


def _docs_index_offsets(spark, sf):
    """Offsets-enabled flat index over documents (cached per sf) — the
    .pay-analogue postings used by offset-based highlighting."""
    if sf not in _OFF_INDEX_CACHE:
        from lucene_solr_spark.index.builder import build_index

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        idx = build_index(docs, key_col="doc_id", text_col="text",
                          precomputed_docid="doc_id",
                          with_offsets=True).cache()
        idx.docs.count()
        _OFF_INDEX_CACHE[sf] = idx
    return _OFF_INDEX_CACHE[sf]


def _highlight(spark, sf):
    """Offset-based highlighting: the snippet window comes from the
    indexed offsets stream (first token occurrence), token-accurate —
    the unified highlighter's OffsetSource.POSTINGS strategy."""
    idx = _docs_index_offsets(spark, sf)
    docs = _load(spark, sf, "documents")
    return SX.highlight_offsets(idx, docs, "merge", radius=12).select(
        "doc_id", "off", "snippet")


_register("highlight", _highlight, f"""
WITH {FT_BASE},
firstk AS (SELECT doc_id, min(pos) AS k FROM tok WHERE term='merge'
           GROUP BY doc_id),
offs AS (
  SELECT d.doc_id, d.text,
         CASE WHEN f.k = 0 THEN 0
              ELSE len(array_to_string(string_split(d.text, ' ')[1:f.k], ' ')) + 1
         END AS st
  FROM documents d JOIN firstk f USING (doc_id)
)
SELECT doc_id, (st + 1)::BIGINT AS off,
       substr(text, greatest(1, st + 1 - 12),
              (st + 5 + 12) - greatest(1, st + 1 - 12) + 1) AS snippet
FROM offs
""")


def _highlight_passages(spark, sf):
    """UnifiedHighlighter-style passage ranking (uhighlight/
    UnifiedHighlighter.java + PassageScorer.java): 16-token passages,
    quantized-idf-weighted match scoring, top-2 passages per doc for
    the query {hash, join, merge} — snippet spans the passage's first
    matched token start to last matched token end (offsets stream)."""
    idx = _docs_index_offsets(spark, sf)
    docs = _load(spark, sf, "documents")
    return SX.highlight_passages(idx, docs, ["hash", "join", "merge"],
                                 window=16, n_passages=2)


_register("highlight_passages", _highlight_passages, f"""
WITH {FT_BASE},
iqs AS (
  SELECT ts.term,
         CAST(floor(ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5))
                    * 1000000) AS BIGINT) AS iq
  FROM tstats ts CROSS JOIN cstats cs
  WHERE ts.term IN ('hash','join','merge')
),
occ0 AS (
  SELECT t.doc_id, t.term, t.pos, (t.pos // 16) AS passage,
         CASE WHEN t.pos = 0 THEN 0
              ELSE len(array_to_string(
                       (string_split(d.text, ' '))[1:t.pos], ' ')) + 1
         END AS st,
         len((string_split(d.text, ' '))[t.pos + 1]) AS tlen
  FROM tokf t JOIN documents d USING (doc_id)
  WHERE t.term IN ('hash','join','merge')
),
agg AS (
  SELECT o.doc_id, o.passage,
         sum(i.iq)::BIGINT AS score_q, count(*)::BIGINT AS n_match,
         min(o.st) AS mst, max(o.st + o.tlen) AS men
  FROM occ0 o JOIN iqs i USING (term)
  GROUP BY o.doc_id, o.passage
),
top AS (
  SELECT doc_id, passage, score_q, n_match, mst, men,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, passage) AS rk
  FROM agg
)
SELECT t.doc_id, t.passage, t.score_q, t.n_match,
       substr(d.text, t.mst + 1, t.men - t.mst) AS snippet
FROM top t JOIN documents d USING (doc_id)
WHERE t.rk <= 2
""")


def _payload_score(spark, sf):
    """{!payload_score} (queries/payloads/PayloadScoreQuery.java +
    PayloadScoreQParserPlugin.java): per matching doc, the payload
    function (avg here) folded over the term's per-occurrence payload
    ints — offset payloads from the .pay-analogue stream
    (TokenOffsetPayloadTokenFilter shape). Top-25 quantized."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index_offsets(spark, sf), mode="sql")
    out = solr_qparser(s, "{!payload_score f=text func=avg}merge")
    return _quantize_topk(out, 25)


_register("payload_score", _payload_score, f"""
WITH {FT_BASE},
occ AS (
  SELECT t.doc_id,
         CASE WHEN t.pos = 0 THEN 0
              ELSE len(array_to_string(
                       (string_split(d.text, ' '))[1:t.pos], ' ')) + 1
         END AS st
  FROM tok t JOIN documents d USING (doc_id)
  WHERE t.term = 'merge'
),
agg AS (
  SELECT doc_id,
         CAST(floor((sum(st)::DOUBLE / count(*)) * 1000000) AS BIGINT)
           AS score_q
  FROM occ GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 25)}
""")


# ---- §2.6 export / diversified / rerank ------------------------------------

def _export_sorted(spark, sf):
    docs = _load(spark, sf, "documents")
    w = Window.orderBy(F.asc("lang"), F.desc("n_chars"), F.asc("doc_id"))
    return docs.select("doc_id", "lang", "n_chars",
                       F.row_number().over(w).cast("long").alias("rn"))


_register("export_sorted", _export_sorted, """
SELECT doc_id, lang, n_chars,
       row_number() OVER (ORDER BY lang, n_chars DESC, doc_id) AS rn
FROM documents
""")


def _solr_export_qp(spark, sf):
    """{!export sort= fl=} (solr/core/.../handler/ExportWriter.java:
    82,229 as a dialect): sorted full-result export of the docs
    matching 'merge' — distributed sort, fl projection; ordinal added
    here (top-k scale) to make the order driver-verifiable."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"), "lang", "n_chars"))
    out = solr_qparser(
        s, "{!export sort='lang asc,n_chars desc,docid asc' "
           "fl='lang,n_chars'}merge", attrs)
    w = Window.orderBy(F.asc("lang"), F.desc("n_chars"), F.asc("docid"))
    return out.select(F.col("docid").alias("doc_id"), "lang", "n_chars",
                      F.row_number().over(w).cast("long").alias("rn"))


_register("solr_export_qp", _solr_export_qp, f"""
WITH {FT_BASE}
SELECT d.doc_id, d.lang, d.n_chars,
       row_number() OVER (ORDER BY d.lang, d.n_chars DESC, d.doc_id) AS rn
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'merge')
"""
)


def _diversified(spark, sf):
    docs = _load(spark, sf, "documents")
    per = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    top = docs.withColumn("r", F.row_number().over(per)).where(F.col("r") <= 2)
    g = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(g).cast("long"))
            .where(F.col("rank") <= 10)
            .select("doc_id", "lang", "n_chars", "rank"))


_register("diversified_topk", _diversified, """
WITH perlang AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r
  FROM documents
)
SELECT doc_id, lang, n_chars,
       row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
FROM perlang WHERE r <= 2 QUALIFY rank <= 10
""")


def _rerank(spark, sf):
    """QueryRescorer: top-50 by 'merge', rescored with 2x the 'scan'
    score added (search/QueryRescorer.java combine())."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    first = s.matches(A.TermQ("merge")).withColumn(
        "s1", F.floor(F.col("score") * Q).cast("long"))
    w1 = Window.orderBy(F.desc("s1"), F.asc("docid"))
    top50 = (first.withColumn("r", F.row_number().over(w1))
             .where(F.col("r") <= 50).select("docid", "s1"))
    second = s.matches(A.TermQ("scan")).withColumn(
        "s2", F.floor(F.col("score") * Q).cast("long")).select("docid", "s2")
    resc = top50.join(second, "docid", "left").select(
        "docid",
        (F.col("s1") + 2 * F.coalesce(F.col("s2"), F.lit(0))).alias("score_q"))
    top = resc.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("docid").alias("doc_id"), "score_q", "rank")


_register("rerank", _rerank, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'scan'])},
first AS (SELECT doc_id, CAST(floor(s*1000000) AS BIGINT) AS s1
          FROM scored WHERE term='merge'),
top50 AS (SELECT doc_id, s1,
                 row_number() OVER (ORDER BY s1 DESC, doc_id) AS r
          FROM first QUALIFY r <= 50),
second AS (SELECT doc_id, CAST(floor(s*1000000) AS BIGINT) AS s2
           FROM scored WHERE term='scan'),
resc AS (SELECT t.doc_id, t.s1 + 2*coalesce(se.s2, 0) AS score_q
         FROM top50 t LEFT JOIN second se USING (doc_id))
{_topk_sql("SELECT * FROM resc", 10)}
""")


# ---- §2.4 block join (parent/child), §2.2 point range ---------------------

def _blockjoin_parent(spark, sf):
    """ToParentBlockJoinQuery: parents (orders) whose children
    (lineitems) match; per-parent child aggregates = score modes."""
    o = _load(spark, sf, "orders").select("o_orderkey")
    li = _load(spark, sf, "lineitem").where(F.col("l_quantity") >= 45)
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_children"),
        F.max(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .alias("max_child_cents"))


_register("blockjoin_parent", _blockjoin_parent, """
SELECT o.o_orderkey, count(*)::BIGINT AS n_children,
       max(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS max_child_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity >= 45
GROUP BY o.o_orderkey
""")


def _blockjoin_child(spark, sf):
    """ToChildBlockJoinQuery: children of matching parents."""
    o = _load(spark, sf, "orders").where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000))
    li = _load(spark, sf, "lineitem")
    return li.join(F.broadcast(o.select("o_orderkey")),
                   li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", F.col("l_linenumber").cast("long").alias("l_linenumber"))


_register("blockjoin_child", _blockjoin_child, """
SELECT l.l_orderkey, l.l_linenumber::BIGINT AS l_linenumber
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F' AND o.o_totalprice > 200000
""")


def _point_range(spark, sf):
    li = _load(spark, sf, "lineitem").where(F.col("l_quantity").between(10, 20))
    return li.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"))


_register("point_range", _point_range, """
SELECT l_linestatus, count(*)::BIGINT AS n,
       CAST(sum(l_quantity) AS BIGINT) AS qty
FROM lineitem WHERE l_quantity BETWEEN 10 AND 20
GROUP BY l_linestatus
""")


# ---- §2.5 stats: percentiles, cardinality ---------------------------------

def _stats_percentile(spark, sf):
    docs = _load(spark, sf, "documents")
    return docs.agg(
        F.floor(F.expr("percentile(n_chars, 0.5)") * Q).cast("long").alias("p50_q"),
        F.floor(F.expr("percentile(n_chars, 0.9)") * Q).cast("long").alias("p90_q"),
        F.floor(F.expr("percentile(n_chars, 0.99)") * Q).cast("long").alias("p99_q"))


_register("stats_percentile", _stats_percentile, """
SELECT CAST(floor(quantile_cont(n_chars, 0.5) * 1000000) AS BIGINT) AS p50_q,
       CAST(floor(quantile_cont(n_chars, 0.9) * 1000000) AS BIGINT) AS p90_q,
       CAST(floor(quantile_cont(n_chars, 0.99) * 1000000) AS BIGINT) AS p99_q
FROM documents
""")


def _cardinality(spark, sf):
    li = _load(spark, sf, "lineitem")
    return li.agg(F.countDistinct("l_partkey").alias("n_parts"),
                  F.countDistinct("l_suppkey").alias("n_supps"))


_register("cardinality", _cardinality, """
SELECT count(DISTINCT l_partkey)::BIGINT AS n_parts,
       count(DISTINCT l_suppkey)::BIGINT AS n_supps
FROM lineitem
""")


def _cardinality_hll(spark, sf):
    """DETERMINISTIC HLL sketch (solr/core/.../util/hll/HLL.java is a
    fully-specified sketch: fixed hash + dense registers + Flajolet
    estimator, so two engines running the same spec agree exactly).
    md5-derived hash, m=1024 registers, exact-integer register sum;
    the DuckDB oracle executes the identical algorithm — the one
    formerly rows-only row now has a value-checked oracle."""
    from lucene_solr_spark.operators.facets import hll_cardinality

    li = _load(spark, sf, "lineitem")
    return hll_cardinality(li, "l_partkey").select(
        F.floor(F.col("est") * 1000).cast("long").alias("n_parts_hll_q"))


def _hll_oracle_sql() -> str:
    from lucene_solr_spark.operators.facets import (
        hll_estimate_expr, hll_rank_case, hll_weight_case)

    s_total = "(s_present + (1024 - n_present) * 8589934592)"
    zeros = "(1024 - n_present)"
    return f"""
WITH h AS (SELECT md5(CAST(l_partkey AS VARCHAR)) AS hx FROM lineitem),
hw AS (
  SELECT CAST(concat('0x', substring(hx, 1, 8)) AS BIGINT) % 1024 AS idx,
         CAST(concat('0x', substring(hx, 9, 8)) AS BIGINT) AS w
  FROM h
),
regs AS (SELECT idx, max({hll_rank_case('w')}) AS mreg FROM hw GROUP BY idx),
agg AS (
  SELECT sum({hll_weight_case('mreg')})::BIGINT AS s_present,
         count(*)::BIGINT AS n_present
  FROM regs
)
SELECT CAST(floor({hll_estimate_expr(s_total, zeros)} * 1000) AS BIGINT)
       AS n_parts_hll_q
FROM agg
"""


_register("cardinality_hll", _cardinality_hll, _hll_oracle_sql())


# ---- ANN scale paths: LSH probe, IVF probe --------------------------------

_EMB_DIM = 64  # embeddings fixture dimension (testdata generator)


def _plane_sql(vec_expr: str, plane: list[float]) -> str:
    lits = ",".join(f"{x!r}" for x in plane)
    return (f"list_sum(list_transform(range(1, {_EMB_DIM}+1), "
            f"i -> {vec_expr}[i]::DOUBLE * ([{lits}])[i]::DOUBLE))")


def _bucket_sql(vec_expr: str, planes: list[list[float]]) -> str:
    return " + ".join(
        f"(CASE WHEN {_plane_sql(vec_expr, p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))


_IVF_CENTROIDS = SIM._hyperplanes(_EMB_DIM, 4, seed=7)


def _ann_index(spark, sf) -> str:
    """Build (once per sf) the persisted bucket/cell ANN layout —
    probes are partition-pruned reads, not corpus re-hashing."""
    import glob as _glob

    key = os.path.basename(sf.rstrip("/"))
    path = f"/tmp/driver_annidx_v3_{key}"
    if not _glob.glob(f"{path}/sq8/_SUCCESS"):
        emb = _load(spark, sf, "embeddings")
        SIM.build_ann_index(emb, path, dim=_EMB_DIM, n_planes=8, seed=42,
                            centroids=_IVF_CENTROIDS)
    return path


def _ann_lsh(spark, sf):
    emb = _load(spark, sf, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = SIM.lsh_topk_indexed(spark, _ann_index(spark, sf), list(qvec),
                               dim=_EMB_DIM, k=10, n_planes=8, seed=42,
                               probe_hamming=1)
    return out.select("vec_id", "cos_q", F.col("rank").cast("long").alias("rank"))


_LSH_PLANES = SIM._hyperplanes(_EMB_DIM, 8, seed=42)

_register("ann_lsh", _ann_lsh, f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({_bucket_sql('q.qv', _LSH_PLANES)}) AS qbucket FROM q),
b AS (
  SELECT e.vec_id, e.embedding,
         ({_bucket_sql('e.embedding', _LSH_PLANES)}) AS bucket
  FROM embeddings e
),
cand AS (
  SELECT b.vec_id, b.embedding FROM b CROSS JOIN qb
  WHERE b.bucket = qb.qbucket
     OR xor(b.bucket, qb.qbucket) IN (1,2,4,8,16,32,64,128)
),
scored AS (
  SELECT c.vec_id,
         CAST(floor(
           list_sum(list_transform(range(1, {_EMB_DIM}+1),
                    i -> c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cos_q
  FROM cand c CROSS JOIN q
)
SELECT vec_id, cos_q, row_number() OVER (ORDER BY cos_q DESC, vec_id) AS rank
FROM scored QUALIFY rank <= 10
""")


def _ann_ivf(spark, sf):
    emb = _load(spark, sf, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    out = SIM.ivf_topk_indexed(spark, _ann_index(spark, sf), list(qvec),
                               _IVF_CENTROIDS, k=10, nprobe=2)
    return out.select("vec_id", "cos_q", F.col("rank").cast("long").alias("rank"))


def _cos_sql(a_expr: str, centroid: list[float]) -> str:
    lits = ",".join(f"{x!r}" for x in centroid)
    dot = (f"list_sum(list_transform(range(1, {_EMB_DIM}+1), "
           f"i -> {a_expr}[i]::DOUBLE * ([{lits}])[i]::DOUBLE))")
    na = f"sqrt(list_sum(list_transform({a_expr}, x -> x::DOUBLE * x::DOUBLE)))"
    nc = f"sqrt(list_sum(list_transform([{lits}]::DOUBLE[], x -> x * x)))"
    return f"({dot}) / ({na} * {nc})"


_register("ann_ivf", _ann_ivf, f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cent(cell) AS (VALUES (0), (1), (2), (3)),
qcos AS (
  SELECT c.cell,
         CASE c.cell
           WHEN 0 THEN {_cos_sql('q.qv', _IVF_CENTROIDS[0])}
           WHEN 1 THEN {_cos_sql('q.qv', _IVF_CENTROIDS[1])}
           WHEN 2 THEN {_cos_sql('q.qv', _IVF_CENTROIDS[2])}
           ELSE {_cos_sql('q.qv', _IVF_CENTROIDS[3])}
         END AS cq
  FROM cent c CROSS JOIN q
),
probe AS (SELECT cell FROM qcos ORDER BY cq DESC, cell LIMIT 2),
ccos AS (
  SELECT e.vec_id, e.embedding,
         {_cos_sql('e.embedding', _IVF_CENTROIDS[0])} AS c0,
         {_cos_sql('e.embedding', _IVF_CENTROIDS[1])} AS c1,
         {_cos_sql('e.embedding', _IVF_CENTROIDS[2])} AS c2,
         {_cos_sql('e.embedding', _IVF_CENTROIDS[3])} AS c3
  FROM embeddings e
),
assign AS (
  SELECT vec_id, embedding,
         CASE WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 THEN 0
              WHEN c1 >= c2 AND c1 >= c3 THEN 1
              WHEN c2 >= c3 THEN 2 ELSE 3 END AS cell
  FROM ccos
),
cand AS (SELECT a.vec_id, a.embedding FROM assign a
         WHERE a.cell IN (SELECT cell FROM probe)),
scored AS (
  SELECT c.vec_id,
         CAST(floor(
           list_sum(list_transform(range(1, {_EMB_DIM}+1),
                    i -> c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cos_q
  FROM cand c CROSS JOIN q
)
SELECT vec_id, cos_q, row_number() OVER (ORDER BY cos_q DESC, vec_id) AS rank
FROM scored QUALIFY rank <= 10
""")


# ---- multimodal plumbing ---------------------------------------------------

def _mm_decode(spark, sf):
    docs = _load(spark, sf, "documents")
    blobs = MM.attach_binary(docs)
    return MM.decode_features(blobs).select(
        "id", F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("first_byte").cast("long").alias("first_byte"),
        F.col("last_byte").cast("long").alias("last_byte"), "byte_sum")


_register("mm_decode", _mm_decode, """
SELECT doc_id AS id, strlen(text)::BIGINT AS n_bytes,
       ascii(substr(text, 1, 1))::BIGINT AS first_byte,
       ascii(substr(text, length(text), 1))::BIGINT AS last_byte,
       list_sum(list_transform(split(text, ''), x -> ascii(x)))::BIGINT AS byte_sum
FROM documents
""")


def _mm_frames(spark, sf):
    docs = _load(spark, sf, "documents")
    blobs = MM.attach_binary(docs)
    return MM.frame_sample(blobs, every=64, max_frames=4).select(
        "id", F.col("frame_no").cast("long").alias("frame_no"),
        F.col("frame_off").cast("long").alias("frame_off"),
        F.col("frame_byte").cast("long").alias("frame_byte"))


_register("mm_frames", _mm_frames, """
SELECT d.doc_id AS id, t.f::BIGINT AS frame_no, (t.f * 64)::BIGINT AS frame_off,
       ascii(substr(d.text, (t.f * 64)::INT + 1, 1))::BIGINT AS frame_byte
FROM documents d CROSS JOIN (SELECT unnest(range(0, 4)) AS f) t
WHERE strlen(d.text) > 0 AND t.f < least(4, 1 + (strlen(d.text) - 1) // 64)
""")


# ---- segment-index read path (the compressed-codec engine) ----------------

_SEG_CACHE: dict[str, object] = {}


def _seg_index(spark: SparkSession, sf: str):
    from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index

    from lucene_solr_spark.index.codec import POSTING_ROW_FIELDS

    # format-versioned cache dir: a schema change (new posting field)
    # must not read a stale index built by an earlier code revision
    ver = len(POSTING_ROW_FIELDS)
    key = os.path.basename(sf.rstrip("/"))
    path = f"/tmp/driver_segidx_v{ver}_{key}"
    if key not in _SEG_CACHE:
        import glob
        if not glob.glob(f"{path}/segments_meta*"):
            docs = spark.read.parquet(f"{sf}/documents.parquet")
            build_segment_index(docs, path, key_col="doc_id", text_col="text",
                                precomputed_docid="doc_id", seg_size=1 << 13)
        _SEG_CACHE[key] = SegmentIndex(path=path, spark=spark)
    return _SEG_CACHE[key]


def _seg_and_match(spark, sf):
    """Boolean AND answered from the FOR/delta-compressed segment
    postings (decode in Arrow UDF) — proves the codec round-trips at
    driver-check level, not just in pytest."""
    si = _seg_index(spark, sf)
    flat = si.as_flat_tables().postings.where(F.col("term").isin(["hash", "join"]))
    return (flat.groupBy("docid")
            .agg(F.count(F.lit(1)).alias("m"), F.sum("tf").alias("tf_sum"))
            .where(F.col("m") == 2)
            .select(F.col("docid").alias("doc_id"),
                    F.col("tf_sum").cast("long").alias("tf_sum")))


_register("seg_and_match", _seg_and_match, f"""
WITH {FT_BASE}
SELECT doc_id, sum(tf)::BIGINT AS tf_sum
FROM postings WHERE term IN ('hash','join')
GROUP BY doc_id HAVING count(*) = 2
""")


def _seg_or_match(spark, sf):
    si = _seg_index(spark, sf)
    flat = si.as_flat_tables().postings.where(
        F.col("term").isin(["scan", "slow", "merge"]))
    return (flat.groupBy("docid")
            .agg(F.count(F.lit(1)).alias("matched"), F.sum("tf").alias("tf_sum"))
            .select(F.col("docid").alias("doc_id"),
                    F.col("matched").cast("long").alias("matched"),
                    F.col("tf_sum").cast("long").alias("tf_sum")))


_register("seg_or_match", _seg_or_match, f"""
WITH {FT_BASE}
SELECT doc_id, count(*)::BIGINT AS matched, sum(tf)::BIGINT AS tf_sum
FROM postings WHERE term IN ('scan','slow','merge')
GROUP BY doc_id
""")


def _wand_quantized(spark, sf, q: A.Query, k: int = 10) -> DataFrame:
    """WAND top-k with the cross-engine quantization contract: fetch an
    over-sample by exact float32 score, then select/rank by
    (score_q desc, docid asc) — identical to the oracle's ordering
    even when distinct float32 scores collide in one quantum.

    The over-sample factor is VERIFIED, not assumed: the fetch is
    sufficient iff the kth quantized score strictly beats the last
    fetched one (any unfetched doc scores <= the last fetched float32
    score, hence <= its quantum) — or the fetch exhausted the matches.
    Otherwise re-fetch with a larger k. The k-row materialization here
    is driver-side by design (top-k results are tiny)."""
    from lucene_solr_spark.search.wand import WandSearcher, local_frame

    ws = WandSearcher(_seg_index(spark, sf))
    factor = 3
    while True:
        # rank the <= factor*k local rows in Python: no Spark job
        hits = sorted(((math.floor(float(r["score"]) * Q), int(r["docid"]))
                       for r in ws.search(q, k=factor * k).collect()),
                      key=lambda h: (-h[0], h[1]))
        if (len(hits) < factor * k or len(hits) <= k
                or hits[k - 1][0] > hits[-1][0]):
            break
        factor *= 4  # quantization-band collision spans the window
    top = hits[:k]
    return local_frame(spark, "doc_id long, score_q long, rank long", {
        "doc_id": [d for _, d in top], "score_q": [s for s, _ in top],
        "rank": list(range(1, len(top) + 1))})


def _f32_topk_sql(terms: list[str], k: int = 10, having: str = "") -> str:
    """Full float32-exact BM25 top-k oracle over FT_BASE + oracle_f32
    (bit-equal to the WAND kernel — see oracle_f32 module docs)."""
    from lucene_solr_spark.oracle_f32 import f32_base_sql, f32_sum_q

    return (f"WITH {FT_BASE}, {f32_base_sql(terms)},\n"
            f"agg AS ({f32_sum_q(having)})\n"
            + _topk_sql("SELECT * FROM agg", k))


def _seg_bm25_wand(spark, sf):
    """Block-max WAND top-10, float32 Lucene-exact scoring, over the
    FOR/delta segment index — checked against a bit-exact float32
    DuckDB oracle (oracle_f32.py); also duel-tested vs the flat engine
    and numpy oracle (tests/test_wand.py)."""
    return _wand_quantized(
        spark, sf, A.OrQ((A.TermQ("scan"), A.TermQ("slow"), A.TermQ("merge"))))


_register("seg_bm25_wand", _seg_bm25_wand,
          _f32_topk_sql(["scan", "slow", "merge"]))


def _seg_bm25_and(spark, sf):
    """Conjunctive WAND (ConjunctionDISI leapfrog + lead-term
    pigeonhole, wand.py:163) with float32-exact scores."""
    return _wand_quantized(spark, sf, A.AndQ((A.TermQ("hash"), A.TermQ("join"))))


_register("seg_bm25_and", _seg_bm25_and,
          _f32_topk_sql(["hash", "join"], having="HAVING count(*) = 2"))


def _seg_bm25_msm(spark, sf):
    """minimum-should-match 2-of-3 through the WAND kernel
    (MinShouldMatchSumScorer semantics, wand.py:239)."""
    return _wand_quantized(
        spark, sf,
        A.OrQ((A.TermQ("scan"), A.TermQ("slow"), A.TermQ("merge")),
              min_should_match=2))


_register("seg_bm25_msm", _seg_bm25_msm,
          _f32_topk_sql(["scan", "slow", "merge"],
                        having="HAVING count(*) >= 2"))


def _seg_bm25_not(spark, sf):
    """MUST_NOT exclusion at the kernel's iterator level
    (ReqExclScorer semantics, wand.py:240)."""
    return _wand_quantized(spark, sf, A.NotQ(A.TermQ("scan"), A.TermQ("slow")))


_register(
    "seg_bm25_not", _seg_bm25_not,
    _f32_topk_sql(
        ["scan"],
        having=("HAVING doc_id NOT IN "
                "(SELECT doc_id FROM postings WHERE term = 'slow')")))


# ---- §2.8 function queries, §2.10 alternate similarity, §2.13 classify ----

def _function_query(spark, sf):
    """ValueSource function-query scoring (lucene/queries/function/
    valuesource/: recip, scale, linear composed as Column
    expressions): boost = recip(order age in days, 1/1000, 1, 1) *
    ln(1 + o_totalprice); the classic Solr date-boost pattern."""
    o = _load(spark, sf, "orders")
    age_days = F.datediff(F.lit("1998-12-01"), F.col("o_orderdate"))
    score = (F.lit(1.0) / (F.lit(0.001) * age_days + F.lit(1.0))
             * F.log(F.lit(1.0) + F.col("o_totalprice")))
    out = o.select("o_orderkey",
                   F.floor(score * Q).cast("long").alias("score_q"))
    w = Window.orderBy(F.desc("score_q"), F.asc("o_orderkey"))
    return (out.orderBy(F.desc("score_q"), F.asc("o_orderkey")).limit(20)
            .withColumn("rank", F.row_number().over(w).cast("long")))


_register("function_query", _function_query, """
WITH sc AS (
  SELECT o_orderkey,
         CAST(floor(1.0 / (0.001 * date_diff('day', o_orderdate, DATE '1998-12-01') + 1.0)
              * ln(1.0 + o_totalprice) * 1000000) AS BIGINT) AS score_q
  FROM orders
)
SELECT o_orderkey, score_q,
       row_number() OVER (ORDER BY score_q DESC, o_orderkey) AS rank
FROM sc QUALIFY rank <= 20
""")


def _knn_classify(spark, sf):
    """kNN classification over the index (lucene/classification/
    KNearestNeighborClassifier shape): label of vec 1 = majority label
    of its 5 cosine neighbours (ties -> smaller label)."""
    emb = _load(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 1)
    qvec = q.select("embedding").first()["embedding"]
    nn = SIM.brute_force_topk(
        emb.where(F.col("vec_id") != 1), list(qvec), k=5)
    j = nn.join(emb.select("vec_id", "label"), "vec_id")
    counts = j.groupBy("label").agg(F.count(F.lit(1)).alias("votes"))
    w = Window.orderBy(F.desc("votes"), F.asc("label"))
    return (counts.orderBy(F.desc("votes"), F.asc("label")).limit(1)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select(F.col("label").cast("long").alias("label"), "votes"))


_register("knn_classify", _knn_classify, f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
scored AS (
  SELECT e.vec_id, e.label,
         CAST(floor(
           list_sum(list_transform(range(1, {_EMB_DIM}+1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cos_q
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 1
),
top5 AS (
  SELECT vec_id, label,
         row_number() OVER (ORDER BY cos_q DESC, vec_id) AS rank
  FROM scored QUALIFY rank <= 5
)
SELECT label::BIGINT AS label, count(*)::BIGINT AS votes
FROM top5 GROUP BY label
ORDER BY votes DESC, label LIMIT 1
""")


def _ft_tfidf(spark, sf):
    """ClassicSimilarity (TF-IDF) scoring as an alternate Similarity
    plug-in (search/similarities/ClassicSimilarity.java): score =
    sqrt(tf) * idf^2 * (1/sqrt(doclen)), idf = 1 + ln(N/(df+1)).
    Exact-double variant for cross-engine parity."""
    idx = _docs_index(spark, sf)
    n = float(idx.coll_stats["doc_count"])
    p = idx.postings.where(F.col("term") == "merge").select("docid", "tf")
    d = idx.docs.select("docid", "doclen")
    ts = idx.term_stats.where(F.col("term") == "merge").select("df")
    dfv = float(ts.first()["df"])
    import math
    idf = 1.0 + math.log(n / (dfv + 1.0))
    j = p.join(d, "docid")
    score = (F.sqrt(F.col("tf").cast("double")) * F.lit(idf * idf)
             / F.sqrt(F.col("doclen").cast("double")))
    out = j.select("docid", F.floor(score * Q).cast("long").alias("score_q"))
    top = out.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("docid").alias("doc_id"), "score_q", "rank")


_register("ft_tfidf", _ft_tfidf, f"""
WITH {FT_BASE},
prm AS (
  SELECT (1.0 + ln(cs.n / (ts.df + 1.0))) AS idf
  FROM tstats ts CROSS JOIN cstats cs WHERE ts.term = 'merge'
),
sc AS (
  SELECT p.doc_id,
         CAST(floor(sqrt(p.tf) * prm.idf * prm.idf / sqrt(dl.doclen)
              * 1000000) AS BIGINT) AS score_q
  FROM postings p JOIN doclen dl USING (doc_id) CROSS JOIN prm
  WHERE p.term = 'merge'
)
{_topk_sql("SELECT * FROM sc", 10)}
""")


def _span_first(spark, sf):
    """SpanFirstQuery (search/spans/SpanFirstQuery.java): docs whose
    first occurrence of the term is within the first k positions."""
    idx = _docs_index(spark, sf)
    p = idx.postings.where(F.col("term") == "merge").select(
        "docid", F.array_min("positions").alias("first_pos"))
    return p.where(F.col("first_pos") < 5).select(
        F.col("docid").alias("doc_id"),
        F.col("first_pos").cast("long").alias("first_pos"))


_register("span_first", _span_first, f"""
WITH {FT_BASE}
SELECT doc_id, min(pos)::BIGINT AS first_pos
FROM tokf WHERE term = 'merge'
GROUP BY doc_id HAVING min(pos) < 5
""")


# ---- sloppy phrase + segment-store phrase ---------------------------------

def _ft_phrase_sloppy(spark, sf):
    """Sloppy phrase (slop=2) with Lucene's EXACT distance-weighted
    freq: the greedy PhraseQueue traversal of SloppyPhraseScorer
    .phraseFreq, each match worth sloppyFreq(d)=1/(d+1). The oracle
    simulates the same state machine via a recursive CTE (fuzz-tested
    against the kernel: tests/test_index_and_search.py)."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.PhraseQ(("hash", "join"), slop=2))
    return _quantize_topk(m, 10)


# Recursive-CTE simulation of SloppyPhraseScorer.phraseFreq for two
# terms: state = (current index into each rebased position list, the
# active minimum pp, the current minimal window ml, max position e,
# accumulated freq); one recursion step = one advancePP().
_SLOPPY_FREQ_CTE = """
pa AS (SELECT doc_id, list(pos ORDER BY pos) AS arr
       FROM tokf WHERE term='{t1}' GROUP BY doc_id),
pb AS (SELECT doc_id, list(pos - 1 ORDER BY pos) AS arr
       FROM tokf WHERE term='{t2}' GROUP BY doc_id),
st AS (
  SELECT a.doc_id, a.arr AS la, b.arr AS lb,
         1 AS ia, 1 AS ib,
         CASE WHEN a.arr[1] <= b.arr[1] THEN 0 ELSE 1 END AS act,
         greatest(a.arr[1], b.arr[1]) - least(a.arr[1], b.arr[1]) AS ml,
         greatest(a.arr[1], b.arr[1]) AS e,
         0.0::DOUBLE AS freq, FALSE AS done
  FROM pa a JOIN pb b USING (doc_id)
  UNION ALL
  SELECT doc_id, la, lb,
         CASE WHEN act = 0 AND NOT nexh THEN ia + 1 ELSE ia END,
         CASE WHEN act = 1 AND NOT nexh THEN ib + 1 ELSE ib END,
         CASE WHEN nexh THEN act
              WHEN npos > opos THEN 1 - act ELSE act END,
         CASE WHEN nexh THEN ml
              WHEN npos > opos THEN ne - opos
              ELSE least(ml, ne - npos) END,
         ne,
         CASE WHEN (nexh OR npos > opos) AND ml <= {slop}
              THEN freq + 1.0 / (ml + 1) ELSE freq END,
         nexh
  FROM (
    SELECT *,
           CASE WHEN act = 0 THEN ia + 1 > len(la)
                ELSE ib + 1 > len(lb) END AS nexh,
           CASE WHEN act = 0 THEN la[ia + 1] ELSE lb[ib + 1] END AS npos,
           CASE WHEN act = 0 THEN lb[ib] ELSE la[ia] END AS opos,
           greatest(e, CASE WHEN act = 0 THEN coalesce(la[ia + 1], e)
                            ELSE coalesce(lb[ib + 1], e) END) AS ne
    FROM st WHERE NOT done
  )
),
ph AS (SELECT doc_id, freq AS pfreq FROM st WHERE done AND freq > 0)
"""


_register("ft_phrase_sloppy", _ft_phrase_sloppy, f"""
WITH RECURSIVE {FT_BASE},
{_SLOPPY_FREQ_CTE.format(t1='hash', t2='join', slop=2)},
idfs AS (
  SELECT (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5)) FROM tstats ts, cstats cs WHERE ts.term='hash')
       + (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5)) FROM tstats ts, cstats cs WHERE ts.term='join')
       AS idf_sum
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pfreq
              / (ph.pfreq + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_multiphrase(spark, sf):
    """MultiPhraseQuery (search/MultiPhraseQuery.java): slot 0 accepts
    hash OR merge, slot 1 requires join — OR-per-position union
    postings, exact-phrase intersection, idf summed over ALL terms."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.MultiPhraseQ((("hash", "merge"), ("join",))))
    return _quantize_topk(m, 10)


_register("ft_multiphrase", _ft_multiphrase, f"""
WITH {FT_BASE},
s0 AS (SELECT DISTINCT doc_id, pos FROM tokf WHERE term IN ('hash','merge')),
s1 AS (SELECT doc_id, pos FROM tokf WHERE term='join'),
ph AS (
  SELECT s0.doc_id, count(*)::DOUBLE AS pfreq
  FROM s0 JOIN s1 ON s0.doc_id = s1.doc_id AND s1.pos = s0.pos + 1
  GROUP BY s0.doc_id
),
idfs AS (
  SELECT sum(ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))) AS idf_sum
  FROM tstats ts CROSS JOIN cstats cs
  WHERE ts.term IN ('hash','join','merge')
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pfreq
              / (ph.pfreq + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _seg_phrase(spark, sf):
    """Exact phrase via the segment-native TWO-PHASE kernel
    (wand.phrase_topk — ConjunctionDISI-style docid intersection over
    block metadata, positions fetched lazily per group only for
    intersection docs; search/ExactPhraseScorer.java:62,123): integer
    pfreq per matching doc, NO as_flat_tables full decode
    (plan-asserted in tests/test_wand.py)."""
    from lucene_solr_spark.search.wand import WandSearcher

    si = _seg_index(spark, sf)
    out = WandSearcher(si).phrase_freqs(["hash", "join"])
    return out.select(F.col("docid").alias("doc_id"),
                      F.col("pfreq").cast("long").alias("pfreq"))


_register("seg_phrase", _seg_phrase, f"""
WITH {FT_BASE}
SELECT p1.doc_id, count(*)::BIGINT AS pfreq
FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
  ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
GROUP BY p1.doc_id
""")


def _f32_phrase_sql(t1: str, t2: str, k: int = 10) -> str:
    """Float32-exact BM25 phrase top-k oracle: pfreq from the position
    join, weight = f32(f32(idf(t1)+idf(t2)) * (k1+1)), score =
    f32(w * pf / (pf + cache)) — the exact op order of the segment
    phrase kernel (wand.phrase_topk) and the flat executor's
    _score_phrase_freq."""
    from lucene_solr_spark.oracle_f32 import NT_SQL, K1P1_F32, ONE_MINUS_B_F32

    return f"""
WITH {FT_BASE},
nt(lo, hi, v) AS {NT_SQL},
favg AS (SELECT (sttf / n)::FLOAT AS avgdl FROM cstats),
fcache AS (
  SELECT dl.doc_id,
         (1.2::FLOAT * ({ONE_MINUS_B_F32}
            + ((0.75::FLOAT * nt.v::FLOAT) / fa.avgdl))) AS c
  FROM doclen dl JOIN nt ON dl.doclen BETWEEN nt.lo AND nt.hi
  CROSS JOIN favg fa
),
ph AS (
  SELECT p1.doc_id, count(*)::BIGINT AS pfreq
  FROM (SELECT doc_id, pos FROM tokf WHERE term='{t1}') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='{t2}') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  GROUP BY p1.doc_id
),
fw AS (
  SELECT ((1.0::FLOAT * (
      (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
       FROM tstats ts, cstats cs WHERE ts.term='{t1}')
    + (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
       FROM tstats ts, cstats cs WHERE ts.term='{t2}'))::FLOAT)
    * {K1P1_F32}) AS w
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor(((fw.w * ph.pfreq::FLOAT)
                     / (ph.pfreq::FLOAT + fc.c))::DOUBLE * 1000000)
              AS BIGINT) AS score_q
  FROM ph JOIN fcache fc USING (doc_id) CROSS JOIN fw
)
{_topk_sql("SELECT * FROM agg", k)}
"""


def _seg_phrase_hot(spark, sf):
    """Zipf-head phrase ("table hash": both terms in ~80% of docs)
    ranked top-10 through the two-phase kernel with theta pruning,
    float32-exact scores vs the bit-exact f32 oracle — the query shape
    where the old full-decode fallback was O(df_head) and the kernel
    is O(intersection)."""
    return _wand_quantized(spark, sf, A.PhraseQ(("table", "hash")))


_register("seg_phrase_hot", _seg_phrase_hot, _f32_phrase_sql("table", "hash"))


from lucene_solr_spark.oracle_f32 import (  # noqa: E402
    NT_SQL as _NT_SQL,
    K1P1_F32 as _K1P1_F32,
    ONE_MINUS_B_F32 as _ONE_MINUS_B_F32,
)


def _seg_multiphrase(spark, sf):
    """MultiPhraseQuery via the segment-native two-phase slot-union
    kernel (wand.multiphrase_topk — per-slot UnionPostingsEnum docid
    union, ConjunctionDISI across slots, lazy per-group .pos fetch for
    intersection docs only; search/MultiPhraseQuery.java's scorer
    discipline): slot 0 accepts hash OR merge, slot 1 requires join.
    Float32-exact top-10 vs the bit-exact f32 oracle (idf summed over
    all three terms in sorted order)."""
    return _wand_quantized(
        spark, sf, A.MultiPhraseQ((("hash", "merge"), ("join",))))


_register("seg_multiphrase", _seg_multiphrase, f"""
WITH {FT_BASE},
nt(lo, hi, v) AS {_NT_SQL},
favg AS (SELECT (sttf / n)::FLOAT AS avgdl FROM cstats),
fcache AS (
  SELECT dl.doc_id,
         (1.2::FLOAT * ({_ONE_MINUS_B_F32}
            + ((0.75::FLOAT * nt.v::FLOAT) / fa.avgdl))) AS c
  FROM doclen dl JOIN nt ON dl.doclen BETWEEN nt.lo AND nt.hi
  CROSS JOIN favg fa
),
ph AS (
  SELECT s0.doc_id, count(*)::BIGINT AS pfreq
  FROM (SELECT DISTINCT doc_id, pos FROM tokf
        WHERE term IN ('hash','merge')) s0
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') s1
    ON s0.doc_id = s1.doc_id AND s1.pos = s0.pos + 1
  GROUP BY s0.doc_id
),
fw AS (
  -- f32(f32(boost) * f32(idf_sum64) * f32(k1+1)); idf_sum64 sums in
  -- sorted distinct-term order: hash + join + merge (left fold)
  SELECT ((1.0::FLOAT * (
      (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
       FROM tstats ts, cstats cs WHERE ts.term='hash')
    + (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
       FROM tstats ts, cstats cs WHERE ts.term='join')
    + (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
       FROM tstats ts, cstats cs WHERE ts.term='merge'))::FLOAT)
    * {_K1P1_F32}) AS w
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor(((fw.w * ph.pfreq::FLOAT)
                     / (ph.pfreq::FLOAT + fc.c))::DOUBLE * 1000000)
              AS BIGINT) AS score_q
  FROM ph JOIN fcache fc USING (doc_id) CROSS JOIN fw
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- §2.3 CommonTermsQuery / BoostingQuery, §2.4 graph, cube, sessions ----

def _common_terms(spark, sf):
    """CommonTermsQuery (lucene/queries/.../CommonTermsQuery.java):
    high-df terms are demoted from MUST to SHOULD. Here: of the query
    terms, those with df > 25% of docs become optional; docs must
    match all low-df terms, high-df matches add score. Quantized
    sql-mode scoring."""
    idx = _docs_index(spark, sf)
    n = float(idx.coll_stats["doc_count"])
    qterms = ["merge", "scan", "hash"]
    rows = idx.term_stats.where(F.col("term").isin(qterms)).collect()
    dfs = {r["term"]: r["df"] for r in rows}
    low = [t for t in qterms if dfs.get(t, 0) <= 0.25 * n]
    high = [t for t in qterms if dfs.get(t, 0) > 0.25 * n]
    s = Searcher(idx, mode="sql")

    def _one_or_many(ts, mk):
        return mk[0](ts[0]) if len(ts) == 1 else mk[1](tuple(mk[0](t) for t in ts))

    if low and high:
        must = _one_or_many(low, (A.TermQ, A.AndQ))
        opt = _one_or_many(high, (A.TermQ, A.OrQ))
        q = A.ReqOptQ(must, opt)
    elif low:
        q = _one_or_many(low, (A.TermQ, A.AndQ))
    else:
        q = _one_or_many(high, (A.TermQ, A.OrQ))
    return _quantize_topk(s.matches(q), 10)


# oracle mirrors the classification: df threshold computed in SQL
_register("common_terms", _common_terms, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'scan', 'hash'])},
klass AS (
  SELECT ts.term, (ts.df > 0.25 * cs.n) AS is_high
  FROM tstats ts CROSS JOIN cstats cs
  WHERE ts.term IN ('merge','scan','hash')
),
low AS (SELECT term FROM klass WHERE NOT is_high),
cand AS (SELECT doc_id, sum(s) AS total_s FROM scored GROUP BY doc_id),
lowm AS (
  SELECT doc_id, count(*) AS c FROM scored
  WHERE term IN (SELECT term FROM low) GROUP BY doc_id
),
agg AS (
  SELECT c.doc_id,
         CAST(floor(c.total_s * 1000000) AS BIGINT) AS score_q
  FROM cand c LEFT JOIN lowm l USING (doc_id)
  WHERE coalesce(l.c, 0) = (SELECT count(*) FROM low)
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _boosting_query(spark, sf):
    """BoostingQuery (lucene/queries/.../BoostingQuery.java): match
    the positive query; demote (not exclude) docs matching the
    negative query by multiplying their score by demote_boost."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    pos = s.matches(A.TermQ("merge")).withColumnRenamed("score", "_p")
    neg = s.matches(A.TermQ("slow")).select("docid").withColumn("_hit", F.lit(1))
    j = pos.join(neg, "docid", "left")
    score = F.when(F.col("_hit").isNotNull(), F.col("_p") * 0.5).otherwise(F.col("_p"))
    m = j.select("docid", score.alias("score"))
    return _quantize_topk(m, 10)


_register("boosting_query", _boosting_query, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'slow'])},
pos AS (SELECT doc_id, s FROM scored WHERE term='merge'),
neg AS (SELECT DISTINCT doc_id FROM scored WHERE term='slow'),
agg AS (
  SELECT p.doc_id,
         CAST(floor((CASE WHEN n.doc_id IS NOT NULL THEN p.s * 0.5 ELSE p.s END)
              * 1000000) AS BIGINT) AS score_q
  FROM pos p LEFT JOIN neg n USING (doc_id)
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _gather_nodes(spark, sf):
    """GatherNodesStream (solr/solrj/.../io/graph/GatherNodesStream
    .java): 2-hop expansion — from the 5 largest orders, gather their
    customers, then all nations of those customers (iterative joins)."""
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    n = _load(spark, sf, "nation")
    seeds = (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(5)
             .select("o_orderkey", "o_custkey"))
    hop1 = seeds.join(c, seeds.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_custkey", "c_nationkey")
    hop2 = hop1.join(F.broadcast(n), hop1.c_nationkey == n.n_nationkey)
    return hop2.select("o_orderkey", "c_custkey",
                       F.col("n_name").alias("nation"))


_register("gather_nodes", _gather_nodes, """
WITH seeds AS (
  SELECT o_orderkey, o_custkey FROM orders
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
)
SELECT s.o_orderkey, c.c_custkey, n.n_name AS nation
FROM seeds s
JOIN customer c ON s.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
""")


def _events_sessionize(spark, sf):
    """Sessionization (training-pipeline staple; the reference's
    TopicStream checkpoint windows re-expressed as event-time
    sessions): per user, a new session starts after a >1h gap;
    output user_id, n_sessions, n_events."""
    ev = _load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = epoch - F.lag(epoch).over(w)
    marked = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 3600), F.lit(1)).otherwise(F.lit(0)))
    return marked.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"))


_register("events_sessionize", _events_sessionize, """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) > 3600
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, sum(new_sess)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM g GROUP BY user_id
""")


def _agg_cube(spark, sf):
    """GROUPING SETS / CUBE — absent from the reference's SQL layer
    (SQLHandler.java:213 plain GROUP BY only); free in Spark. Cube
    over (returnflag, linestatus) with integer-cent sums."""
    li = _load(spark, sf, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                 .alias("cents"))
            .select(F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
                    F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
                    "n", "cents"))


_register("agg_cube", _agg_cube, """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*)::BIGINT AS n,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""")


# ---- §1.1 term vectors, §2.13 MemoryIndex/percolation ----------------------

def _term_vectors(spark, sf):
    """Per-document term vectors (the ARRAY<STRUCT<term,tf>> mini
    inverted index of SURVEY §1.1 / Lucene50TermVectorsFormat),
    flattened to rows for hash-stable comparison; restricted to 5
    docs to keep the surface small."""
    idx = _docs_index(spark, sf)
    tv = (idx.postings.where(F.col("docid") < 5)
          .select(F.col("docid").alias("doc_id"), "term",
                  F.col("tf").cast("long").alias("tf")))
    return tv


_register("term_vectors", _term_vectors, f"""
WITH {FT_BASE}
SELECT doc_id, term, tf FROM postings WHERE doc_id < 5
""")


def _percolate(spark, sf):
    """Percolation (lucene/memory/MemoryIndex.java shape): a stored
    query table is matched against ONE incoming document — the
    direction-reversed search. Queries = AND of 2 terms; the doc's
    term set is the in-RAM 'index'."""
    idx = _docs_index(spark, sf)
    stored = spark.createDataFrame(
        [("s1", "merge", "scan"), ("s2", "hash", "join"),
         ("s3", "merge", "zzz_missing"), ("s4", "table", "scan")],
        "qid string, t1 string, t2 string")
    # percolate against the longest document (richest term set) —
    # deterministic pick mirrored in the oracle
    target = (idx.docs.orderBy(F.desc("doclen"), F.asc("docid"))
              .select("docid").first()["docid"])
    doc_terms = (idx.postings.where(F.col("docid") == target)
                 .select("term").distinct())
    a = stored.join(doc_terms, stored.t1 == doc_terms.term, "left_semi")
    b = stored.join(doc_terms, stored.t2 == doc_terms.term, "left_semi")
    return a.select("qid").intersect(b.select("qid"))


_register("percolate", _percolate, f"""
WITH {FT_BASE},
target AS (SELECT doc_id FROM doclen ORDER BY doclen DESC, doc_id LIMIT 1),
doc_terms AS (SELECT DISTINCT term FROM postings
              WHERE doc_id = (SELECT doc_id FROM target)),
stored(qid, t1, t2) AS (VALUES
  ('s1','merge','scan'), ('s2','hash','join'),
  ('s3','merge','zzz_missing'), ('s4','table','scan'))
SELECT qid FROM stored
WHERE t1 IN (SELECT term FROM doc_terms)
  AND t2 IN (SELECT term FROM doc_terms)
""")


# ---- §2.5 ExpandComponent (the expanded groups behind a collapse) ----------

def _group_expand(spark, sf):
    """ExpandComponent (solr/core/.../component/ExpandComponent.java):
    after collapsing to the best doc per group, return the next-best
    expanded docs (ranks 2..3) per group keyed to the collapsed head."""
    docs = _load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    r = docs.withColumn("rn", F.row_number().over(w))
    heads = r.where(F.col("rn") == 1).select(
        "lang", F.col("doc_id").alias("head_doc"))
    expanded = r.where((F.col("rn") >= 2) & (F.col("rn") <= 3)).select(
        "lang", "doc_id", F.col("rn").cast("long").alias("rn"))
    return expanded.join(F.broadcast(heads), "lang").select(
        "lang", "head_doc", "doc_id", "rn")


_register("group_expand", _group_expand, """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
),
heads AS (SELECT lang, doc_id AS head_doc FROM r WHERE rn = 1)
SELECT r.lang, h.head_doc, r.doc_id, r.rn::BIGINT AS rn
FROM r JOIN heads h USING (lang)
WHERE r.rn BETWEEN 2 AND 3
""")


# ---- §2.3 BlendedTermQuery -------------------------------------------------

def _blended_term(spark, sf):
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.BlendedTermQ(("merge", "scan")))
    return _quantize_topk(m, 10)


_register("blended_term", _blended_term, f"""
WITH {FT_BASE},
dfb AS (SELECT max(df)::DOUBLE AS df FROM tstats WHERE term IN ('merge','scan')),
sc AS (
  SELECT p.doc_id,
         ln(1 + (cs.n - dfb.df + 0.5)/(dfb.df + 0.5)) * 2.2 * p.tf
         / (p.tf + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n))) AS s
  FROM postings p JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs CROSS JOIN dfb
  WHERE p.term IN ('merge','scan')
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- edismax-lite request syntax (field:term, ^boost, +/- markers) --------

def _ft_field_term(spark, sf):
    """Field-qualified term syntax (`text:merge AND hash`) through the
    extended parser (ExtendedDismaxQParser's most-used request form)."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    return s.search_quantized("text:merge AND hash", k=10)


_register("ft_field_term", _ft_field_term, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'hash'])},
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM scored GROUP BY doc_id HAVING count(*) = 2
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_boosted(spark, sf):
    """Per-clause boost syntax (`merge^2 OR scan`): the boosted clause
    contributes boost * BM25 to the disjunction sum."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    return s.search_quantized("merge^2 OR scan", k=10)


_register("ft_boosted", _ft_boosted, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'scan'])},
agg AS (
  SELECT doc_id,
         CAST(floor(sum(CASE WHEN term = 'merge' THEN s * 2.0 ELSE s END)
                    * 1000000) AS BIGINT) AS score_q
  FROM scored GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_edismax(spark, sf):
    """The +required / optional / -prohibited clause-list form
    (`scan +merge -slow`): MUST merge scored, scan adds when present
    (ReqOptSumScorer), slow excluded at iterator level."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    return s.search_quantized("scan +merge -slow", k=10)


_register("ft_edismax", _ft_edismax, f"""
WITH {FT_BASE}, {_ft_scored(['merge', 'scan'])},
req AS (SELECT doc_id, s FROM scored WHERE term = 'merge'),
opt AS (SELECT doc_id, s FROM scored WHERE term = 'scan'),
agg AS (
  SELECT r.doc_id,
         CAST(floor((r.s + coalesce(o.s, 0)) * 1000000) AS BIGINT) AS score_q
  FROM req r LEFT JOIN opt o USING (doc_id)
  WHERE r.doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'slow')
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- span algebra completion: SpanOr / SpanNot -----------------------------

def _span_or(spark, sf):
    from lucene_solr_spark.operators.spans import span_or_count

    idx = _docs_index(spark, sf)
    return span_or_count(idx, ["scan", "slow"]).select(
        F.col("docid").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"))


_register("span_or", _span_or, f"""
WITH {FT_BASE}
SELECT doc_id, count(DISTINCT pos)::BIGINT AS n_spans
FROM tokf WHERE term IN ('scan','slow')
GROUP BY doc_id
""")


def _span_not(spark, sf):
    from lucene_solr_spark.operators.spans import span_not_pairs

    idx = _docs_index(spark, sf)
    return span_not_pairs(idx, "hash", "join", pre=1, post=1).select(
        F.col("docid").alias("doc_id"),
        F.col("kept").cast("long").alias("kept"))


_register("span_not", _span_not, f"""
WITH {FT_BASE},
inc AS (SELECT doc_id, pos FROM tokf WHERE term='hash'),
exc AS (SELECT doc_id, pos FROM tokf WHERE term='join'),
kept AS (
  SELECT i.doc_id, count(*)::BIGINT AS kept
  FROM inc i
  WHERE NOT EXISTS (
    SELECT 1 FROM exc e
    WHERE e.doc_id = i.doc_id AND e.pos BETWEEN i.pos - 1 AND i.pos + 1)
  GROUP BY i.doc_id
)
SELECT doc_id, kept FROM kept
""")


# ---- §2.10 LM-Dirichlet similarity -----------------------------------------

_LMD_MU = 2000.0


def _ft_lmd(spark, sf):
    """LMDirichletSimilarity (search/similarities/
    LMDirichletSimilarity.java:66-71 + LMSimilarity.java
    DefaultCollectionModel): per-term score = max(0, ln(1 + tf/(mu*p))
    + ln(mu/(dl+mu))) with p = (ttf+1)/(numFieldTokens+1), mu=2000;
    SHOULD clauses sum. sql-mode (float64, exact doclen), quantized."""
    idx = _docs_index(spark, sf)
    terms = ["scan", "slow"]
    p = idx.postings.where(F.col("term").isin(terms)).select(
        "term", "docid", "tf")
    ts = idx.term_stats.where(F.col("term").isin(terms)).select("term", "ttf")
    d = idx.docs.select("docid", "doclen")
    j = p.join(F.broadcast(ts), "term").join(d, "docid")
    n_tok = float(idx.coll_stats["sum_ttf"])
    pc = (F.col("ttf").cast("double") + F.lit(1.0)) / F.lit(n_tok + 1.0)
    s = F.greatest(
        F.lit(0.0),
        F.log(F.lit(1.0) + F.col("tf").cast("double") / (F.lit(_LMD_MU) * pc))
        + F.log(F.lit(_LMD_MU) / (F.col("doclen").cast("double") + F.lit(_LMD_MU))))
    agg = (j.select("docid", s.alias("s"))
           .groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    top = agg.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("docid").alias("doc_id"), "score_q", "rank")


_register("ft_lmd", _ft_lmd, f"""
WITH {FT_BASE},
ttfs AS (SELECT term, sum(tf)::DOUBLE AS ttf FROM postings GROUP BY term),
sc AS (
  SELECT p.doc_id,
         greatest(0.0,
           ln(1.0 + p.tf::DOUBLE / ({_LMD_MU} * ((ts.ttf + 1.0) / (cs.sttf + 1.0))))
           + ln({_LMD_MU} / (dl.doclen::DOUBLE + {_LMD_MU}))) AS s
  FROM postings p
  JOIN ttfs ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('scan','slow')
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- graph: shortest-path BFS (ShortestPathStream) -------------------------

def _shortest_path(spark, sf):
    """ShortestPathStream analogue: parts are connected when they
    co-occur in an order's lineitems; BFS from part 1, reporting the
    node count per distance level (a deterministic reduction of the
    traversal frontier)."""
    from lucene_solr_spark.operators.graph import shortest_path_levels

    li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (a.join(b, "k").where(F.col("src") != F.col("dst"))
             .select("src", "dst").distinct())
    levels = shortest_path_levels(edges, src=1, max_hops=2)
    return (levels.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .select(F.col("dist").cast("long").alias("dist"), "n_nodes"))


_register("shortest_path", _shortest_path, """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
bfs(node, dist) AS (
  SELECT 1::BIGINT, 0
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < 2
),
md AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
SELECT dist::BIGINT AS dist, count(*)::BIGINT AS n_nodes
FROM md GROUP BY dist
""")


def _span_containing(spark, sf):
    """SpanContainingQuery: ordered near-spans (hash .. join, slop 3)
    that enclose an occurrence of 'index'."""
    from lucene_solr_spark.operators.spans import span_containing

    idx = _docs_index(spark, sf)
    return span_containing(idx, "hash", "join", 3, "index").select(
        F.col("docid").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"))


_register("span_containing", _span_containing, f"""
WITH {FT_BASE},
p1 AS (SELECT doc_id, pos FROM tokf WHERE term='hash'),
p2 AS (SELECT doc_id, pos FROM tokf WHERE term='join'),
pl AS (SELECT doc_id, pos FROM tokf WHERE term='index'),
spans AS (
  SELECT p1.doc_id, p1.pos AS s,
         min(p2.pos) AS e
  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 4
  GROUP BY p1.doc_id, p1.pos
)
SELECT s.doc_id, count(*)::BIGINT AS n_spans
FROM spans s
WHERE EXISTS (SELECT 1 FROM pl WHERE pl.doc_id = s.doc_id
              AND pl.pos BETWEEN s.s AND s.e)
GROUP BY s.doc_id
""")


def _span_within(spark, sf):
    """SpanWithinQuery: occurrences of 'index' enclosed by an ordered
    (hash .. join, slop 3) near-span."""
    from lucene_solr_spark.operators.spans import span_containing

    idx = _docs_index(spark, sf)
    return span_containing(idx, "hash", "join", 3, "index",
                           within=True).select(
        F.col("docid").alias("doc_id"),
        F.col("n_spans").cast("long").alias("n_spans"))


_register("span_within", _span_within, f"""
WITH {FT_BASE},
p1 AS (SELECT doc_id, pos FROM tokf WHERE term='hash'),
p2 AS (SELECT doc_id, pos FROM tokf WHERE term='join'),
pl AS (SELECT doc_id, pos FROM tokf WHERE term='index'),
spans AS (
  SELECT p1.doc_id, p1.pos AS s, min(p2.pos) AS e
  FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 4
  GROUP BY p1.doc_id, p1.pos
)
SELECT pl.doc_id, count(*)::BIGINT AS n_spans
FROM pl
WHERE EXISTS (SELECT 1 FROM spans s WHERE s.doc_id = pl.doc_id
              AND pl.pos BETWEEN s.s AND s.e)
GROUP BY pl.doc_id
""")


def _dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs (LSH-bucketed candidate join +
    exact cosine verify) — the embedding leg of the dedup family."""
    from lucene_solr_spark.operators.dedup import embedding_dupes

    emb = _load(spark, sf, "embeddings")
    return embedding_dupes(emb, dim=_EMB_DIM, threshold=0.30, n_planes=8,
                           seed=42)


_EMB_COS_PAIR = f"""
           list_sum(list_transform(range(1, {_EMB_DIM}+1),
                    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
"""

_register("dedup_embedding", _dedup_embedding, f"""
WITH b AS (
  SELECT vec_id, embedding,
         ({_bucket_sql('embedding', _LSH_PLANES)}) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(floor(({_EMB_COS_PAIR.replace('a.embedding', 'a.embedding').replace('b.embedding', 'b.embedding')}) * 1000000) AS BIGINT) AS cos_q
  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_q FROM pairs WHERE cos_q >= 300000
""")


def _nb_classify(spark, sf):
    """SimpleNaiveBayesClassifier (lucene/classification/): train on
    doc_id %% 5 != 0, predict lang for the held-out fifth."""
    from lucene_solr_spark.operators.classify import naive_bayes_classify

    docs = _load(spark, sf, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    return naive_bayes_classify(train, test)


_register("nb_classify", _nb_classify, """
WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tok_tr AS (SELECT lang AS cls, unnest(string_split(text, ' ')) AS t FROM tr),
vocab AS (SELECT count(DISTINCT t)::DOUBLE AS v FROM tok_tr),
ntr AS (SELECT count(*)::DOUBLE AS n FROM tr),
priors AS (SELECT cls, count(*)::DOUBLE AS n_docs
           FROM (SELECT lang AS cls FROM tr) GROUP BY cls),
ntok AS (SELECT cls, count(*)::DOUBLE AS n_tok FROM tok_tr GROUP BY cls),
tc AS (SELECT cls, t, count(*)::DOUBLE AS c FROM tok_tr GROUP BY cls, t),
te_tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM te),
crossed AS (
  SELECT tt.doc_id, p.cls, p.n_docs, nk.n_tok,
         ln((coalesce(tc.c, 0) + 1.0) / (nk.n_tok + vb.v)) AS ll
  FROM te_tok tt
  CROSS JOIN priors p
  JOIN ntok nk ON nk.cls = p.cls
  CROSS JOIN vocab vb
  LEFT JOIN tc ON tc.cls = p.cls AND tc.t = tt.t
),
scored AS (
  SELECT doc_id, cls,
         ln(any_value(n_docs) / (SELECT n FROM ntr)) + sum(ll) AS score
  FROM crossed GROUP BY doc_id, cls
)
SELECT doc_id, cls AS pred FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cls) = 1
""")


def _ft_boost_function(spark, sf):
    """FunctionScoreQuery / Solr boost= (lucene/queries/function/
    FunctionScoreQuery.java): relevance multiplied by a ValueSource —
    BM25(merge) * recip(n_chars, 1/1000, 1, 1), the classic
    shorter-docs-first boost. sql-mode, quantized."""
    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    docs = _load(spark, sf, "documents")
    m = s.matches(A.TermQ("merge")).join(
        docs.select(F.col("doc_id").alias("docid"), "n_chars"), "docid")
    boosted = m.select(
        "docid",
        (F.col("score") * (F.lit(1.0)
                           / (F.lit(0.001) * F.col("n_chars") + F.lit(1.0))))
        .alias("score"))
    return _quantize_topk(boosted, 10)


_register("ft_boost_function", _ft_boost_function, f"""
WITH {FT_BASE}, {_ft_scored(['merge'])},
agg AS (
  SELECT sc.doc_id,
         CAST(floor(sc.s * (1.0 / (0.001 * d.n_chars + 1.0)) * 1000000)
              AS BIGINT) AS score_q
  FROM scored sc JOIN documents d USING (doc_id)
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _text_token_bpe(spark, sf):
    """BPE-ish subword token estimate (vocabulary-free LLM budget
    counter) alongside the whitespace count."""
    from lucene_solr_spark.operators.textstats import bpe_token_estimate

    return bpe_token_estimate(_load(spark, sf, "documents"))


_register("text_token_bpe", _text_token_bpe, r"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT
         AS n_tokens_ws,
       len(regexp_extract_all(text, '[a-z]{1,4}|[A-Z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))::BIGINT
         AS n_tokens_bpe
FROM documents
""")


# ---- §2.10 DFR + IB similarity families ------------------------------------

def _dfr_tfn_cols(idx, terms):
    """Shared (doc, term) frame with tfn per NormalizationH2 (c=1):
    tfn = tf * log2(1 + c * avgdl / dl)
    (search/similarities/NormalizationH2.java:52-54)."""
    p = idx.postings.where(F.col("term").isin(terms)).select(
        "term", "docid", "tf")
    d = idx.docs.select("docid", "doclen").where(F.col("doclen") > 0)
    j = p.join(d, "docid")
    avgdl = idx.coll_stats["sum_ttf"] / idx.coll_stats["doc_count"]
    tfn = (F.col("tf").cast("double")
           * F.log2(F.lit(1.0) + F.lit(avgdl) / F.col("doclen").cast("double")))
    return j, tfn


def _sim_topk(spark, agg):
    top = agg.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col("docid").alias("doc_id"), "score_q", "rank")


def _ft_dfr(spark, sf):
    """DFR I(n)L2 (search/similarities/DFRSimilarity.java:110-114 with
    BasicModelIn.java:33-37, AfterEffectL.java:32-34,
    NormalizationH2.java:52-54, c=1): per-term score =
    tfn * log2((N+1)/(df+0.5)) / (tfn+1); SHOULD clauses sum.
    sql-mode float64 with exact doclen, quantized."""
    idx = _docs_index(spark, sf)
    terms = ["hash", "join"]
    j, tfn = _dfr_tfn_cols(idx, terms)
    # df per term as literals (tiny dictionary lookup, one stats job)
    ts = {r["term"]: float(r["df"]) for r in
          idx.term_stats.where(F.col("term").isin(terms))
          .select("term", "df").collect()}
    n_docs = float(idx.coll_stats["doc_count"])
    dfc = F.create_map(*[x for t in terms for x in
                         (F.lit(t), F.lit(ts.get(t, 0.0)))])[F.col("term")]
    s = tfn * F.log2((F.lit(n_docs + 1.0)) / (dfc + F.lit(0.5))) / (tfn + F.lit(1.0))
    agg = (j.select("docid", s.alias("s"))
           .groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_dfr", _ft_dfr, f"""
WITH {FT_BASE},
sc AS (
  SELECT p.doc_id,
         (p.tf::DOUBLE * log2(1.0 + (cs.sttf / cs.n) / dl.doclen::DOUBLE))
           * log2((cs.n + 1.0) / (ts.df + 0.5))
           / ((p.tf::DOUBLE * log2(1.0 + (cs.sttf / cs.n) / dl.doclen::DOUBLE)) + 1.0)
           AS s
  FROM postings p
  JOIN tstats ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('hash','join') AND dl.doclen > 0
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_ib(spark, sf):
    """IB LL-D-H2 (search/similarities/IBSimilarity.java:120-127 with
    DistributionLL.java:30-32, LambdaDF.java:29-31,
    NormalizationH2.java, c=1): lambda = (df+1)/(N+1); per-term score
    = -ln(lambda / (tfn + lambda)); SHOULD clauses sum. sql-mode
    float64 with exact doclen, quantized."""
    idx = _docs_index(spark, sf)
    terms = ["scan", "merge"]
    j, tfn = _dfr_tfn_cols(idx, terms)
    ts = {r["term"]: float(r["df"]) for r in
          idx.term_stats.where(F.col("term").isin(terms))
          .select("term", "df").collect()}
    n_docs = float(idx.coll_stats["doc_count"])
    lam = F.create_map(*[x for t in terms for x in
                         (F.lit(t),
                          F.lit((ts.get(t, 0.0) + 1.0) / (n_docs + 1.0)))])[
        F.col("term")]
    s = -F.log(lam / (tfn + lam))
    agg = (j.select("docid", s.alias("s"))
           .groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_ib", _ft_ib, f"""
WITH {FT_BASE},
sc AS (
  SELECT p.doc_id,
         -ln(((ts.df + 1.0) / (cs.n + 1.0))
             / ((p.tf::DOUBLE * log2(1.0 + (cs.sttf / cs.n) / dl.doclen::DOUBLE))
                + ((ts.df + 1.0) / (cs.n + 1.0)))) AS s
  FROM postings p
  JOIN tstats ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('scan','merge') AND dl.doclen > 0
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _sim_stats(idx, terms):
    """(df, ttf) per term as literal maps (tiny dictionary lookup)."""
    rows = (idx.term_stats.where(F.col("term").isin(terms))
            .select("term", "df", "ttf").collect())
    st = {r["term"]: (float(r["df"]), float(r["ttf"])) for r in rows}
    dfc = F.create_map(*[x for t in terms for x in
                         (F.lit(t), F.lit(st.get(t, (0.0, 0.0))[0]))])
    ttfc = F.create_map(*[x for t in terms for x in
                          (F.lit(t), F.lit(st.get(t, (0.0, 0.0))[1]))])
    return dfc[F.col("term")], ttfc[F.col("term")]


def _ft_dfr_gb(spark, sf):
    """DFR G-B-H1 (DFRSimilarity.java with BasicModelG.java:
    lambda=F/(N+F), AfterEffectB.java: (F+1)/(df*(tfn+1)),
    NormalizationH1.java: tfn=c*tf*avgdl/dl, c=1) — a second cell of
    the DFR lattice beside the r2 I(n)L2; SHOULD clauses sum."""
    from lucene_solr_spark.functions import similarities as S

    idx = _docs_index(spark, sf)
    terms = ["hash", "join"]
    p = idx.postings.where(F.col("term").isin(terms)).select(
        "term", "docid", "tf")
    d = idx.docs.select("docid", "doclen").where(F.col("doclen") > 0)
    j = p.join(d, "docid")
    avgdl = idx.coll_stats["sum_ttf"] / idx.coll_stats["doc_count"]
    n_docs = float(idx.coll_stats["doc_count"])
    dfc, ttfc = _sim_stats(idx, terms)
    tfn = S.tfn_h1(F.col("tf"), F.col("doclen"), avgdl)
    s = S.dfr_score(tfn, basic="G", after="B", n_docs=n_docs,
                    df=dfc, ttf=ttfc)
    agg = (j.select("docid", s.alias("s")).groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_dfr_gb", _ft_dfr_gb, f"""
WITH {FT_BASE},
ts2 AS (SELECT term, count(*)::DOUBLE AS df, sum(tf)::DOUBLE AS ttf
        FROM postings GROUP BY term),
sc AS (
  SELECT p.doc_id,
         (log2((ts.ttf / (cs.n + ts.ttf)) + 1.0)
          + (p.tf::DOUBLE * (cs.sttf / cs.n) / dl.doclen::DOUBLE)
            * log2((1.0 + (ts.ttf / (cs.n + ts.ttf)))
                   / (ts.ttf / (cs.n + ts.ttf))))
         * ((ts.ttf + 1.0)
            / (ts.df * ((p.tf::DOUBLE * (cs.sttf / cs.n)
                         / dl.doclen::DOUBLE) + 1.0))) AS s
  FROM postings p
  JOIN ts2 ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('hash','join') AND dl.doclen > 0
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_ib_spl(spark, sf):
    """IB SPL-T-H2 (IBSimilarity.java with DistributionSPL.java:
    -log2((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda)),
    LambdaTTF.java: (F+1)/(N+1), NormalizationH2, c=1) — the other
    IB distribution/lambda beside the r2 LL-D-H2."""
    from lucene_solr_spark.functions import similarities as S

    idx = _docs_index(spark, sf)
    terms = ["scan", "merge"]
    j, tfn = _dfr_tfn_cols(idx, terms)
    n_docs = float(idx.coll_stats["doc_count"])
    dfc, ttfc = _sim_stats(idx, terms)
    lam = (ttfc + F.lit(1.0)) / F.lit(n_docs + 1.0)
    s = S.ib_score(tfn, distribution="SPL", lam=lam)
    agg = (j.select("docid", s.alias("s")).groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_ib_spl", _ft_ib_spl, f"""
WITH {FT_BASE},
ts2 AS (SELECT term, count(*)::DOUBLE AS df, sum(tf)::DOUBLE AS ttf
        FROM postings GROUP BY term),
sc AS (
  SELECT p.doc_id,
         -(ln((pow((ts.ttf + 1.0) / (cs.n + 1.0),
                   (p.tf::DOUBLE * log2(1.0 + (cs.sttf / cs.n)
                                        / dl.doclen::DOUBLE))
                   / ((p.tf::DOUBLE * log2(1.0 + (cs.sttf / cs.n)
                                           / dl.doclen::DOUBLE)) + 1.0))
               - (ts.ttf + 1.0) / (cs.n + 1.0))
              / (1.0 - (ts.ttf + 1.0) / (cs.n + 1.0)))
           * 1.4426950408889634) AS s
  FROM postings p
  JOIN ts2 ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('scan','merge') AND dl.doclen > 0
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_lmjm(spark, sf):
    """LM Jelinek-Mercer (LMJelinekMercerSimilarity.java:40-44,
    lambda=0.1, DefaultCollectionModel P(t|C)=F/sum_ttf): per-term
    log(1 + ((1-l)*tf/dl)/(l*P)); SHOULD clauses sum — completes the
    LM family beside the r2 LM-Dirichlet."""
    from lucene_solr_spark.functions import similarities as S

    idx = _docs_index(spark, sf)
    terms = ["hash", "scan"]
    p = idx.postings.where(F.col("term").isin(terms)).select(
        "term", "docid", "tf")
    d = idx.docs.select("docid", "doclen").where(F.col("doclen") > 0)
    j = p.join(d, "docid")
    dfc, ttfc = _sim_stats(idx, terms)
    s = S.lmjm_score(F.col("tf"), F.col("doclen"), ttf=ttfc,
                     sum_ttf=float(idx.coll_stats["sum_ttf"]), lam=0.1)
    agg = (j.select("docid", s.alias("s")).groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_lmjm", _ft_lmjm, f"""
WITH {FT_BASE},
ts2 AS (SELECT term, sum(tf)::DOUBLE AS ttf FROM postings GROUP BY term),
sc AS (
  SELECT p.doc_id,
         ln(1.0 + (0.9 * p.tf::DOUBLE / dl.doclen::DOUBLE)
                  / (0.1 * (ts.ttf / cs.sttf))) AS s
  FROM postings p
  JOIN ts2 ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('hash','scan') AND dl.doclen > 0
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- doc-values sidecar: function queries / sort answered from the index ---

def _seg_docvalues(spark, sf):
    """The driver segment index's doc-values sidecar, backfilled on
    first use if the cached index predates the sidecar (the
    updateDocValues analogue — postings untouched)."""
    from lucene_solr_spark.index.segments import write_docvalues

    si = _seg_index(spark, sf)
    if not si.has_docvalues():
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        write_docvalues(si, docs, key_col="doc_id", cols=["n_chars"])
    return si


def _seg_function_query(spark, sf):
    """Function query answered ENTIRELY from the segment index
    (doc-values sidecar, Lucene70DocValuesFormat.java:88-117 +
    queries/function/valuesource/: ln + recip composition as Column
    expressions) — no source-table scan in the plan (asserted in
    tests/test_segments.py)."""
    si = _seg_docvalues(spark, sf)
    dv = si.docvalues
    score = (F.log(F.lit(1.0) + F.col("n_chars"))
             / (F.lit(1.0) + F.lit(0.001) * F.col("docid").cast("double")))
    out = dv.select(F.col("docid").alias("doc_id"),
                    F.floor(score * Q).cast("long").alias("score_q"))
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (out.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(15)
            .withColumn("rank", F.row_number().over(w).cast("long")))


_register("seg_function_query", _seg_function_query, """
WITH sc AS (
  SELECT doc_id,
         CAST(floor(ln(1.0 + n_chars) / (1.0 + 0.001 * doc_id) * 1000000)
              AS BIGINT) AS score_q
  FROM documents
)
SELECT doc_id, score_q,
       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank
FROM sc QUALIFY rank <= 15
""")


def _seg_sort_dv(spark, sf):
    """Sort-by-field from the doc-values sidecar (TopFieldCollector
    over a NumericDocValues sort field, search/TopFieldCollector.java)
    — source tables never scanned."""
    si = _seg_docvalues(spark, sf)
    return (si.docvalues
            .select(F.col("docid").alias("doc_id"),
                    F.col("n_chars").cast("long").alias("n_chars"))
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20))


_register("seg_sort_dv", _seg_sort_dv, """
SELECT doc_id, n_chars::BIGINT AS n_chars
FROM documents
ORDER BY n_chars DESC, doc_id LIMIT 20
""")


def _shortest_path_paths(spark, sf):
    """ShortestPathStream with the actual PATH tuples (not just
    distances): parts co-occurring in an order's lineitems, BFS from
    part 1, 2 hops; per node the lexicographic-min shortest path,
    rendered as a fixed-width string so the tie-break is engine-
    independent."""
    from lucene_solr_spark.operators.graph import shortest_paths

    li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (a.join(b, "k").where(F.col("src") != F.col("dst"))
             .select("src", "dst").distinct())
    sp = shortest_paths(edges, src=1, max_hops=2)
    out = sp.select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("dist"),
        F.array_join(
            F.transform("path", lambda x: F.lpad(x.cast("string"), 6, "0")),
            "->").alias("path"))
    return out.orderBy("node").limit(50)


_register("shortest_path_paths", _shortest_path_paths, """
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
bfs(node, dist, path) AS (
  SELECT 1::BIGINT, 0, lpad('1', 6, '0')
  UNION ALL
  SELECT e.dst, bfs.dist + 1,
         bfs.path || '->' || lpad(e.dst::VARCHAR, 6, '0')
  FROM bfs JOIN e ON e.src = bfs.node
  WHERE bfs.dist < 2
),
md AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node),
best AS (
  SELECT b.node, m.dist::BIGINT AS dist, min(b.path) AS path
  FROM bfs b JOIN md m ON b.node = m.node AND b.dist = m.dist
  GROUP BY b.node, m.dist
)
SELECT node, dist, path FROM best ORDER BY node LIMIT 50
""")


# ---- multi-term repeat groups in sloppy multi-phrases ----------------------

def _ft_multiphrase_rpt(spark, sf):
    """MultiPhraseQuery with SHARED-TERM slots under slop — the
    rptGroups multi-term case of SloppyPhraseScorer (gatherRptGroups'
    hasMultiTermRpts branch + advanceRepeatGroups :296-312): slot 0 =
    {hash, merge}, slot 1 = {merge, join}, slop 2. Two slots sharing
    'merge' form one repeat group; a collision (both slots on one
    actual token) advances the lesser pp until clear, so one token
    never satisfies two slots. Oracle: recursive-CTE transcription of
    the same state machine (phases init/advance/resolve; for this
    2-slot group the colliding lesser is always the offset-1 slot)."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    m = s.matches(A.MultiPhraseQ((("hash", "merge"), ("merge", "join")),
                                 slop=2))
    return _quantize_topk(m, 10)


_MP_RPT_CTE = """
mpa AS (SELECT doc_id, list(pos ORDER BY pos) AS la
        FROM tokf WHERE term IN ('hash','merge') GROUP BY doc_id),
mpb AS (SELECT doc_id, list(pos - 1 ORDER BY pos) AS lb
        FROM tokf WHERE term IN ('merge','join') GROUP BY doc_id),
st AS (
  SELECT a.doc_id, a.la, b.lb,
         1 AS ia, 1 AS ib, 0 AS act, 0 AS ml, 0 AS e, 0 AS nxt,
         0.0::DOUBLE AS freq, 'i' AS ph, FALSE AS done
  FROM mpa a JOIN mpb b USING (doc_id)
  UNION ALL
  SELECT doc_id, la, lb,
    CASE WHEN ph = 'm' AND act = 0 AND NOT exh THEN ia + 1 ELSE ia END,
    CASE WHEN (ph = 'i' AND coll AND NOT exh)
           OR (ph = 'm' AND act = 1 AND NOT exh)
           OR (ph = 'r' AND coll AND NOT exh) THEN ib + 1 ELSE ib END,
    CASE WHEN (ph = 'i' AND NOT coll)
           OR (ph = 'r' AND NOT coll AND p > nxt)
         THEN CASE WHEN la[ia] <= lb[ib] THEN 0 ELSE 1 END
         ELSE act END,
    CASE WHEN ph = 'i' AND NOT coll
           THEN greatest(la[ia], lb[ib]) - least(la[ia], lb[ib])
         WHEN ph = 'r' AND NOT coll AND p > nxt
           THEN e - least(la[ia], lb[ib])
         WHEN ph = 'r' AND NOT coll
           THEN least(ml, e - p)
         ELSE ml END,
    CASE WHEN ph = 'i' AND NOT coll THEN greatest(la[ia], lb[ib])
         WHEN ph = 'm' AND NOT exh
           THEN greatest(e, CASE WHEN act = 0 THEN la[ia + 1]
                                 ELSE lb[ib + 1] END)
         WHEN ph = 'r' AND coll AND NOT exh THEN greatest(e, lb[ib + 1])
         ELSE e END,
    CASE WHEN ph = 'i' AND NOT coll
           THEN CASE WHEN la[ia] <= lb[ib] THEN lb[ib] ELSE la[ia] END
         WHEN ph = 'r' AND NOT coll AND p > nxt
           THEN CASE WHEN la[ia] <= lb[ib] THEN lb[ib] ELSE la[ia] END
         ELSE nxt END,
    CASE WHEN exh AND ph <> 'i' AND ml <= {slop}
           THEN freq + 1.0 / (ml + 1)
         WHEN ph = 'r' AND NOT coll AND p > nxt AND ml <= {slop}
           THEN freq + 1.0 / (ml + 1)
         ELSE freq END,
    CASE WHEN exh THEN ph
         WHEN ph = 'i' AND coll THEN 'i'
         WHEN ph = 'i' THEN 'm'
         WHEN ph = 'm' THEN 'r'
         WHEN ph = 'r' AND coll THEN 'r'
         ELSE 'm' END,
    exh
  FROM (
    SELECT *,
      CASE WHEN ph = 'i' OR ph = 'r'
           THEN la[ia] = lb[ib] + 1 ELSE FALSE END AS coll,
      CASE WHEN ph = 'm'
             THEN CASE WHEN act = 0 THEN ia + 1 > len(la)
                       ELSE ib + 1 > len(lb) END
           WHEN (ph = 'i' OR ph = 'r') AND la[ia] = lb[ib] + 1
             THEN ib + 1 > len(lb)
           ELSE FALSE END AS exh,
      CASE WHEN act = 0 THEN la[ia] ELSE lb[ib] END AS p
    FROM st WHERE NOT done
  )
),
ph AS (
  SELECT doc_id, CASE WHEN ph = 'i' THEN 0.0 ELSE freq END AS pfreq
  FROM st WHERE done
)
"""


_register("ft_multiphrase_rpt", _ft_multiphrase_rpt, f"""
WITH RECURSIVE {FT_BASE},
{_MP_RPT_CTE.format(slop=2)},
idfs AS (
  SELECT sum(ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5))) AS idf_sum
  FROM tstats ts CROSS JOIN cstats cs
  WHERE ts.term IN ('hash', 'merge', 'join')
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pfreq
              / (ph.pfreq + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
  WHERE ph.pfreq > 0
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- analyzed completion (AnalyzingSuggester) ------------------------------

def _suggest_analyzing(spark, sf):
    """Weight-ordered ANALYZED completion (AnalyzingSuggester vs the
    raw term-prefix table of suggest_prefix): entries are each doc's
    leading 30 chars weighted by n_chars; the query 'custo' is
    analyzed with the same chain, last token treated as a prefix.
    Served from the PERSISTED key-prefix-partitioned layout
    (write_suggester — the FST file's role), so the lookup reads one
    pfx partition, not the whole table."""
    from lucene_solr_spark.operators.searchext import (
        analyzing_suggest, build_analyzing_suggester, load_suggester,
        write_suggester)

    key = os.path.basename(sf.rstrip("/"))
    path = f"/tmp/driver_suggester_{key}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        docs = _load(spark, sf, "documents")
        entries = docs.select(
            F.substring("text", 1, 30).alias("surface"),
            F.col("n_chars").alias("weight"))
        write_suggester(build_analyzing_suggester(entries), path)
    return analyzing_suggest(load_suggester(spark, path), "custo", k=10)


_register("suggest_analyzing", _suggest_analyzing, f"""
WITH ent AS (
  SELECT substr(text, 1, 30) AS surface, n_chars AS weight FROM documents
),
keyed AS (
  SELECT array_to_string(
           list_filter(string_split(surface, ' '),
                       x -> x <> '' AND x NOT IN ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with')),
           chr(31)) AS key,
         surface, max(weight) AS weight
  FROM ent GROUP BY 1, 2
),
cand AS (
  SELECT surface, weight::BIGINT AS weight,
         CASE WHEN key = 'custo' THEN 1 ELSE 0 END AS is_exact
  FROM keyed
  WHERE key <> '' AND starts_with(key, 'custo')
)
SELECT surface, weight,
       row_number() OVER (ORDER BY is_exact DESC, weight DESC, surface)
         AS rank
FROM cand
QUALIFY rank <= 10
""")


# ---- QParser breadth: parsed multi-term leaf syntax ------------------------

def _ft_qparser_mix(spark, sf):
    """Classic-QParser leaf syntax through parse_query (queryparser/
    classic/QueryParserBase.java surface: range + trailing-* prefix +
    fuzzy, composed with OR): `text:[merge TO part] OR has* OR scann~1`.
    Each multi-term leaf rewrites constant-score; the OR sums clause
    scores, so score_q counts matched clauses (x 1e6)."""
    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    q = A.parse_query("text:[merge TO part] OR has* OR scann~1")
    m = s.matches(q)
    return m.select(F.col("docid").alias("doc_id"),
                    F.floor(F.col("score") * Q).cast("long").alias("score_q"))


_register("ft_qparser_mix", _ft_qparser_mix, f"""
WITH {FT_BASE},
c1 AS (SELECT DISTINCT doc_id FROM postings
       WHERE term >= 'merge' AND term <= 'part'),
c2 AS (SELECT DISTINCT doc_id FROM postings WHERE term LIKE 'has%'),
c3 AS (SELECT DISTINCT doc_id FROM postings
       WHERE levenshtein(term, 'scann') <= 1),
u AS (
  SELECT doc_id, 1.0 AS s FROM c1
  UNION ALL SELECT doc_id, 1.0 FROM c2
  UNION ALL SELECT doc_id, 1.0 FROM c3
)
SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
FROM u GROUP BY doc_id
""")


def _ft_dfi(spark, sf):
    """DFI standardized (search/similarities/DFISimilarity.java:59-69
    + IndependenceStandardized.java:28-30): expected = (ttf+1) * dl /
    (numFieldTokens+1); score = log2((freq - expected)/sqrt(expected)
    + 1) when freq > expected else 0; SHOULD clauses sum. sql-mode
    float64, exact doclen, quantized."""
    idx = _docs_index(spark, sf)
    terms = ["hash", "scan"]
    p = idx.postings.where(F.col("term").isin(terms)).select(
        "term", "docid", "tf")
    ts = idx.term_stats.where(F.col("term").isin(terms)).select("term", "ttf")
    d = idx.docs.select("docid", "doclen")
    j = p.join(F.broadcast(ts), "term").join(d, "docid")
    n_tok = float(idx.coll_stats["sum_ttf"])
    expected = ((F.col("ttf").cast("double") + F.lit(1.0))
                * F.col("doclen").cast("double") / F.lit(n_tok + 1.0))
    freq = F.col("tf").cast("double")
    s = F.when(freq <= expected, F.lit(0.0)).otherwise(
        F.log2((freq - expected) / F.sqrt(expected) + F.lit(1.0)))
    agg = (j.select("docid", s.alias("s"))
           .groupBy("docid")
           .agg(F.floor(F.sum("s") * Q).cast("long").alias("score_q")))
    return _sim_topk(spark, agg)


_register("ft_dfi", _ft_dfi, f"""
WITH {FT_BASE},
ttfs AS (SELECT term, sum(tf)::DOUBLE AS ttf FROM postings GROUP BY term),
sc AS (
  SELECT p.doc_id,
         CASE WHEN p.tf::DOUBLE <= (ts.ttf + 1.0) * dl.doclen / (cs.sttf + 1.0)
              THEN 0.0
              ELSE log2((p.tf::DOUBLE
                         - (ts.ttf + 1.0) * dl.doclen / (cs.sttf + 1.0))
                        / sqrt((ts.ttf + 1.0) * dl.doclen / (cs.sttf + 1.0))
                        + 1.0) END AS s
  FROM postings p
  JOIN ttfs ts USING (term)
  JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
  WHERE p.term IN ('hash','scan')
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _index_sorted_topk(spark, sf):
    """EarlyTerminatingSortingCollector over the index sort: first 25
    docs in index order (docid == url order == doc_id here), with the
    docid cutoff bounded by the segment manifest so the scan reads
    O(k) rows regardless of corpus size (plan-asserted in tests)."""
    si = _seg_index(spark, sf)
    return (si.index_sorted_topk(25)
            .select(F.col("docid").alias("doc_id"),
                    F.col("doclen").cast("long").alias("doclen")))


_register("index_sorted_topk", _index_sorted_topk, f"""
WITH {FT_BASE}
SELECT doc_id, doclen::BIGINT AS doclen
FROM doclen ORDER BY doc_id LIMIT 25
""")


# ---- TermAutomatonQuery / GraphQuery (finite-strings route) ----------------

def _term_automaton(spark, sf):
    """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java) via
    finite-string enumeration — the synonym-graph shape GraphQuery
    compiles to (util/graph/GraphTokenStreamFiniteStrings.java):
    accept 'hash join' OR 'hash ANY join'; freq = distinct matching
    start positions, scored with the phrase recipe (summed idf)."""
    s = Searcher(_docs_index(spark, sf), mode="sql")
    q = A.TermAutomatonQ(
        transitions=((0, 1, "hash"), (1, 3, "join"),
                     (1, 2, None), (2, 3, "join")),
        accept=(3,))
    return _quantize_topk(s.matches(q), 10)


_register("term_automaton", _term_automaton, f"""
WITH {FT_BASE},
ph AS (
  SELECT doc_id, count(DISTINCT p)::DOUBLE AS pfreq FROM (
    SELECT h.doc_id, h.pos AS p
    FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') h
    JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') j
      ON h.doc_id = j.doc_id AND (j.pos = h.pos + 1 OR j.pos = h.pos + 2)
  ) GROUP BY doc_id
),
idfs AS (
  SELECT sum(ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5))) AS idf_sum
  FROM tstats ts CROSS JOIN cstats cs WHERE ts.term IN ('hash', 'join')
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pfreq
              / (ph.pfreq + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- geo/spatial (LatLonPoint analogues) -----------------------------------
# No geo columns exist in the fixtures, so coordinates derive
# DETERMINISTICALLY from customer keys by exact integer arithmetic
# (identical in any engine): lat/lon land on a 0.01-degree lattice.

_GEO_LAT = "(((c_custkey * 7919) % 18000) / 100.0 - 90.0)"
_GEO_LON = "(((c_custkey * 104729) % 36000) / 100.0 - 180.0)"


def _geo_frame(spark, sf):
    c = _load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 18000) / 100.0 - 90.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias("lon"))


def _geo_box(spark, sf):
    """LatLonPoint.newBoxQuery: rectangle containment as range
    predicates (the BKD cell visit becomes scan-level pruning)."""
    from lucene_solr_spark.operators.spatial import box_query

    g = _geo_frame(spark, sf)
    return (box_query(g, 10.0, 55.0, -30.0, 40.0)
            .select("c_custkey").orderBy("c_custkey"))


_register("geo_box", _geo_box, f"""
SELECT c_custkey FROM customer
WHERE {_GEO_LAT} BETWEEN 10.0 AND 55.0
  AND {_GEO_LON} BETWEEN -30.0 AND 40.0
ORDER BY c_custkey
""")


_HAVERSINE_SQL = """
2.0 * 6371008.7714 * asin(least(1.0, sqrt(
  sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)
  + cos(radians({lat1})) * cos(radians({lat2}))
    * sin(radians(({lon2}) - ({lon1})) / 2)
    * sin(radians(({lon2}) - ({lon1})) / 2))))
"""


def _geo_distance(spark, sf):
    """LatLonPoint.newDistanceQuery: bounding-box prefilter + exact
    haversine radius verify; dist quantized to whole meters."""
    from lucene_solr_spark.operators.spatial import (
        distance_query, haversine_meters)

    g = _geo_frame(spark, sf)
    hits = distance_query(g, 34.05, -118.24, 2_000_000.0)
    d = haversine_meters(F.col("lat"), F.col("lon"),
                         F.lit(34.05), F.lit(-118.24))
    return hits.select("c_custkey", F.floor(d).cast("long").alias("dist_m"))


_register("geo_distance", _geo_distance, f"""
SELECT c_custkey,
       CAST(floor({_HAVERSINE_SQL.format(lat1=_GEO_LAT, lon1=_GEO_LON,
                                         lat2='34.05', lon2='-118.24')})
            AS BIGINT) AS dist_m
FROM customer
WHERE {_HAVERSINE_SQL.format(lat1=_GEO_LAT, lon1=_GEO_LON,
                             lat2='34.05', lon2='-118.24')} <= 2000000.0
""")


def _geo_nearest(spark, sf):
    """LatLonPoint nearest: top-20 by (haversine meters asc, key)."""
    from lucene_solr_spark.operators.spatial import nearest

    g = _geo_frame(spark, sf)
    return nearest(g, 48.85, 2.35, 20, id_col="c_custkey")


_register("geo_nearest", _geo_nearest, f"""
WITH sc AS (
  SELECT c_custkey,
         CAST(floor({_HAVERSINE_SQL.format(lat1=_GEO_LAT, lon1=_GEO_LON,
                                           lat2='48.85', lon2='2.35')})
              AS BIGINT) AS dist_m
  FROM customer
)
SELECT c_custkey, dist_m,
       row_number() OVER (ORDER BY dist_m, c_custkey) AS rank
FROM sc QUALIFY rank <= 20
""")


def _ft_func_breadth(spark, sf):
    """Solr function-query surface breadth (solr/core/.../search/
    ValueSourceParser.java registry): one composed expression using
    scale(), linear(), recip(), sqrt(), abs(), ln(), plus the
    relevance-free sort contract — scale needs a global (min,max)
    aggregate exactly like ScaleFloatFunction's createWeight pass."""
    o = _load(spark, sf, "orders")
    mm = o.agg(F.min("o_totalprice").alias("mn"),
               F.max("o_totalprice").alias("mx")).collect()[0]
    mn, mx = float(mm["mn"]), float(mm["mx"])
    scale = (F.col("o_totalprice") - F.lit(mn)) / F.lit(mx - mn)
    recip = F.lit(1000.0) / (F.lit(1.0) * F.col("o_orderkey") + F.lit(1000.0))
    lin = F.lit(0.0001) * F.col("o_custkey") + F.lit(0.5)
    score = (scale + recip + lin
             + F.sqrt(F.abs(F.col("o_custkey") - F.lit(500)))
             * F.lit(0.001)
             + F.log(F.lit(1.0) + F.col("o_orderkey")) * F.lit(0.01))
    out = o.select("o_orderkey",
                   F.floor(score * Q).cast("long").alias("score_q"))
    w = Window.orderBy(F.desc("score_q"), F.asc("o_orderkey"))
    return (out.orderBy(F.desc("score_q"), F.asc("o_orderkey")).limit(25)
            .withColumn("rank", F.row_number().over(w).cast("long")))


_register("ft_func_breadth", _ft_func_breadth, """
WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
sc AS (
  SELECT o_orderkey,
         CAST(floor((
           (o_totalprice - mm.mn) / (mm.mx - mm.mn)
           + 1000.0 / (1.0 * o_orderkey + 1000.0)
           + 0.0001 * o_custkey + 0.5
           + sqrt(abs(o_custkey - 500)) * 0.001
           + ln(1.0 + o_orderkey) * 0.01) * 1000000) AS BIGINT) AS score_q
  FROM orders CROSS JOIN mm
)
SELECT o_orderkey, score_q,
       row_number() OVER (ORDER BY score_q DESC, o_orderkey) AS rank
FROM sc QUALIFY rank <= 25
""")


# ---- alternate analyzers (analysis/extra.py) -------------------------------

_WS_INDEX_CACHE: dict[str, object] = {}


def _ws_index(spark, sf):
    from lucene_solr_spark.index.builder import build_index

    if sf not in _WS_INDEX_CACHE:
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        idx = build_index(docs, key_col="doc_id", text_col="text",
                          precomputed_docid="doc_id",
                          analyzer="whitespace").cache()
        idx.docs.count()
        _WS_INDEX_CACHE[sf] = idx
    return _WS_INDEX_CACHE[sf]


def _ft_whitespace_term(spark, sf):
    """WhitespaceAnalyzer build (analysis/common/.../core/
    WhitespaceAnalyzer.java via the pluggable chain): no stop filter,
    so the stopword 'the' IS indexed — a behavioral proof the chain
    actually switched, not just a re-label."""
    idx = _ws_index(spark, sf)
    return idx.postings.where(F.col("term") == "the").select(
        F.col("docid").alias("doc_id"), F.col("tf").cast("long").alias("tf"))


# the oracle mirrors the ANALYZER contract, not the fixture shape:
# Python str.split() = split on any whitespace RUN, no empty tokens;
# tokens longer than 255 chars are dropped (WhitespaceTokenizer's
# maxTokenLen) — regexp split + the same filters.
_register("ft_whitespace_term", _ft_whitespace_term, r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            x -> len(x) > 0 AND len(x) <= 255)) AS term
  FROM documents
)
SELECT doc_id, count(*)::BIGINT AS tf
FROM tok WHERE term = 'the' GROUP BY doc_id
""")


# ---- JDBC-style SQL source (JDBCStream analogue over DuckDB) ---------------

def _jdbc_stream(spark, sf):
    """JDBCStream (solr/solrj/.../io/stream/JDBCStream.java): pull a
    SQL query's result from an external database into the pipeline,
    then compose with native ops (here: a groupBy over the fetched
    rows). The database is a DuckDB file materialized once per sf from
    the customer table — the 'external RDBMS' of the sandbox."""
    import os as _o

    import duckdb

    from lucene_solr_spark.sources.sqlsource import sql_stream

    key = os.path.basename(sf.rstrip("/"))
    db = f"/tmp/driver_jdbc_{key}.duckdb"
    if not _o.path.exists(db):
        con = duckdb.connect(db)
        con.execute(f"CREATE TABLE customer AS "
                    f"SELECT * FROM '{sf}/customer.parquet'")
        con.close()
    rows = sql_stream(
        spark, db,
        "SELECT c_custkey, c_nationkey, c_acctbal FROM customer "
        "WHERE c_acctbal > 1000")
    return (rows.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.round(F.sum("c_acctbal") * 100).cast("long")
                 .alias("bal_cents"))
            .select(F.col("c_nationkey").cast("long").alias("c_nationkey"),
                    "n_cust", "bal_cents"))


_register("jdbc_stream", _jdbc_stream, """
SELECT c_nationkey::BIGINT AS c_nationkey,
       count(*)::BIGINT AS n_cust,
       CAST(round(sum(c_acctbal) * 100) AS BIGINT) AS bal_cents
FROM customer WHERE c_acctbal > 1000
GROUP BY c_nationkey
""")


# ---- Solr local-params QParser dialects ------------------------------------

def _solr_collapse_qp(spark, sf):
    """{!collapse field=lang} over a scored query (CollapsingQParser
    Plugin.java): best doc per lang among docs matching
    'hash AND join', sql-mode scores quantized."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"), "lang"))
    out = solr_qparser(s, "{!collapse field=lang}hash AND join", attrs)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score") * Q).cast("long")
                      .alias("score_q"))


_register("solr_collapse_qp", _solr_collapse_qp, f"""
WITH {FT_BASE},
{_ft_scored(['hash', 'join'])},
m AS (
  SELECT a.doc_id, a.s + b.s AS score
  FROM (SELECT doc_id, s FROM scored WHERE term='hash') a
  JOIN (SELECT doc_id, s FROM scored WHERE term='join') b USING (doc_id)
),
r AS (
  SELECT m.doc_id, m.score, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY m.score DESC, m.doc_id) AS rn
  FROM m JOIN documents d USING (doc_id)
)
SELECT doc_id, CAST(floor(score * 1000000) AS BIGINT) AS score_q
FROM r WHERE rn = 1
""")


def _solr_join_qp(spark, sf):
    """{!join from=source to=source} (JoinQParserPlugin.java): docs
    sharing a source with any doc matching the inner query."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"), "source"))
    out = solr_qparser(s, '{!join from=source to=source}"hash join"', attrs)
    return out.select(F.col("docid").alias("doc_id")).orderBy("doc_id")


_register("solr_join_qp", _solr_join_qp, f"""
WITH {FT_BASE},
ph AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
),
srcs AS (SELECT DISTINCT d.source FROM documents d JOIN ph USING (doc_id))
SELECT DISTINCT d.doc_id FROM documents d JOIN srcs USING (source)
ORDER BY doc_id
""")


def _geo_polygon(spark, sf):
    """Convex-polygon containment (planar-convex subset of
    LatLonPoint.newPolygonQuery) over the derived coordinates."""
    from lucene_solr_spark.operators.spatial import convex_polygon_query

    g = _geo_frame(spark, sf)
    # CCW quadrilateral roughly over western europe
    verts = [(35.0, -12.0), (35.0, 25.0), (60.0, 30.0), (60.0, -15.0)]
    return (convex_polygon_query(g, verts)
            .select("c_custkey").orderBy("c_custkey"))


def _poly_sql(verts):
    conds = []
    n = len(verts)
    for i in range(n):
        a_lat, a_lon = verts[i]
        b_lat, b_lon = verts[(i + 1) % n]
        conds.append(
            f"(({b_lon} - {a_lon}) * ({_GEO_LAT} - {a_lat})"
            f" - ({b_lat} - {a_lat}) * ({_GEO_LON} - {a_lon})) >= 0")
    return " AND ".join(conds)


_register("geo_polygon", _geo_polygon, f"""
SELECT c_custkey FROM customer
WHERE {_poly_sql([(35.0, -12.0), (35.0, 25.0), (60.0, 30.0), (60.0, -15.0)])}
ORDER BY c_custkey
""")


# concave L-shaped shell with a rectangular hole — the general
# (non-convex, holed) planar polygon path
_POLY_SHELL = [(30.0, -10.0), (30.0, 30.0), (45.0, 30.0),
               (45.0, 10.0), (60.0, 10.0), (60.0, -10.0)]
_POLY_HOLE = [(35.0, -5.0), (35.0, 5.0), (40.0, 5.0), (40.0, -5.0)]


def _ring_sql(ring) -> str:
    """The even-odd crossing parity of spatial._ray_cast_cond as SQL:
    XOR chain (boolean <>) over straddling edges."""
    expr = "FALSE"
    n = len(ring)
    for i in range(n):
        a_lat, a_lon = ring[i]
        b_lat, b_lon = ring[(i + 1) % n]
        if a_lat == b_lat:
            continue
        edge = (f"((({a_lat} > {_GEO_LAT}) <> ({b_lat} > {_GEO_LAT}))"
                f" AND ({_GEO_LON} < ({b_lon - a_lon})"
                f" * ({_GEO_LAT} - {a_lat}) / ({b_lat - a_lat})"
                f" + {a_lon}))")
        expr = f"({expr} <> {edge})"
    return expr


def _geo_polygon_holes(spark, sf):
    """General planar polygon with a hole (core/geo/Polygon.java,
    LatLonPointInPolygonQuery): concave L-shaped shell, rectangular
    hole, even-odd ray casting."""
    from lucene_solr_spark.operators.spatial import polygon_query

    g = _geo_frame(spark, sf)
    return (polygon_query(g, _POLY_SHELL, [_POLY_HOLE])
            .select("c_custkey").orderBy("c_custkey"))


_register("geo_polygon_holes", _geo_polygon_holes, f"""
SELECT c_custkey FROM customer
WHERE {_ring_sql(_POLY_SHELL)} AND NOT {_ring_sql(_POLY_HOLE)}
ORDER BY c_custkey
""")


# ---- SQ8 quantized vector search -------------------------------------------

def _ann_sq8(spark, sf):
    """int8 scalar-quantized top-10 over the PERSISTED code layout
    (build_ann_index writes (id, codes BINARY, scale) once; the probe
    scans ONLY that 4x-smaller table — the float embedding column is
    never read, plan-asserted in tests/test_similarity.py). Ranking =
    FAISS SQ8 asymmetric reconstruction: exact int64 code dot times
    the stored per-vector scale, floor-quantized in a fixed op order.
    Query = vector 0, quantized with the same floor(x*127/max|x|)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qrow = emb.where(F.col("vec_id") == 0).first()
    path = _ann_index(spark, sf)
    return SIM.sq8_topk_indexed(spark, path, list(qrow["embedding"]),
                                k=10, exclude_ids=[0])


_register("ann_sq8", _ann_sq8, """
WITH q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
qm AS (SELECT list_max(list_transform(v, y -> abs(y::DOUBLE))) AS m FROM q),
qc AS (
  SELECT list_transform(v, x -> floor(x::DOUBLE * 127.0 / qm.m)) AS c
  FROM q, qm
),
enc AS (
  SELECT vec_id, mx,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 127.0 / mx)) AS c
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, y -> abs(y::DOUBLE))) AS mx
        FROM embeddings WHERE vec_id <> 0)
  WHERE mx > 0
),
sc AS (
  SELECT e.vec_id,
         CAST(floor((list_dot_product(e.c, (SELECT c FROM qc))::DOUBLE
                     * e.mx) * 1000000.0) AS BIGINT) AS recon_q
  FROM enc e
)
SELECT vec_id, recon_q,
       row_number() OVER (ORDER BY recon_q DESC, vec_id) AS rank
FROM sc QUALIFY rank <= 10
""")


def _ann_sq8_rerank(spark, sf):
    """Two-stage quantized serving (the standard SQ recipe): stage 1
    takes top-50 candidates from the PERSISTED code table (4x-smaller
    scan, reconstructed-dot ranking, float column untouched); stage 2
    re-ranks only the 50 survivors by EXACT float cosine — recall of
    the exact metric at quantized-scan cost."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qrow = emb.where(F.col("vec_id") == 0).first()
    qv = list(qrow["embedding"])
    path = _ann_index(spark, sf)
    cand = SIM.sq8_topk_indexed(spark, path, qv, k=50, exclude_ids=[0])
    survivors = emb.join(cand.select("vec_id"), "vec_id")
    return SIM.brute_force_topk(survivors, qv, k=10)


_register("ann_sq8_rerank", _ann_sq8_rerank, """
WITH q AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
qm AS (SELECT list_max(list_transform(v, y -> abs(y::DOUBLE))) AS m FROM q),
qc AS (
  SELECT list_transform(v, x -> floor(x::DOUBLE * 127.0 / qm.m)) AS c
  FROM q, qm
),
enc AS (
  SELECT vec_id, embedding, mx,
         list_transform(embedding,
                        x -> floor(x::DOUBLE * 127.0 / mx)) AS c
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, y -> abs(y::DOUBLE))) AS mx
        FROM embeddings WHERE vec_id <> 0)
  WHERE mx > 0
),
stage1 AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY CAST(floor((list_dot_product(c, (SELECT c FROM qc))::DOUBLE
                                * mx) * 1000000.0) AS BIGINT)
                    DESC, vec_id) AS r1
  FROM enc QUALIFY r1 <= 50
),
sc AS (
  SELECT s.vec_id,
         CAST(floor(
           list_sum(list_transform(range(1, len(s.embedding)+1),
                    i -> s.embedding[i]::DOUBLE * q.v[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(s.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.v, x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cos_q
  FROM stage1 s CROSS JOIN q
)
SELECT vec_id, cos_q,
       row_number() OVER (ORDER BY cos_q DESC, vec_id) AS rank
FROM sc QUALIFY rank <= 10
""")


# ---- §2.2/§2.8 multi-field indexing + edismax qf (round 4) ---------------
#
# The per-field data model (index/FieldInfos.java, codecs/perfield/
# PerFieldPostingsFormat.java) over the documents fixture: title =
# first 8 whitespace tokens of text (derivable identically in SQL),
# body = full text. One fused corpus scan builds both fields'
# postings/norms/stats (index/multifield.py).

_MF_CACHE: dict[str, object] = {}


def _mf_docs_index(spark, sf):
    from lucene_solr_spark.index.multifield import build_multifield_index

    if sf not in _MF_CACHE:
        docs = _load(spark, sf, "documents")
        pages = docs.select(
            "doc_id",
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8),
                         " ").alias("title"),
            F.col("text").alias("body"))
        mfi = build_multifield_index(pages, ["title", "body"],
                                     key_col="doc_id",
                                     precomputed_docid="doc_id")
        mfi.analyzed.count()
        _MF_CACHE[sf] = mfi
    return _MF_CACHE[sf]


def _mf_searcher(spark, sf):
    from lucene_solr_spark.search.multifield import MultiFieldSearcher

    return MultiFieldSearcher(_mf_docs_index(spark, sf), mode="sql",
                              default_field="body")


# shared per-field CTEs: title tokens = raw positions 0..7 then the
# stop filter (exactly what the engine's analyzer sees after the
# 8-token slice); per-field docCount counts docs WITH the field
_MF_BASE = f"""
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
tt AS (SELECT doc_id, term FROM tok WHERE pos < 8 AND term NOT IN {_STOP_SQL}),
tb AS (SELECT doc_id, term FROM tok WHERE term NOT IN {_STOP_SQL}),
pt AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tt GROUP BY 1, 2),
pb AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tb GROUP BY 1, 2),
dlt AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tt GROUP BY 1),
dlb AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tb GROUP BY 1),
cst AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS s FROM dlt),
csb AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS s FROM dlb),
tst AS (SELECT term, count(*)::DOUBLE AS df FROM pt GROUP BY 1),
tsb AS (SELECT term, count(*)::DOUBLE AS df FROM pb GROUP BY 1)
"""


def _mf_field_scored(fld: str, terms: list[str], boost: float) -> str:
    """sql-mode BM25 of one field, exactly Searcher(mode='sql')'s
    expression over that field's own stats, times the field boost."""
    p, ts, dl, cs = {"title": ("pt", "tst", "dlt", "cst"),
                     "body": ("pb", "tsb", "dlb", "csb")}[fld]
    tl = ",".join(f"'{t}'" for t in terms)
    return f"""
  SELECT p.doc_id, p.term,
         (ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5)) * 2.2 * p.tf
          / (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / (cs.s / cs.n))))
         * {boost} AS s
  FROM {p} p JOIN {ts} ts USING (term) JOIN {dl} dl USING (doc_id)
  CROSS JOIN {cs} cs
  WHERE p.term IN ({tl})"""


def _ft_multifield_qf(spark, sf):
    """edismax qf={{title:3, body:1}}: per term, DisMax across the two
    fields' per-field BM25 (each with its own df/docCount/avgdl/
    norms); terms combine as SHOULD. ExtendedDismaxQParser's qf."""
    from lucene_solr_spark.search.multifield import edismax_qf

    q = edismax_qf("hash join", {"title": 3.0, "body": 1.0})
    return _mf_searcher(spark, sf).search_quantized(q, k=10)


_register("ft_multifield_qf", _ft_multifield_qf, f"""
WITH {_MF_BASE},
st AS ({_mf_field_scored("title", ["hash", "join"], 3.0)}),
sb AS ({_mf_field_scored("body", ["hash", "join"], 1.0)}),
dm AS (
  SELECT doc_id, term, max(s) AS s
  FROM (SELECT * FROM st UNION ALL SELECT * FROM sb)
  GROUP BY doc_id, term
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM dm GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _ft_multifield_bool(spark, sf):
    """Cross-field conjunction title:join AND body term — per-field
    scored leaves joined on docid, scores summed."""
    return _mf_searcher(spark, sf).search_quantized(
        "title:join AND hash", k=10)


_register("ft_multifield_bool", _ft_multifield_bool, f"""
WITH {_MF_BASE},
st AS ({_mf_field_scored("title", ["join"], 1.0)}),
sb AS ({_mf_field_scored("body", ["hash"], 1.0)}),
agg AS (
  SELECT st.doc_id,
         CAST(floor((st.s + sb.s) * 1000000) AS BIGINT) AS score_q
  FROM st JOIN sb ON st.doc_id = sb.doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- QParser ValueSource dialects: {!func} {!boost} {!frange} {!terms} -----

# recip(docid,1,1000,1000) = 1000/(1*docid+1000) in the engine's exact
# fold order, as SQL.
_RECIP_SQL = "1000.0 / ((1.0 * doc_id) + 1000.0)"


def _doc_num_attrs(spark, sf):
    return (_load(spark, sf, "documents")
            .select(F.col("doc_id").alias("docid"), "n_chars"))


def _rank_topk(m, k: int):
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (m.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long")))


def _solr_func_qp(spark, sf):
    """{!func} (FunctionQParserPlugin.java): every doc scored by a
    ValueSource expression — sum of a recip over docid and a linear
    over n_chars, parsed by the solrq expression grammar."""
    from lucene_solr_spark.search.solrq import solr_qparser

    out = solr_qparser(
        None, "{!func}sum(recip(docid,1,1000,1000),"
              "linear(n_chars,0.001,0.5))", _doc_num_attrs(spark, sf))
    m = out.select(F.col("docid").alias("doc_id"),
                   F.floor(F.col("score") * Q).cast("long").alias("score_q"))
    return _rank_topk(m, 25)


_register("solr_func_qp", _solr_func_qp, f"""
SELECT doc_id, score_q,
       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank
FROM (
  SELECT doc_id,
         CAST(floor((({_RECIP_SQL}) + ((0.001 * n_chars) + 0.5))
              * 1000000) AS BIGINT) AS score_q
  FROM documents
) QUALIFY rank <= 25
""")


def _solr_boost_qp(spark, sf):
    """{!boost b=...}q (BoostQParserPlugin.java / BoostedQuery): the
    inner 'hash AND join' BM25 score multiplied by a recip of docid."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    out = solr_qparser(s, "{!boost b=recip(docid,1,1000,1000)}"
                          "hash AND join", _doc_num_attrs(spark, sf))
    m = out.select(F.col("docid").alias("doc_id"),
                   F.floor(F.col("score") * Q).cast("long").alias("score_q"))
    return _rank_topk(m, 10)


_register("solr_boost_qp", _solr_boost_qp, f"""
WITH {FT_BASE},
{_ft_scored(['hash', 'join'])},
m AS (
  SELECT a.doc_id, (a.s + b.s) * ({_RECIP_SQL}) AS score
  FROM (SELECT doc_id, s FROM scored WHERE term='hash') a
  JOIN (SELECT doc_id, s FROM scored WHERE term='join') b USING (doc_id)
),
agg AS (
  SELECT doc_id, CAST(floor(score * 1000000) AS BIGINT) AS score_q FROM m
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _solr_frange_qp(spark, sf):
    """{!frange l=0.8 u=0.95}recip(docid,...) (FunctionRangeQParser
    Plugin.java): docs whose ValueSource value lies in the closed
    range; constant score."""
    from lucene_solr_spark.search.solrq import solr_qparser

    out = solr_qparser(None, "{!frange l=0.8 u=0.95}"
                             "recip(docid,1,1000,1000)",
                       _doc_num_attrs(spark, sf))
    return (out.select(F.col("docid").alias("doc_id"))
            .orderBy("doc_id"))


_register("solr_frange_qp", _solr_frange_qp, f"""
SELECT doc_id FROM documents
WHERE ({_RECIP_SQL}) >= 0.8 AND ({_RECIP_SQL}) <= 0.95
ORDER BY doc_id
""")


def _solr_terms_qp(spark, sf):
    """{!terms f=lang} (TermsQParserPlugin.java): doc-attribute IN
    set, grouped to a per-language count for a compact verdict."""
    from lucene_solr_spark.search.solrq import solr_qparser

    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"), "lang"))
    out = solr_qparser(None, "{!terms f=lang}es,zh", attrs)
    return (out.join(attrs, "docid").groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).orderBy("lang"))


_register("solr_terms_qp", _solr_terms_qp, """
SELECT lang, count(*)::BIGINT AS n FROM documents
WHERE lang IN ('es', 'zh') GROUP BY lang ORDER BY lang
""")


def _solr_bool_qp(spark, sf):
    """{!bool must= should= must_not=} (BoolQParserPlugin.java):
    explicit boolean composition — must scores, should adds when it
    co-matches (ReqOptSumScorer), must_not excludes."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    out = solr_qparser(s, "{!bool must=hash should=join must_not=merge}")
    return _quantize_topk(out, 10)


_register("solr_bool_qp", _solr_bool_qp, f"""
WITH {FT_BASE}, {_ft_scored(['hash', 'join'])},
req AS (SELECT doc_id, s FROM scored WHERE term = 'hash'),
opt AS (SELECT doc_id, s FROM scored WHERE term = 'join'),
agg AS (
  SELECT r.doc_id,
         CAST(floor((r.s + coalesce(o.s, 0)) * 1000000) AS BIGINT) AS score_q
  FROM req r LEFT JOIN opt o USING (doc_id)
  WHERE r.doc_id NOT IN (SELECT DISTINCT doc_id FROM postings
                         WHERE term = 'merge')
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _solr_classic_qp(spark, sf):
    """Classic QueryParser grammar completion (queryparser/classic/
    QueryParser.jj via {!lucene}): && / || operator aliases, prefix !
    (NOT), and a parenthesized FIELD GROUP `text:(a || b)` whose field
    scopes the bare leaves inside — `text:(hash || join) && merge
    !scan` == +((hash join) AND merge) -scan, BM25-scored, top-10
    quantized."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    out = solr_qparser(s, "{!lucene}text:(hash || join) && merge !scan")
    return _quantize_topk(out, 10)


_register("solr_classic_qp", _solr_classic_qp, f"""
WITH {FT_BASE}, {_ft_scored(['hash', 'join', 'merge'])},
orp AS (SELECT doc_id, sum(s) AS s_or FROM scored
        WHERE term IN ('hash','join') GROUP BY doc_id),
mrg AS (SELECT doc_id, s AS s_m FROM scored WHERE term = 'merge'),
agg AS (
  SELECT o.doc_id,
         CAST(floor((o.s_or + m.s_m) * 1000000) AS BIGINT) AS score_q
  FROM orp o JOIN mrg m USING (doc_id)
  WHERE o.doc_id NOT IN (SELECT DISTINCT doc_id FROM postings
                         WHERE term = 'scan')
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


def _solr_mlt_qp(spark, sf):
    """{!mlt maxqt=5 mindf=2}0 (MLTQParserPlugin.java): doc 0's top
    tf*idf terms OR-queried under BM25, source doc excluded."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    out = solr_qparser(s, "{!mlt maxqt=5 mindf=2}0")
    return _quantize_topk(out, 10)


_register("solr_mlt_qp", _solr_mlt_qp, f"""
WITH {FT_BASE},
mine AS (SELECT term, tf::DOUBLE AS tf FROM postings WHERE doc_id = 0),
sel AS (
  SELECT m.term,
         CAST(floor(m.tf * ln(1 + cs.n / (ts.df + 1)) * 1000000) AS BIGINT)
           AS score_q
  FROM mine m JOIN tstats ts USING (term) CROSS JOIN cstats cs
  WHERE ts.df >= 2
),
mlt AS (
  SELECT term FROM sel
  QUALIFY row_number() OVER (ORDER BY score_q DESC, term) <= 5
),
sc2 AS (
  SELECT p.doc_id, {_BM25_S} AS s
  FROM postings p JOIN mlt USING (term)
  JOIN tstats ts USING (term) JOIN doclen dl USING (doc_id)
  CROSS JOIN cstats cs
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM sc2 WHERE doc_id <> 0 GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")


# ---- round-4 QParser dialect batch 2 ----------------------------------------

def _solr_qparser_mix2(spark, sf):
    """Four dialects in one verdict — {!field} (FieldQParserPlugin:
    analyzed value -> phrase), {!raw} (RawQParserPlugin: unanalyzed
    term), {!switch} (SwitchQParserPlugin: value-dispatched
    sub-query), {!maxscore} (MaxScoreQParserPlugin: SHOULD groups
    score max-of-clauses): per-dialect match count + summed quantized
    sql-mode score."""
    from functools import reduce

    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    reqs = {
        "field": "{!field f=text}Hash Join",
        "raw": "{!raw f=text v=hash}",
        "switch": "{!switch case.a=hash case.b=join default=scan}b",
        "maxscore": "{!maxscore}hash OR join",
    }
    outs = [solr_qparser(s, req).select(
        F.lit(tag).alias("dialect"),
        F.floor(F.col("score") * Q).cast("long").alias("sq"))
        for tag, req in reqs.items()]
    u = reduce(lambda a, b: a.unionByName(b), outs)
    return (u.groupBy("dialect")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("sq").alias("sum_score_q"))
            .orderBy("dialect"))


_register("solr_qparser_mix2", _solr_qparser_mix2, f"""
WITH {FT_BASE},
{_ft_scored(['hash', 'join'])},
ph AS (
  SELECT p1.doc_id, count(*)::DOUBLE AS pf
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
  GROUP BY p1.doc_id
),
idfs AS (
  SELECT (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
          FROM tstats ts, cstats cs WHERE ts.term='hash')
       + (SELECT ln(1+(cs.n - ts.df + 0.5)/(ts.df + 0.5))
          FROM tstats ts, cstats cs WHERE ts.term='join') AS idf_sum
),
phs AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pf
              / (ph.pf + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS sq
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
),
hashq AS (SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS sq
          FROM scored WHERE term='hash'),
joinq AS (SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS sq
          FROM scored WHERE term='join'),
mx AS (
  SELECT doc_id, CAST(floor(max(s) * 1000000) AS BIGINT) AS sq
  FROM scored GROUP BY doc_id
),
u AS (
  SELECT 'field' AS dialect, sq FROM phs
  UNION ALL SELECT 'raw', sq FROM hashq
  UNION ALL SELECT 'switch', sq FROM joinq
  UNION ALL SELECT 'maxscore', sq FROM mx
)
SELECT dialect, count(*)::BIGINT AS n_docs, sum(sq)::BIGINT AS sum_score_q
FROM u GROUP BY dialect ORDER BY dialect
""")


def _block_attrs(spark, sf):
    """_root_-style block table: every run of 4 docids is one block,
    rooted at the lowest (doc_id - doc_id % 4)."""
    return (_load(spark, sf, "documents")
            .select(F.col("doc_id").alias("docid"),
                    (F.col("doc_id") - F.col("doc_id") % 4)
                    .alias("root_id")))


def _solr_block_qp(spark, sf):
    """{!parent which=..}childq / {!child of=..}parentq (BlockJoin
    Parent/ChildQParser over _root_ mechanics): parents = block roots
    with a non-root child matching the phrase AND themselves matching
    the which= prefix filter; children = non-root docs of blocks whose
    root-mapped match passes both of= and the body query."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = _block_attrs(spark, sf)
    par = solr_qparser(
        s, "{!parent which='{!prefix f=text v=ta}'}\"hash join\"", attrs)
    chd = solr_qparser(
        s, "{!child of='{!term f=text v=scan}'}merge", attrs)
    return (par.select(F.lit("parent").alias("side"),
                       F.col("docid").alias("doc_id"))
            .unionByName(chd.select(F.lit("child").alias("side"),
                                    F.col("docid").alias("doc_id")))
            .orderBy("side", "doc_id"))


_register("solr_block_qp", _solr_block_qp, f"""
WITH {FT_BASE},
ph AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
),
tadocs AS (SELECT DISTINCT doc_id FROM tokf WHERE term LIKE 'ta%'),
hit_roots AS (
  SELECT DISTINCT (doc_id - doc_id % 4) AS doc_id FROM ph
  WHERE doc_id % 4 <> 0
),
parents AS (SELECT doc_id FROM hit_roots INTERSECT
            SELECT doc_id FROM tadocs),
pmatch AS (
  SELECT DISTINCT doc_id FROM tokf WHERE term='merge'
  INTERSECT SELECT DISTINCT doc_id FROM tokf WHERE term='scan'
),
children AS (
  SELECT d.doc_id FROM documents d
  JOIN pmatch p ON (d.doc_id - d.doc_id % 4) = p.doc_id
  WHERE d.doc_id % 4 <> 0
)
SELECT 'parent' AS side, doc_id FROM parents
UNION ALL SELECT 'child' AS side, doc_id FROM children
ORDER BY side, doc_id
""")


def _solr_graph_qp(spark, sf):
    """{!graph from=f to=t maxDepth=2} (GraphQParserPlugin.java):
    frontier traversal from the phrase matches over a derived edge
    space (f = doc_id mod 37, t = (3*doc_id + 1) mod 37) — a doc's
    from-values select the next frontier's to-values."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"),
                     (F.col("doc_id") % 37).alias("f"),
                     ((F.col("doc_id") * 3 + 1) % 37).alias("t")))
    out = solr_qparser(s, '{!graph from=f to=t maxDepth=2}"hash join"',
                       attrs)
    return out.select(F.col("docid").alias("doc_id")).orderBy("doc_id")


_register("solr_graph_qp", _solr_graph_qp, f"""
WITH {FT_BASE},
v0 AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
),
f0 AS (SELECT DISTINCT doc_id % 37 AS v FROM v0),
n1 AS (
  SELECT d.doc_id FROM documents d JOIN f0 ON (d.doc_id * 3 + 1) % 37 = f0.v
  WHERE d.doc_id NOT IN (SELECT doc_id FROM v0)
),
f1 AS (SELECT DISTINCT doc_id % 37 AS v FROM n1),
n2 AS (
  SELECT d.doc_id FROM documents d JOIN f1 ON (d.doc_id * 3 + 1) % 37 = f1.v
  WHERE d.doc_id NOT IN (SELECT doc_id FROM v0)
    AND d.doc_id NOT IN (SELECT doc_id FROM n1)
)
SELECT doc_id FROM v0
UNION SELECT doc_id FROM n1
UNION SELECT doc_id FROM n2
ORDER BY doc_id
""")


_QP_LAT = "((doc_id * 7) % 120 - 60 + 0.25)"
_QP_LON = "((doc_id * 13) % 300 - 150 + 0.25)"
# the {!geofilt}/{!bbox} circle: pt=10,20 d=2500km; bbox literals from
# the SAME _bbox_of_circle the dialect calls, inlined at import time
from lucene_solr_spark.operators.spatial import (  # noqa: E402
    _bbox_of_circle as _qp_bbox_fn,
)

_QP_BBOX = _qp_bbox_fn(10.0, 20.0, 2_500_000.0)


def _solr_geo_qp(spark, sf):
    """{!geofilt} / {!bbox} (SpatialFilterQParser over the LatLonPoint
    operators): exact haversine radius vs the circle's bounding box,
    over coordinates derived from doc_id."""
    from lucene_solr_spark.search.solrq import solr_qparser

    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"),
                     ((F.col("doc_id") * 7) % 120 - 60 + F.lit(0.25))
                     .cast("double").alias("loc_lat"),
                     ((F.col("doc_id") * 13) % 300 - 150 + F.lit(0.25))
                     .cast("double").alias("loc_lon")))
    geo = solr_qparser(None, "{!geofilt sfield=loc pt=10.0,20.0 d=2500}",
                       attrs)
    box = solr_qparser(None, "{!bbox sfield=loc pt=10.0,20.0 d=2500}",
                       attrs)
    return (geo.select(F.lit("geofilt").alias("shape"),
                       F.col("docid").alias("doc_id"))
            .unionByName(box.select(F.lit("bbox").alias("shape"),
                                    F.col("docid").alias("doc_id")))
            .orderBy("shape", "doc_id"))


_register("solr_geo_qp", _solr_geo_qp, f"""
WITH pts AS (
  SELECT doc_id, {_QP_LAT}::DOUBLE AS lat, {_QP_LON}::DOUBLE AS lon
  FROM documents
),
geo AS (
  SELECT doc_id FROM pts
  WHERE lat >= {_QP_BBOX[0]!r} AND lat <= {_QP_BBOX[1]!r}
    AND lon >= {_QP_BBOX[2]!r} AND lon <= {_QP_BBOX[3]!r}
    AND {_HAVERSINE_SQL.format(lat1='lat', lon1='lon',
                               lat2='10.0', lon2='20.0')} <= 2500000.0
),
box AS (
  SELECT doc_id FROM pts
  WHERE lat >= {_QP_BBOX[0]!r} AND lat <= {_QP_BBOX[1]!r}
    AND lon >= {_QP_BBOX[2]!r} AND lon <= {_QP_BBOX[3]!r}
)
SELECT 'geofilt' AS shape, doc_id FROM geo
UNION ALL SELECT 'bbox' AS shape, doc_id FROM box
ORDER BY shape, doc_id
""")


def _solr_phrase_qp(spark, sf):
    """{!surround}3W(hash, join) (SurroundQParserPlugin: W distance
    operator -> ordered SpanNear, slop = n-1) and
    {!complexphrase}"table s*" (ComplexPhraseQParserPlugin: the
    wildcard token expands against the term dictionary into a
    MultiPhrase slot): per-dialect matching doc ids."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    sur = solr_qparser(s, "{!surround}3W(hash, join)")
    cpx = solr_qparser(s, '{!complexphrase}"table s*"')
    return (sur.select(F.lit("surround").alias("dialect"),
                       F.col("docid").alias("doc_id"))
            .unionByName(cpx.select(F.lit("complexphrase").alias("dialect"),
                                    F.col("docid").alias("doc_id")))
            .orderBy("dialect", "doc_id"))


_register("solr_phrase_qp", _solr_phrase_qp, f"""
WITH {FT_BASE},
sur AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id
   AND p2.pos > p1.pos AND p2.pos <= p1.pos + 3
),
cpx AS (
  SELECT DISTINCT s0.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='table') s0
  JOIN (SELECT DISTINCT doc_id, pos FROM tokf WHERE term LIKE 's%') s1
    ON s0.doc_id = s1.doc_id AND s1.pos = s0.pos + 1
)
SELECT 'surround' AS dialect, doc_id FROM sur
UNION ALL SELECT 'complexphrase' AS dialect, doc_id FROM cpx
ORDER BY dialect, doc_id
""")


def _solr_stats_vs_qp(spark, sf):
    """Index-stats ValueSources (ValueSourceParser.java docfreq/idf/
    termfreq/totaltermfreq registrations + StrDistanceFunction):
    {!func} scoring every doc by termfreq('hash') * idf('hash') +
    strdist(lang, 'en', edit), top-25 quantized."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"), "lang"))
    out = solr_qparser(
        s, "{!func}sum(product(termfreq(text,hash),idf(text,hash)),"
           "strdist(lang,'en',edit))", attrs)
    m = out.select(F.col("docid").alias("doc_id"),
                   F.floor(F.col("score") * Q).cast("long")
                   .alias("score_q"))
    return _rank_topk(m, 25)


_register("solr_stats_vs_qp", _solr_stats_vs_qp, f"""
WITH {FT_BASE},
tf_h AS (SELECT doc_id, tf::DOUBLE AS tf FROM postings WHERE term='hash'),
idfv AS (SELECT ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5)) AS v
         FROM tstats ts, cstats cs WHERE ts.term='hash'),
vals AS (
  SELECT d.doc_id,
         ((coalesce(t.tf, 0.0) * i.v)
          + (1.0 - levenshtein(d.lang, 'en')::DOUBLE
             / greatest(length(d.lang), 2)::DOUBLE)) AS s
  FROM documents d LEFT JOIN tf_h t USING (doc_id) CROSS JOIN idfv i
),
agg AS (
  SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS score_q FROM vals
)
SELECT doc_id, score_q,
       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank
FROM agg QUALIFY rank <= 25
""")


def _seg_span_near(spark, sf):
    """SpanNearQ via the segment-native two-phase span kernel
    (wand.span_near_topk — AND-mode block-grid sweep, .pos fetched
    lazily for intersection docs, constant-score early termination;
    search/spans/SpanNearQuery.java semantics): unordered 'hash'/
    'join' within slop 3, boost 1.5, first 25 docids. Plan-asserted
    no-full-decode in tests/test_wand.py."""
    from lucene_solr_spark.search.wand import WandSearcher

    si = _seg_index(spark, sf)
    q = A.SpanNearQ("hash", "join", slop=3, in_order=False, boost=1.5)
    out = WandSearcher(si).search(q, k=25)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score") * Q).cast("long")
                      .alias("score_q"), "rank")


_register("seg_span_near", _seg_span_near, f"""
WITH {FT_BASE},
m AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id
   AND p2.pos <> p1.pos AND abs(p2.pos - p1.pos) <= 4
)
SELECT doc_id, CAST(1500000 AS BIGINT) AS score_q,
       row_number() OVER (ORDER BY doc_id) AS rank
FROM m QUALIFY rank <= 25
""")


def _seg_span_nested(spark, sf):
    """NESTED span tree via the segment-native kernel
    (wand.span_nested_topk — slot-union conjunction over the block
    grid, lazy .pos, shared spannest.emit_spans match; search/spans/
    NearSpansOrdered.java + SpanOrQuery.java): ordered
    near(or(hash, scan), join, merge) with total gap <= 8, boost 2.0,
    first 25 docids. Plan-asserted no-full-decode in
    tests/test_wand.py (test_span_nested_plan_no_full_decode)."""
    from lucene_solr_spark.search.wand import WandSearcher

    si = _seg_index(spark, sf)
    q = A.SpanNearNQ((A.SpanOrNQ(("hash", "scan")), "join", "merge"),
                     slop=8, boost=2.0)
    out = WandSearcher(si).search(q, k=25)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score") * Q).cast("long")
                      .alias("score_q"), "rank")


_register("seg_span_nested", _seg_span_nested, f"""
WITH {FT_BASE},
m AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term IN ('hash','scan')) p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') p2
    ON p1.doc_id = p2.doc_id AND p2.pos > p1.pos
  JOIN (SELECT doc_id, pos FROM tokf WHERE term='merge') p3
    ON p2.doc_id = p3.doc_id AND p3.pos > p2.pos
   AND (p2.pos - p1.pos - 1) + (p3.pos - p2.pos - 1) <= 8
)
SELECT doc_id, CAST(2000000 AS BIGINT) AS score_q,
       row_number() OVER (ORDER BY doc_id) AS rank
FROM m QUALIFY rank <= 25
""")

def _solr_qparser_mix3(spark, sf):
    """Dialect batch 3 in one verdict — {!knn} (KnnQParserPlugin:
    cosine top-k over a vector column), {!hash} (HashQParserPlugin:
    the /export parallel-stream md5 partitioner), {!rank}
    (RankQParserPlugin: FeatureField satu function). Per dialect:
    match count + a quantized metric (top-10 cosine sum / partition
    docid sum / satu score sum)."""
    from functools import reduce

    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    emb = _load(spark, sf, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).first()["embedding"]
    vec_attrs = emb.select(F.col("vec_id").alias("docid"), "embedding")
    n_emb = emb.count()
    body = "[" + ",".join(repr(float(x)) for x in qv) + "]"
    knn_all = solr_qparser(
        s, f"{{!knn f=embedding topK={n_emb}}}{body}", vec_attrs)
    knn10 = (knn_all
             .select("docid",
                     F.floor(F.col("score") * Q).cast("long").alias("q"))
             .orderBy(F.desc("q"), F.asc("docid")).limit(10))
    knn_row = knn10.agg(
        F.lit("knn").alias("dialect"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q").alias("metric_q"))

    doc_attrs = (_load(spark, sf, "documents")
                 .select(F.col("doc_id").alias("docid"),
                         F.col("doc_id").cast("string").alias("k"),
                         F.col("n_chars").cast("double").alias("nc")))
    hash_row = (solr_qparser(
        s, "{!hash workers=4 worker=1 partitionKeys=k}", doc_attrs)
        .agg(F.lit("hash").alias("dialect"),
             F.count(F.lit(1)).alias("n_docs"),
             F.sum("docid").alias("metric_q")))
    rank_row = (solr_qparser(
        s, "{!rank f=nc function=satu pivot=1000.0 weight=2.0}",
        doc_attrs)
        .select("docid",
                F.floor(F.col("score") * Q).cast("long").alias("q"))
        .agg(F.lit("rank").alias("dialect"),
             F.count(F.lit(1)).alias("n_docs"),
             F.sum("q").alias("metric_q")))
    u = reduce(lambda a, b: a.unionByName(b),
               [knn_row, hash_row, rank_row])
    return u.orderBy("dialect")


_register("solr_qparser_mix3", _solr_qparser_mix3, """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cosq AS (
  SELECT e.vec_id AS docid,
         CAST(floor(
           list_sum(list_transform(range(1, len(e.embedding)+1),
                    i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(e.embedding,
                                           x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(q.qv,
                                             x -> x::DOUBLE * x::DOUBLE))))
           * 1000000) AS BIGINT) AS cq
  FROM embeddings e CROSS JOIN q
),
knn10 AS (
  SELECT docid, cq, row_number() OVER (ORDER BY cq DESC, docid) AS rn
  FROM cosq QUALIFY rn <= 10
),
knn_row AS (
  SELECT 'knn' AS dialect, count(*)::BIGINT AS n_docs,
         sum(cq)::BIGINT AS metric_q FROM knn10
),
hash_row AS (
  SELECT 'hash' AS dialect, count(*)::BIGINT AS n_docs,
         sum(doc_id)::BIGINT AS metric_q
  FROM documents
  WHERE CAST(concat('0x',
        substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 1
),
rank_row AS (
  SELECT 'rank' AS dialect, count(*)::BIGINT AS n_docs,
         sum(CAST(floor(2.0 * (n_chars::DOUBLE
             / (n_chars::DOUBLE + 1000.0)) * 1000000) AS BIGINT))::BIGINT
         AS metric_q
  FROM documents WHERE n_chars > 0
)
SELECT * FROM knn_row UNION ALL SELECT * FROM hash_row
UNION ALL SELECT * FROM rank_row ORDER BY dialect
""")

def _solr_dismax_qp(spark, sf):
    """{!dismax} (DisMaxQParser.java): free-text terms, each a DisMax
    over qf fields with per-field boosts, SHOULD-combined — dispatched
    through the local-params parser onto the multi-field engine
    (same node shape as ft_multifield_qf, different terms)."""
    from lucene_solr_spark.search.solrq import solr_qparser

    ms = _mf_searcher(spark, sf)
    out = solr_qparser(ms, '{!dismax qf="title^3 body"}table scan')
    m = out.withColumn("score_q",
                       F.floor(F.col("score") * Q).cast("long"))
    top = m.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select(F.col("docid").alias("doc_id"), "score_q", "rank"))


_register("solr_dismax_qp", _solr_dismax_qp, f"""
WITH {_MF_BASE},
st AS ({_mf_field_scored("title", ["table", "scan"], 3.0)}),
sb AS ({_mf_field_scored("body", ["table", "scan"], 1.0)}),
dm AS (
  SELECT doc_id, term, max(s) AS s
  FROM (SELECT * FROM st UNION ALL SELECT * FROM sb)
  GROUP BY doc_id, term
),
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM dm GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", 10)}
""")

def _ft_func_bool(spark, sf):
    """Boolean/conditional ValueSources (ValueSourceParser.java's
    if/exists/def/map/not/and/or + comparison registrations): one
    {!func} expression over documents combining def/exists/if/map/
    gt/and/not, top-25 quantized."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"),
                     F.col("n_chars").cast("double").alias("nc"),
                     F.when(F.col("lang") == "en",
                            F.col("n_chars").cast("double")).alias("nv")))
    out = solr_qparser(
        s, "{!func}sum(def(nv,-5),if(exists(nv),10,0),"
           "map(nc,0,500,0,1),"
           "product(3,and(gt(nc,200),not(eq(nc,500)))))", attrs)
    m = out.select(F.col("docid").alias("doc_id"),
                   F.floor(F.col("score") * Q).cast("long")
                   .alias("score_q"))
    return _rank_topk(m, 25)


_register("ft_func_bool", _ft_func_bool, """
WITH vals AS (
  SELECT doc_id,
         (coalesce(CASE WHEN lang='en' THEN n_chars::DOUBLE END, -5.0)
          + (CASE WHEN lang='en' THEN 10.0 ELSE 0.0 END)
          + (CASE WHEN n_chars::DOUBLE BETWEEN 0 AND 500
                  THEN 0.0 ELSE 1.0 END)
          + 3.0 * (CASE WHEN n_chars::DOUBLE > 200
                        AND NOT (n_chars::DOUBLE = 500)
                        THEN 1.0 ELSE 0.0 END)) AS sc
  FROM documents
),
agg AS (
  SELECT doc_id, CAST(floor(sc * 1000000) AS BIGINT) AS score_q
  FROM vals
)
SELECT doc_id, score_q,
       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank
FROM agg QUALIFY rank <= 25
""")

def _ltr_rerank_q(spark, sf):
    """LTR rerank (solr/contrib/ltr: LTRScoringQuery + LinearModel +
    OriginalScoreFeature/SolrFeature): first pass 'hash OR join', then
    a linear model over originalScore / termfreq(text,scan) /
    if(lt(nc,900),1,0) rescores the window (sized past every match so
    the cross-engine check covers the full model arithmetic; window
    mechanics are pytest-gated in tests/test_ltr.py). Top-20
    quantized."""
    from lucene_solr_spark.operators.ltr import ltr_rerank

    s = Searcher(_docs_index(spark, sf), mode="sql")
    attrs = (_load(spark, sf, "documents")
             .select(F.col("doc_id").alias("docid"),
                     F.col("n_chars").cast("double").alias("nc")))
    features = {"orig": "originalScore",
                "short": "if(lt(nc,900),1,0)",
                "tf_scan": "termfreq(text,scan)"}
    weights = {"orig": 0.4, "short": 2.5, "tf_scan": 0.8}
    out = ltr_rerank(s, A.OrQ((A.TermQ("hash"), A.TermQ("join"))),
                     attrs, features, weights=weights,
                     rerank_docs=10_000_000)
    m = out.select(F.col("docid").alias("doc_id"),
                   F.floor(F.col("score") * Q).cast("long")
                   .alias("score_q"))
    return _rank_topk(m, 20)


_register("ltr_rerank", _ltr_rerank_q, f"""
WITH {FT_BASE}, {_ft_scored(['hash', 'join'])},
fp AS (SELECT doc_id, sum(s) AS sc FROM scored GROUP BY doc_id),
tfs AS (SELECT doc_id, tf::DOUBLE AS tf FROM postings WHERE term='scan'),
model AS (
  SELECT f.doc_id,
         ((0.4 * f.sc)
          + (2.5 * (CASE WHEN d.n_chars::DOUBLE < 900.0
                         THEN 1.0 ELSE 0.0 END))
          + (0.8 * coalesce(t.tf, 0.0))) AS m
  FROM fp f JOIN documents d USING (doc_id)
  LEFT JOIN tfs t USING (doc_id)
),
agg AS (
  SELECT doc_id, CAST(floor(m * 1000000) AS BIGINT) AS score_q
  FROM model
)
{_topk_sql("SELECT * FROM agg", 20)}
""")

def _solr_qparser_mix4(spark, sf):
    """Dialect batch 4 in one verdict — {!simple} (SimpleQueryParser
    subset), {!xmlparser} (CoreParser XML query trees), {!graphterms}
    (df-capped term set), {!igain} (information-gain term ranking over
    a labeled set). Per dialect: row count + a quantized metric."""
    from functools import reduce

    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")

    def agg_scored(df, tag):
        return (df.select(F.floor(F.col("score") * Q).cast("long")
                          .alias("q"))
                .agg(F.lit(tag).alias("dialect"),
                     F.count(F.lit(1)).alias("n_rows"),
                     F.sum("q").alias("metric_q")))

    simple_row = agg_scored(
        solr_qparser(s, "{!simple q.op=AND}hash scan"), "simple")
    xmlq = ("<BooleanQuery>"
            "<Clause occurs='must'><TermQuery>join</TermQuery></Clause>"
            "<Clause occurs='mustNot'><TermQuery>scan</TermQuery>"
            "</Clause></BooleanQuery>")
    xml_row = agg_scored(solr_qparser(s, "{!xmlparser}" + xmlq), "xml")

    cap = int(s.index.term_stats
              .where(F.col("term").isin(["hash", "join"]))
              .agg(F.min("df")).collect()[0][0])
    gt_row = (solr_qparser(s, f"{{!graphterms maxDocFreq={cap}}}hash,join")
              .agg(F.lit("graphterms").alias("dialect"),
                   F.count(F.lit(1)).alias("n_rows"),
                   F.sum("docid").alias("metric_q")))

    labeled = (_load(spark, sf, "documents")
               .select(F.col("doc_id").alias("docid"),
                       (F.col("doc_id") % 3 == 0).cast("int")
                       .alias("outcome")))
    ig = solr_qparser(s, "{!igain numTerms=1000000}", labeled)
    ig_q = (ig.select("term",
                      F.floor(F.col("score") * Q).cast("long").alias("q"))
            .orderBy(F.desc("q"), F.asc("term")).limit(8))
    ig_row = ig_q.agg(F.lit("igain").alias("dialect"),
                      F.count(F.lit(1)).alias("n_rows"),
                      F.sum("q").alias("metric_q"))
    u = reduce(lambda a, b: a.unionByName(b),
               [simple_row, xml_row, gt_row, ig_row])
    return u.orderBy("dialect")


_ENT = ("(CASE WHEN {n} > 0 THEN -("
        "(CASE WHEN ({p})/({n}) > 0 THEN (({p})/({n}))*ln(({p})/({n}))"
        " ELSE 0.0 END)"
        " + (CASE WHEN 1.0-({p})/({n}) > 0 THEN"
        " (1.0-({p})/({n}))*ln(1.0-({p})/({n})) ELSE 0.0 END))"
        " ELSE 0.0 END)")

_register("solr_qparser_mix4", _solr_qparser_mix4, f"""
WITH {FT_BASE}, {_ft_scored(['hash', 'scan', 'join'])},
simple_agg AS (
  SELECT doc_id, sum(s) AS sc FROM scored
  WHERE term IN ('hash','scan') GROUP BY doc_id HAVING count(*) = 2
),
simple_row AS (
  SELECT 'simple' AS dialect, count(*)::BIGINT AS n_rows,
         sum(CAST(floor(sc * 1000000) AS BIGINT))::BIGINT AS metric_q
  FROM simple_agg
),
xml_agg AS (
  SELECT doc_id, sum(s) AS sc FROM scored WHERE term = 'join'
    AND doc_id NOT IN (SELECT doc_id FROM postings WHERE term='scan')
  GROUP BY doc_id
),
xml_row AS (
  SELECT 'xml' AS dialect, count(*)::BIGINT AS n_rows,
         sum(CAST(floor(sc * 1000000) AS BIGINT))::BIGINT AS metric_q
  FROM xml_agg
),
gt AS (
  SELECT DISTINCT p.doc_id FROM postings p JOIN tstats ts USING (term)
  WHERE p.term IN ('hash','join')
    AND ts.df <= (SELECT min(df) FROM tstats
                  WHERE term IN ('hash','join'))
),
gt_row AS (
  SELECT 'graphterms' AS dialect, count(*)::BIGINT AS n_rows,
         sum(doc_id)::BIGINT AS metric_q FROM gt
),
lab AS (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
tot AS (SELECT count(*)::DOUBLE AS n, sum(y)::DOUBLE AS p FROM lab),
per AS (
  SELECT p.term, count(*)::DOUBLE AS n1, sum(l.y)::DOUBLE AS p1
  FROM postings p JOIN lab l USING (doc_id) GROUP BY p.term
),
ig AS (
  SELECT per.term,
         (({_ENT.format(p='tot.p', n='tot.n')}
           - (per.n1 / tot.n) * {_ENT.format(p='per.p1', n='per.n1')})
          - ((tot.n - per.n1) / tot.n)
            * {_ENT.format(p='tot.p - per.p1', n='tot.n - per.n1')})
         AS gain
  FROM per CROSS JOIN tot
),
ig8 AS (
  SELECT term, CAST(floor(gain * 1000000) AS BIGINT) AS q,
         row_number() OVER (
           ORDER BY CAST(floor(gain * 1000000) AS BIGINT) DESC, term)
         AS rn
  FROM ig QUALIFY rn <= 8
),
ig_row AS (
  SELECT 'igain' AS dialect, count(*)::BIGINT AS n_rows,
         sum(q)::BIGINT AS metric_q FROM ig8
)
SELECT * FROM simple_row UNION ALL SELECT * FROM xml_row
UNION ALL SELECT * FROM gt_row UNION ALL SELECT * FROM ig_row
ORDER BY dialect
""")

def _solr_tlogit_qp(spark, sf):
    """{!tlogit} (TextLogisticRegressionQParserPlugin — the train()
    streaming expression's per-iteration step): one batch
    logistic-regression update over [1, idf*(1+ln tf)] vectors with
    outcome = (doc_id even), plus |error| sum and confusion counts.
    Deterministic batch variant (see solrq.py docstring)."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index(spark, sf), mode="sql")
    labeled = (_load(spark, sf, "documents")
               .select(F.col("doc_id").alias("docid"),
                       (F.col("doc_id") % 2 == 0).cast("int")
                       .alias("outcome")))
    out = solr_qparser(
        s, "{!tlogit terms=hash,join idfs=1.3,0.9 "
           "weights=0.1,0.5,-0.4 alpha=0.02 threshold=0.5}", labeled)
    return (out.select("name",
                       F.floor(F.col("value") * Q).cast("long")
                       .alias("value_q"))
            .orderBy("name"))


_register("solr_tlogit_qp", _solr_tlogit_qp, f"""
WITH {FT_BASE},
lab AS (SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
ta AS (SELECT doc_id, tf FROM postings WHERE term='hash'),
tb AS (SELECT doc_id, tf FROM postings WHERE term='join'),
v AS (
  SELECT l.doc_id, l.y,
         CASE WHEN a.tf IS NOT NULL
              THEN 1.3 * (1.0 + ln(a.tf::DOUBLE)) ELSE 0.0 END AS f1,
         CASE WHEN b.tf IS NOT NULL
              THEN 0.9 * (1.0 + ln(b.tf::DOUBLE)) ELSE 0.0 END AS f2
  FROM lab l LEFT JOIN ta a USING (doc_id) LEFT JOIN tb b USING (doc_id)
  WHERE a.tf IS NOT NULL OR b.tf IS NOT NULL
),
sc AS (
  SELECT doc_id, y, f1, f2,
         1.0 / (1.0 + exp(-((0.1 + f1 * 0.5) + f2 * (-0.4)))) AS sig
  FROM v
),
agg AS (
  SELECT sum(abs(sig - y)) AS err,
         sum(sig - y) AS g0,
         sum((sig - y) * f1) AS g1,
         sum((sig - y) * f2) AS g2,
         sum(CASE WHEN y = 1.0 AND sig >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
           AS tp,
         sum(CASE WHEN y = 0.0 AND sig >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
           AS fp,
         sum(CASE WHEN y = 1.0 AND sig < 0.5 THEN 1 ELSE 0 END)::DOUBLE
           AS fn,
         sum(CASE WHEN y = 0.0 AND sig < 0.5 THEN 1 ELSE 0 END)::DOUBLE
           AS tn
  FROM sc
)
SELECT name, value_q FROM (
  SELECT 'error' AS name,
         CAST(floor(err * 1000000) AS BIGINT) AS value_q FROM agg
  UNION ALL SELECT 'w_0',
         CAST(floor((0.1 - 0.02 * g0) * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'w_1',
         CAST(floor((0.5 - 0.02 * g1) * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'w_2',
         CAST(floor((-0.4 - 0.02 * g2) * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'tp',
         CAST(floor(tp * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'fp',
         CAST(floor(fp * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'fn',
         CAST(floor(fn * 1000000) AS BIGINT) FROM agg
  UNION ALL SELECT 'tn',
         CAST(floor(tn * 1000000) AS BIGINT) FROM agg
) ORDER BY name
""")

def _json_facet_nested(spark, sf):
    """JSON Facet API nested buckets (FacetRequest.java /
    FacetFieldProcessor.java): terms facet on lang (top 3 by count)
    with avg(n_chars), nested terms subfacet on source (top 2 PER
    lang bucket) with sum(n_chars) — flattened to one row per leaf
    bucket, counts at both levels."""
    from lucene_solr_spark.operators.facets import json_facet

    docs = _load(spark, sf, "documents")
    out = json_facet(docs, {
        "type": "terms", "field": "lang", "limit": 3,
        "metrics": {"avg_nc": "avg(n_chars)",
                    "p50_nc": "percentile(n_chars, 0.5)"},
        "facet": {"by_src": {"type": "terms", "field": "source",
                             "limit": 2,
                             "metrics": {"sum_nc": "sum(n_chars)"}}}})
    return (out.select("lang", "cnt_0",
                       F.floor(F.col("avg_nc") * Q).cast("long")
                       .alias("avg_nc_q"),
                       F.floor(F.col("p50_nc") * Q).cast("long")
                       .alias("p50_nc_q"),
                       "source", "cnt_1",
                       F.col("sum_nc").cast("long").alias("sum_nc"))
            .orderBy("lang", "source"))


_register("json_facet_nested", _json_facet_nested, """
WITH g0 AS (
  SELECT lang, count(*)::BIGINT AS cnt_0,
         CAST(floor(avg(n_chars::DOUBLE) * 1000000) AS BIGINT)
           AS avg_nc_q,
         CAST(floor(quantile_cont(n_chars, 0.5) * 1000000) AS BIGINT)
           AS p50_nc_q
  FROM documents GROUP BY lang
),
l0 AS (
  SELECT * FROM (
    SELECT g0.*, row_number() OVER (ORDER BY cnt_0 DESC, lang) AS rn
    FROM g0
  ) WHERE rn <= 3
),
g1 AS (
  SELECT d.lang, d.source, count(*)::BIGINT AS cnt_1,
         sum(d.n_chars)::BIGINT AS sum_nc
  FROM documents d JOIN l0 USING (lang)
  GROUP BY d.lang, d.source
),
l1 AS (
  SELECT * FROM (
    SELECT g1.*, row_number() OVER (PARTITION BY lang
                                    ORDER BY cnt_1 DESC, source) AS rn
    FROM g1
  ) WHERE rn <= 2
)
SELECT l0.lang, l0.cnt_0, l0.avg_nc_q, l0.p50_nc_q, l1.source, l1.cnt_1, l1.sum_nc
FROM l0 JOIN l1 USING (lang)
ORDER BY lang, source
""")

def _synonym_graph(spark, sf):
    """Query-time synonym graph (SynonymGraphFilter +
    QueryBuilder.analyzeGraphBoolean): 'scan' expands with the
    multi-token synonym 'hash join' into a TermAutomatonQ accepting
    either; freq = distinct start positions matched by ANY
    alternative, scored with the phrase recipe (idf summed over the
    automaton's distinct terms)."""
    from lucene_solr_spark.analysis.synonyms import expand_query_synonyms

    s = Searcher(_docs_index(spark, sf), mode="sql")
    q = expand_query_synonyms(A.TermQ("scan"), {"scan": ["hash join"]})
    return _quantize_topk(s.matches(q), 10)


_register("synonym_graph", _synonym_graph, f"""
WITH {FT_BASE},
ph AS (
  SELECT doc_id, count(DISTINCT p)::DOUBLE AS pfreq FROM (
    SELECT doc_id, pos AS p FROM tokf WHERE term='scan'
    UNION
    SELECT h.doc_id, h.pos AS p
    FROM (SELECT doc_id, pos FROM tokf WHERE term='hash') h
    JOIN (SELECT doc_id, pos FROM tokf WHERE term='join') j
      ON h.doc_id = j.doc_id AND j.pos = h.pos + 1
  ) GROUP BY doc_id
),
idfs AS (
  SELECT sum(ln(1 + (cs.n - ts.df + 0.5) / (ts.df + 0.5))) AS idf_sum
  FROM tstats ts CROSS JOIN cstats cs
  WHERE ts.term IN ('hash', 'join', 'scan')
),
agg AS (
  SELECT ph.doc_id,
         CAST(floor((i.idf_sum * 2.2) * ph.pfreq
              / (ph.pfreq + 1.2 * (0.25 + 0.75 * dl.doclen / (cs.sttf / cs.n)))
              * 1000000) AS BIGINT) AS score_q
  FROM ph JOIN doclen dl USING (doc_id) CROSS JOIN cstats cs CROSS JOIN idfs i
)
{_topk_sql("SELECT * FROM agg", 10)}
""")

_MFSEG_CACHE: dict = {}


def _mf_seg_indexes(spark, sf):
    """Per-field (title/body) SEGMENT indexes over the documents
    fixture with aligned docids — multi-field at the WAND tier."""
    import glob

    from lucene_solr_spark.index.codec import POSTING_ROW_FIELDS
    from lucene_solr_spark.index.multifield import (
        build_multifield_segment_index)
    from lucene_solr_spark.index.segments import SegmentIndex

    ver = len(POSTING_ROW_FIELDS)
    key = os.path.basename(sf.rstrip("/"))
    base = f"/tmp/driver_mfsegidx_v{ver}_{key}"
    if key not in _MFSEG_CACHE:
        if all(glob.glob(f"{base}/{f}/segments_meta*")
               for f in ("title", "body")):
            _MFSEG_CACHE[key] = {
                f: SegmentIndex(path=f"{base}/{f}", spark=spark)
                for f in ("title", "body")}
        else:
            docs = _load(spark, sf, "documents")
            pages = docs.select(
                "doc_id",
                F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8),
                             " ").alias("title"),
                F.col("text").alias("body"))
            _MFSEG_CACHE[key] = build_multifield_segment_index(
                pages, ["title", "body"], base, key_col="doc_id",
                precomputed_docid="doc_id", seg_size=1 << 13)
    return _MFSEG_CACHE[key]


def _seg_multifield_title(spark, sf):
    """Field-routed WAND over per-field segment indexes
    (MultiFieldWandSearcher + build_multifield_segment_index —
    PerFieldPostingsFormat at the serving tier): title:(table OR
    scan) runs the block-max kernel against the TITLE field's own
    postings/norms/df/avgdl, float32-exact."""
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(_mf_seg_indexes(spark, sf),
                                default_field="body")
    q = A.FieldedQ("title", A.OrQ((A.TermQ("table"), A.TermQ("scan"))))
    out = mw.search(q, k=10)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score").cast("double") * Q)
                      .cast("long").alias("score_q"),
                      F.col("rank").cast("long").alias("rank"))


def _f32_title_topk_sql(terms: list[str], k: int = 10) -> str:
    """Float32-exact BM25 top-k oracle over the TITLE field's own
    statistics (raw positions 0..7, stop-filtered): the FT_BASE CTE
    names are rebuilt from the title tokenization, then oracle_f32's
    bit-exact blocks apply unchanged. docCount = ALL corpus docs (the
    per-field segment builder's convention; the fixture has no empty
    titles, so this equals Lucene's per-field docCount here)."""
    from lucene_solr_spark.oracle_f32 import f32_base_sql, f32_sum_q

    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
tt AS (SELECT doc_id, term FROM tok
       WHERE pos < 8 AND term NOT IN {_STOP_SQL}),
postings AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             FROM tt GROUP BY 1, 2),
doclen AS (SELECT doc_id, count(*)::BIGINT AS doclen
           FROM tt GROUP BY 1),
cstats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                  (SELECT sum(doclen) FROM doclen)::DOUBLE AS sttf),
tstats AS (SELECT term, count(*)::DOUBLE AS df FROM postings
           GROUP BY term),
{f32_base_sql(terms)},
agg AS ({f32_sum_q()})
{_topk_sql("SELECT * FROM agg", k)}
"""


_register("seg_multifield_title", _seg_multifield_title,
          _f32_title_topk_sql(["table", "scan"]))

def _seg_multifield_qf(spark, sf):
    """CROSS-FIELD WAND (wand.qf_dismax_topk): edismax qf
    {title:3, body:1} over 'table scan' runs ONE theta-pruned kernel
    pass per segment across BOTH fields' block grids (per-field f32
    BM25, flat-engine post-multiply boost, f64 DisMax, f64 SHOULD
    fold, one downcast) — the shape that previously required the
    exhaustive flat engine."""
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(_mf_seg_indexes(spark, sf),
                                default_field="body")
    out = mw.search_qf("table scan", {"title": 3.0, "body": 1.0}, k=10)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score").cast("double") * Q)
                      .cast("long").alias("score_q"),
                      F.col("rank").cast("long").alias("rank"))


def _f32_qf_topk_sql(terms: list[str], k: int = 10) -> str:
    """Cross-field f32-exact qf oracle: title and body each get their
    own f32 pipeline (prefixed oracle_f32 CTEs over their own
    tokenization/stats), the title side is post-multiplied by the f32
    field boost (the flat engine's _boost order), DisMax takes the
    max (tie=0; f32 values, exact), terms sum in f64 and downcast
    once — bit-equal to qf_dismax_topk."""
    from lucene_solr_spark.oracle_f32 import f32_base_sql

    # the engine folds terms in sorted order (f64); this oracle's
    # GROUP BY sum has no order guarantee, which is bit-exact only
    # because ONE f64 addition is commutative — two terms max
    assert len(terms) <= 2, "qf oracle: sum order unproven for 3+ terms"
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
tt AS (SELECT doc_id, term FROM tok
       WHERE pos < 8 AND term NOT IN {_STOP_SQL}),
t_postings AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM tt GROUP BY 1, 2),
t_doclen AS (SELECT doc_id, count(*)::BIGINT AS doclen
             FROM tt GROUP BY 1),
t_cstats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                    (SELECT sum(doclen) FROM t_doclen)::DOUBLE AS sttf),
t_tstats AS (SELECT term, count(*)::DOUBLE AS df FROM t_postings
             GROUP BY term),
bf AS (SELECT doc_id, term FROM tok WHERE term NOT IN {_STOP_SQL}),
b_postings AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM bf GROUP BY 1, 2),
b_doclen AS (SELECT doc_id, count(*)::BIGINT AS doclen
             FROM bf GROUP BY 1),
b_cstats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                    (SELECT sum(doclen) FROM b_doclen)::DOUBLE AS sttf),
b_tstats AS (SELECT term, count(*)::DOUBLE AS df FROM b_postings
             GROUP BY term),
{f32_base_sql(terms, "t_")},
{f32_base_sql(terms, "b_")},
boosted AS (
  SELECT doc_id, term,
         CAST(s::DOUBLE * CAST(3.0 AS FLOAT) AS FLOAT) AS s
  FROM t_fscored
  UNION ALL
  SELECT doc_id, term, s FROM b_fscored
),
dm AS (
  SELECT doc_id, term, max(s) AS v FROM boosted GROUP BY doc_id, term
),
agg AS (
  SELECT doc_id,
         CAST(floor(CAST(sum(v::DOUBLE) AS FLOAT)::DOUBLE * 1000000)
              AS BIGINT) AS score_q
  FROM dm GROUP BY doc_id
)
{_topk_sql("SELECT * FROM agg", k)}
"""


_register("seg_multifield_qf", _seg_multifield_qf,
          _f32_qf_topk_sql(["table", "scan"]))


# ---- §2.4 JoinUtil score modes (round 5, late) -----------------------------

def _join_score(spark, sf, mode):
    """JoinUtil.createJoinQuery + ScoreMode (lucene/join/.../JoinUtil.java:91,
    ScoreMode.java:23-47): fromQuery = term 'merge' over documents,
    fromField = toField = source; per-source aggregate of the f32-exact
    quantized BM25 scores mapped onto every doc of that source."""
    from lucene_solr_spark.operators.relational import score_join

    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    hits = s.matches(A.TermQ("merge")).select(
        F.col("docid").alias("doc_id"),
        F.floor(F.col("score") * Q).cast("long").alias("score_q"))
    docs = _load(spark, sf, "documents").select("doc_id", "source")
    from_scored = hits.join(docs, "doc_id").select("source", "score_q")
    return score_join(from_scored, docs, "source", mode=mode, k=10)


def _join_score_sql(agg_expr: str) -> str:
    return f"""
WITH {FT_BASE}, {_ft_scored(['merge'])},
fhits AS (
  SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS score_q FROM scored
),
dim AS (
  SELECT d.source, {agg_expr} AS score_q
  FROM fhits f JOIN documents d USING (doc_id) GROUP BY d.source
),
hits AS (
  SELECT d.doc_id, m.score_q FROM documents d JOIN dim m ON d.source = m.source
)
{_topk_sql("SELECT * FROM hits", 10)}
"""


_register("join_score_max", lambda spark, sf: _join_score(spark, sf, "max"),
          _join_score_sql("max(f.score_q)"))

_register("join_score_avg", lambda spark, sf: _join_score(spark, sf, "avg"),
          _join_score_sql(
              "CAST(floor(CAST(sum(f.score_q) AS DOUBLE) / count(*)) AS BIGINT)"))


# ---- §2.5 grouped faceting (group.facet=true, round 5 late) ----------------

def _group_facet(spark, sf):
    """GroupFacetCollector (lucene/grouping/.../GroupFacetCollector.java):
    facet on lang over docs matching term 'merge', each source group
    counted once per lang."""
    from lucene_solr_spark.operators.facets import group_facet

    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    m = s.matches(A.TermQ("merge")).select(F.col("docid").alias("doc_id"))
    docs = _load(spark, sf, "documents").select("doc_id", "lang", "source")
    return group_facet(m.join(docs, "doc_id"), "source", "lang", k=10)


_register("group_facet", _group_facet, f"""
WITH {FT_BASE},
hits AS (SELECT DISTINCT doc_id FROM postings WHERE term = 'merge'),
gf AS (
  SELECT d.lang AS value, count(DISTINCT d.source)::BIGINT AS cnt
  FROM hits h JOIN documents d USING (doc_id) GROUP BY d.lang
)
SELECT value, cnt,
       row_number() OVER (ORDER BY cnt DESC, value) AS rank
FROM gf ORDER BY cnt DESC, value LIMIT 10
""")


# ---- §2.13 WordBreakSpellChecker (round 5, late) ---------------------------

_WB_WORDS = ["hashjoin", "sortkey", "batchagg", "mergescan", "xyzzy"]


def _spellcheck_wordbreak(spark, sf):
    """WordBreakSpellChecker.suggestWordBreaks over the corpus
    dictionary (suggest/spell/WordBreakSpellChecker.java:91-151)."""
    return SX.word_break_suggest(_docs_index(spark, sf), _WB_WORDS, k=10)


_register("spellcheck_wordbreak", _spellcheck_wordbreak, f"""
WITH {FT_BASE},
words(word) AS (VALUES {", ".join(f"('{w}')" for w in _WB_WORDS)}),
splits AS (
  SELECT w.word, i AS split_pos,
         substr(w.word, 1, i::INT) AS left_term,
         substr(w.word, i::INT + 1) AS right_term
  FROM words w, range(1, 64) t(i) WHERE i < len(w.word)
),
cand AS (
  SELECT s.word, s.split_pos, s.left_term, s.right_term,
         lt.df::BIGINT AS left_df, rt.df::BIGINT AS right_df
  FROM splits s
  JOIN tstats lt ON lt.term = s.left_term
  JOIN tstats rt ON rt.term = s.right_term
  WHERE lt.df >= 1 AND rt.df >= 1
)
SELECT word, split_pos, left_term, right_term, left_df, right_df,
       greatest(left_df, right_df) AS max_freq,
       row_number() OVER (
         ORDER BY greatest(left_df, right_df) DESC, word, split_pos) AS rank
FROM cand ORDER BY max_freq DESC, word, split_pos LIMIT 10
""")


# ---- sandbox DocValuesNumbersQuery (round 5, late) -------------------------

def _seg_dv_numbers(spark, sf):
    """DocValuesNumbersQuery (lucene/sandbox/.../DocValuesNumbersQuery.java):
    docs whose numeric doc value is in a given long set, answered from
    the dv sidecar alone (the doc-values arm of IndexOrDocValuesQuery)
    — source tables never scanned (plan-asserted in
    tests/test_segments.py)."""
    si = _seg_docvalues(spark, sf)
    vals = list(range(80, 120))
    return (si.docvalues
            .where(F.col("n_chars").cast("long").isin(vals))
            .select(F.col("docid").alias("doc_id"),
                    F.col("n_chars").cast("long").alias("n_chars"))
            .orderBy("doc_id"))


_register("seg_dv_numbers", _seg_dv_numbers, """
SELECT doc_id, n_chars::BIGINT AS n_chars
FROM documents
WHERE n_chars BETWEEN 80 AND 119
ORDER BY doc_id
""")


# ---- §2.13 DirectSpellChecker with real scoring (round 5, late) ------------

_DSC_WORDS = ["mereg", "sow", "dart", "qery", "streem"]


def _spellcheck_direct(spark, sf):
    """DirectSpellChecker.suggestSimilar over the corpus dictionary
    (suggest/spell/DirectSpellChecker.java:286; OSA distance,
    1 - d/min(len) scoring, score/freq/term comparator). The oracle
    uses DuckDB's damerau_levenshtein — full Damerau, not OSA — which
    is equal to OSA for every (word, vocab-term) pair these inputs
    reach (asserted in tests/test_round5_late.py; the two metrics
    diverge only when a transposed pair is edited again)."""
    return SX.direct_spellcheck(_docs_index(spark, sf), _DSC_WORDS,
                                k_per_word=5)


_register("spellcheck_direct", _spellcheck_direct, f"""
WITH {FT_BASE},
words(word) AS (VALUES {", ".join(f"('{w}')" for w in _DSC_WORDS)}),
cand AS (
  SELECT w.word, t.term, t.df::BIGINT AS df,
         damerau_levenshtein(w.word, t.term)::BIGINT AS dist
  FROM words w JOIN tstats t
    ON abs(len(t.term) - len(w.word)) <= 2 AND t.term <> w.word
),
sc AS (
  SELECT word, term, df, dist,
         CAST(floor((1.0 - dist::DOUBLE
                     / least(len(word), len(term))) * 1000000)
              AS BIGINT) AS score_q
  FROM cand WHERE dist <= 2
)
SELECT word, term, df, dist, score_q,
       row_number() OVER (
         PARTITION BY word ORDER BY score_q DESC, df DESC, term) AS rank
FROM sc WHERE score_q >= 500000
QUALIFY rank <= 5
""")


# ---- §2.13 FastVectorHighlighter (round 5, late) ---------------------------

_FVH_FRAG = 60
_FVH_MARGIN = 6


def _fvh_highlight(spark, sf):
    """FastVectorHighlighter over the indexed term-vector stream
    (vectorhighlight/FastVectorHighlighter.java): phrase 'hash join',
    SimpleFragListBuilder fragment chaining, ScoreOrderFragmentsBuilder
    top-3 fragments per doc. The oracle unrolls the greedy chain 3
    steps; its set-based absorption equals the reference's sequential
    absorption because this corpus's matches are uniform-width
    (pinned in tests/test_round5_late.py)."""
    idx = _docs_index_offsets(spark, sf)
    docs = _load(spark, sf, "documents")
    return SX.fast_vector_highlight(
        idx, docs, ["hash", "join"], frag_char_size=_FVH_FRAG,
        margin=_FVH_MARGIN, max_fragments=3)


def _fvh_step(k: int, prev: str) -> str:
    """One unrolled BaseFragListBuilder iteration: trigger = first
    match at/after the previous fragment end, provisional span,
    set-based absorption, re-centered emission."""
    f, g = _FVH_FRAG, _FVH_MARGIN
    return f"""
t{k} AS (
  SELECT p.doc_id, p.pe, min(m.ms) AS ts
  FROM {prev} p JOIN m ON m.doc_id = p.doc_id AND m.ms >= p.pe
  GROUP BY p.doc_id, p.pe
),
s{k} AS (
  SELECT t.doc_id, t.pe, t.ts,
         greatest(t.ts + 9, greatest(t.ts - {g}, t.pe) + {f}) AS sep
  FROM t{k} t
),
a{k} AS (
  SELECT s.doc_id, s.pe, s.ts, count(*) AS nm, max(m.me) AS ce
  FROM s{k} s JOIN m ON m.doc_id = s.doc_id
                    AND m.ms >= s.pe AND m.me <= s.sep
  GROUP BY s.doc_id, s.pe, s.ts
),
f{k} AS (
  SELECT doc_id, nm,
         greatest(ts - greatest(0, ({f} - (ce - ts)) // 2), pe) AS fs,
         greatest(ts - greatest(0, ({f} - (ce - ts)) // 2), pe)
           + greatest(ce - ts, {f}) AS fe
  FROM a{k}
)"""


_register("fvh_highlight", _fvh_highlight, f"""
WITH {FT_BASE},
occ AS (
  SELECT t.doc_id, t.pos, t.term,
         CASE WHEN t.pos = 0 THEN 0
              ELSE len(array_to_string(
                       (string_split(d.text, ' '))[1:t.pos], ' ')) + 1
         END AS st,
         len((string_split(d.text, ' '))[t.pos + 1]) AS tlen
  FROM tokf t JOIN documents d USING (doc_id)
  WHERE t.term IN ('hash', 'join')
),
m AS (
  SELECT o1.doc_id, o1.st AS ms, (o2.st + o2.tlen) AS me
  FROM occ o1 JOIN occ o2
    ON o1.doc_id = o2.doc_id AND o2.pos = o1.pos + 1
  WHERE o1.term = 'hash' AND o2.term = 'join'
),
seed AS (SELECT DISTINCT doc_id, 0 AS pe FROM m),
{_fvh_step(1, "seed")},
p2 AS (SELECT doc_id, fe AS pe FROM f1),
{_fvh_step(2, "p2")},
p3 AS (SELECT doc_id, fe AS pe FROM f2),
{_fvh_step(3, "p3")},
allf AS (
  SELECT doc_id, fs, fe, nm FROM f1
  UNION ALL SELECT doc_id, fs, fe, nm FROM f2
  UNION ALL SELECT doc_id, fs, fe, nm FROM f3
),
ranked AS (
  SELECT doc_id, fs AS frag_start, fe AS frag_end, nm AS n_matches,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY nm DESC, fs ASC) AS rank
  FROM allf
)
SELECT r.doc_id, r.frag_start, r.frag_end, r.n_matches,
       substr(d.text, (r.frag_start + 1)::INT,
              (r.frag_end - r.frag_start)::INT) AS snippet,
       r.rank
FROM ranked r JOIN documents d USING (doc_id)
WHERE r.rank <= 3
""")


# ---- §2.13 SpellCheckCollator (round 5, late) ------------------------------

def _spellcheck_collate(spark, sf):
    """SpellCheckCollator (solr/core/.../spelling/SpellCheckCollator
    .java:52-185): collations of the misspelled query 'sow dart' from
    the top-2 DirectSpellChecker suggestions per word, each verified
    by re-execution (hits = conjunction count), ranked
    (rank-sum asc, collation asc)."""
    return SX.spellcheck_collate(_docs_index(spark, sf),
                                 ["sow", "dart"], max_collations=5,
                                 k_sugg=2)


_register("spellcheck_collate", _spellcheck_collate, f"""
WITH {FT_BASE},
words(word) AS (VALUES ('sow'), ('dart')),
scand AS (
  SELECT w.word, t.term, t.df::BIGINT AS df,
         CAST(floor((1.0 - damerau_levenshtein(w.word, t.term)::DOUBLE
                     / least(len(w.word), len(t.term))) * 1000000)
              AS BIGINT) AS score_q
  FROM words w
  JOIN tstats t
    ON abs(len(t.term) - len(w.word)) <= 2 AND t.term <> w.word
  WHERE damerau_levenshtein(w.word, t.term) <= 2
),
sugg AS (
  SELECT word, term,
         row_number() OVER (PARTITION BY word
                            ORDER BY score_q DESC, df DESC, term) AS rnk
  FROM scand WHERE score_q >= 500000
),
s1 AS (SELECT term, rnk FROM sugg WHERE word = 'sow' AND rnk <= 2),
s2 AS (SELECT term, rnk FROM sugg WHERE word = 'dart' AND rnk <= 2),
combos AS (
  SELECT s1.term AS t1, s2.term AS t2,
         s1.term || ' ' || s2.term AS collation,
         (s1.rnk + s2.rnk)::BIGINT AS rank_sum
  FROM s1 CROSS JOIN s2
),
h AS (
  SELECT c.collation, c.rank_sum, count(*)::BIGINT AS hits
  FROM combos c
  JOIN (SELECT DISTINCT doc_id, term FROM postings) p1 ON p1.term = c.t1
  JOIN (SELECT DISTINCT doc_id, term FROM postings) p2
    ON p2.term = c.t2 AND p2.doc_id = p1.doc_id
  GROUP BY c.collation, c.rank_sum
)
SELECT h.collation, h.hits,
       row_number() OVER (ORDER BY h.rank_sum, h.collation) AS rank
FROM h WHERE h.hits > 0
ORDER BY h.rank_sum, h.collation LIMIT 5
""")


# ---- §2.5 interval facets + §2.6 cursorMark (round 5, late) ----------------

_IVALS = ["[0,100)", "[100,200)", "[150,*]", "(*,80]"]


def _interval_facet(spark, sf):
    """facet.interval (solr/core/.../request/IntervalFacets.java):
    overlapping intervals over documents.n_chars, each counted
    independently in one scan."""
    from lucene_solr_spark.operators.facets import interval_facet

    docs = _load(spark, sf, "documents")
    return interval_facet(docs, "n_chars", _IVALS)


_register("interval_facet", _interval_facet, """
SELECT '[0,100)' AS ival,
       count(*) FILTER (WHERE n_chars >= 0 AND n_chars < 100)::BIGINT AS cnt,
       1::BIGINT AS rank FROM documents
UNION ALL
SELECT '[100,200)',
       count(*) FILTER (WHERE n_chars >= 100 AND n_chars < 200)::BIGINT,
       2::BIGINT FROM documents
UNION ALL
SELECT '[150,*]',
       count(*) FILTER (WHERE n_chars >= 150)::BIGINT,
       3::BIGINT FROM documents
UNION ALL
SELECT '(*,80]',
       count(*) FILTER (WHERE n_chars <= 80)::BIGINT,
       4::BIGINT FROM documents
""")


def _cursor_mark(spark, sf):
    """CursorMark deep paging (solr/core/.../search/CursorMark.java:48
    + CursorMarkParams): page 2 of a BM25 ranking is fetched with the
    cursor's sort-tuple RANGE predicate — score_q < s OR (score_q = s
    AND doc_id > d) — never a deep OFFSET scan; the totally-ordered
    sort (score desc, docid asc — the uniqueKey tie Solr requires)
    makes the cursor stateless and shard-safe. Returns page-2 rows
    with page-local ranks."""
    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    m = (s.matches(A.OrQ((A.TermQ("filter"), A.TermQ("vector"))))
         .select(F.col("docid").alias("doc_id"),
                 F.floor(F.col("score") * Q).cast("long").alias("score_q")))
    last = (m.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(10)
            .collect())[-1]
    cs, cd = last["score_q"], last["doc_id"]
    page2 = (m.where((F.col("score_q") < cs)
                     | ((F.col("score_q") == cs) & (F.col("doc_id") > cd)))
             .orderBy(F.desc("score_q"), F.asc("doc_id")).limit(10))
    w = Window.orderBy(F.desc("score_q"), F.asc("doc_id"))
    return page2.withColumn("rank", F.row_number().over(w).cast("long"))


_register("cursor_mark", _cursor_mark, f"""
WITH {FT_BASE}, {_ft_scored(['filter', 'vector'])},
agg AS (
  SELECT doc_id, CAST(floor(sum(s) * 1000000) AS BIGINT) AS score_q
  FROM scored GROUP BY doc_id
),
rk AS (
  SELECT doc_id, score_q,
         row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk
  FROM agg
)
SELECT doc_id, score_q, (rnk - 10)::BIGINT AS rank
FROM rk WHERE rnk > 10 AND rnk <= 20
""")


# ---- {!payload_check} / SpanPayloadCheckQuery (round 5, late) --------------

def _payload_check(spark, sf):
    """{!payload_check} (queries/payloads/SpanPayloadCheckQuery.java +
    PayloadCheckQParserPlugin): 'merge' occurrences whose offset
    payload is 0 — i.e. documents whose span sits at the very start.
    Constant-score filter role; ordered by doc_id."""
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(_docs_index_offsets(spark, sf), mode="sql")
    out = solr_qparser(s, "{!payload_check f=text payloads='0'}merge")
    return (out.select(F.col("docid").cast("long").alias("doc_id"))
            .orderBy("doc_id"))


_register("payload_check", _payload_check, """
SELECT doc_id FROM documents
WHERE text = 'merge' OR text LIKE 'merge %'
ORDER BY doc_id
""")


# ---- RandomStream (round 5, late) ------------------------------------------

def _random_stream(spark, sf):
    """RandomStream (io/stream/RandomStream.java) with the
    engine-portable md5(seed:key) sort field (RandomSortField's
    construction): a deterministic 15-doc sample of documents."""
    from lucene_solr_spark.operators.relational import random_stream

    docs = _load(spark, sf, "documents").select("doc_id", "lang")
    return random_stream(docs, "doc_id", k=15, seed="42")


_register("random_stream", _random_stream, """
WITH h AS (
  SELECT doc_id, lang, md5('42:' || doc_id::VARCHAR) AS rnd
  FROM documents
)
SELECT doc_id, lang, rnd,
       row_number() OVER (ORDER BY rnd, doc_id) AS rank
FROM h ORDER BY rnd, doc_id LIMIT 15
""")


# ---- FuzzySuggester (round 5, late) ----------------------------------------

def _suggest_fuzzy(spark, sf):
    """FuzzySuggester.lookup (suggest/analyzing/FuzzySuggester.java,
    defaults maxEdits=1 transpositions=true nonFuzzyPrefix=1
    minFuzzyLength=3): the typo'd query 'custp' completes against the
    persisted suggester — a key matches when some prefix within +-1 of
    the query length is <= 1 OSA edit away, first char exact."""
    from lucene_solr_spark.operators.searchext import (
        fuzzy_suggest, load_suggester)

    _suggest_analyzing(spark, sf)  # ensure the persisted layout exists
    key = os.path.basename(sf.rstrip("/"))
    path = f"/tmp/driver_suggester_{key}"
    return fuzzy_suggest(load_suggester(spark, path), "custp", k=10)


_register("suggest_fuzzy", _suggest_fuzzy, f"""
WITH ent AS (
  SELECT substr(text, 1, 30) AS surface, n_chars AS weight FROM documents
),
keyed AS (
  SELECT array_to_string(
           list_filter(string_split(surface, ' '),
                       x -> x <> '' AND x NOT IN ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with')),
           chr(31)) AS key,
         surface, max(weight) AS weight
  FROM ent GROUP BY 1, 2
),
cand AS (
  SELECT surface, weight::BIGINT AS weight, key
  FROM keyed
  WHERE key <> '' AND starts_with(key, 'c') AND len(key) >= 4
),
dist AS (
  SELECT c.surface, c.weight, c.key,
         min(damerau_levenshtein('custp', substr(c.key, 1, L::INT))) AS d
  FROM cand c, range(4, 7) t(L)
  WHERE L <= len(c.key)
  GROUP BY c.surface, c.weight, c.key
),
sel AS (
  SELECT surface, weight,
         CASE WHEN key = 'custp' THEN 1 ELSE 0 END AS is_exact
  FROM dist WHERE d <= 1
)
SELECT surface, weight,
       row_number() OVER (ORDER BY is_exact DESC, weight DESC, surface)
         AS rank
FROM sel QUALIFY rank <= 10
""")


# ---- AnalyzingInfixSuggester (round 5, late) -------------------------------

def _suggest_infix(spark, sf):
    """AnalyzingInfixSuggester (suggest/analyzing/
    AnalyzingInfixSuggester.java): 'data cust' — 'data' must match a
    whole entry token, 'cust' prefix-matches ANY token (not just the
    first), weight-ranked."""
    from lucene_solr_spark.operators.searchext import (
        infix_suggest, load_suggester)

    _suggest_analyzing(spark, sf)  # ensure the persisted layout exists
    key = os.path.basename(sf.rstrip("/"))
    path = f"/tmp/driver_suggester_{key}"
    return infix_suggest(load_suggester(spark, path), "data cust", k=10)


_register("suggest_infix", _suggest_infix, f"""
WITH ent AS (
  SELECT substr(text, 1, 30) AS surface, n_chars AS weight FROM documents
),
keyed AS (
  SELECT array_to_string(
           list_filter(string_split(surface, ' '),
                       x -> x <> '' AND x NOT IN ('a','an','and','are','as','at','be','but','by','for','if','in','into','is','it','no','not','of','on','or','such','that','the','their','then','there','these','they','this','to','was','will','with')),
           chr(31)) AS key,
         surface, max(weight) AS weight
  FROM ent GROUP BY 1, 2
),
cand AS (
  SELECT surface, weight::BIGINT AS weight
  FROM keyed
  WHERE key <> ''
    AND list_contains(string_split(key, chr(31)), 'data')
    AND len(list_filter(string_split(key, chr(31)),
                        x -> starts_with(x, 'cust'))) > 0
)
SELECT surface, weight,
       row_number() OVER (ORDER BY weight DESC, surface) AS rank
FROM cand QUALIFY rank <= 10
""")


# ---- LLM-pipeline sampling / packing (round 5, late) -----------------------

def _stratified_sample(spark, sf):
    """Deterministic stratified sample: 5 docs per lang by the
    md5(seed:doc_id) order — exact-size, engine-portable strata."""
    from lucene_solr_spark.operators.sampling import stratified_sample

    docs = _load(spark, sf, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", 5, "doc_id", seed="7")


_register("stratified_sample", _stratified_sample, """
WITH h AS (
  SELECT doc_id, lang, md5('7:' || doc_id::VARCHAR) AS rnd
  FROM documents
),
rk AS (
  SELECT doc_id, lang, rnd,
         row_number() OVER (PARTITION BY lang
                            ORDER BY rnd, doc_id) AS rank
  FROM h
)
SELECT doc_id, lang, rnd, rank FROM rk WHERE rank <= 5
""")


def _seq_packing(spark, sf):
    """Sequence packing (T5-style offset packing) of the documents
    into 2048-token context bins, independently per lang partition;
    token count = n_chars // 4 (the quality-score estimator's
    chars-per-token heuristic)."""
    from lucene_solr_spark.operators.sampling import pack_sequences

    docs = (_load(spark, sf, "documents")
            .select("doc_id", "lang",
                    (F.col("n_chars") / 4).cast("long").alias("toks")))
    out = pack_sequences(docs, "lang", "doc_id", "toks", budget=2048)
    return out.select("doc_id", "lang", "toks", "cum_before",
                      "pack_id", "pack_pos")


_register("seq_packing", _seq_packing, """
WITH d AS (
  SELECT doc_id, lang, (n_chars // 4)::BIGINT AS toks FROM documents
),
c AS (
  SELECT doc_id, lang, toks,
         coalesce(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS cum_before
  FROM d
),
p AS (
  SELECT doc_id, lang, toks, cum_before,
         (cum_before // 2048)::BIGINT AS pack_id
  FROM c
)
SELECT doc_id, lang, toks, cum_before, pack_id,
       row_number() OVER (PARTITION BY lang, pack_id
                          ORDER BY doc_id) AS pack_pos
FROM p
""")


def _dataset_split(spark, sf):
    """Deterministic 80/10/10 train/val/test split of documents by
    the md5(seed:doc_id) hash — split sizes + a value fingerprint per
    split (xor-free: sum of doc_ids) so the assignment itself is
    oracle-checked, not just the counts."""
    from lucene_solr_spark.operators.sampling import dataset_split

    docs = _load(spark, sf, "documents").select("doc_id")
    out = dataset_split(docs, "doc_id",
                        {"train": 0.8, "val": 0.1, "test": 0.1})
    return (out.groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .orderBy("split"))


_register("dataset_split", _dataset_split, """
WITH h AS (
  SELECT doc_id, substr(md5('42:' || doc_id::VARCHAR), 1, 8) AS h8
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN h8 < 'cccccccc' THEN 'train'
              WHEN h8 < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM h
)
SELECT split, count(*)::BIGINT AS n, sum(doc_id)::BIGINT AS id_sum
FROM s GROUP BY split ORDER BY split
""")


# ---- lucene/misc: HighFreqTerms + SweetSpotSimilarity (round 5, late) ------

def _high_freq_terms(spark, sf):
    """HighFreqTerms (lucene/misc/src/java/org/apache/lucene/misc/
    HighFreqTerms.java): top-N dictionary terms by docFreq with
    totalTermFreq carried (the -t flag's alternate ordering available
    as a column). One agg over postings + the stats join."""
    idx = _docs_index(spark, sf)
    ttf = (idx.postings.groupBy("term")
           .agg(F.sum("tf").cast("long").alias("ttf")))
    ts = idx.term_stats.select("term", F.col("df").cast("long").alias("df"))
    order = [F.desc("df"), F.asc("term")]
    w = Window.orderBy(*order)
    return (ts.join(ttf, "term")
            .orderBy(*order).limit(10)
            .withColumn("rank", F.row_number().over(w).cast("long")))


_register("high_freq_terms", _high_freq_terms, f"""
WITH {FT_BASE},
ttf AS (SELECT term, sum(tf)::BIGINT AS ttf FROM postings GROUP BY term)
SELECT ts.term, ts.df::BIGINT AS df, ttf.ttf,
       row_number() OVER (ORDER BY ts.df DESC, ts.term) AS rank
FROM tstats ts JOIN ttf USING (term)
ORDER BY ts.df DESC, ts.term LIMIT 10
""")


def _ft_sweetspot(spark, sf):
    """SweetSpotSimilarity (lucene/misc/src/java/org/apache/lucene/
    misc/SweetSpotSimilarity.java): ClassicSimilarity with a plateau
    length norm — 1/sqrt(steepness*(|len-min| + |len-max| -
    (max-min)) + 1), docs inside [min,max] unpenalized — and
    baselineTf: tf <= tf_min ? tf_base : sqrt(tf + tf_base^2 -
    tf_min). Params: lengthNorm(8, 20, 0.5), baselineTf(1.5, 2).
    Exact-double variant for cross-engine parity (the alternate-sims
    contract of ft_tfidf/ft_lmd/...)."""
    idx = _docs_index(spark, sf)
    n = float(idx.coll_stats["doc_count"])
    p = idx.postings.where(F.col("term") == "merge").select("docid", "tf")
    d = idx.docs.select("docid", "doclen")
    dfv = float(idx.term_stats.where(F.col("term") == "merge")
                .first()["df"])
    import math
    idf = 1.0 + math.log(n / (dfv + 1.0))
    tfc = F.col("tf").cast("double")
    btf = F.when(tfc <= 2.0, F.lit(1.5)).otherwise(
        F.sqrt(tfc + F.lit(1.5 * 1.5 - 2.0)))
    dl = F.col("doclen").cast("double")
    lnorm = F.lit(1.0) / F.sqrt(
        F.lit(0.5) * (F.abs(dl - 8.0) + F.abs(dl - 20.0) - F.lit(12.0))
        + F.lit(1.0))
    score = btf * F.lit(idf * idf) * lnorm
    out = (p.join(d, "docid")
           .select("docid", F.floor(score * Q).cast("long")
                   .alias("score_q")))
    top = out.orderBy(F.desc("score_q"), F.asc("docid")).limit(10)
    w = Window.orderBy(F.desc("score_q"), F.asc("docid"))
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select(F.col("docid").alias("doc_id"), "score_q", "rank"))


_register("ft_sweetspot", _ft_sweetspot, f"""
WITH {FT_BASE},
prm AS (
  SELECT (1.0 + ln(cs.n / (ts.df + 1.0))) AS idf
  FROM tstats ts CROSS JOIN cstats cs WHERE ts.term = 'merge'
),
sc AS (
  SELECT p.doc_id,
         CAST(floor(
           (CASE WHEN p.tf <= 2.0 THEN 1.5
                 ELSE sqrt(p.tf + 0.25) END)
           * prm.idf * prm.idf
           * (1.0 / sqrt(0.5 * (abs(dl.doclen - 8.0)
                                + abs(dl.doclen - 20.0) - 12.0) + 1.0))
           * 1000000) AS BIGINT) AS score_q
  FROM postings p JOIN doclen dl USING (doc_id) CROSS JOIN prm
  WHERE p.term = 'merge'
)
{_topk_sql("SELECT * FROM sc", 10)}
""")


# ---- IndexSearcher.explain (round 5, late) ---------------------------------

from lucene_solr_spark.oracle_f32 import f32_base_sql as _f32_base_sql


def _explain_score(spark, sf):
    """IndexSearcher.explain (core/src/java/org/apache/lucene/search/
    IndexSearcher.java explain() + BM25Similarity.explainScore):
    the per-clause score breakdown for ONE document — the lowest
    doc_id matching both 'hash' and 'join'. One row per term with the
    f32-exact components (weight = boost*idf*(k1+1), norm cache,
    clause score), plus a '~total' row carrying the f64-accumulated
    f32-downcast document score (the exact collector fold). Single-doc
    debug API: the component math runs on driver-collected scalars
    through the SAME numpy BM25 kernels the engine scores with."""
    import numpy as np

    from lucene_solr_spark.functions.bm25 import BM25, length_norm_byte

    idx = _docs_index(spark, sf)
    terms = ["hash", "join"]
    p = idx.postings.where(F.col("term").isin(terms))
    both = (p.groupBy("docid").agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == 2).agg(F.min("docid").alias("d")))
    target = int(both.first()["d"])
    rows = {r["term"]: int(r["tf"])
            for r in p.where(F.col("docid") == target).collect()}
    doclen = int(idx.docs.where(F.col("docid") == target)
                 .first()["doclen"])
    cs = idx.coll_stats
    bm = BM25(int(cs["doc_count"]), int(cs["sum_ttf"]))
    dfs = {r["term"]: int(r["df"]) for r in
           idx.term_stats.where(F.col("term").isin(terms)).collect()}
    nb = int(length_norm_byte(doclen))
    out = []
    acc = 0.0
    for t in sorted(terms):
        w = bm.term_weight(dfs[t])
        c = float(bm.cache[nb])
        s = bm.score(np.float32(w), rows[t], nb)
        acc += float(s)
        out.append((t, target, rows[t], dfs[t], doclen,
                    int(np.floor(float(w) * 1e6)),
                    int(np.floor(c * 1e6)),
                    int(np.floor(float(s) * 1e6))))
    total = np.float32(acc)
    out.append(("~total", target, 0, 0, doclen, 0, 0,
                int(np.floor(float(total) * 1e6))))
    return spark.createDataFrame(
        out, "term string, doc_id long, tf long, df long, doclen long, "
             "weight_q long, cache_q long, score_q long")


_register("explain_score", _explain_score, f"""
WITH {FT_BASE},
tgt AS (
  SELECT min(doc_id) AS d FROM (
    SELECT doc_id FROM postings WHERE term IN ('hash', 'join')
    GROUP BY doc_id HAVING count(*) = 2)
),
{_f32_base_sql(["hash", "join"])},
comp AS (
  SELECT p.term, p.doc_id, p.tf::BIGINT AS tf,
         ts.df::BIGINT AS df, dl.doclen::BIGINT AS doclen,
         CAST(floor(fw.w::DOUBLE * 1000000) AS BIGINT) AS weight_q,
         CAST(floor(fc.c::DOUBLE * 1000000) AS BIGINT) AS cache_q,
         CAST(floor(fs.s::DOUBLE * 1000000) AS BIGINT) AS score_q
  FROM postings p
  JOIN tgt ON p.doc_id = tgt.d
  JOIN tstats ts USING (term)
  JOIN doclen dl ON dl.doc_id = p.doc_id
  JOIN fweights fw ON fw.term = p.term
  JOIN fcache fc ON fc.doc_id = p.doc_id
  JOIN fscored fs ON fs.doc_id = p.doc_id AND fs.term = p.term
  WHERE p.term IN ('hash', 'join')
),
tot AS (
  SELECT '~total' AS term, f.doc_id, 0::BIGINT AS tf, 0::BIGINT AS df,
         (SELECT doclen FROM comp LIMIT 1) AS doclen,
         0::BIGINT AS weight_q, 0::BIGINT AS cache_q,
         -- two clauses: the f64 sum is order-free (exact addition
         -- of two doubles), then one f32 downcast (the collector fold)
         CAST(floor(CAST(sum(f.s::DOUBLE)
                         AS FLOAT)::DOUBLE * 1000000) AS BIGINT)
           AS score_q
  FROM fscored f JOIN tgt ON f.doc_id = tgt.d
  GROUP BY f.doc_id
)
SELECT * FROM comp UNION ALL SELECT * FROM tot
""")


# ---- QueryElevationComponent (round 5, late) -------------------------------

def _query_elevation(spark, sf):
    """QueryElevationComponent: for q='merge', doc 7 then doc 3 are
    editorially pinned to the top (whether or not they match — the
    reference ORs the elevation ids into the query; a non-matching
    elevated doc carries organic score 0), doc 11 is excluded, the
    organic tail follows by (score desc, doc asc)."""
    from lucene_solr_spark.operators.searchext import elevate_query

    idx = _docs_index(spark, sf)
    s = Searcher(idx, mode="sql")
    hits = s.matches(A.TermQ("merge")).select(
        F.col("docid").alias("doc_id"),
        F.floor(F.col("score") * Q).cast("long").alias("score_q"))
    elevate, exclude = [7, 3], [11]
    ev = spark.createDataFrame([(int(d),) for d in elevate],
                               "doc_id long")
    evh = (ev.join(hits, "doc_id", "left")
           .select("doc_id", F.coalesce("score_q", F.lit(0))
                   .cast("long").alias("score_q")))
    org = hits.where(~F.col("doc_id").isin(elevate + exclude))
    out = elevate_query(org.unionByName(evh), elevate, exclude, k=10)
    return out.select("doc_id", "score_q",
                      F.col("elevated").cast("int").alias("elevated"),
                      "rank")


_register("query_elevation", _query_elevation, f"""
WITH {FT_BASE}, {_ft_scored(['merge'])},
agg AS (
  SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS score_q FROM scored
),
ev(doc_id, pos) AS (VALUES (7, 0), (3, 1)),
evh AS (
  SELECT e.doc_id, coalesce(a.score_q, 0)::BIGINT AS score_q, e.pos
  FROM ev e LEFT JOIN agg a USING (doc_id)
),
org AS (
  SELECT doc_id, score_q FROM agg WHERE doc_id NOT IN (7, 3, 11)
),
allh AS (
  SELECT doc_id, score_q, 1 AS elevated, pos FROM evh
  UNION ALL
  SELECT doc_id, score_q, 0 AS elevated, 2 AS pos FROM org
)
SELECT doc_id, score_q, elevated,
       row_number() OVER (
         ORDER BY elevated DESC, pos, score_q DESC, doc_id) AS rank
FROM allh
ORDER BY elevated DESC, pos, score_q DESC, doc_id LIMIT 10
""")


# ---- ord()/rord() ValueSources + sortMissingLast (round 5, late) -----------

def _func_ord(spark, sf):
    """OrdFieldSource / ReverseOrdFieldSource (lucene/queries/src/java/
    org/apache/lucene/queries/function/valuesource/OrdFieldSource.java,
    ReverseOrdFieldSource.java): ord(source) = 0-based ordinal of the
    doc's value in the sorted distinct values; rord = (numValues - 1)
    - ord. The ordinal dim is a broadcast join (the global-ords map),
    never a global window. First 20 docs by doc_id."""
    docs = _load(spark, sf, "documents").select("doc_id", "source")
    dim = (docs.select("source").distinct()
           .withColumn("ord", F.row_number().over(
               Window.orderBy("source")).cast("long") - 1))
    nvals = dim.count()
    out = (docs.join(F.broadcast(dim), "source")
           .select("doc_id", "ord",
                   (F.lit(int(nvals) - 1) - F.col("ord")).cast("long")
                   .alias("rord"))
           .orderBy("doc_id").limit(20))
    return out


_register("func_ord", _func_ord, """
WITH dim AS (
  SELECT source, dense_rank() OVER (ORDER BY source) - 1 AS ord
  FROM (SELECT DISTINCT source FROM documents)
),
n AS (SELECT count(*) AS nv FROM dim)
SELECT d.doc_id, m.ord::BIGINT AS ord,
       (n.nv - 1 - m.ord)::BIGINT AS rord
FROM documents d JOIN dim m USING (source) CROSS JOIN n
ORDER BY d.doc_id LIMIT 20
""")


def _sort_missing(spark, sf):
    """sortMissingLast (solr/core/.../schema/FieldType.java
    sortMissingLast/First; SortField.setMissingValue in
    search/SortField.java): docs sorted by a field where some values
    are MISSING (here: source 'src3' nulled out) — missing docs sort
    LAST regardless of direction, ties by doc_id."""
    docs = _load(spark, sf, "documents").select("doc_id", "source")
    v = F.when(F.col("source") == "src3", F.lit(None)).otherwise(
        F.col("source"))
    out = (docs.select("doc_id", v.alias("v"))
           .orderBy(F.asc_nulls_last("v"), F.asc("doc_id")).limit(25))
    w = Window.orderBy(F.asc_nulls_last("v"), F.asc("doc_id"))
    return (out.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("doc_id", F.coalesce("v", F.lit("~missing"))
                    .alias("v"), "rank"))


_register("sort_missing", _sort_missing, """
WITH s AS (
  SELECT doc_id, nullif(source, 'src3') AS v FROM documents
),
rk AS (
  SELECT doc_id, v,
         row_number() OVER (ORDER BY v ASC NULLS LAST, doc_id) AS rank
  FROM s
)
SELECT doc_id, coalesce(v, '~missing') AS v, rank
FROM rk WHERE rank <= 25 ORDER BY rank
""")


def _seg_span_multiterm(spark, sf):
    """SpanMultiTermQueryWrapper (lucene/core/.../search/spans/
    SpanMultiTermQueryWrapper.java): a multi-term query (prefix 's*')
    wrapped as a span — the reference REWRITES it to a SpanOr over
    the expanded terms (SpanRewriteMethod), which is exactly the
    SpanOrNQ slot the nested kernel executes; ordered
    near(or(s*-terms), merge) with gap <= 6. Expansion against the
    dictionary happens once, driver-side (the rewrite's term
    enumeration)."""
    from lucene_solr_spark.search.wand import WandSearcher

    idx = _docs_index(spark, sf)
    expanded = tuple(sorted(
        r["term"] for r in idx.term_stats
        .where(F.col("term").startswith("s")).select("term").collect()))
    si = _seg_index(spark, sf)
    q = A.SpanNearNQ((A.SpanOrNQ(expanded), "merge"), slop=6)
    out = WandSearcher(si).search(q, k=25)
    return out.select(F.col("docid").alias("doc_id"),
                      F.floor(F.col("score") * Q).cast("long")
                      .alias("score_q"), "rank")


_register("seg_span_multiterm", _seg_span_multiterm, f"""
WITH {FT_BASE},
m AS (
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM tokf WHERE term LIKE 's%') p1
  JOIN (SELECT doc_id, pos FROM tokf WHERE term = 'merge') p2
    ON p1.doc_id = p2.doc_id AND p2.pos > p1.pos
   AND (p2.pos - p1.pos - 1) <= 6
)
SELECT doc_id, CAST(1000000 AS BIGINT) AS score_q,
       row_number() OVER (ORDER BY doc_id) AS rank
FROM m QUALIFY rank <= 25
""")


# ---- DrillSideways (round 5, late) -----------------------------------------

def _drill_sideways(spark, sf):
    """DrillSideways over documents: base query = docs containing
    'merge' (postings semi-join), drill-down lang=en AND source=src3;
    each dimension's sideways counts drop its OWN filter only."""
    from lucene_solr_spark.operators.facets import drill_sideways

    idx = _docs_index(spark, sf)
    hits = (idx.postings.where(F.col("term") == "merge")
            .select(F.col("docid").alias("doc_id")).distinct())
    docs = _load(spark, sf, "documents").select("doc_id", "lang", "source")
    base = docs.join(hits, "doc_id")
    return drill_sideways(base, None,
                          {"lang": "en", "source": "src3"}, k_per_dim=8)


_register("drill_sideways", _drill_sideways, f"""
WITH {FT_BASE},
hits AS (SELECT DISTINCT doc_id FROM postings WHERE term = 'merge'),
base AS (
  SELECT d.doc_id, d.lang, d.source
  FROM documents d JOIN hits USING (doc_id)
),
sw AS (
  SELECT 'lang' AS dim, lang AS value, count(*)::BIGINT AS cnt
  FROM base WHERE source = 'src3' GROUP BY lang
  UNION ALL
  SELECT 'source', source, count(*)::BIGINT
  FROM base WHERE lang = 'en' GROUP BY source
)
SELECT dim, value, cnt,
       row_number() OVER (PARTITION BY dim
                          ORDER BY cnt DESC, value) AS rank
FROM sw QUALIFY rank <= 8
""")


# ---- FreeTextSuggester (round 5, late) --------------------------------------

def _suggest_freetext(spark, sf):
    """FreeTextSuggester grams=2 with stupid backoff (ALPHA 0.4):
    next-word prediction after 'hash' over the documents corpus."""
    from lucene_solr_spark.operators.searchext import free_text_suggest

    docs = _load(spark, sf, "documents")
    return free_text_suggest(docs, "hash", k=10)


_register("suggest_freetext", _suggest_freetext, """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
big AS (
  SELECT t1.term AS w1, t2.term AS w2, count(*)::BIGINT AS c
  FROM tok t1 JOIN tok t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY t1.term, t2.term
),
ctx AS (SELECT sum(c)::BIGINT AS n FROM big WHERE w1 = 'hash'),
uni AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
tot AS (SELECT count(*)::BIGINT AS n FROM tok),
hits AS (
  SELECT b.w2 AS term,
         CAST(floor(b.c::DOUBLE / ctx.n::DOUBLE * 1000000) AS BIGINT)
           AS score_q
  FROM big b CROSS JOIN ctx WHERE b.w1 = 'hash'
),
backoff AS (
  SELECT u.term,
         CAST(floor(0.4 * u.c::DOUBLE / tot.n::DOUBLE * 1000000)
              AS BIGINT) AS score_q
  FROM uni u CROSS JOIN tot
  WHERE u.term <> 'hash'
    AND u.term NOT IN (SELECT term FROM hits)
),
allc AS (SELECT * FROM hits UNION ALL SELECT * FROM backoff)
SELECT term, score_q,
       row_number() OVER (ORDER BY score_q DESC, term) AS rank
FROM allc ORDER BY score_q DESC, term LIMIT 10
""")

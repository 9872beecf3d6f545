"""Multi-field search — FieldedQ routing + edismax qf weighting.

The reference's most-used multi-field machinery:

- a Term is (field, text) (index/Term.java); scoring a term against
  field f uses f's own df / docCount / avgdl / norms
  (search/similarities/BM25Similarity.java computes idf and norm
  cache from the PER-FIELD CollectionStatistics/TermStatistics)
- edismax ``qf`` (solr/core/src/java/org/apache/solr/search/
  ExtendedDismaxQParser.java): each user term becomes a
  DisjunctionMaxQuery across the qf fields with per-field boosts,
  tie_breaker blending; the per-term DisMax nodes combine as SHOULD
  clauses.

MultiFieldSearcher subclasses the flat Searcher: every boolean
combinator (AndQ/OrQ/NotQ/DisMaxQ/ReqOptQ/ConstQ — including the
float32-deterministic clause-key-ordered folds) is inherited and
recurses polymorphically; FieldedQ leaves dispatch to the wrapped
field's own single-field Searcher, so a fielded subtree scores
bit-identically to the same query on a standalone index of that field
(duel-tested in tests/test_multifield.py). Unqualified leaves go to
the default field (Solr's ``df`` parameter).

Scale: a cross-field query is a union/join of per-field scored frames
on docid — each field's postings scan is pruned to that field's query
terms; no field reads another field's postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.index.multifield import MultiFieldIndex
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.search.executor import B, K1, Searcher
from lucene_solr_spark.search.wand import (SEARCH_MANY_SCHEMA, check_k,
                                           local_frame)

_COMBINATORS = (A.AndQ, A.OrQ, A.NotQ, A.DisMaxQ, A.ReqOptQ, A.ConstQ,
                A.MatchAllQ)


class MultiFieldSearcher(Searcher):
    """IndexSearcher over a MultiFieldIndex."""

    def __init__(self, mfi: MultiFieldIndex, mode: str = "lucene",
                 k1: float = K1, b: float = B,
                 default_field: str | None = None):
        self.mfi = mfi
        self.default_field = default_field or next(iter(mfi.fields))
        if self.default_field not in mfi.fields:
            raise ValueError(f"unknown default field {self.default_field!r}")
        total = {"doc_count": sum(it.coll_stats["doc_count"]
                                  for it in mfi.fields.values()) or 1,
                 "sum_ttf": sum(it.coll_stats["sum_ttf"]
                                for it in mfi.fields.values())}
        # shared frame backs MatchAllQ (every doc, regardless of which
        # fields it has) and search(with_url=True)
        shared = IndexTables(docs=mfi.docs, postings=None, term_stats=None,
                             coll_stats=total)
        super().__init__(shared, mode=mode, k1=k1, b=b)
        self.searchers = {f: Searcher(it, mode=mode, k1=k1, b=b)
                          for f, it in mfi.fields.items()}

    def _parse(self, s: str) -> A.Query:
        return A.parse_query(s, fields=tuple(self.searchers),
                             default_field=self.default_field)

    def matches(self, q: A.Query | str) -> DataFrame:
        if isinstance(q, str):
            q = self._parse(q)
        return self._eval(q.rewrite(), None)

    def search(self, q: A.Query | str, k: int = 10,
               with_url: bool = False) -> DataFrame:
        if isinstance(q, str):
            q = self._parse(q)
        return super().search(q, k=k, with_url=with_url)

    def search_quantized(self, q: A.Query | str, k: int = 10) -> DataFrame:
        if isinstance(q, str):
            q = self._parse(q)
        return super().search_quantized(q, k=k)

    def _eval(self, q: A.Query, scored: DataFrame | None) -> DataFrame:
        if isinstance(q, A.FieldedQ):
            if q.fld not in self.searchers:
                raise ValueError(f"unknown field {q.fld!r}")
            return self.searchers[q.fld].matches(q.inner)
        if isinstance(q, _COMBINATORS):
            return super()._eval(q, scored)
        return self.searchers[self.default_field].matches(q)


def edismax_qf(qstr: str, qf: dict[str, float],
               tie_breaker: float = 0.0,
               min_should_match: int = 1) -> A.Query:
    """The edismax main-query shape for a free-text ``q`` with field
    weights ``qf`` (ExtendedDismaxQParser: "each term is a DisMax over
    the qf fields"): per whitespace term, DisMaxQ across fields with
    the field's boost on the term; per-term nodes combine as SHOULD
    clauses with ``min_should_match``."""
    terms = [t.lower() for t in qstr.split()]
    if not terms or not qf:
        raise ValueError("edismax_qf needs terms and qf fields")
    per_term = []
    for t in terms:
        clauses = tuple(A.FieldedQ(f, A.TermQ(t, boost=w))
                        for f, w in sorted(qf.items()))
        per_term.append(clauses[0] if len(clauses) == 1
                        else A.DisMaxQ(clauses, tie_breaker=tie_breaker))
    if len(per_term) == 1:
        return per_term[0]
    return A.OrQ(tuple(per_term), min_should_match=min_should_match)


class MultiFieldWandSearcher:
    """Field-routed block-max WAND serving over per-field segment
    indexes (build_multifield_segment_index): the per-field dimension
    of the reference's serving path — a (field, term) query reads
    field-local postings/norms/stats (PerFieldPostingsFormat.java +
    per-field CollectionStatistics), scored bit-identically to a
    standalone index of that field.

    Routing contract: a query whose FieldedQ wrappers (or bare
    leaves, which take ``default_field``) all name ONE field strips
    to a single-field query and runs on that field's WandSearcher —
    full θ/block-max pruning, batched search_many, phrase/span
    kernels. CROSS-FIELD edismax qf runs kernel-pruned via
    ``search_qf`` (wand.qf_dismax_topk — monotone max-over-fields
    block bound, bit-equal to the flat path). Other arbitrary
    cross-field boolean shapes raise from search()/search_many():
    exact scoring there needs every candidate's per-field partials —
    route those to the flat MultiFieldSearcher.
    """

    def __init__(self, indexes: dict, default_field: str | None = None,
                 **wand_kw):
        from lucene_solr_spark.search.wand import WandSearcher

        self.searchers = {f: WandSearcher(si, **wand_kw)
                          for f, si in indexes.items()}
        self.default_field = default_field

    def _strip(self, q: A.Query, fields: set,
               ctx: str | None = None) -> A.Query:
        """Remove FieldedQ wrappers, collecting the fields used; a
        bare leaf takes the ENCLOSING FieldedQ's field (``ctx``) or
        default_field at the top level — Lucene's analyzer/parser
        field-scoping rule."""
        if isinstance(q, A.FieldedQ):
            if q.fld not in self.searchers:
                raise ValueError(f"unknown field {q.fld!r}")
            fields.add(q.fld)
            return self._strip(q.inner, fields, q.fld)
        if isinstance(q, (A.AndQ, A.OrQ)):
            kids = tuple(self._strip(c, fields, ctx) for c in q.clauses)
            return (A.AndQ(kids) if isinstance(q, A.AndQ)
                    else A.OrQ(kids, min_should_match=q.min_should_match))
        if isinstance(q, A.DisMaxQ):
            return A.DisMaxQ(tuple(self._strip(c, fields, ctx)
                                   for c in q.clauses),
                             tie_breaker=q.tie_breaker)
        if isinstance(q, A.NotQ):
            return A.NotQ(self._strip(q.positive, fields, ctx),
                          self._strip(q.negative, fields, ctx))
        if isinstance(q, A.ReqOptQ):
            return A.ReqOptQ(self._strip(q.required, fields, ctx),
                             self._strip(q.optional, fields, ctx))
        if isinstance(q, A.ConstQ):
            return A.ConstQ(self._strip(q.inner, fields, ctx),
                            boost=q.boost)
        # bare leaf: enclosing field, else the default field
        if ctx is not None:
            fields.add(ctx)
            return q
        if self.default_field is None:
            raise ValueError("bare (unfielded) leaf needs default_field")
        fields.add(self.default_field)
        return q

    def _route(self, q: A.Query | str):
        if isinstance(q, str):
            q = A.parse_query(q, fields=tuple(self.searchers),
                              default_field=self.default_field)
        fields: set = set()
        stripped = self._strip(q, fields)
        if len(fields) != 1:
            raise ValueError(
                f"cross-field query spans {sorted(fields)} — exact "
                "cross-field scoring needs the flat MultiFieldSearcher")
        return self.searchers[next(iter(fields))], stripped

    def search(self, q, k: int = 10) -> DataFrame:
        k = check_k(k)
        ws, inner = self._route(q)
        return ws.search(inner, k=k)

    def search_many(self, queries: dict, k: int = 10) -> DataFrame:
        """Batched serving: queries route per entry; each field's
        batch runs through that field's shared-task-grid search_many
        (one job per field), and the driver concatenates the answers
        into one local frame (qids must be globally unique)."""
        k = check_k(k)
        by_field: dict = {}
        for qid, q in queries.items():
            ws, inner = self._route(q)
            by_field.setdefault(id(ws), (ws, {}))[1][qid] = inner
        outs = [ws.search_many(qs, k=k) for ws, qs in by_field.values()]
        if len(outs) == 1:
            return outs[0]
        rows = [r for out in outs for r in out.collect()]  # no job
        return local_frame(next(iter(self.searchers.values())).si.spark,
                           SEARCH_MANY_SCHEMA,
                           dict(zip(("qid", "docid", "score", "rank"),
                                    zip(*rows))))

    def search_qf(self, qstr: str, qf: dict[str, float],
                  tie: float = 0.0, min_should_match: int = 1,
                  k: int = 10) -> DataFrame:
        """Cross-field edismax qf at the WAND tier: per term, DisMax
        over the qf fields (each scored with ITS index's df/avgdl/
        norms), terms SHOULD-combined — one kernel pass per segment
        over the per-field block grids, theta-pruned with the
        monotone max-over-fields bound (see wand.qf_dismax_topk).
        Scores bit-equal the flat MultiFieldSearcher on
        edismax_qf(qstr, qf, tie, min_should_match) (duel-tested)."""
        return _qf_search_impl(self, qstr, qf, tie, min_should_match,
                               check_k(k))


def _qf_search_impl(mw: "MultiFieldWandSearcher", qstr: str,
                    qf: dict[str, float], tie: float,
                    min_should_match: int, k: int) -> DataFrame:
    import numpy as np
    import pandas as pd

    from lucene_solr_spark.search.wand import (_load_seg_norms,
                                               _segment_postings,
                                               _segment_tasks, merge_topk,
                                               qf_dismax_topk)

    terms = [w.lower() for w in qstr.split()]
    if len(set(terms)) != len(terms):
        raise ValueError(
            "duplicate query terms: the flat engine folds duplicate "
            "clauses in f64 insertion order, which the kernel cannot "
            "replicate — dedupe upstream")
    fields = sorted(qf)
    unknown = [f for f in fields if f not in mw.searchers]
    if unknown:
        raise ValueError(f"unknown qf fields {unknown}")
    wss = {f: mw.searchers[f] for f in fields}
    segs = {f: tuple(ws.si.live_segments()) for f, ws in wss.items()}
    if len(set(segs.values())) != 1:
        raise ValueError(f"per-field segment sets diverge: {segs}")

    weights: dict[str, dict[str, np.float32]] = {}
    present_by_field: dict[str, list[str]] = {}
    for f, ws in wss.items():
        dfs = ws._global_df(sorted(set(terms)))
        present = [t for t in terms if dfs[t] > 0]
        present_by_field[f] = present
        for t in present:
            # UNBOOSTED weight; the field boost applies as the flat
            # engine's post-multiply inside the kernel (boosts=)
            weights.setdefault(t, {})[f] = np.float32(
                ws.bm25.term_weight(dfs[t]))
    spark = next(iter(wss.values())).si.spark
    if not weights:
        return merge_topk(spark, None, k)

    paths = {f: ws.si.path for f, ws in wss.items()}
    bm25s = {f: ws.bm25 for f, ws in wss.items()}
    k_ = int(k)
    tie_ = float(tie)
    msm_ = int(min_should_match)
    terms_ = sorted(weights)
    boosts_ = {f: np.float32(qf[f]) for f in fields}

    def per_segment(sid: int) -> pd.DataFrame | None:
        sources: dict[str, dict[str, object]] = {}
        norms: dict[str, np.ndarray] = {}
        doc_base = None
        for f in fields:
            norms[f], db = _load_seg_norms(paths[f], sid)
            if doc_base is None:
                doc_base = db
            elif db != doc_base:
                raise ValueError(f"doc_base mismatch in seg {sid}")
            for t, gp in _segment_postings(paths[f], sid,
                                           present_by_field[f]).items():
                sources.setdefault(t, {})[f] = gp
        if not sources:
            return None
        d, s = qf_dismax_topk(terms_, sources, weights, norms, doc_base,
                              bm25s, k=k_, tie=tie_, msm=msm_,
                              boosts=boosts_)
        return pd.DataFrame({"docid": d, "score": s})

    per_seg = _segment_tasks(spark, list(segs[fields[0]]), per_segment,
                             "docid long, score float")
    return merge_topk(spark, per_seg, k)

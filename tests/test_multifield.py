"""Multi-field indexing + FieldedQ routing + edismax qf.

Duels pin the core contract: a query routed to field f scores
bit-identically (float32) to the same query on a standalone
single-field index built from f's text — per-field df/docCount/avgdl/
norms (index/FieldInfos.java, BM25Similarity per-field stats)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.functions.bm25 import length_norm_byte
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.multifield import build_multifield_index
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.multifield import MultiFieldSearcher, edismax_qf

def _title_col():
    return F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")


@pytest.fixture(scope="module")
def mf_pages(spark):
    from lucene_solr_spark.sources.webtext import synth_pages

    df = (synth_pages(spark, 400, seed=7)
          .withColumn("title", _title_col())
          .withColumnRenamed("text", "body")
          .select("url", "title", "body").cache())
    df.count()
    return df


@pytest.fixture(scope="module")
def mf_index(mf_pages):
    mfi = build_multifield_index(mf_pages, ["title", "body"])
    mfi.analyzed.count()
    return mfi


@pytest.fixture(scope="module")
def title_index(mf_pages):
    idx = build_index(mf_pages.select("url", F.col("title").alias("text")))
    idx.docs.count()
    return idx


@pytest.fixture(scope="module")
def body_index(mf_pages):
    idx = build_index(mf_pages.select("url", F.col("body").alias("text")))
    idx.docs.count()
    return idx


def _rows(df):
    return [(r["docid"], np.float32(r["score"]).view(np.int32).item())
            for r in df.select("docid", "score").collect()]


def test_norms_per_field_bitexact(mf_index):
    """norm_<f> is byte315 of the FIELD length for every field."""
    rows = mf_index.docs.collect()
    for r in rows:
        for f in ("title", "body"):
            dl = r[f"doclen_{f}"]
            expect = (int(length_norm_byte(np.array([dl]))[0])
                      if dl > 0 else 0)
            assert r[f"norm_{f}"] == expect, (r["docid"], f, dl)


def test_per_field_stats_match_standalone(mf_index, title_index, body_index):
    for f, idx in (("title", title_index), ("body", body_index)):
        it = mf_index.fields[f]
        assert it.coll_stats == idx.coll_stats, f
        a = {r["term"]: (r["df"], r["ttf"])
             for r in it.term_stats.collect()}
        b = {r["term"]: (r["df"], r["ttf"])
             for r in idx.term_stats.collect()}
        assert a == b, f


FIELD_QUERIES = [
    "title:t000000",
    "body:t000001",
    "title:t000000 AND body:t000001",
    "title:t000000 OR body:t000212",
    'body:"t000001 t000002"',
    "title:t00000*",
]


@pytest.mark.parametrize("qs", FIELD_QUERIES)
def test_fielded_duel_standalone(mf_index, title_index, body_index, qs):
    """FieldedQ leaves score bit-equal to standalone per-field indexes,
    and cross-field composition reuses the deterministic f32 folds.
    Full match sets compared, every score bit-equal."""
    ms = MultiFieldSearcher(mf_index, default_field="body")
    q = A.parse_query(qs, fields=("title", "body"), default_field="body")
    got = sorted(_rows(ms.matches(q)))

    ts, bs = Searcher(title_index), Searcher(body_index)

    def eval_exp(node) -> dict[int, np.float32]:
        if isinstance(node, A.FieldedQ):
            assert node.fld == "title"
            return {r["docid"]: np.float32(r["score"])
                    for r in ts.matches(node.inner).collect()}
        if isinstance(node, (A.AndQ, A.OrQ)):
            parts = [eval_exp(c) for c in
                     sorted(node.clauses, key=lambda c: c.key())]
            if isinstance(node, A.AndQ):
                common = set(parts[0])
                for p in parts[1:]:
                    common &= set(p)
                return {d: np.float32(sum(np.float64(p[d]) for p in parts))
                        for d in common}
            acc: dict[int, np.float64] = {}
            for p in parts:
                for d, s in p.items():
                    acc[d] = acc.get(d, np.float64(0.0)) + np.float64(s)
            return {d: np.float32(v) for d, v in acc.items()}
        return {r["docid"]: np.float32(r["score"])
                for r in bs.matches(node).collect()}

    exp = sorted((int(d), np.float32(s).view(np.int32).item())
                 for d, s in eval_exp(q.rewrite()).items())
    assert got == exp, (qs, got[:3], exp[:3])


def test_edismax_qf_scores(mf_index, title_index, body_index):
    """edismax qf: per term, f32(max over fields of boost_f * s_f);
    terms sum in f64 clause-key order — verified against per-field
    standalone searchers composed in numpy."""
    ms = MultiFieldSearcher(mf_index, default_field="body")
    qf = {"title": 3.0, "body": 1.0}
    q = edismax_qf("t000000 t000005", qf)
    got = dict(_rows(ms.search(q, k=1000)))

    def fscores(idx, term, boost):
        s = Searcher(idx)
        out = {}
        for r in s.matches(A.TermQ(term)).collect():
            v = np.float32(np.float64(r["score"]) * np.float32(boost))
            out[r["docid"]] = v
        return out

    exp: dict[int, float] = {}
    per_term = []
    for t in ["t000000", "t000005"]:
        tmap = fscores(title_index, t, 3.0)
        bmap = fscores(body_index, t, 1.0)
        dm = {}
        for d in set(tmap) | set(bmap):
            cands = [v for v in (tmap.get(d), bmap.get(d)) if v is not None]
            dm[d] = np.float32(max(np.float64(c) for c in cands))
        per_term.append(dm)
    # OrQ f64 fold in clause-key order: dmax keys sort by clause key —
    # both clauses are dmax(...) keys; order = sorted key strings
    keys = ["dmax(f[body](t:t000000),f[title](t:t000000))",
            "dmax(f[body](t:t000005),f[title](t:t000005))"]
    order = np.argsort(keys)
    for d in set(per_term[0]) | set(per_term[1]):
        acc = np.float64(0.0)
        for i in order:
            if d in per_term[i]:
                acc = acc + np.float64(per_term[i][d])
        exp[d] = np.float32(acc)
    exp_rows = {d: np.float32(v).view(np.int32).item()
                for d, v in exp.items()}
    for d, s in got.items():
        assert exp_rows.get(d) == s, (d, s, exp_rows.get(d))
    assert len(got) == min(1000, len(exp_rows))


def test_dismax_qparser_dialect(mf_index):
    """{!dismax qf=... tie=... mm=...} builds exactly the edismax_qf
    node (DisMaxQParser.java's main-query shape) and scores through
    the MultiFieldSearcher bit-equal to the direct AST route."""
    from lucene_solr_spark.search.solrq import solr_qparser

    ms = MultiFieldSearcher(mf_index, default_field="body")
    want = _rows(ms.matches(edismax_qf(
        "t000000 t000005", {"title": 2.0, "body": 1.0},
        tie_breaker=0.1, min_should_match=1)))
    got = _rows(solr_qparser(
        ms, '{!dismax qf="title^2 body" tie=0.1 mm=1}t000000 t000005'))
    assert sorted(got) == sorted(want)
    assert len(got) > 0


@pytest.fixture(scope="module")
def mf_seg(mf_pages, tmp_path_factory):
    from lucene_solr_spark.index.multifield import (
        build_multifield_segment_index)

    path = str(tmp_path_factory.mktemp("mfseg") / "idx")
    return build_multifield_segment_index(
        mf_pages, ["title", "body"], path, seg_size=128, salt_span=32)


def test_multifield_wand_duels_flat(mf_seg, title_index, body_index):
    """Per-field segment indexes + field-routed WAND: single-field
    queries score bit-identically to standalone flat indexes of that
    field (full kernel pruning applies)."""
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    flat = {"title": Searcher(title_index, mode="lucene"),
            "body": Searcher(body_index, mode="lucene")}

    cases = [("title", "t000000"),
             ("body", "t000000 AND t000005"),
             ("title", "t000000 OR t000002"),
             ("body", '"t000000 t000001"')]
    for fld, qs in cases:
        node = A.FieldedQ(fld, A.parse_query(qs))
        a = _rows(mw.search(node, k=10))
        b = _rows(flat[fld].search(qs, k=10))
        assert sorted(a) == sorted(b), (fld, qs)
        assert len(a) > 0
    # string syntax: field scopes one atom (classic QueryParser)
    a = _rows(mw.search('title:"t000000 t000001"', k=10))
    b = _rows(flat["title"].search('"t000000 t000001"', k=10))
    assert sorted(a) == sorted(b)

    # bare leaves take the default field
    a = _rows(mw.search("t000005", k=10))
    b = _rows(flat["body"].search("t000005", k=10))
    assert sorted(a) == sorted(b)

    # cross-field shapes refuse with a pointer to the flat engine
    with pytest.raises(ValueError, match="cross-field"):
        mw.search(A.OrQ((A.FieldedQ("title", A.TermQ("t000000")),
                         A.FieldedQ("body", A.TermQ("t000001")))))


def test_multifield_wand_search_many(mf_seg, title_index, body_index):
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    batch = {"q1": "title:t000000", "q2": "body:t000001",
             "q3": A.FieldedQ("title", A.OrQ((A.TermQ("t000002"),
                                              A.TermQ("t000003"))))}
    got = mw.search_many(batch, k=5)
    rows = got.collect()
    by_qid: dict = {}
    for r in rows:
        by_qid.setdefault(r["qid"], []).append(
            (r["docid"], np.float32(r["score"]).view(np.int32).item()))
    for qid in batch:
        single = mw.search(batch[qid], k=5)
        want = [(r["docid"], np.float32(r["score"]).view(np.int32).item())
                for r in single.collect()]
        assert sorted(by_qid[qid]) == sorted(want), qid


def test_multifield_wand_answers_are_local(mf_seg, jobs_stages):
    """Empty answers (an empty batch, a qf query whose terms no field
    holds) start no Spark job and keep the schemas of non-empty ones;
    a batch over two fields answers with one local frame, whose
    collect starts no job."""
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    qf = {"title": 3.0, "body": 1.0}
    out = {}

    def run():
        out["many"] = mw.search_many({}, k=5).collect()
        out["qf"] = mw.search_qf("missingterm", qf, k=5).collect()

    assert jobs_stages(run) == (0, 0)
    assert out == {"many": [], "qf": []}
    both = mw.search_many({"q1": "title:t000000", "q2": "body:t000001"}, k=5)
    assert mw.search_many({}, k=5).dtypes == both.dtypes
    assert mw.search_qf("missingterm", qf, k=5).dtypes == \
        mw.search_qf("t000000", qf, k=5).dtypes
    assert jobs_stages(both.collect) == (0, 0)
    assert {r["qid"] for r in both.collect()} == {"q1", "q2"}


@pytest.mark.parametrize("qstr,qf,tie,msm", [
    ("t000000 t000005", {"title": 3.0, "body": 1.0}, 0.0, 1),
    ("t000000 t000002 t000010", {"title": 2.0, "body": 1.0}, 0.0, 2),
    ("t000001 t000003", {"title": 3.0, "body": 1.0}, 0.3, 1),
    ("t000000", {"title": 1.5, "body": 1.0}, 0.0, 1),
    ("t000000 missingterm", {"title": 2.0, "body": 1.0}, 0.0, 1),
])
def test_qf_wand_duels_flat(mf_seg, mf_index, qstr, qf, tie, msm):
    """Cross-field edismax qf on the WAND kernel duels the flat
    MultiFieldSearcher bit-equal (per-field f32 BM25, f64 DisMax
    mx + tie*(sm-mx), f64 SHOULD fold, one downcast)."""
    from lucene_solr_spark.search.multifield import (MultiFieldSearcher,
                                                     MultiFieldWandSearcher)

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    got = _rows(mw.search_qf(qstr, qf, tie=tie, min_should_match=msm,
                             k=10))
    ms = MultiFieldSearcher(mf_index, default_field="body")
    node = edismax_qf(qstr, qf, tie_breaker=tie, min_should_match=msm)
    want = _rows(ms.search(node, k=10))
    assert sorted(got) == sorted(want), (qstr, qf, tie, msm)
    assert len(got) > 0


def test_multifield_wand_rejects_k_below_one(mf_seg):
    """Every MultiFieldWandSearcher entry point refuses k < 1 on the
    driver, before routing or any job."""
    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    for k in (0, -3):
        with pytest.raises(ValueError, match="k must be an integer >= 1"):
            mw.search("title:t000000", k=k)
        with pytest.raises(ValueError, match="k must be an integer >= 1"):
            mw.search_many({"q": "body:t000001"}, k=k)
        with pytest.raises(ValueError, match="k must be an integer >= 1"):
            mw.search_many({}, k=k)
        with pytest.raises(ValueError, match="k must be an integer >= 1"):
            mw.search_qf("t000000 t000005", {"title": 3.0, "body": 1.0},
                         k=k)


def test_qf_wand_kernel_prunes(mf_seg):
    """The qf kernel's theta bound actually skips work: scored
    intervals < total intervals on a selective two-term query over
    the 400-doc fixture (pruning is real, not just safe)."""
    import numpy as np

    from lucene_solr_spark.search.multifield import MultiFieldWandSearcher
    from lucene_solr_spark.search.wand import (WandStats, _load_seg_norms,
                                               _segment_postings,
                                               qf_dismax_topk)

    mw = MultiFieldWandSearcher(mf_seg, default_field="body")
    terms = ["t000000", "t000005"]
    qf = {"title": 3.0, "body": 1.0}
    weights = {}
    for f, ws in mw.searchers.items():
        dfs = ws._global_df(terms)
        for t in terms:
            if dfs[t] > 0:
                weights.setdefault(t, {})[f] = np.float32(
                    ws.bm25.term_weight(dfs[t], boost=qf[f]))
    sid = int(mf_seg["title"].live_segments()[0])
    sources, norms = {}, {}
    doc_base = None
    for f in ("title", "body"):
        norms[f], doc_base = _load_seg_norms(mf_seg[f].path, sid)
        for t, gp in _segment_postings(mf_seg[f].path, sid, terms).items():
            sources.setdefault(t, {})[f] = gp
    st = WandStats()
    d, s = qf_dismax_topk(terms, sources, weights, norms, doc_base,
                          {f: ws.bm25 for f, ws in mw.searchers.items()},
                          k=3, stats=st)
    assert len(d) == 3
    assert st.intervals_scored < st.intervals_total


def test_multifield_seg_docvalues_passthrough(mf_pages, tmp_path_factory):
    """Per-field doc-values ride the per-field segment builds
    (docvalues_cols passes through build_multifield_segment_index):
    every field's index carries the sidecar, aligned on the shared
    docids."""
    from lucene_solr_spark.index.multifield import (
        build_multifield_segment_index)

    pages = mf_pages.withColumn(
        "pagerank", (F.length("body") % 7).cast("double"))
    path = str(tmp_path_factory.mktemp("mfsegdv") / "idx")
    seg = build_multifield_segment_index(
        pages, ["title", "body"], path, seg_size=128, salt_span=32,
        docvalues_cols=["pagerank"])
    assert all(si.has_docvalues() for si in seg.values())
    a = {r["docid"]: r["pagerank"] for r in
         seg["title"].docvalues.select("docid", "pagerank").collect()}
    b = {r["docid"]: r["pagerank"] for r in
         seg["body"].docvalues.select("docid", "pagerank").collect()}
    assert a == b and len(a) == mf_pages.count()


def test_multifield_seg_docid_alignment(mf_seg):
    t = mf_seg["title"].docs.select("url", "docid")
    b = mf_seg["body"].docs.select("url", "docid")
    assert t.join(b, ["url", "docid"]).count() == t.count() == b.count()


def test_single_scan_build(mf_index):
    """Both fields' postings project the SAME persisted analyzed frame
    (one corpus scan), visible as InMemoryTableScan in both plans."""
    for f in ("title", "body"):
        plan = (mf_index.fields[f].postings._jdf.queryExecution()
                .executedPlan().toString())
        # the scan reads the persisted frame; the MapInPandas appearing
        # below it is the cached relation's lineage printout, not a
        # recompute — assert the cache is hit before any Python stage
        assert "InMemoryTableScan" in plan, f
        assert plan.index("InMemoryTableScan") < plan.index("MapInPandas"), f


def test_parse_fielded_queries():
    q = A.parse_query("title:foo AND body:bar", fields=("title", "body"),
                      default_field="body")
    assert q == A.AndQ((A.FieldedQ("title", A.TermQ("foo")),
                        A.TermQ("bar")))
    q2 = A.parse_query('title:"a b"~1^2.5', fields=("title", "body"),
                       default_field="body")
    assert q2 == A.FieldedQ("title", A.PhraseQ(("a", "b"), slop=1,
                                               boost=2.5))
    with pytest.raises(ValueError):
        A.parse_query("nosuch:foo", fields=("title", "body"))
    # default-field qualifier stays bare (single-field back-compat)
    assert A.parse_query("text:foo") == A.TermQ("foo")


def test_matchall_covers_all_docs(mf_index, mf_pages):
    ms = MultiFieldSearcher(mf_index, default_field="body")
    n = ms.matches(A.MatchAllQ()).count()
    assert n == mf_pages.count()

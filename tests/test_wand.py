"""M3 dueling tests: block-max WAND ≡ exhaustive flat executor ≡ oracle.

The reference's equivalence-testing pattern (SURVEY §5.3,
TestDuelingCodecs / SearchEquivalenceTestBase): two independent
implementations must produce bit-identical (docid, float32 score)
top-k on the same corpus, plus kernel-level unit tests that pruning
is both safe (never changes results) and real (skips blocks).
"""

from __future__ import annotations

import dataclasses
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.functions.bm25 import BM25, length_norm_byte
from lucene_solr_spark.index.codec import encode_posting
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.index.segments import build_segment_index
from lucene_solr_spark.search.executor import Searcher
import lucene_solr_spark.search.wand as W
from lucene_solr_spark.search.wand import WandSearcher, WandStats, wand_topk

QUERIES = [
    "the",                      # stopword-free? 'the' is stopped -> empty
    "t000000",                  # highest-df zipf head term
    "t000100",
    "t004999",                  # low df
    "t000001 AND t000002",
    "t000000 AND t000010 AND t000050",
    "t000001 OR t000002",
    "t000000 OR t000111 OR t004999",
    "t000001 NOT t000002",
    "missingterm",
    "t000000 AND missingterm",
    "t000000 OR missingterm",
]


@pytest.fixture(scope="module")
def seg_index(spark, pages_tiny, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wandidx") / "idx")
    return build_segment_index(pages_tiny, path, seg_size=128, salt_span=32)


@pytest.fixture(scope="module")
def flat_searcher(tiny_index):
    return Searcher(tiny_index, mode="lucene")


def _rows(df):
    return [(r["docid"], np.float32(r["score"])) for r in
            sorted(df.collect(), key=lambda r: r["rank"])]


@pytest.mark.parametrize("q", QUERIES)
def test_wand_duels_flat(seg_index, flat_searcher, q):
    ws = WandSearcher(seg_index)
    a = _rows(ws.search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, f"query {q!r}: wand={a[:3]}... flat={b[:3]}..."


def test_wand_duels_oracle(seg_index, tiny_oracle):
    ws = WandSearcher(seg_index)
    for q in ["t000001 AND t000002", "t000001 OR t000002", "t000100"]:
        got = _rows(ws.search(q, k=10))
        exp = tiny_oracle.top_k(q, k=10)
        assert [(d, np.float32(s)) for d, s in exp] == got, q


def test_wand_msm(seg_index, flat_searcher):
    from lucene_solr_spark.search import ast as A

    q = A.OrQ((A.TermQ("t000001"), A.TermQ("t000002"), A.TermQ("t000003")),
              min_should_match=2)
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b


def test_wand_nested_or_duels_flat(seg_index, flat_searcher):
    """Nested OR trees are NOT WAND-shaped (msm counts top-level
    clauses; the executor folds the inner OR to float32 before the
    outer float64 sum) — they run the segment-tier tree fold and stay
    bit-equal with the flat executor."""
    from lucene_solr_spark.search import ast as A

    inner = A.OrQ((A.TermQ("t000001"), A.TermQ("t000002")))
    for msm in (1, 2):
        q = A.OrQ((inner, A.TermQ("t000003")), min_should_match=msm)
        assert WandSearcher._flat_terms(q) is None
        a = _rows(WandSearcher(seg_index).search(q, k=10))
        b = _rows(flat_searcher.search(q, k=10))
        assert a == b, f"msm={msm}"


def test_wand_not_with_or_negative(seg_index, flat_searcher):
    """MUST_NOT over an OR-of-terms stays WAND-shaped (unscored docid
    union is exact) and duels bit-equal."""
    from lucene_solr_spark.search import ast as A

    q = A.NotQ(A.TermQ("t000000"),
               A.OrQ((A.TermQ("t000001"), A.TermQ("t000002"))))
    assert WandSearcher._flat_terms(q) is not None
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b


# --- kernel-level tests ------------------------------------------------------


def _mk_kernel_fixture(n_docs=5000, n_terms=4, seed=7):
    rng = np.random.default_rng(seed)
    doclens = rng.integers(20, 400, size=n_docs)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    postings = {}
    weights = {}
    raw = {}
    for ti in range(n_terms):
        df = int(rng.integers(300, n_docs))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 8, size=df).astype(np.int64)
        term = f"term{ti}"
        postings[term] = encode_posting(docs, tfs, norms[docs].astype(np.int64))
        weights[term] = bm25.term_weight(df)
        raw[term] = (docs, tfs)
    return postings, weights, norms, bm25, raw


def _exhaustive_topk(raw, weights, norms, bm25, k, msm):
    n = len(norms)
    acc = np.zeros(n, dtype=np.float64)
    cnt = np.zeros(n, dtype=np.int32)
    for term in sorted(raw):
        docs, tfs = raw[term]
        s = bm25.score(np.full(len(docs), weights[term], dtype=np.float32),
                       tfs, norms[docs])
        acc[docs] += s.astype(np.float64)
        cnt[docs] += 1
    mask = cnt >= msm
    docs = np.nonzero(mask)[0].astype(np.int64)
    scores = acc[mask].astype(np.float32)
    order = np.lexsort((docs, -scores.astype(np.float64)))[:k]
    return docs[order], scores[order]


@pytest.mark.parametrize("msm", [1, 2, 4])
def test_kernel_exact_vs_exhaustive(msm):
    postings, weights, norms, bm25, raw = _mk_kernel_fixture()
    st = WandStats()
    d, s = wand_topk(postings, weights, norms, 0, bm25, k=10, msm=msm, stats=st)
    ed, es = _exhaustive_topk(raw, weights, norms, bm25, 10, msm)
    np.testing.assert_array_equal(d, ed)
    np.testing.assert_array_equal(s, es)


def test_kernel_prunes_blocks():
    """AND of a rare term with a common term must decode far fewer
    blocks than exist (the skip/block-max point of the format)."""
    rng = np.random.default_rng(11)
    n_docs = 60_000
    doclens = rng.integers(20, 400, size=n_docs)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    common_docs = np.arange(0, n_docs, 2, dtype=np.int64)           # df=30k
    rare_docs = np.sort(rng.choice(n_docs, 40, replace=False)).astype(np.int64)
    postings = {
        "common": encode_posting(common_docs,
                                 np.ones(len(common_docs), np.int64),
                                 norms[common_docs].astype(np.int64)),
        "rare": encode_posting(rare_docs, np.ones(40, np.int64),
                               norms[rare_docs].astype(np.int64)),
    }
    weights = {"common": bm25.term_weight(len(common_docs)),
               "rare": bm25.term_weight(40)}
    st = WandStats()
    d, s = wand_topk(postings, weights, norms, 0, bm25, k=10, msm=2, stats=st)
    assert len(d) == 10
    # AND: only intervals containing a rare docid need decode
    assert st.blocks_decoded < st.blocks_total / 2, (
        f"decoded {st.blocks_decoded}/{st.blocks_total}")
    # and results still match exhaustive
    raw = {"common": (common_docs, np.ones(len(common_docs), np.int64)),
           "rare": (rare_docs, np.ones(40, np.int64))}
    ed, es = _exhaustive_topk(raw, weights, norms, bm25, 10, 2)
    np.testing.assert_array_equal(d, ed)
    np.testing.assert_array_equal(s, es)


def test_kernel_blockmax_prunes_or():
    """Single-term (OR-shaped) top-k: once the heap fills with
    high-tf docs, blocks whose (max_tf, max_norm) bound is below
    theta must not be decoded (Ding & Suel block-max pruning)."""
    rng = np.random.default_rng(13)
    n_docs = 100_000
    doclens = np.full(n_docs, 100)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    docs = np.arange(0, n_docs, 2, dtype=np.int64)
    tfs = np.ones(len(docs), np.int64)
    # plant high-tf docs early so theta rises immediately
    tfs[:64] = 50
    postings = {"t": encode_posting(docs, tfs, norms[docs].astype(np.int64))}
    weights = {"t": bm25.term_weight(len(docs))}
    st = WandStats()
    d, s = wand_topk(postings, weights, norms, 0, bm25, k=10, msm=1, stats=st)
    raw = {"t": (docs, tfs)}
    ed, es = _exhaustive_topk(raw, weights, norms, bm25, 10, 1)
    np.testing.assert_array_equal(d, ed)
    np.testing.assert_array_equal(s, es)
    assert st.blocks_decoded < st.blocks_total / 4, (
        f"decoded {st.blocks_decoded}/{st.blocks_total}")


def test_kernel_exclude():
    postings, weights, norms, bm25, raw = _mk_kernel_fixture()
    excl = raw["term0"][0][:100]
    d, s = wand_topk(postings, weights, norms, 0, bm25, k=10, msm=1,
                     exclude=np.unique(excl))
    assert not np.isin(d, excl).any()


# every segment-native shape: flat boolean, phrases, multiphrase,
# spans, automaton, and trees for the fold (synonym/blended, dismax,
# nesting, boosts, ReqOpt, Const, a span leaf inside an OR)
SEGMENT_NATIVE_SHAPES = {
    "term": A.TermQ("t000100"),
    "and": A.AndQ((A.TermQ("t000001"), A.TermQ("t000002"))),
    "or": A.OrQ((A.TermQ("t000001"), A.TermQ("t000002"))),
    "not": A.NotQ(A.TermQ("t000000"), A.TermQ("t000001")),
    "msm": A.OrQ((A.TermQ("t000001"), A.TermQ("t000002"),
                  A.TermQ("t000003")), min_should_match=2),
    "phrase": A.PhraseQ(("t000001", "t000002")),
    "sloppy_phrase": A.PhraseQ(("t000001", "t000002"), slop=2),
    "multiphrase": A.MultiPhraseQ((("t000000", "t000001"), ("t000002",))),
    "span_near": A.SpanNearQ("t000001", "t000002", slop=1),
    "span_nested": A.SpanNearNQ((A.SpanOrNQ(("t000001", "t000002")),
                                 "t000000"), slop=4),
    "automaton": A.TermAutomatonQ(
        ((0, 1, "t000000"), (1, 2, "t000001"), (1, 2, "t000002")), (2,)),
    "synonym": A.SynonymQ(("t000001", "t000002")),
    "blended": A.BlendedTermQ(("t000000", "t000001", "t000002"), boost=0.7),
    "dismax_terms": A.DisMaxQ((A.TermQ("t000000"), A.TermQ("t000010"),
                               A.TermQ("t000050")), tie_breaker=0.3),
    "nested": A.OrQ((A.AndQ((A.TermQ("t000001"), A.TermQ("t000002"))),
                     A.TermQ("t000003"))),
    "boosted": A.OrQ((A.TermQ("t000001", boost=2.0), A.TermQ("t000002"))),
    "reqopt": A.ReqOptQ(A.TermQ("t000000"),
                        A.OrQ((A.TermQ("t000001"), A.TermQ("t000010")))),
    "dismax_and": A.DisMaxQ((A.AndQ((A.TermQ("t000000"), A.TermQ("t000001"))),
                             A.TermQ("t000002")), tie_breaker=0.2),
    "const": A.OrQ((A.ConstQ(A.TermQ("t000001"), boost=1.5),
                    A.TermQ("t000002"))),
    "span_in_or": A.OrQ((A.SpanNearQ("t000001", "t000002", slop=2),
                         A.TermQ("t000100"))),
    "span_or": A.SpanOrNQ(("t000001", "t000002"), boost=1.5),
    "match_all_not": A.NotQ(A.MatchAllQ(boost=0.7), A.TermQ("t000300")),
}

# the shapes that took the flat fallback before every node had a _tree
# case: the six multi-term leaves (constant score f32(boost)), a pure
# negative query, a standalone SpanOr and a multi-term leaf in an OR
FORMER_FALLBACK_SHAPES = {
    "prefix": A.PrefixQ("t00000", boost=2.5),
    "wildcard": A.WildcardQ("t00001?"),
    "regexp": A.RegexpQ("t0000[12]."),
    "fuzzy": A.FuzzyQ("t000001", max_edits=1, boost=0.7),
    "range": A.TermRangeQ("t000010", "t000020", include_upper=False),
    "in_set": A.TermInSetQ(("t000003", "t004999", "missingterm")),
    "not_all": A.parse_query("*:* -t000300"),
    "span_or": A.SpanOrNQ(("t000001", A.SpanNearNQ(("t000002", "t000003"),
                                                   slop=3))),
    "prefix_or_term": A.OrQ((A.PrefixQ("t00000"), A.TermQ("t000100"))),
}


def test_search_many_matches_individual(seg_index):
    """A batch holding every segment-native shape (plus string queries
    and one that matches nothing) is bit-equal (docid and float32
    score bits) to per-query search(), with enough queries that the
    batch spans several shards per segment."""
    spark = seg_index.spark
    ws = WandSearcher(seg_index)
    batch = dict(SEGMENT_NATIVE_SHAPES)
    batch.update({"str_and": "t000001 AND t000002",
                  "str_phrase": '"t000001 t000002"~2',
                  "none": "t000000 AND missingterm"})
    per_shard = -(-spark.sparkContext.defaultParallelism
                  // len(seg_index.live_segments()))
    assert len(batch) > per_shard

    def bits(r):
        return r["rank"], r["docid"], np.float32(r["score"]).tobytes()

    got: dict = {}
    for r in ws.search_many(batch, k=10).collect():
        got.setdefault(r["qid"], []).append(bits(r))
    for qid, q in batch.items():
        single = [bits(r) for r in ws.search(q, k=10).collect()]
        assert sorted(got.get(qid, [])) == sorted(single), qid
    assert "none" not in got


def _bits_by_qid(df) -> dict:
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], np.float32(r["score"]).tobytes()))
    return {qid: sorted(rows) for qid, rows in out.items()}


def test_search_many_batches_former_fallback_shapes(seg_index, flat_searcher,
                                                    jobs_stages):
    """Every shape that once took the flat fallback batches in ONE
    search_many: warm, one multi-term expansion job plus the kernel
    job, each one stage (a SegmentIndex handle's first postings scan
    adds one parquet schema job), and each query's rows bit-equal
    (docid and float32 score bits) to its own search() and to the flat
    executor. A FieldedQ is the one node the single-field searcher
    refuses: ValueError before any job, even beside a multi-term
    leaf."""
    ws = WandSearcher(seg_index)
    batch = dict(FORMER_FALLBACK_SHAPES)
    ws.search_many(batch, k=10)
    got: dict = {}
    assert jobs_stages(lambda: got.update(
        _bits_by_qid(ws.search_many(batch, k=10)))) == (2, 2)
    exp = _bits_by_qid(flat_searcher.search_many(batch, k=10))
    assert set(got) == set(exp) == set(batch)
    for qid, q in batch.items():
        single = sorted((r["rank"], r["docid"],
                         np.float32(r["score"]).tobytes())
                        for r in ws.search(q, k=10).collect())
        assert got.get(qid, []) == single == exp.get(qid, []), qid
    fielded = A.FieldedQ("title", A.PrefixQ("t00000"))

    def refused():
        with pytest.raises(ValueError, match="FieldedQ"):
            ws.search(fielded, k=10)
        with pytest.raises(ValueError, match="FieldedQ"):
            ws.search_many({"f": A.OrQ((fielded, A.TermQ("t000001"))),
                            "p": A.PrefixQ("t00000")}, k=10)
    assert jobs_stages(refused) == (0, 0)


# one instance of every concrete ast.Query node
NODE_EXAMPLES = [
    A.TermQ("t000001"), A.MatchAllQ(), A.PhraseQ(("t000001", "t000002")),
    A.MultiPhraseQ((("t000001",), ("t000002", "t000003"))),
    A.AndQ((A.TermQ("t000001"), A.TermQ("t000002"))),
    A.OrQ((A.TermQ("t000001"), A.TermQ("t000002"))),
    A.NotQ(A.TermQ("t000001"), A.TermQ("t000002")),
    A.DisMaxQ((A.TermQ("t000001"), A.TermQ("t000002")), tie_breaker=0.1),
    A.SynonymQ(("t000001", "t000002")),
    A.BlendedTermQ(("t000001", "t000002")),
    A.ReqOptQ(A.TermQ("t000001"), A.TermQ("t000002")),
    A.SpanNearQ("t000001", "t000002", slop=1),
    A.SpanOrNQ(("t000001", "t000002")),
    A.SpanNearNQ(("t000001", "t000002"), slop=1),
    A.PayloadScoreQ("t000001"),
    A.SpanPayloadCheckQ(("t000001", "t000002"), (0, 8)),
    A.TermAutomatonQ(((0, 1, "t000001"), (1, 2, "t000002")), (2,)),
    A.ConstQ(A.TermQ("t000001"), boost=2.0),
    A.FieldedQ("title", A.TermQ("t000001")),
    A.PrefixQ("t00000"), A.WildcardQ("t00000?"), A.RegexpQ("t00000."),
    A.FuzzyQ("t000001", max_edits=1), A.TermRangeQ("t000001", "t000003"),
    A.TermInSetQ(("t000001", "t000002")),
]


def test_every_query_node_compiles_to_a_segment_spec(seg_index, jobs_stages):
    """Node-coverage guard: every concrete ast.Query subclass (walked
    recursively from ast.Query, so a new node type fails here until it
    has a segment case) compiles through _kernel_spec to a runnable
    spec, except FieldedQ, which raises ValueError without starting a
    job."""
    concrete, todo = set(), [A.Query]
    while todo:
        for sub in todo.pop().__subclasses__():
            todo.append(sub)
            if dataclasses.is_dataclass(sub):
                concrete.add(sub)
    assert {type(q) for q in NODE_EXAMPLES} == concrete
    ws = WandSearcher(seg_index)
    for q in NODE_EXAMPLES:
        if isinstance(q, A.FieldedQ):
            continue
        spec = ws._kernel_spec(q.rewrite(), 10)
        assert isinstance(spec, W.KernelSpec) and spec.run is not None, q
    fielded = next(q for q in NODE_EXAMPLES if isinstance(q, A.FieldedQ))

    def refused():
        with pytest.raises(ValueError, match="FieldedQ"):
            ws._kernel_spec(fielded.rewrite(), 10)
    assert jobs_stages(refused) == (0, 0)


@pytest.mark.parametrize("k", [0, -1, 2.5, True])
def test_search_rejects_k_below_one(seg_index, k):
    """k < 1 (or a non-integer k) is refused on the driver with a
    ValueError, before any job, by search and search_many alike
    (TopScoreDocCollector.create: numHits must be > 0). Before the
    check, k=0 failed inside the Spark task (an IndexError in _TopK)."""
    ws = WandSearcher(seg_index)
    with pytest.raises(ValueError, match="k must be an integer >= 1"):
        ws.search("t000001", k=k)
    with pytest.raises(ValueError, match="k must be an integer >= 1"):
        ws.search_many({"a": "t000001", "b": "t000001 AND t000002"}, k=k)


def _kernel_plan_of(ws, queries: dict):
    """The segment-task frame search()/search_many() collect for
    ``queries`` (before the driver-side merge)."""
    return ws._kernel_plan(ws._specs(queries, 10))


def _assert_segment_task_plan(df) -> str:
    """The segment-task plan shape: exactly one MapInPandas, whose input
    is a Range (the task list), no grouped map, and nothing below the
    MapInPandas — no FileScan, no Exchange (a whole-stage-codegen
    ``*(n)`` prefix is not a node). Returns the plan text."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    lines = plan.splitlines()
    at = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(at) == 1, plan
    # the MapInPandas subtree: the lines after it indented deeper
    col = lines[at[0]].index("MapInPandas")
    below = []
    for ln in lines[at[0] + 1:]:
        node = ln.lstrip(" :+-")
        if not node or len(ln) - len(node) <= col:
            break
        below.append(re.sub(r"^\*\(\d+\) ", "", node))
    assert len(below) == 1 and below[0].startswith("Range"), plan
    return plan


@pytest.mark.parametrize("shape", sorted(SEGMENT_NATIVE_SHAPES))
def test_segment_native_plan_one_grouped_map(seg_index, shape):
    """Every segment-native shape runs in one mapInPandas stage over the
    segment task list (one task per segment group of work; the name is
    kept so the test ids stay stable): each task reads its own metadata
    rows, so no grouped map, no postings FileScan and no Exchange feed
    the kernel, and no as_flat_tables full decode or fixed-width
    repartition runs. The plan is the kernel frame that search()
    collects before its driver-side merge."""
    df = _kernel_plan_of(WandSearcher(seg_index),
                         {"": SEGMENT_NATIVE_SHAPES[shape]})
    plan = _assert_segment_task_plan(df)
    assert "REPARTITION_BY_NUM" not in plan


def test_one_job_one_stage_per_search(seg_index, jobs_stages):
    """Every segment-native shape's search() with a cold df cache is
    ONE Spark job with one stage (the segment-task map; df is read on
    the driver, top-k merges on the driver), and collecting its answer
    starts no further job; a warm search_many batch of every shape is
    one job with one stage too."""
    ws = WandSearcher(seg_index)
    for name, q in SEGMENT_NATIVE_SHAPES.items():
        ws._df_cache.clear()
        assert jobs_stages(lambda: ws.search(q, k=10).collect()) == (1, 1), \
            name
    batch = dict(SEGMENT_NATIVE_SHAPES)
    ws.search_many(batch, k=10)
    assert jobs_stages(
        lambda: ws.search_many(batch, k=10).collect()) == (1, 1)


def test_empty_answers_start_no_job(seg_index, jobs_stages):
    """An answer known empty on the driver (an absent term, an empty
    batch, a phrase with an absent term) starts no Spark job, with a
    cold df cache, and keeps the schema of a non-empty answer."""
    ws = WandSearcher(seg_index)
    out = {}

    def run():
        out["one"] = ws.search("missingterm", k=10).collect()
        out["many"] = ws.search_many({}, k=10).collect()
        out["pf"] = ws.phrase_freqs(["t000001", "missingterm"]).collect()

    assert jobs_stages(run) == (0, 0)
    assert out == {"one": [], "many": [], "pf": []}
    assert ws.search("missingterm", k=10).dtypes == \
        ws.search("t000001", k=10).dtypes == \
        [("docid", "bigint"), ("score", "float"), ("rank", "int")]
    assert ws.search_many({}, k=10).dtypes == \
        ws.search_many({"a": "t000001"}, k=10).dtypes == \
        [("qid", "string"), ("docid", "bigint"), ("score", "float"),
         ("rank", "int")]
    assert ws.phrase_freqs(["t000001", "missingterm"]).dtypes == \
        ws.phrase_freqs(["t000001", "t000002"]).dtypes


def test_impact_frontier_tightens_bounds_safely():
    """Impacts: anti-correlated (tf, norm) blocks get a strictly
    tighter bound than the single (max_tf, max_norm) corner, results
    stay bit-identical, and pruning can only improve."""
    import numpy as np

    from lucene_solr_spark.functions.bm25 import BM25, length_norm_byte
    from lucene_solr_spark.index.codec import encode_posting, impact_frontier
    from lucene_solr_spark.search.wand import WandStats, _block_bounds, wand_topk

    rng = np.random.default_rng(5)
    n = 128 * 6 + 40
    docs = np.arange(1, n + 1, dtype=np.int64) * 3
    # anti-correlated: high tf -> long doc (low norm byte)
    tfs = rng.integers(1, 40, size=n)
    doclens = 20 + tfs * 50 + rng.integers(0, 10, size=n)
    nbs = length_norm_byte(doclens.astype(np.int64)).astype(np.int64)
    ep = encode_posting(docs, tfs, nbs)
    assert ep.impacts_tf is not None and len(ep.impacts_tf) == 6

    bm = BM25(10_000, 1_000_000)
    w = bm.term_weight(500)
    single = bm.block_max_bound(w, np.asarray(ep.blockmax_tf),
                                np.asarray(ep.blockmax_norm)).astype(np.float32)
    tight = _block_bounds(bm, w, ep)
    assert (tight <= single).all()
    assert (tight[:6] < single[:6]).any(), "no tightening on anti-correlated data"

    # safety: bound >= every actual doc score in the block
    dense = np.zeros(int(docs[-1]) + 1, dtype=np.uint8)
    dense[docs] = nbs.astype(np.uint8)
    scores = bm.score(np.full(n, w, np.float32), tfs, nbs)
    for b in range(6):
        assert float(tight[b]) >= float(scores[b * 128:(b + 1) * 128].max())

    # identical results, no worse pruning vs impacts stripped
    st_imp, st_plain = WandStats(), WandStats()
    d1, s1 = wand_topk({"t": ep}, {"t": w}, dense, 0, bm, k=10, stats=st_imp)
    ep.impacts_tf = None
    ep.impacts_norm = None
    d2, s2 = wand_topk({"t": ep}, {"t": w}, dense, 0, bm, k=10, stats=st_plain)
    assert np.array_equal(d1, d2)
    assert np.array_equal(s1.view(np.int32), s2.view(np.int32))
    assert st_imp.blocks_decoded <= st_plain.blocks_decoded


def test_impact_frontier_cap_is_safe():
    import numpy as np

    from lucene_solr_spark.index.codec import impact_frontier

    rng = np.random.default_rng(9)
    tfs = rng.integers(1, 1000, size=128)
    nbs = rng.integers(1, 255, size=128)
    ftf, fnb = impact_frontier(tfs, nbs, cap=4)
    assert len(ftf) <= 4
    # every (tf, nb) pair is dominated by some frontier pair
    for t, b in zip(tfs, nbs):
        assert any(t <= ft and b <= fb for ft, fb in zip(ftf, fnb)), (t, b)


# --- segment-native two-phase phrases ---------------------------------------


PHRASES = [
    ("t000000", "t000001"),          # head + head
    ("t000001", "t000002"),
    ("t000100", "t000000"),          # mid + head (order reversed in text?)
    ("t000000", "t000000"),          # repeated term
]


@pytest.mark.parametrize("slop", [0, 2])
@pytest.mark.parametrize("terms", PHRASES)
def test_phrase_duels_flat(seg_index, flat_searcher, tiny_oracle, terms, slop):
    """PhraseQ over the segment index runs the two-phase kernel and
    duels bit-equal with the flat executor (exact and sloppy). Both
    call the one exact-phrase rule, so exact phrases also duel the
    numpy oracle, whose per-doc intersect is its own."""
    from lucene_solr_spark.search import ast as A

    q = A.PhraseQ(tuple(terms), slop=slop)
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, f"{terms} slop={slop}: wand={a[:3]} flat={b[:3]}"
    if slop == 0:
        exp = [(d, np.float32(s)) for d, s in tiny_oracle.top_k(q, k=10)]
        assert a == exp, f"{terms}: wand={a[:3]} oracle={exp[:3]}"


MULTIPHRASES = [
    (("t000000", "t000001"), ("t000002",)),      # synonym head slot
    (("t000001",), ("t000002", "t000100")),      # synonym trailing slot
    (("t000001", "t000002"), ("t000001",)),      # repeated term across slots
    (("t000000",), ("t000000", "t000001")),      # repeat + multi-term slot
    (("t000001",), ("missingterm", "t000002")),  # dead synonym in a slot
]


@pytest.mark.parametrize("slop", [0, 2])
@pytest.mark.parametrize("slots", MULTIPHRASES)
def test_multiphrase_duels_flat(seg_index, flat_searcher, slots, slop):
    """MultiPhraseQ over the segment index runs the two-phase
    slot-union kernel and duels bit-equal with the flat executor —
    including shared-term slots (the multi-term rptGroups path)."""
    from lucene_solr_spark.search import ast as A

    q = A.MultiPhraseQ(tuple(slots), slop=slop)
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, f"{slots} slop={slop}: wand={a[:3]} flat={b[:3]}"


def test_closed_leaf_fallback_duels_and_restricts(seg_index, flat_searcher):
    """Synonym, Blended, a SpanNear inside an OR and a standalone
    SpanOrNQ inside an OR (the one shape of these that took the flat
    fallback before SpanOrNQ had a segment case) all run the segment
    tree fold and duel the flat executor bit-equal; the SpanOr-in-OR
    spec runs in the segment-task plan, with no postings scan or
    decode before the kernel (so there is no term-restricted flat
    decode left to check)."""
    from lucene_solr_spark.search import ast as A

    ws = WandSearcher(seg_index)
    shapes = [A.SynonymQ(("t000001", "t000002")),
              A.BlendedTermQ(("t000001", "t000100")),
              A.OrQ((A.SpanNearQ("t000001", "t000002", slop=2),
                     A.TermQ("t000100"))),
              A.OrQ((A.SpanOrNQ(("t000001", "t000002")),
                     A.TermQ("t000100")))]
    for q in shapes:
        a = _rows(ws.search(q, k=10))
        b = _rows(flat_searcher.search(q, k=10))
        assert a == b, q.key()
    _assert_segment_task_plan(_kernel_plan_of(ws, {"": shapes[3]}))


SPAN_SHAPES = [
    ("t000001", "t000002", 0, True),
    ("t000001", "t000002", 2, True),
    ("t000002", "t000001", 2, False),   # unordered, reversed pair
    ("t000000", "t000001", 1, True),    # zipf-head lead
    ("t000001", "t000001", 2, False),   # self-pair (two occurrences)
    ("t000001", "missingterm", 1, True),
]


@pytest.mark.parametrize("first,second,slop,in_order", SPAN_SHAPES)
def test_span_near_duels_flat(seg_index, flat_searcher,
                              first, second, slop, in_order):
    """Top-level SpanNearQ over the segment index runs the two-phase
    span kernel and duels the flat executor exactly (constant score,
    ascending-docid top-k)."""
    from lucene_solr_spark.search import ast as A

    q = A.SpanNearQ(first, second, slop=slop, in_order=in_order)
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, f"{first},{second} slop={slop} ord={in_order}"


def test_span_near_kernel_early_terminates(seg_index):
    """With a constant score, the kernel stops at k matches: asking
    for k=3 of a frequent pair decodes strictly fewer blocks than the
    exhaustive flat path would (stats counter evidence)."""
    from lucene_solr_spark.search.wand import (WandStats,
                                               _segment_postings,
                                               span_near_topk)

    eps = _segment_postings(seg_index.path,
                            int(seg_index.live_segments()[0]),
                            ["t000000", "t000001"])
    st_small = WandStats()
    d3, _ = span_near_topk("t000000", "t000001", eps, 1.0, k=3,
                           slop=4, in_order=False, stats=st_small)
    st_all = WandStats()
    d_all, _ = span_near_topk("t000000", "t000001", eps, 1.0, k=10**9,
                              slop=4, in_order=False, stats=st_all)
    assert len(d3) == min(3, len(d_all))
    assert list(d3) == list(d_all[:len(d3)])
    if len(d_all) > 3:
        assert st_small.intervals_scored <= st_all.intervals_scored


def test_multiphrase_dead_slot_is_empty(seg_index, flat_searcher):
    from lucene_solr_spark.search import ast as A

    q = A.MultiPhraseQ((("t000001",), ("missingterm",)))
    assert WandSearcher(seg_index).search(q, k=10).count() == 0
    assert flat_searcher.search(q, k=10).count() == 0


def test_phrase_freqs_matches_flat(seg_index, flat_searcher):
    from lucene_solr_spark.search import ast as A

    got = {r["docid"]: r["pfreq"]
           for r in WandSearcher(seg_index)
           .phrase_freqs(["t000001", "t000002"]).collect()}
    exp = {r["docid"] for r in
           flat_searcher.matches(A.PhraseQ(("t000001", "t000002"))).collect()}
    assert set(got) == exp
    assert all(v >= 1 for v in got.values())


@pytest.mark.parametrize("slop", [0, 2])
@pytest.mark.parametrize("terms", [("t000001", "t000002"),
                                   ("t000000", "t000000")])
def test_phrase_freqs_values_match_flat(seg_index, terms, slop):
    """phrase_freqs returns every match with the flat executor's own
    phrase freq: the exact position intersect (slop=0) and
    _sloppy_phrase_freq with the flat repeat groups (slop>0), over the
    positions of as_flat_tables."""
    from lucene_solr_spark.search.executor import _sloppy_phrase_freq

    got = {r["docid"]: r["pfreq"] for r in WandSearcher(seg_index)
           .phrase_freqs(list(terms), slop=slop).collect()}
    flat = seg_index.as_flat_tables(with_positions=True)
    pos: dict = {}
    for r in flat.postings.where(F.col("term").isin(sorted(set(terms)))
                                 ).collect():
        pos.setdefault(r["docid"], {})[r["term"]] = np.asarray(
            r["positions"], np.int64)
    groups = [[i for i, t in enumerate(terms) if t == d]
              for d in sorted(set(terms)) if terms.count(d) > 1] or None
    exp = {}
    for d, m in pos.items():
        if any(t not in m for t in terms):
            continue
        if slop == 0:
            base = m[terms[0]]
            for off, t in enumerate(terms[1:], start=1):
                base = np.intersect1d(base, m[t] - off, assume_unique=True)
            f = float(base.size)
        else:
            f = _sloppy_phrase_freq([m[t] - off for off, t in
                                     enumerate(terms)], slop, groups)
        if f > 0:
            exp[d] = f
    assert exp, "fixture has no matches"
    assert got == exp


def _mk_phrase_fixture(seed=3):
    """Hot term (every 2nd doc) + rare term (40 docs); positions set so
    the phrase matches on half the rare docs."""
    from lucene_solr_spark.index.codec import encode_positions

    rng = np.random.default_rng(seed)
    n_docs = 60_000
    doclens = np.full(n_docs, 100)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    hot_docs = np.arange(0, n_docs, 2, dtype=np.int64)
    rare_docs = np.sort(rng.choice(hot_docs, 40, replace=False)).astype(np.int64)
    hot_tfs = np.ones(len(hot_docs), np.int64)
    rare_tfs = np.ones(40, np.int64)
    hot_pos = np.full(len(hot_docs), 5, dtype=np.int64)
    rare_pos = np.where(np.arange(40) % 2 == 0, 6, 9).astype(np.int64)
    hot = encode_posting(hot_docs, hot_tfs, norms[hot_docs].astype(np.int64))
    hot.pos_enc = encode_positions(hot_pos, hot_tfs)
    rare = encode_posting(rare_docs, rare_tfs, norms[rare_docs].astype(np.int64))
    rare.pos_enc = encode_positions(rare_pos, rare_tfs)
    return ({"hot": hot, "rare": rare}, norms, bm25,
            rare_docs[np.arange(40) % 2 == 0])


def test_phrase_kernel_prunes_blocks():
    """(hot, rare) phrase: conjunction discipline means the hot term's
    blocks decode only in intervals the rare term reaches — O(df_rare)
    work, not O(df_hot) (the ExactPhraseScorer leapfrog point)."""
    from lucene_solr_spark.search.wand import phrase_topk

    postings, norms, bm25, match_docs = _mk_phrase_fixture()
    st = WandStats()
    w = np.float32(2.0)
    d, s = phrase_topk(["hot", "rare"], postings, w, norms, 0, bm25,
                       k=10, stats=st)
    assert st.blocks_decoded < st.blocks_total / 3, (
        f"decoded {st.blocks_decoded}/{st.blocks_total}")
    # results: exactly the docs where rare follows hot (pos 6 == 5+1)
    exp = np.sort(match_docs)[:10]  # equal scores -> docid tiebreak
    nb = norms[exp]
    es = bm25.score(np.full(len(exp), w, np.float32),
                    np.ones(len(exp), np.int64), nb)
    np.testing.assert_array_equal(np.sort(d), exp)
    np.testing.assert_array_equal(
        s.view(np.int32), es.view(np.int32))


def test_phrase_kernel_lazy_pos_io():
    """Positions payloads are fetched per GROUP, only for groups whose
    docs reach the docid intersection."""
    from lucene_solr_spark.index.codec import (
        GroupedPosting, encode_positions, split_posting_to_rows)
    from lucene_solr_spark.search.wand import phrase_topk

    rng = np.random.default_rng(17)
    n_docs = 200_000
    doclens = np.full(n_docs, 100)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    # hot term spanning many groups (df 100k -> ~781 blocks -> 13 groups)
    hot_docs = np.arange(0, n_docs, 2, dtype=np.int64)
    hot_tfs = np.ones(len(hot_docs), np.int64)
    hot_pos = np.full(len(hot_docs), 5, dtype=np.int64)
    hot_ep = encode_posting(hot_docs, hot_tfs, norms[hot_docs].astype(np.int64))
    rows = split_posting_to_rows(hot_ep, hot_tfs, hot_pos)
    assert len(rows) > 4
    payloads = {int(r["grp_id"]): (r["docs_enc"], r["tfs_enc"]) for r in rows}
    pos_payloads = {int(r["grp_id"]): r["pos_enc"] for r in rows}
    fetched_pos: set[int] = set()
    meta_rows = []
    for r in rows:
        r2 = dict(r)
        r2["docs_enc"] = None
        r2["tfs_enc"] = None
        r2["pos_enc"] = None
        meta_rows.append(r2)

    def fetch(g):
        return payloads[g]

    def pos_fetch(g):
        fetched_pos.add(g)
        return pos_payloads[g]

    hot = GroupedPosting(meta_rows, fetch, pos_fetch=pos_fetch)
    # rare term: 10 docs clustered in the FIRST group's doc range
    rare_docs = hot_docs[:10]
    rare_tfs = np.ones(10, np.int64)
    rare = encode_posting(rare_docs, rare_tfs,
                          norms[rare_docs].astype(np.int64))
    rare.pos_enc = encode_positions(np.full(10, 6, np.int64), rare_tfs)
    d, s = phrase_topk(["hot", "rare"], {"hot": hot, "rare": rare},
                       np.float32(2.0), norms, 0, bm25, k=10)
    assert len(d) == 10
    assert fetched_pos == {0}, fetched_pos


def test_kernel_theta0_prunes_before_full():
    """A seeded threshold prunes strictly-below blocks even before the
    local heap fills, without changing the surviving results."""
    rng = np.random.default_rng(21)
    n_docs = 80_000
    doclens = rng.integers(20, 400, size=n_docs)
    norms = length_norm_byte(doclens)
    bm25 = BM25(n_docs, int(doclens.sum()))
    docs = np.sort(rng.choice(n_docs, 40_000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 4, size=len(docs)).astype(np.int64)
    postings = {"t": encode_posting(docs, tfs, norms[docs].astype(np.int64))}
    weights = {"t": bm25.term_weight(len(docs))}

    st0 = WandStats()
    d0, s0 = wand_topk(postings, weights, norms, 0, bm25, k=10, stats=st0)
    theta0 = float(s0[-1])  # a valid floor (as if from another segment)
    st1 = WandStats()
    d1, s1 = wand_topk(postings, weights, norms, 0, bm25, k=10,
                       theta0=theta0, stats=st1)
    assert np.array_equal(d0, d1)
    assert np.array_equal(s0.view(np.int32), s1.view(np.int32))
    assert st1.blocks_decoded < st0.blocks_decoded


NESTED_SPAN_SHAPES = [
    # or-inside-near, both orders
    A.SpanNearNQ((A.SpanOrNQ(("t000001", "t000003")), "t000002"), slop=2),
    A.SpanNearNQ(("t000000", A.SpanOrNQ(("t000001", "t000002"))), slop=3),
    # or-or
    A.SpanNearNQ((A.SpanOrNQ(("t000001", "t000002")),
                  A.SpanOrNQ(("t000003", "t000004"))), slop=4),
    # near-inside-near (depth 2)
    A.SpanNearNQ((A.SpanNearNQ(("t000001", "t000002"), slop=2),
                  "t000003"), slop=3),
    # 3-slot flat n-ary
    A.SpanNearNQ(("t000001", "t000002", "t000003"), slop=5),
    # missing term in a required slot
    A.SpanNearNQ(("t000001", "missingterm"), slop=1),
    # missing term inside an OR slot (still satisfiable)
    A.SpanNearNQ((A.SpanOrNQ(("missingterm", "t000001")), "t000002"),
                 slop=2),
]


@pytest.mark.parametrize("q", NESTED_SPAN_SHAPES,
                         ids=[s.key() for s in NESTED_SPAN_SHAPES])
def test_span_nested_duels_flat(seg_index, flat_searcher, q):
    """Nested span trees over the segment index run span_nested_topk
    and duel the flat executor exactly — both sides call the shared
    spannest.emit_spans, so the duel verifies the kernel's phase-1
    candidate generation and the lazy .pos plumbing."""
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, q.key()


def test_span_nested_kernel_early_terminates(seg_index):
    """Constant score => the nested kernel stops at k matches, like
    span_near_topk (ascending docids win the tie-break)."""
    from lucene_solr_spark.search.wand import (WandStats,
                                               _segment_postings,
                                               span_nested_topk)

    q = A.SpanNearNQ((A.SpanOrNQ(("t000000", "t000001")), "t000002"),
                     slop=4)
    eps = _segment_postings(seg_index.path,
                            int(seg_index.live_segments()[0]),
                            ["t000000", "t000001", "t000002"])
    st_small = WandStats()
    d3, _ = span_nested_topk(q, eps, 1.0, k=3, stats=st_small)
    st_all = WandStats()
    d_all, _ = span_nested_topk(q, eps, 1.0, k=10 ** 9, stats=st_all)
    assert len(d3) == min(3, len(d_all))
    assert list(d3) == list(d_all[:len(d3)])
    if len(d_all) > 3:
        assert st_small.blocks_decoded <= st_all.blocks_decoded


@pytest.mark.parametrize("msm", [1, 2, 3])
@pytest.mark.parametrize("seed", [7, 19, 42])
def test_exhaustive_topk_bit_equals_wand(msm, seed):
    """boolean_topk's term fold (the BooleanScorer bulk tier it takes
    below EXHAUSTIVE_MAX_NDOCS) is bit-equal to the WAND sweep on every
    (docid, f32 score), with and without a MUST_NOT exclusion: same
    sorted-term f64 fold, same (score desc, docid asc) selection."""
    postings, weights, norms, bm25, raw = _mk_kernel_fixture(seed=seed)
    assert sum(ep.ndocs for ep in postings.values()) <= W.EXHAUSTIVE_MAX_NDOCS
    excl = np.sort(raw["term0"][0][::3])
    for k, exclude in [(3, None), (10, None), (50, None), (10, excl)]:
        dw, sw = wand_topk(postings, weights, norms, 0, bm25, k=k, msm=msm,
                           exclude=exclude)
        de, se = W.boolean_topk(postings, weights, norms, 0, bm25, k=k,
                                msm=msm, exclude=exclude)
        assert list(dw) == list(de)
        assert sw.tobytes() == se.tobytes()


def test_boolean_topk_dispatch(monkeypatch):
    """boolean_topk routes by summed segment-local df and both sides
    agree (the dispatch can never change results)."""
    postings, weights, norms, bm25, raw = _mk_kernel_fixture()
    d1, s1 = W.boolean_topk(postings, weights, norms, 0, bm25, k=10)
    monkeypatch.setattr(W, "EXHAUSTIVE_MAX_NDOCS", 0)  # force the sweep
    d2, s2 = W.boolean_topk(postings, weights, norms, 0, bm25, k=10)
    assert list(d1) == list(d2) and s1.tobytes() == s2.tobytes()


def test_preload_stats_no_vocab_collect(seg_index, flat_searcher,
                                        jobs_stages):
    """The df lookup reads only the queried terms' (term, df) rows, on
    the driver: afterwards the driver-side cache holds only the queried
    terms (never the O(vocabulary) dict the r2-r4 implementation
    collected), the lookup starts no Spark job, its dfs equal the
    index's term statistics, and results equal a fresh searcher's."""
    ws = WandSearcher(seg_index)
    terms = ["t000001", "t000002", "missingterm"]
    got = {}
    assert jobs_stages(lambda: got.update(ws._global_df(terms))) == (0, 0)
    assert set(ws._df_cache) == set(terms)
    exp = {r["term"]: r["df"] for r in seg_index.term_stats
           .where(F.col("term").isin(terms)).collect()}
    assert got == {t: exp.get(t, 0) for t in terms}
    a = _rows(ws.search("t000001 OR t000002", k=10))
    b = _rows(WandSearcher(seg_index).search("t000001 OR t000002", k=10))
    assert a == b
    # repeat terms read nothing new (cache hit path)
    ws.search("t000001", k=5).collect()
    assert set(ws._df_cache) == set(terms)


AUTOMATON_SHAPES = [
    # linear phrase-shaped automaton
    (((0, 1, "t000001"), (1, 2, "t000002")), (2,)),
    # branch: t000001 (t000002 | t000003)
    (((0, 1, "t000001"), (1, 2, "t000002"), (1, 2, "t000003")), (2,)),
    # ANY gap: t000001 ANY t000002
    (((0, 1, "t000001"), (1, 2, None), (2, 3, "t000002")), (3,)),
    # zipf-head lead with branch
    (((0, 1, "t000000"), (1, 2, "t000001"), (1, 2, "t000010")), (2,)),
    # path with a missing term (that path never matches; other does)
    (((0, 1, "t000001"), (1, 2, "missingterm"), (1, 2, "t000002")), (2,)),
]


@pytest.mark.parametrize("transitions,accept", AUTOMATON_SHAPES)
def test_term_automaton_kernel_duels_flat(seg_index, flat_searcher,
                                          transitions, accept):
    """TermAutomatonQ over the segment index runs automaton_topk
    (per-path block-grid conjunction, lazy .pos) and duels the flat
    executor bit-equal."""
    q = A.TermAutomatonQ(transitions, accept)
    a = _rows(WandSearcher(seg_index).search(q, k=10))
    b = _rows(flat_searcher.search(q, k=10))
    assert a == b, (transitions, accept)


def test_synonym_blended_dismax_segment_native(seg_index, flat_searcher):
    """SynonymQ / BlendedTermQ / DisMaxQ-of-terms run segment-native
    (node cases of the _tree fold) and duel the flat executor
    bit-equal; the plan is the segment-task map (no as_flat_tables
    decode, no postings scan before the kernel)."""
    ws = WandSearcher(seg_index)
    shapes = [
        A.SynonymQ(("t000001", "t000002")),
        A.SynonymQ(("t000000", "missingterm", "t000010"), boost=1.5),
        A.BlendedTermQ(("t000001", "t000100")),
        A.BlendedTermQ(("t000000", "t000001", "t000002"), boost=0.7),
        A.DisMaxQ((A.TermQ("t000001"), A.TermQ("t000002")),
                  tie_breaker=0.0),
        A.DisMaxQ((A.TermQ("t000000"), A.TermQ("t000010"),
                   A.TermQ("t000050")), tie_breaker=0.3),
    ]
    for q in shapes:
        a = _rows(ws.search(q, k=10))
        b = _rows(flat_searcher.search(q, k=10))
        assert a == b, q.key()
    _assert_segment_task_plan(_kernel_plan_of(ws, {"": shapes[0]}))
    _assert_segment_task_plan(_kernel_plan_of(ws, {"": shapes[4]}))


def test_df_cache_is_bounded(seg_index, monkeypatch):
    """The driver-side df cache keeps at most DF_CACHE_TERMS terms; a
    search_many batch over more terms than that is still bit-equal to
    per-query search()."""
    monkeypatch.setattr(W, "DF_CACHE_TERMS", 3)
    ws = WandSearcher(seg_index)
    batch = {"or": "t000001 OR t000002", "and": "t000003 AND t000000",
             "phrase": '"t000001 t000002"',
             "or3": "t000010 OR t000050 OR t000100"}

    def bits(r):
        return r["rank"], r["docid"], np.float32(r["score"]).tobytes()

    got: dict = {}
    for r in ws.search_many(batch, k=10).collect():
        got.setdefault(r["qid"], []).append(bits(r))
    assert len(ws._df_cache) <= 3
    for qid, q in batch.items():
        single = [bits(r) for r in ws.search(q, k=10).collect()]
        assert sorted(got.get(qid, [])) == sorted(single), qid
    assert len(ws._df_cache) <= 3


def _weights(bm25, eps) -> dict:
    return {t: np.float32(bm25.term_weight(ep.ndocs)) for t, ep in eps.items()}


def _phrase_w(bm25, terms, eps) -> np.float32:
    return np.float32(sum(bm25.idf(eps[t].ndocs) for t in terms))


# kernel name -> (terms it reads, call(eps, norms, doc_base, bm25, k, stats))
GRID_KERNELS = {
    "wand": (["t000000", "t000001", "t000002"],
             lambda eps, nm, base, bm, k, st: wand_topk(
                 eps, _weights(bm, eps), nm, base, bm, k, msm=2, stats=st)),
    "phrase": (["t000000", "t000001"],
               lambda eps, nm, base, bm, k, st: W.phrase_topk(
                   ["t000000", "t000001", "t000000"], eps,
                   _phrase_w(bm, ["t000000", "t000001", "t000000"], eps),
                   nm, base, bm, k, slop=2, stats=st)),
    "multiphrase": (["t000000", "t000001", "t000002"],
                    lambda eps, nm, base, bm, k, st: W.multiphrase_topk(
                        [("t000000", "t000001"), ("t000002",)], eps,
                        _phrase_w(bm, sorted(eps), eps), nm, base, bm, k,
                        stats=st)),
    "span_near": (["t000000", "t000001"],
                  lambda eps, nm, base, bm, k, st: W.span_near_topk(
                      "t000000", "t000001", eps, 1.0, k, slop=3,
                      in_order=False, stats=st)),
    "span_nested": (["t000000", "t000001", "t000002"],
                    lambda eps, nm, base, bm, k, st: W.span_nested_topk(
                        A.SpanNearNQ((A.SpanOrNQ(("t000000", "t000001")),
                                      "t000002"), slop=4),
                        eps, 1.0, k, stats=st)),
    "automaton": (["t000000", "t000001", "t000002"],
                  lambda eps, nm, base, bm, k, st: W.automaton_topk(
                      [("t000000", "t000001"), ("t000000", "t000002")], eps,
                      _phrase_w(bm, sorted(eps), eps), nm, base, bm, k,
                      stats=st)),
    "boolean_fold": (["t000000", "t000001", "t000002"],
                     lambda eps, nm, base, bm, k, st: W.boolean_topk(
                         eps, _weights(bm, eps), nm, base, bm, k, msm=2,
                         stats=st)),
    "qf_dismax": (["t000000", "t000002"],
                  lambda eps, nm, base, bm, k, st: W.qf_dismax_topk(
                      sorted(eps), {t: {"body": ep} for t, ep in eps.items()},
                      {t: {"body": w} for t, w in _weights(bm, eps).items()},
                      {"body": nm}, base, {"body": bm}, k, stats=st)),
}


@pytest.fixture(scope="module")
def seg_index_blocks(spark, tmp_path_factory):
    """One 2,000-doc segment: the head terms' postings span ~15 blocks,
    so their block grid has many intervals (seg_index's 128-doc
    segments hold one block per posting)."""
    from lucene_solr_spark.sources.webtext import synth_pages

    path = str(tmp_path_factory.mktemp("gridstats") / "idx")
    return build_segment_index(synth_pages(spark, 2000, seed=42), path,
                               seg_size=2048, salt_span=32)


@pytest.mark.parametrize("kernel", sorted(GRID_KERNELS))
def test_block_grid_kernel_stats(seg_index_blocks, kernel):
    """Every block-grid kernel, and the term fold boolean_topk takes
    below EXHAUSTIVE_MAX_NDOCS, reports its pruning counters: it
    decodes some but at most all of its postings' blocks, blocks_total
    is the summed block count of the postings it read, it scores at
    most every interval, and a k=1 call decodes no more than an
    unbounded one."""
    seg_index = seg_index_blocks
    from lucene_solr_spark.search.wand import (_load_seg_norms,
                                               _segment_postings)

    terms, call = GRID_KERNELS[kernel]
    bm25 = WandSearcher(seg_index).bm25
    sid = int(seg_index.live_segments()[0])
    norms, doc_base = _load_seg_norms(seg_index.path, sid)
    stats = {}
    for k in (1, 10 ** 9):
        eps = _segment_postings(seg_index.path, sid, terms)
        assert sorted(eps) == sorted(terms)
        st = stats[k] = WandStats()
        call(eps, norms, doc_base, bm25, k, st)
        assert 0 < st.blocks_decoded <= st.blocks_total
        assert st.blocks_total == sum(
            1 if ep.singleton_docid is not None
            else ep.n_full_blocks + int(ep.has_tail) for ep in eps.values())
        assert st.intervals_scored <= st.intervals_total
    assert stats[1].blocks_decoded <= stats[10 ** 9].blocks_decoded


TREE_TERMS = ["t000000", "t000001", "t000002", "t000003", "t000010",
              "t000050", "t000100", "t000300", "missingterm"]


def _random_tree(rng, depth: int) -> A.Query:
    """A random query tree of at most ``depth`` combinator levels over
    zipf-head, tail and missing terms."""
    if depth == 0 or rng.random() < 0.45:
        r, t = rng.random(), rng.choice(TREE_TERMS)
        if r < 0.55:
            return A.TermQ(t, boost=rng.choice([1.0, 1.0, 2.0, 0.7]))
        if r < 0.61:
            return A.SynonymQ(tuple(rng.sample(TREE_TERMS, 2)),
                              boost=rng.choice([1.0, 1.5]))
        if r < 0.67:
            return A.BlendedTermQ(tuple(rng.sample(TREE_TERMS, 3)))
        if r < 0.72:
            return A.PhraseQ(("t000000", t), slop=rng.choice([0, 2]))
        if r < 0.77:
            return A.SpanNearQ("t000001", t, slop=rng.choice([0, 3]),
                               in_order=rng.random() < 0.5)
        if r < 0.82:
            return A.SpanOrNQ(tuple(rng.sample(TREE_TERMS, 2)),
                              boost=rng.choice([1.0, 0.5]))
        if r < 0.86:
            return A.MatchAllQ(boost=rng.choice([1.0, 0.3]))
        boost = rng.choice([1.0, 1.0, 3.0])
        return rng.choice([
            A.PrefixQ(t[:-2], boost=boost),
            A.WildcardQ(t[:-2] + "?" + t[-1], boost=boost),
            A.FuzzyQ(t, max_edits=rng.choice([1, 2]), boost=boost),
            A.TermRangeQ(t, t[:-1] + "9", include_lower=rng.random() < 0.5,
                         boost=boost),
            A.TermInSetQ(tuple(rng.sample(TREE_TERMS, 3)), boost=boost)])

    def kids(n):
        return tuple(_random_tree(rng, depth - 1) for _ in range(n))
    kind = rng.choice(["and", "or", "or", "not", "reqopt", "dismax",
                       "const"])
    if kind == "and":
        return A.AndQ(kids(2))
    if kind == "or":
        n = rng.choice([2, 3])
        return A.OrQ(kids(n), min_should_match=rng.choice([1, 1, 2]))
    if kind == "not":
        return A.NotQ(*kids(2))
    if kind == "reqopt":
        return A.ReqOptQ(*kids(2))
    if kind == "dismax":
        return A.DisMaxQ(kids(2), tie_breaker=rng.choice([0.0, 0.1, 0.5]))
    return A.ConstQ(kids(1)[0], boost=rng.choice([1.0, 2.5]))


def test_random_tree_fold_duels_flat(seg_index, flat_searcher):
    """Seeded random boolean trees (depth <= 4: boosts, msm, NOT,
    ReqOpt, DisMax with tie, Const, Synonym/Blended, phrase, span and
    SpanOr leaves, multi-term and MatchAll leaves, equal-key clauses)
    all run the segment-tier fold — one segment-task map, no flat
    decode — and one WandSearcher.search_many batch is bit-equal
    (docids and float32 score bits) to one flat Searcher.search_many
    batch."""
    import random

    rng = random.Random(2024)
    trees = [
        # equal keys after another clause: the flat OR adds a doc's
        # equal-key scores in ascending order
        A.OrQ((A.TermQ("t000002", boost=2.0), A.TermQ("t000002"),
               A.TermQ("t000001"))),
        A.OrQ((A.TermQ("t000001", boost=2.0), A.TermQ("t000001"),
               A.TermQ("t000003"))),
        A.NotQ(A.OrQ((A.AndQ((A.TermQ("t000000"), A.TermQ("t000001"))),
                      A.TermQ("t000002", boost=0.5),
                      A.PhraseQ(("t000000", "t000001"))),
                     min_should_match=2),
               A.SynonymQ(("t000003", "t000300"))),
        A.DisMaxQ((A.AndQ((A.TermQ("t000000"), A.TermQ("t000010"))),
                   A.SpanNearQ("t000001", "t000002", slop=2),
                   A.BlendedTermQ(("t000000", "t000050", "missingterm"))),
                  tie_breaker=0.4),
    ]
    while len(trees) < 24:
        q = _random_tree(rng, 3).rewrite()
        if isinstance(q, (A.AndQ, A.OrQ, A.DisMaxQ, A.NotQ, A.ReqOptQ,
                          A.ConstQ)):
            trees.append(q)
    nodes = [n for q in trees for n in q.rewrite().nodes()]
    assert {A.TermQ, A.SynonymQ, A.BlendedTermQ, A.PhraseQ, A.SpanNearQ,
            A.SpanOrNQ, A.MatchAllQ, A.PrefixQ, A.WildcardQ, A.FuzzyQ,
            A.TermRangeQ, A.TermInSetQ, A.AndQ, A.OrQ, A.NotQ, A.ReqOptQ,
            A.DisMaxQ, A.ConstQ} <= {type(n) for n in nodes}
    assert any(isinstance(n, A.OrQ) and n.min_should_match > 1 for n in nodes)
    assert any(isinstance(n, A.DisMaxQ) and n.tie_breaker > 0 for n in nodes)
    assert any(getattr(n, "boost", 1.0) != 1.0 for n in nodes)

    ws = WandSearcher(seg_index)
    batch = {f"q{i:02d}": q for i, q in enumerate(trees)}
    specs = ws._specs(batch, 10)
    _assert_segment_task_plan(ws._kernel_plan(specs))
    got = _bits_by_qid(ws.search_many(batch, k=10))
    exp = _bits_by_qid(flat_searcher.search_many(batch, k=10))
    assert len(exp) >= 12, "too few trees match anything"
    for qid in batch:
        # a spec that cannot run is one whose flat answer is empty
        assert specs[qid].run is not None or qid not in exp, qid
        assert got.get(qid) == exp.get(qid), (qid, batch[qid].key())

"""End-to-end: build flat index over synthetic webtext, verify
structure invariants and rank-identity against the numpy oracle
(the dueling pattern, SURVEY §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.search import AndQ, NotQ, OrQ, Searcher, TermQ, parse_query


def test_docids_dense_and_url_ordered(tiny_index):
    rows = tiny_index.docs.select("docid", "url").orderBy("docid").collect()
    assert [r["docid"] for r in rows] == list(range(len(rows)))
    urls = [r["url"] for r in rows]
    assert urls == sorted(urls)


def test_docid_assignment_parallelism_independent(spark, pages_tiny):
    from lucene_solr_spark.index.docid import assign_doc_ids

    a = assign_doc_ids(pages_tiny, num_partitions=2).select("url", "docid").collect()
    b = assign_doc_ids(pages_tiny.repartition(7), num_partitions=5).select(
        "url", "docid").collect()
    assert dict((r["url"], r["docid"]) for r in a) == dict(
        (r["url"], r["docid"]) for r in b)


def test_stats_consistency(tiny_index):
    # sum over term_stats.ttf == sum doclen (every emitted token is indexed)
    ttf_total = tiny_index.term_stats.agg(F.sum("ttf")).collect()[0][0]
    assert ttf_total == tiny_index.coll_stats["sum_ttf"]
    # df <= doc_count
    max_df = tiny_index.term_stats.agg(F.max("df")).collect()[0][0]
    assert max_df <= tiny_index.coll_stats["doc_count"]


def test_postings_match_oracle(tiny_index, tiny_oracle):
    # pick a mid-frequency term from the oracle and compare postings
    term = next(t for t, p in sorted(tiny_oracle.postings.items())
                if 3 <= len(p) <= 50 and t.startswith("t"))
    rows = tiny_index.postings.where(F.col("term") == term).collect()
    got = {r["docid"]: (r["tf"], list(r["positions"])) for r in rows}
    want = {d: (len(pos), pos) for d, pos in tiny_oracle.postings[term].items()}
    assert got == want


@pytest.mark.parametrize("query", [
    "t000001",                       # high-freq term
    "t000050 AND t000100",           # conjunction
    "t000050 OR t000200",            # disjunction
    "t000001 NOT t000050",           # exclusion
    "(t000010 AND t000020) OR t000300",
])
def test_rank_identity_vs_oracle(tiny_index, tiny_oracle, query):
    searcher = Searcher(tiny_index, mode="lucene")
    got = searcher.search(query, k=10).orderBy("rank").collect()
    want = tiny_oracle.top_k(query, k=10)
    got_ids = [r["docid"] for r in got]
    want_ids = [d for d, _ in want]
    assert got_ids == want_ids, f"docid mismatch for {query!r}"
    # float32 bit-exact scores
    got_bits = [np.float32(r["score"]).view(np.int32) for r in got]
    want_bits = [np.float32(s).view(np.int32) for _, s in want]
    assert got_bits == want_bits, f"score bits mismatch for {query!r}"


def test_rank_identity_parallelism_independent(spark, pages_tiny, tiny_oracle):
    """local[2]-partitioned build == oracle (scaling determinism)."""
    from lucene_solr_spark.index.builder import build_index

    idx = build_index(pages_tiny.repartition(13))
    s = Searcher(idx, mode="lucene")
    got = s.search("t000001 OR t000002 OR t000003", k=10).orderBy("rank").collect()
    want = tiny_oracle.top_k("t000001 OR t000002 OR t000003", k=10)
    assert [r["docid"] for r in got] == [d for d, _ in want]
    got_bits = [np.float32(r["score"]).view(np.int32) for r in got]
    want_bits = [np.float32(s_).view(np.int32) for _, s_ in want]
    assert got_bits == want_bits


def test_min_should_match(tiny_index, tiny_oracle):
    q = OrQ((TermQ("t000001"), TermQ("t000002"), TermQ("t000003")),
            min_should_match=2)
    s = Searcher(tiny_index, mode="lucene")
    got = {r["docid"] for r in s.matches(q).collect()}
    want = set(tiny_oracle.evaluate(q))
    assert got == want


def test_phrase_query(spark, tiny_index, pages_tiny):
    # find a doc with a known bigram, then search for it as a phrase
    row = pages_tiny.select("text").first()
    words = [w for w in row["text"].split() if w.startswith("t")][:2]
    from lucene_solr_spark.search.ast import PhraseQ
    # construct a phrase that actually exists: take two adjacent tokens
    toks = row["text"].split()
    bigram = None
    for a, b in zip(toks, toks[1:]):
        if a.startswith("t") and b.startswith("t"):
            bigram = (a, b)
            break
    assert bigram is not None
    s = Searcher(tiny_index, mode="lucene")
    res = s.matches(PhraseQ(bigram)).collect()
    assert len(res) >= 1
    assert all(r["score"] > 0 for r in res)


def test_multiterm_queries(tiny_index):
    from lucene_solr_spark.search.ast import FuzzyQ, PrefixQ, TermRangeQ, WildcardQ

    s = Searcher(tiny_index, mode="lucene")
    n_prefix = s.matches(PrefixQ("t00000")).count()
    assert n_prefix > 0
    # wildcard covering same prefix must match at least as many docs
    n_wild = s.matches(WildcardQ("t00000*")).count()
    assert n_wild == n_prefix
    assert s.matches(TermRangeQ("t000000", "t000010")).count() > 0
    assert s.matches(FuzzyQ("t000001", max_edits=1)).count() >= n_prefix * 0  # runs


def test_match_all_and_const(tiny_index):
    from lucene_solr_spark.search.ast import ConstQ, MatchAllQ

    s = Searcher(tiny_index, mode="lucene")
    assert s.matches(MatchAllQ()).count() == tiny_index.coll_stats["doc_count"]
    c = s.matches(ConstQ(TermQ("t000001"), boost=2.5)).collect()
    assert all(abs(r["score"] - 2.5) < 1e-6 for r in c)


def test_query_cache_filters(spark, tiny_index):
    """LRUQueryCache analogue: repeated filter-shaped subqueries hit
    the cache after min_uses; results identical with/without."""
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import QueryCache, Searcher

    qc = QueryCache(min_uses=2)
    s = Searcher(tiny_index, mode="sql", query_cache=qc)
    plain = Searcher(tiny_index, mode="sql")
    q = A.PrefixQ("t0000")
    runs = [sorted(r["docid"] for r in s.matches(q).collect()) for _ in range(3)]
    base = sorted(r["docid"] for r in plain.matches(q).collect())
    assert runs[0] == runs[1] == runs[2] == base
    assert qc.hits >= 1           # third run must hit
    assert len(qc._cached) == 1   # cached once, keyed by clause key


def test_query_cache_use_history_is_bounded():
    """UsageTrackingQueryCachingPolicy shape: the use counts live in a
    ring of the last 256 keys, so 300 distinct one-off filters leave at
    most 256 keys behind, and a filter repeated inside the window
    still reaches min_uses and hits."""
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import QueryCache

    class Frame:
        def persist(self):
            return self

        def unpersist(self):
            pass

    qc = QueryCache(min_uses=2)
    for i in range(300):
        key = A.ConstQ(TermQ(f"t{i:06d}")).inner.key()
        assert qc.get_or_build(key, Frame) is None
    assert len(qc._history) <= 256
    key = TermQ("t000299").key()          # last seen 1 lookup ago
    assert qc.get_or_build(key, Frame) is not None
    assert qc.get_or_build(key, Frame) is not None and qc.hits == 1
    # the first keys fell out of the ring: their next use is a first use
    assert qc.get_or_build(TermQ("t000000").key(), Frame) is None


def test_query_cache_evicts_least_recently_used():
    """At max_entries the entry evicted is the one used longest ago: a
    filter that keeps hitting stays cached while a newer one that is
    never reused is evicted (and unpersisted)."""
    from lucene_solr_spark.search.executor import QueryCache

    class Frame:
        def __init__(self):
            self.persisted = False

        def persist(self):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False

    qc = QueryCache(max_entries=2, min_uses=1)
    hot = qc.get_or_build("hot", Frame)
    cold = qc.get_or_build("cold", Frame)
    for _ in range(5):
        assert qc.get_or_build("hot", Frame) is hot
    new = qc.get_or_build("new", Frame)
    assert list(qc._cached) == ["hot", "new"]
    assert hot.persisted and new.persisted and not cold.persisted
    assert qc.get_or_build("hot", Frame) is hot and qc.hits == 6


@pytest.mark.parametrize("q", ["((((", "a AND", "(a", "a NOT", "+",
                               "a^1.2.3", "(" * 3000 + "a" + ")" * 3000],
                         ids=["open4", "and_end", "open_term", "not_end",
                              "plus", "bad_boost", "deep3000"])
def test_parse_errors_are_typed(q):
    """Truncated syntax, a malformed boost and runaway nesting raise
    ParseError (a ValueError), never IndexError or RecursionError."""
    from lucene_solr_spark.search.ast import ParseError

    with pytest.raises(ParseError):
        parse_query(q)


def test_parse_fuzz_parses_or_raises_parse_error():
    """Seeded random strings over the query alphabet (terms, fields,
    operators, brackets, quotes, boosts, slops, wildcards, escapes)
    either parse or raise ParseError."""
    import random

    from lucene_solr_spark.search.ast import MAX_PARSE_DEPTH, ParseError

    rng = random.Random(20261018)
    pieces = list('aZ19 ()"~^*?:+-!/[]{}\\&|.') + [
        "AND", "OR", "NOT", " TO ", "text:", "title:", "t000001", "*:*",
        "&&", "||"]
    parsed = 0
    for _ in range(2000):
        s = "".join(rng.choice(pieces) for _ in range(rng.randint(1, 25)))
        try:
            parse_query(s)
            parsed += 1
        except ParseError:
            pass
    assert 0 < parsed < 2000
    ok = "(" * MAX_PARSE_DEPTH + "a" + ")" * MAX_PARSE_DEPTH
    assert parse_query(ok) == TermQ("a")


def test_sql_phrase_boost_scales_score(tiny_index):
    """sql mode applies a PhraseQ boost like every other phrase-scored
    shape: boost 2 doubles each doc's f64 score exactly."""
    from lucene_solr_spark.search.ast import PhraseQ

    s = Searcher(tiny_index, mode="sql")
    terms = ("t000001", "t000002")
    plain = {r["docid"]: r["score"] for r in s.matches(PhraseQ(terms)).collect()}
    boosted = {r["docid"]: r["score"]
               for r in s.matches(PhraseQ(terms, boost=2.0)).collect()}
    assert plain, "fixture has no phrase matches"
    assert boosted == {d: 2.0 * v for d, v in plain.items()}


def test_random_query_duel_vs_oracle(tiny_index, tiny_oracle):
    """SearchEquivalenceTestBase pattern: randomized boolean trees
    must match the pure-numpy oracle bit-for-bit in lucene mode."""
    import numpy as np

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    rng = np.random.default_rng(99)
    vocab = [f"t{i:06d}" for i in range(0, 300)] + ["missing_x"]

    def rand_q(depth=0):
        r = rng.random()
        if depth >= 2 or r < 0.45:
            return A.TermQ(vocab[int(rng.integers(len(vocab)))])
        if r < 0.65:
            n = int(rng.integers(2, 4))
            return A.AndQ(tuple(rand_q(depth + 1) for _ in range(n)))
        if r < 0.9:
            n = int(rng.integers(2, 4))
            msm = int(rng.integers(1, n + 1))
            return A.OrQ(tuple(rand_q(depth + 1) for _ in range(n)),
                         min_should_match=msm)
        return A.NotQ(rand_q(depth + 1), rand_q(depth + 1))

    s = Searcher(tiny_index, mode="lucene")
    for i in range(12):
        q = rand_q().rewrite()
        got = [(r["docid"], np.float32(r["score"]))
               for r in s.search(q, k=10).orderBy("rank").collect()]
        exp = [(d, np.float32(v)) for d, v in tiny_oracle.top_k(q, k=10)]
        assert got == exp, f"query #{i}: {q.key()}"


def test_parser_edismax_lite():
    """Extended request syntax: field:term, ^boost, "phrase"~slop,
    +required/-prohibited markers, implicit OR."""
    from lucene_solr_spark.search import ast as A

    assert A.parse_query("text:merge") == A.TermQ("merge")
    assert A.parse_query("merge^2") == A.TermQ("merge", boost=2.0)
    assert A.parse_query('"hash join"~2') == A.PhraseQ(("hash", "join"), slop=2)
    q = A.parse_query("scan +merge -slow")
    assert q == A.NotQ(A.ReqOptQ(A.TermQ("merge"), A.TermQ("scan")),
                       A.TermQ("slow"))
    assert A.parse_query("a b") == A.OrQ((A.TermQ("a"), A.TermQ("b")))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        A.parse_query("nosuchfield:x")


def test_sloppy_phrase_freq_kernel():
    """Hand-checked cases of the greedy SloppyPhraseScorer traversal,
    including the Javadoc example (SloppyPhraseScorer.java:79-95):
    query "a b"~2 over doc "x a b a y" scores two matches, d=0 and
    d=2 -> freq = 1 + 1/3."""
    import numpy as np

    from lucene_solr_spark.search.executor import _sloppy_phrase_freq

    def freq(a_pos, b_pos, slop):
        return _sloppy_phrase_freq(
            [np.asarray(a_pos), np.asarray(b_pos) - 1], slop)

    # "x a b a y": a at 1,3; b at 2
    assert freq([1, 3], [2], 2) == 1.0 + 1.0 / 3.0
    assert freq([1, 3], [2], 0) == 1.0           # only the exact match
    assert freq([0], [1], 0) == 1.0              # adjacent pair, d=0
    assert freq([0], [5], 3) == 0.0              # d=4 > slop
    assert freq([0], [5], 4) == 1.0 / 5.0
    # three-term: "a b c" exact in sequence scores d=0
    from lucene_solr_spark.search.executor import _sloppy_phrase_freq as spf
    import numpy as _np
    rebased = [_np.array([4]), _np.array([5]) - 1, _np.array([6]) - 2]
    assert spf(rebased, 0) == 1.0


def test_sloppy_phrase_repeated_terms():
    """rptGroups machinery, hand-traced golden cases: repeat-group
    members start staggered, collisions advance the lesser pp."""
    import numpy as np

    from lucene_solr_spark.search.executor import _sloppy_phrase_freq

    # "a a" over doc "a x a" (a at 0,2): no adjacent pair; the greedy
    # scores one ml=1 window
    reb = [np.array([0, 2]), np.array([0, 2]) - 1]
    assert _sloppy_phrase_freq(reb, 0, groups=[[0, 1]]) == 0.0
    assert _sloppy_phrase_freq(reb, 1, groups=[[0, 1]]) == 0.5

    # "a b a" over doc "a b a": one exact match
    reb = [np.array([0, 2]), np.array([1]) - 1, np.array([0, 2]) - 2]
    assert _sloppy_phrase_freq(reb, 0, groups=[[0, 2]]) == 1.0

    # "a a" over doc "a a a": two exact matches
    reb = [np.array([0, 1, 2]), np.array([0, 1, 2]) - 1]
    assert _sloppy_phrase_freq(reb, 2, groups=[[0, 1]]) == 2.0

    # doc without enough repeats: "a a" over "a x y": group init
    # exhausts -> no match
    reb = [np.array([0]), np.array([0]) - 1]
    assert _sloppy_phrase_freq(reb, 5, groups=[[0, 1]]) == 0.0


def test_sloppy_phrase_repeated_end_to_end(spark, tiny_index):
    """Repeated-term sloppy phrase through the executor matches the
    kernel run on the raw positions arrays."""
    import numpy as np
    from pyspark.sql import functions as F

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher, _sloppy_phrase_freq

    s = Searcher(tiny_index, mode="sql")
    t = "t000001"
    got = {r["docid"]: None for r in
           s.matches(A.PhraseQ((t, t), slop=3)).collect()}
    plists = {r["docid"]: list(r["positions"]) for r in
              tiny_index.postings.where(F.col("term") == t)
              .select("docid", "positions").collect()}
    want = set()
    for d, pl in plists.items():
        reb = [np.asarray(pl), np.asarray(pl) - 1]
        if _sloppy_phrase_freq(reb, 3, groups=[[0, 1]]) > 0:
            want.add(d)
    assert set(got) == want


def test_multiphrase_matches_union_of_phrases(spark, tiny_index):
    """MultiPhraseQ((a|b), c) must match exactly the docs of
    phrase(a,c) UNION phrase(b,c) with freq = sum when slots don't
    overlap in docs (sanity on the tiny corpus)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(tiny_index, mode="sql")
    mp = s.matches(A.MultiPhraseQ((("t000001", "t000002"), ("t000003",))))
    p1 = s.matches(A.PhraseQ(("t000001", "t000003")))
    p2 = s.matches(A.PhraseQ(("t000002", "t000003")))
    got = {r["docid"] for r in mp.select("docid").collect()}
    want = ({r["docid"] for r in p1.select("docid").collect()}
            | {r["docid"] for r in p2.select("docid").collect()})
    assert got == want


def test_multiphrase_rpt_fuzz_vs_cte_oracle():
    """Multi-term repeat groups (SloppyPhraseScorer hasMultiTermRpts):
    the Python machinery (_sloppy_phrase_freq multi_term=True) duels a
    recursive-CTE transcription of the same reference state machine
    (driver_surface_ext._MP_RPT_CTE) over random docs — two
    independent derivations of SloppyPhraseScorer.java must agree on
    every doc's sloppy freq."""
    import random

    import duckdb

    from lucene_solr_spark.driver_surface_ext import _MP_RPT_CTE
    from lucene_solr_spark.search.executor import _sloppy_phrase_freq

    rng = random.Random(1234)
    vocab = ["hash", "merge", "join", "xx", "yy"]
    docs = [" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 15)))
            for _ in range(300)]

    # python side: slots ({hash,merge}, {merge,join}), slop 2
    def py_freq(tokens):
        s0 = [i for i, t in enumerate(tokens) if t in ("hash", "merge")]
        s1 = [i - 1 for i, t in enumerate(tokens) if t in ("merge", "join")]
        if not s0 or not s1:
            return 0.0
        import numpy as np
        rebased = [np.array(s0, dtype=np.int64), np.array(s1, dtype=np.int64)]
        return _sloppy_phrase_freq(rebased, 2, groups=[[0, 1]],
                                   multi_term=True)

    want = {i: py_freq(d.split()) for i, d in enumerate(docs)}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(docs)))
    sql = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         unnest(range(len(string_split(text, ' ')))) AS pos
  FROM documents
),
tokf AS (SELECT doc_id, term, pos FROM tok),
{_MP_RPT_CTE.format(slop=2)}
SELECT doc_id, pfreq FROM ph
"""
    got = {r[0]: r[1] for r in con.sql(sql).fetchall()}
    for i in range(len(docs)):
        assert abs(got.get(i, 0.0) - want[i]) < 1e-9, (
            f"doc {i} ({docs[i]!r}): cte={got.get(i)} py={want[i]}")


def test_multiphrase_rpt_golden():
    """Hand-traced multi-term repeat cases (advanceRepeatGroups'
    hasMultiTermRpts init + advanceRpts collision resolution)."""
    import numpy as np

    from lucene_solr_spark.search.executor import _sloppy_phrase_freq

    def f(s0, s1, slop):
        reb = [np.array(s0, np.int64), np.array(s1, np.int64) - 1]
        return _sloppy_phrase_freq(reb, slop, groups=[[0, 1]],
                                   multi_term=True)

    # doc "x y x": both slots can match x (positions 0,2).
    # init: both on token 0 -> collide -> slot1 advances to x@2;
    # greedy: one match, window length 1 -> freq 1/2 at slop>=1.
    assert f([0, 2], [0, 2], 1) == 0.5
    assert f([0, 2], [0, 2], 0) == 0.0
    # doc "x x": slot1 takes x@1 -> exact adjacency, d=0 -> freq 1.
    assert f([0, 1], [0, 1], 0) == 1.0
    # slot1 has its own token besides the shared one: "x j" exact.
    assert f([0], [1], 0) == 1.0
    # single shared token only ("x"): collision cannot resolve -> 0.
    assert f([0], [0], 3) == 0.0


def test_qparser_multiterm_leaves():
    """Classic-QParser leaf syntax (ranges, wildcard/prefix, fuzzy,
    regexp, *:*) parses to the right AST nodes."""
    from lucene_solr_spark.search import ast as A

    assert A.parse_query("hash*") == A.PrefixQ("hash")
    assert A.parse_query("h?sh") == A.WildcardQ("h?sh")
    assert A.parse_query("hash~1") == A.FuzzyQ("hash", max_edits=1)
    assert A.parse_query("hash~") == A.FuzzyQ("hash", max_edits=2)
    assert A.parse_query("[alpha TO beta]") == A.TermRangeQ("alpha", "beta")
    assert A.parse_query("{alpha TO *}") == A.TermRangeQ(
        "alpha", None, include_lower=False, include_upper=False)
    assert A.parse_query("text:[a TO b]") == A.TermRangeQ("a", "b")
    assert A.parse_query("/ha.h/") == A.RegexpQ("ha.h")
    assert isinstance(A.parse_query("*:*"), A.MatchAllQ)
    q = A.parse_query("hash* OR join~1")
    assert isinstance(q, A.OrQ) and len(q.clauses) == 2
    import pytest as _pt
    with _pt.raises(ValueError):
        A.parse_query("badfield:[a TO b]")


def test_term_automaton_finite_strings_and_validation():
    from lucene_solr_spark.search import ast as A

    q = A.TermAutomatonQ(
        transitions=((0, 1, "a"), (1, 3, "b"), (1, 2, None), (2, 3, "b")),
        accept=(3,))
    assert sorted(q.finite_strings(), key=repr) == sorted(
        [("a", None, "b"), ("a", "b")], key=repr)
    import pytest as _pt
    with _pt.raises(ValueError):  # cycle
        A.TermAutomatonQ(((0, 1, "a"), (1, 0, "b")), (1,)).finite_strings()
    with _pt.raises(ValueError):  # trailing ANY
        A.TermAutomatonQ(((0, 1, "a"), (1, 2, None)), (2,)).finite_strings()
    with _pt.raises(ValueError):  # accepts nothing
        A.TermAutomatonQ(((0, 1, "a"),), (5,)).finite_strings()


def test_term_automaton_matches_phrase_and_gap(spark, tiny_index):
    """A single-path automaton equals the exact phrase; the gap path
    adds 'hash ? join' docs — verified against direct position math."""
    import numpy as np

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(tiny_index, mode="lucene")
    phrase = {r["docid"]: np.float32(r["score"])
              for r in s.matches(A.PhraseQ(("t000000", "t000001"))).collect()}
    auto = {r["docid"]: np.float32(r["score"]) for r in s.matches(
        A.TermAutomatonQ(((0, 1, "t000000"), (1, 2, "t000001")), (2,))
    ).collect()}
    assert auto == phrase  # single-path automaton == exact phrase

    # two-path (direct or one-gap): matches must be a superset
    gap = {r["docid"] for r in s.matches(A.TermAutomatonQ(
        ((0, 1, "t000000"), (1, 3, "t000001"), (1, 2, None),
         (3, 3, "zzz") if False else (2, 3, "t000001")), (3,))).collect()}
    assert set(phrase) <= gap


def test_sql_stream_partitioned_equals_oneshot(spark, tmp_path_factory):
    import duckdb

    from lucene_solr_spark.sources.sqlsource import (
        sql_stream, sql_stream_partitioned)

    db = str(tmp_path_factory.mktemp("jdbc") / "t.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT range AS id, range % 7 AS g "
                "FROM range(1000)")
    con.close()
    one_df = sql_stream(spark, db, "SELECT * FROM t")
    # the one-shot is a 1-stripe call of the partitioned path: the
    # fetch runs in an executor task too — no caller can take a
    # driver-materialization route by accident
    one_plan = one_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in one_plan
    one = sorted(tuple(r) for r in one_df.collect())
    pdf = sql_stream_partitioned(spark, db, "SELECT * FROM t", "id", 0, 999, 8)
    part = sorted(tuple(r) for r in pdf.collect())
    assert one == part and len(one) == 1000
    # stripe fetches run in EXECUTOR tasks (mapInPandas over the
    # stripe frame), not as driver-side createDataFrame materialization
    plan = pdf._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # JDBC bounds contract: lower/upper set stripe widths only — rows
    # OUTSIDE the bounds still land in the unbounded first/last stripe
    narrow = sql_stream_partitioned(
        spark, db, "SELECT * FROM t", "id", 300, 700, 4)
    assert sorted(tuple(r) for r in narrow.collect()) == one


def test_parse_local_params():
    from lucene_solr_spark.search.solrq import parse_local_params

    assert parse_local_params('{!term f=text v=hash}') == (
        "term", {"f": "text", "v": "hash"}, "")
    assert parse_local_params('{!join from=a to=b}x AND y') == (
        "join", {"from": "a", "to": "b"}, "x AND y")
    name, p, rest = parse_local_params('plain query')
    assert name is None and rest == 'plain query'
    assert parse_local_params('{!collapse field="la ng"}q')[1] == {
        "field": "la ng"}


def test_parse_value_source():
    import pytest as _pt

    from lucene_solr_spark.search.solrq import parse_value_source

    assert parse_value_source("3.5") == ("num", 3.5)
    assert parse_value_source("n_chars") == ("field", "n_chars")
    assert parse_value_source("field(n_chars)") == ("field", "n_chars")
    assert parse_value_source("recip(docid,1,1000,1000)") == (
        "call", "recip", [("field", "docid"), ("num", 1.0),
                          ("num", 1000.0), ("num", 1000.0)])
    assert parse_value_source("sum(a,product(b,2))") == (
        "call", "sum", [("field", "a"),
                        ("call", "product", [("field", "b"), ("num", 2.0)])])
    with _pt.raises(ValueError):
        parse_value_source("recip(x,1)(")
    with _pt.raises(ValueError):
        parse_value_source("sum(a,b) trailing")


def test_value_source_eval_and_frange(spark):
    """{!func}/{!frange} over a doc_attrs frame: the Column evaluation
    matches hand arithmetic (scale() does its global min/max pre-pass
    like ScaleFloatFunction.createWeight)."""
    from lucene_solr_spark.search.solrq import (
        parse_value_source, solr_qparser, value_source_column)

    attrs = spark.createDataFrame(
        [(i, float(10 * i)) for i in range(5)], "docid long, x double")
    col = value_source_column(
        parse_value_source("sum(recip(docid,1,10,10),linear(x,0.5,1))"),
        attrs)
    got = {r["docid"]: r["v"]
           for r in attrs.select("docid", col.alias("v")).collect()}
    want = {i: 10.0 / (1.0 * i + 10.0) + (0.5 * (10.0 * i) + 1.0)
            for i in range(5)}
    assert got == want

    sc = value_source_column(
        parse_value_source("scale(x,0,1)"), attrs)
    vals = {r["docid"]: r["v"]
            for r in attrs.select("docid", sc.alias("v")).collect()}
    assert vals == {i: (10.0 * i) / 40.0 for i in range(5)}

    fr = solr_qparser(None, "{!frange l=10 u=16 incu=false}linear(x,0.5,1)",
                      attrs)
    assert sorted(r["docid"] for r in fr.collect()) == [2]
    tm = solr_qparser(None, "{!terms f=docid}1,3", attrs)
    assert sorted(r["docid"] for r in tm.collect()) == [1, 3]


def test_value_source_index_stats(spark, tiny_index):
    """Index-stats ValueSources: docfreq/idf/termfreq/totaltermfreq/
    sumtotaltermfreq/maxdoc/numdocs fold index statistics into the
    expression; strdist(edit) = 1 - levenshtein/maxlen."""
    import numpy as np

    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="sql")
    attrs = tiny_index.docs.select("docid")
    n = float(tiny_index.coll_stats["doc_count"])
    row = (tiny_index.term_stats.where(F.col("term") == "t000001")
           .select("df", "ttf").collect()[0])
    df_t, ttf_t = float(row["df"]), float(row["ttf"])

    out = solr_qparser(
        s, "{!func}sum(docfreq(text,t000001),maxdoc(),"
           "totaltermfreq(text,t000001),sumtotaltermfreq(text))",
        attrs)
    v = out.select("score").first()["score"]
    assert v == df_t + n + ttf_t + float(tiny_index.coll_stats["sum_ttf"])

    idf = float(np.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))
    got = solr_qparser(s, "{!func}idf(text,t000001)", attrs) \
        .select("score").first()["score"]
    assert got == idf

    # termfreq: per-doc tf, 0 where absent
    tf_map = {r["docid"]: r["tf"] for r in tiny_index.postings
              .where(F.col("term") == "t000001")
              .select("docid", "tf").collect()}
    got_tf = {r["docid"]: r["score"] for r in solr_qparser(
        s, "{!func}termfreq(text,t000001)", attrs).collect()}
    assert all(got_tf[d] == float(tf_map.get(d, 0)) for d in got_tf)
    assert len(got_tf) == int(n)

    # strdist over a derived column
    a2 = attrs.withColumn("tag", F.concat(F.lit("doc"),
                                          F.col("docid").cast("string")))
    got_sd = solr_qparser(s, "{!func}strdist(tag,'doc1',edit)", a2)
    vals = {r["docid"]: r["score"] for r in got_sd.collect()}
    import math
    assert math.isclose(vals[1], 1.0)          # 'doc1' vs 'doc1'
    assert math.isclose(vals[12], 1.0 - 1.0 / 5.0)  # 'doc12' 1 edit


def test_value_source_bool_family(spark, tiny_index):
    """Boolean/conditional ValueSources (if/exists/def/map/not/and/
    or/xor + comparisons): booleans are 1.0/0.0, non-zero = true."""
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="sql")
    attrs = (tiny_index.docs.select("docid").limit(10)
             .withColumn("v", F.col("docid").cast("double"))
             .withColumn("nv", F.when(F.col("docid") % 2 == 0,
                                      F.col("docid").cast("double"))))

    def vals(expr, a=attrs):
        return {r["docid"]: r["score"] for r in
                solr_qparser(s, "{!func}" + expr, a).collect()}

    got = vals("if(gt(v,4),100,sum(v,1))")
    assert all(vv == (100.0 if d > 4 else d + 1.0)
               for d, vv in got.items())
    got = vals("exists(nv)")
    assert all(vv == (1.0 if d % 2 == 0 else 0.0)
               for d, vv in got.items())
    got = vals("def(nv,-1)")
    assert all(vv == (float(d) if d % 2 == 0 else -1.0)
               for d, vv in got.items())
    got = vals("map(v,2,5,0)")
    assert all(vv == (0.0 if 2 <= d <= 5 else float(d))
               for d, vv in got.items())
    got = vals("map(v,2,5,0,99)")
    assert all(vv == (0.0 if 2 <= d <= 5 else 99.0)
               for d, vv in got.items())
    got = vals("xor(gte(v,3),lte(v,6))")
    assert all(vv == (1.0 if ((d >= 3) != (d <= 6)) else 0.0)
               for d, vv in got.items())
    got = vals("and(not(eq(v,3)),or(lt(v,2),gt(v,8)))")
    assert all(vv == (1.0 if (d != 3 and (d < 2 or d > 8)) else 0.0)
               for d, vv in got.items())


def test_qparser_dialect_batch2(spark, tiny_index):
    """Round-4 dialect batch: {!field} {!raw} {!switch} {!maxscore}
    {!complexphrase} {!surround} {!parent} {!child} {!graph}
    {!geofilt} {!bbox} {!rerank} — each must match the engine
    operator it dispatches onto."""
    import numpy as np

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="lucene")

    def docs(df):
        return sorted(r["docid"] for r in df.select("docid").collect())

    def scored(df):
        return sorted((r["docid"], np.float32(r["score"]))
                      for r in df.collect())

    # {!field}: analyzed value -> TermQ / PhraseQ (case-folded)
    assert scored(solr_qparser(s, "{!field f=text}T000001")) == \
        scored(s.matches(A.TermQ("t000001")))
    assert scored(solr_qparser(s, "{!field f=text}t000001 t000002")) == \
        scored(s.matches(A.PhraseQ(("t000001", "t000002"))))
    # {!raw}: NO analysis — uppercase value matches nothing
    assert docs(solr_qparser(s, "{!raw f=text v=T000001}")) == []
    assert scored(solr_qparser(s, "{!raw f=text v=t000001}")) == \
        scored(s.matches(A.TermQ("t000001")))
    # {!switch}
    got = solr_qparser(
        s, "{!switch case.on=t000001 default=t000002}on")
    assert scored(got) == scored(s.matches(A.TermQ("t000001")))
    got = solr_qparser(
        s, "{!switch case.on=t000001 default=t000002}off")
    assert scored(got) == scored(s.matches(A.TermQ("t000002")))
    # {!maxscore}: OR groups become tie=0 DisMax
    assert scored(solr_qparser(s, "{!maxscore}t000001 OR t000002")) == \
        scored(s.matches(A.DisMaxQ((A.TermQ("t000001"),
                                    A.TermQ("t000002")))))
    # {!complexphrase}: wildcard slot expands against the dictionary
    exp = [r["term"] for r in tiny_index.term_stats
           .where(F.col("term").rlike("^t00000.$"))
           .select("term").orderBy("term").collect()]
    assert len(exp) > 1
    assert scored(solr_qparser(s, '{!complexphrase}"t000001 t00000?"')) \
        == scored(s.matches(A.MultiPhraseQ((("t000001",), tuple(exp)))))
    # {!surround}: 2W -> ordered SpanNear slop=1; 2N -> unordered
    assert docs(solr_qparser(s, "{!surround}2W(t000001, t000002)")) == \
        docs(s.matches(A.SpanNearQ("t000001", "t000002", slop=1,
                                   in_order=True)))
    assert docs(solr_qparser(s, "{!surround}2N(t000001, t000002)")) == \
        docs(s.matches(A.SpanNearQ("t000001", "t000002", slop=1,
                                   in_order=False)))

    # block/graph/geo attrs: roots every 4 docids; a 2-chain edge
    # graph over docid mod groups; lat/lon spread on a grid
    all_docs = [r["docid"] for r in tiny_index.docs.select("docid").collect()]
    attrs = spark.createDataFrame(
        [(d, d - d % 4, d % 10, (d + 1) % 10,
          float((d * 7) % 120 - 60), float((d * 13) % 300 - 150))
         for d in all_docs],
        "docid long, root_id long, f long, t long, "
        "loc_lat double, loc_lon double")

    # {!parent}: roots with >=1 matching non-root child, themselves
    # matching which=
    kids = set(docs(s.matches(A.TermQ("t000001"))))
    roots_with_kid = sorted({d - d % 4 for d in kids if d % 4 != 0})
    assert docs(solr_qparser(
        s, "{!parent which='{!prefix f=text v=t}'}t000001",
        attrs)) == roots_with_kid
    # {!child}: children (docid != root) whose root matches both the
    # of= parent filter and the body query
    m2 = set(docs(s.matches(A.TermQ("t000002"))))
    expect_children = sorted(d for d in all_docs
                             if d - d % 4 in m2 and d % 4 != 0)
    assert docs(solr_qparser(
        s, "{!child of='{!prefix f=text v=t}'}t000002", attrs)) == \
        expect_children
    # {!graph}: 1-hop from docs whose f-value reaches their t-value
    roots = docs(s.matches(A.TermQ("t000100")))
    got1 = set(docs(solr_qparser(s, "{!graph from=f to=t maxDepth=1}t000100",
                                 attrs)))
    fvals = {d % 10 for d in roots}
    expect1 = set(roots) | {d for d in all_docs if (d + 1) % 10 in fvals}
    assert got1 == expect1
    # returnRoot=false drops the seed set
    got_nr = set(docs(solr_qparser(
        s, "{!graph from=f to=t maxDepth=1 returnRoot=false}t000100", attrs)))
    assert got_nr == expect1 - set(roots)

    # {!geofilt} / {!bbox}: haversine radius vs bounding box
    from lucene_solr_spark.operators.spatial import haversine_meters
    d_expr = haversine_meters(F.col("loc_lat"), F.col("loc_lon"),
                              F.lit(10.0), F.lit(20.0))
    exact = sorted(r["docid"] for r in attrs
                   .where(d_expr <= 3_000_000.0).collect())
    assert docs(solr_qparser(
        s, "{!geofilt sfield=loc pt=10.0,20.0 d=3000}", attrs)) == exact
    bbox = set(docs(solr_qparser(
        s, "{!bbox sfield=loc pt=10.0,20.0 d=3000}", attrs)))
    assert set(exact) <= bbox

    # {!rerank}: additive rescoring of the top window
    main = {r["docid"]: r["score"]
            for r in s.matches(A.TermQ("t000001")).collect()}
    rr = {r["docid"]: r["score"]
          for r in s.matches(A.TermQ("t000002")).collect()}
    top5 = sorted(main, key=lambda d: (-main[d], d))[:5]
    want = {d: (float(main[d]) + 3.0 * float(rr[d])
                if d in rr and d in top5 else float(main[d]))
            for d in main}
    got = {r["docid"]: r["score"] for r in solr_qparser(
        s, "{!rerank reRankQuery=t000002 reRankDocs=5 "
           "reRankWeight=3.0}t000001").collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[d] - want[d]) < 1e-6 for d in got)


def test_qparser_dialect_batch3(spark, tiny_index):
    """Round-4 dialect batch 3: {!knn} {!hash} {!rank} — vector
    search, the parallel-stream hash partitioner, and FeatureField
    rank functions, each checked against an independent computation.
    ({!dismax} is covered in test_multifield.py — it needs fields.)"""
    import hashlib
    import math

    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="lucene")
    docids = sorted(r["docid"] for r in
                    tiny_index.docs.select("docid").collect())[:20]

    # {!knn}: cosine top-k over a literal vector column
    vecs = {d: [float((d * 7 + i * 3) % 11) - 5.0 for i in range(4)]
            for d in docids}
    attrs = spark.createDataFrame(
        [(d, vecs[d]) for d in docids], "docid long, emb array<double>")
    qv = [1.0, -2.0, 0.5, 3.0]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    want = sorted(docids, key=lambda d: (-cos(vecs[d], qv), d))[:5]
    got = solr_qparser(
        s, "{!knn f=emb topK=5}[1.0, -2.0, 0.5, 3.0]", attrs).collect()
    assert [r["docid"] for r in
            sorted(got, key=lambda r: (-r["score"], r["docid"]))] == want
    for r in got:
        assert abs(r["score"] - cos(vecs[r["docid"]], qv)) < 1e-9

    # {!hash}: partitions are disjoint, exhaustive, and reproduce the
    # md5-first-8-hex-digits hash
    key_attrs = attrs.withColumn("k", F.col("docid").cast("string"))
    parts = [set(r["docid"] for r in solr_qparser(
        s, f"{{!hash workers=3 worker={w} partitionKeys=k}}",
        key_attrs).collect()) for w in range(3)]
    assert set().union(*parts) == set(docids)
    assert sum(len(p) for p in parts) == len(docids)
    for w, p in enumerate(parts):
        for d in p:
            hx = hashlib.md5(str(d).encode()).hexdigest()[:8]
            assert int(hx, 16) % 3 == w

    # {!rank}: FeatureField satu / log / linear
    feat = attrs.withColumn("pr", (F.col("docid") % 5).cast("double"))
    vals = {d: float(d % 5) for d in docids}
    live = {d: v for d, v in vals.items() if v > 0}
    got_satu = {r["docid"]: r["score"] for r in solr_qparser(
        s, "{!rank f=pr function=satu pivot=2.0 weight=1.5}",
        feat).collect()}
    assert got_satu.keys() == live.keys()
    assert all(abs(got_satu[d] - 1.5 * v / (v + 2.0)) < 1e-12
               for d, v in live.items())
    got_log = {r["docid"]: r["score"] for r in solr_qparser(
        s, "{!rank f=pr function=log scalingFactor=1.0}", feat).collect()}
    assert all(abs(got_log[d] - math.log(1.0 + v)) < 1e-12
               for d, v in live.items())
    got_lin = {r["docid"]: r["score"] for r in solr_qparser(
        s, "{!rank f=pr function=linear weight=2.0}", feat).collect()}
    assert all(abs(got_lin[d] - 2.0 * v) < 1e-12 for d, v in live.items())


def test_qparser_dialect_batch4(spark, tiny_index):
    """Round-4 dialect batch 4: {!query}/{!nested} recursion,
    {!graphTerms} df-capped term set, {!simple} (SimpleQueryParser
    subset), {!xmlparser} (CoreParser subset), {!igain} information
    gain — each vs the engine operator or an independent Python
    computation."""
    import math

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="lucene")

    def scored(df):
        return sorted((r["docid"], np.float32(r["score"]))
                      for r in df.collect())

    def docs(df):
        return sorted(r["docid"] for r in df.select("docid").collect())

    # {!query} / {!nested}: recursive dispatch
    assert scored(solr_qparser(s, "{!query v='{!term f=text}t000001'}")) \
        == scored(s.matches(A.TermQ("t000001")))

    # {!graphTerms}: the zipf-head term is dropped by maxDocFreq
    df_hi = tiny_index.term_stats.where(
        F.col("term") == "t000000").first()["df"]
    got = solr_qparser(
        s, f"{{!graphterms maxDocFreq={df_hi - 1}}}t000000,t004999")
    assert docs(got) == docs(s.matches(A.TermInSetQ(("t004999",))))
    got_all = solr_qparser(
        s, f"{{!graphterms maxDocFreq={df_hi}}}t000000,t004999")
    assert docs(got_all) == docs(
        s.matches(A.TermInSetQ(("t000000", "t004999"))))

    # {!simple}: left-to-right fold (SimpleQueryParser.java
    # buildQueryTree — same op appends flat, an op change wraps the
    # accumulated tree; negation = (MatchAll MUST_NOT x) as a clause)
    assert scored(solr_qparser(s, "{!simple}t000001 + t000002")) == \
        scored(s.matches(A.AndQ((A.TermQ("t000001"), A.TermQ("t000002")))))
    assert scored(solr_qparser(s, "{!simple}t000001 | t000002")) == \
        scored(s.matches(A.OrQ((A.TermQ("t000001"), A.TermQ("t000002")))))
    assert scored(solr_qparser(s, "{!simple}t000001 t000002")) == \
        scored(s.matches(A.OrQ((A.TermQ("t000001"), A.TermQ("t000002")))))
    assert scored(solr_qparser(
        s, "{!simple q.op=AND}t000001 t000002")) == \
        scored(s.matches(A.AndQ((A.TermQ("t000001"), A.TermQ("t000002")))))
    # no precedence: a | b + c == ((a OR b) AND c)
    assert scored(solr_qparser(
        s, "{!simple}t000001 | t000002 + t000003")) == \
        scored(s.matches(A.AndQ((A.OrQ((A.TermQ("t000001"),
                                        A.TermQ("t000002"))),
                                 A.TermQ("t000003")))))
    assert scored(solr_qparser(s, "{!simple}t000001 + -t000002")) == \
        scored(s.matches(A.AndQ((A.TermQ("t000001"),
                                 A.NotQ(A.MatchAllQ(),
                                        A.TermQ("t000002"))))))
    assert scored(solr_qparser(s, '{!simple}"t000001 t000002"~1')) == \
        scored(s.matches(A.PhraseQ(("t000001", "t000002"), slop=1)))
    assert scored(solr_qparser(s, "{!simple}t00000*")) == \
        scored(s.matches(A.PrefixQ("t00000")))
    assert scored(solr_qparser(s, "{!simple}t000001~1")) == \
        scored(s.matches(A.FuzzyQ("t000001", max_edits=1)))

    # {!xmlparser}: boolean tree + phrase + spans
    xmlq = """
    <BooleanQuery>
      <Clause occurs='must'><TermQuery>t000001</TermQuery></Clause>
      <Clause occurs='should'>
        <PhraseQuery slop='1'>t000001 t000002</PhraseQuery>
      </Clause>
      <Clause occurs='mustNot'><TermQuery>t004999</TermQuery></Clause>
    </BooleanQuery>"""
    want = A.NotQ(A.ReqOptQ(A.TermQ("t000001"),
                            A.PhraseQ(("t000001", "t000002"), slop=1)),
                  A.TermQ("t004999"))
    assert scored(solr_qparser(s, "{!xmlparser}" + xmlq)) == \
        scored(s.matches(want))
    xspan = ("<SpanNear slop='2' inOrder='false'>"
             "<SpanTerm>t000001</SpanTerm><SpanTerm>t000002</SpanTerm>"
             "</SpanNear>")
    assert scored(solr_qparser(s, "{!xmlparser}" + xspan)) == \
        scored(s.matches(A.SpanNearQ("t000001", "t000002", slop=2,
                                     in_order=False)))

    # {!igain}: information gain vs a Python recomputation
    labeled = (tiny_index.docs.select("docid")
               .withColumn("outcome",
                           (F.col("docid") % 3 == 0).cast("int")))
    lab = {r["docid"]: int(r["outcome"]) for r in labeled.collect()}
    got_ig = {r["term"]: r["score"] for r in solr_qparser(
        s, "{!igain numTerms=5}", labeled).collect()}
    post = tiny_index.postings.select("term", "docid").collect()
    by_term: dict[str, set] = {}
    for r in post:
        by_term.setdefault(r["term"], set()).add(r["docid"])
    n_all = len(lab)
    p_all = sum(lab.values())

    def ent(p, n):
        if n == 0:
            return 0.0
        q = p / n
        h = 0.0
        for x in (q, 1 - q):
            if x > 0:
                h -= x * math.log(x)
        return h

    gains = {}
    for t, dset in by_term.items():
        n1 = len(dset)
        p1 = sum(lab[d] for d in dset)
        gains[t] = (ent(p_all, n_all)
                    - n1 / n_all * ent(p1, n1)
                    - (n_all - n1) / n_all * ent(p_all - p1, n_all - n1))
    top = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert set(got_ig) == {t for t, _ in top}
    for t, g in top:
        assert abs(got_ig[t] - g) < 1e-12


def test_synonym_graph_expansion(spark, tiny_index):
    """Query-time synonym graph (SynonymGraphFilter +
    QueryBuilder.analyzeGraphBoolean): single-token sets become
    SynonymQ, multi-token alternatives become a TermAutomatonQ whose
    finite strings are original + alternatives; bool shapes recurse,
    phrases pass through."""
    from lucene_solr_spark.analysis.synonyms import (
        expand_query_synonyms, synonym_query)
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    # shape: single-token synonyms -> SynonymQ
    q = synonym_query("t000001", ["t000002", "t000003"])
    assert q == A.SynonymQ(("t000001", "t000002", "t000003"))
    # shape: multi-token -> automaton accepting orig + both seqs
    q2 = synonym_query("t000005", ["t000001 t000002", "t000003"])
    assert isinstance(q2, A.TermAutomatonQ)
    assert sorted(q2.finite_strings()) == sorted(
        [("t000005",), ("t000001", "t000002"), ("t000003",)])

    # recursion: bool shapes rewrite leaves; phrases untouched
    syn = {"t000001": ["t000002"]}
    node = expand_query_synonyms(
        A.AndQ((A.TermQ("t000001"),
                A.PhraseQ(("t000001", "t000002")))), syn)
    assert node == A.AndQ((A.SynonymQ(("t000001", "t000002")),
                           A.PhraseQ(("t000001", "t000002"))))

    # end-to-end: expanded query scores EXACTLY like the manually
    # built equivalent on both engines
    s = Searcher(tiny_index, mode="lucene")
    expanded = expand_query_synonyms(
        A.TermQ("t000005"), {"t000005": ["t000001 t000002"]})
    manual = A.TermAutomatonQ(
        ((0, 1, "t000005"), (0, 2, "t000001"), (2, 1, "t000002")), (1,))
    got = sorted((r["docid"], np.float32(r["score"]))
                 for r in s.matches(expanded).collect())
    want = sorted((r["docid"], np.float32(r["score"]))
                  for r in s.matches(manual).collect())
    assert got == want and len(got) > 0


def test_tlogit_dialect(spark, tiny_index):
    """{!tlogit}: one batch logistic-regression step over
    [1, idf_i*(1+ln tf_i)] vectors — weights/error/confusion match an
    independent Python recomputation (the reference's per-doc
    HashMap-order SGD is nondeterministic; the batch step is the
    documented deterministic variant)."""
    import math

    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.solrq import solr_qparser

    s = Searcher(tiny_index, mode="sql")
    labeled = (tiny_index.docs.select("docid")
               .withColumn("outcome",
                           (F.col("docid") % 2 == 0).cast("int")))
    terms = ["t000001", "t000002"]
    idfs = [1.5, 0.7]
    got = {r["name"]: r["value"] for r in solr_qparser(
        s, "{!tlogit terms=t000001,t000002 idfs=1.5,0.7 "
           "weights=0.2,1.0,-0.5 alpha=0.05 threshold=0.5}",
        labeled).collect()}

    lab = {r["docid"]: int(r["outcome"]) for r in labeled.collect()}
    tfs = {t: {r["docid"]: r["tf"] for r in tiny_index.postings
               .where(F.col("term") == t).collect()} for t in terms}
    docs = sorted(set(tfs[terms[0]]) | set(tfs[terms[1]]))
    w = [0.2, 1.0, -0.5]
    g = [0.0, 0.0, 0.0]
    err_sum = 0.0
    tp = fp = fn = tn = 0
    for d in docs:
        v = [1.0] + [idfs[i] * (1.0 + math.log(tfs[t][d]))
                     if d in tfs[t] else 0.0
                     for i, t in enumerate(terms)]
        z = sum(vi * wi for vi, wi in zip(v, w))
        sig = 1.0 / (1.0 + math.exp(-z))
        y = lab[d]
        err_sum += abs(sig - y)
        pred = 1 if sig >= 0.5 else 0
        if y and pred:
            tp += 1
        elif y and not pred:
            fn += 1
        elif pred:
            fp += 1
        else:
            tn += 1
        for i in range(3):
            g[i] += (sig - y) * v[i]
    assert abs(got["error"] - err_sum) < 1e-9
    for i in range(3):
        assert abs(got[f"w_{i}"] - (w[i] - 0.05 * g[i])) < 1e-9
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)


def test_flat_search_many_equals_singles(tiny_index):
    """Flat-engine batched serving: search_many (one shared
    scored-terms frame) returns exactly the per-query search()
    results, bit-equal."""
    import numpy as np

    from lucene_solr_spark.search.executor import Searcher

    s = Searcher(tiny_index, mode="lucene")
    qs = {"a": "t000001", "b": "t000050 AND t000100",
          "c": "t000050 OR t000200", "d": '"t000000 t000001"',
          "e": "t000001 NOT t000050"}
    many = {}
    for r in s.search_many(qs, k=10).collect():
        many.setdefault(r["qid"], []).append(
            (r["rank"], r["docid"], np.float32(r["score"])))
    for qid, q in qs.items():
        single = [(r["rank"], r["docid"], np.float32(r["score"]))
                  for r in s.search(q, k=10).orderBy("rank").collect()]
        assert sorted(many.get(qid, [])) == sorted(single), qid


def test_term_automaton_random_paths_equal_phrases(tiny_index):
    """Property: a single-path automaton over terms t0..tn IS the
    exact phrase "t0 ... tn" (TermAutomatonQuery generalizes
    PhraseQuery); random paths over the vocabulary must score
    bit-equal to PhraseQ."""
    import numpy as np

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    rng = np.random.default_rng(5)
    s = Searcher(tiny_index, mode="lucene")
    for _ in range(6):
        n = int(rng.integers(2, 4))
        terms = [f"t{int(rng.integers(0, 200)):06d}" for _ in range(n)]
        transitions = tuple((i, i + 1, t) for i, t in enumerate(terms))
        auto = {r["docid"]: np.float32(r["score"]) for r in s.matches(
            A.TermAutomatonQ(transitions, (n,))).collect()}
        phrase = {r["docid"]: np.float32(r["score"]) for r in s.matches(
            A.PhraseQ(tuple(terms))).collect()}
        assert auto == phrase, terms


def test_suggester_persisted_layout_prunes(spark, tmp_path_factory):
    """write_suggester persists the completion table key-prefix-
    partitioned (the FST file's role); a lookup on the persisted
    layout (a) returns exactly the in-memory lookup's rows and (b)
    plan-proves pruning: a partition filter on pfx plus a StartsWith
    pushed filter on key reach the parquet scan."""
    from lucene_solr_spark.operators.searchext import (
        analyzing_suggest, build_analyzing_suggester, load_suggester,
        write_suggester)

    rows = [(f"customer {w}", 10 + i) for i, w in
            enumerate(["alpha", "beta", "gamma"])]
    rows += [("custom tooling", 99), ("zebra crossing", 5),
             ("alpha beta", 7), ("merge sort", 3)]
    entries = spark.createDataFrame(rows, "surface string, weight long")
    sugg = build_analyzing_suggester(entries)

    path = str(tmp_path_factory.mktemp("sugg") / "layout")
    write_suggester(sugg, path)
    persisted = load_suggester(spark, path)

    want = sorted(tuple(r) for r in
                  analyzing_suggest(sugg, "custo", k=10).collect())
    out_df = analyzing_suggest(persisted, "custo", k=10)
    got = sorted(tuple(r) for r in out_df.collect())
    assert got == want and len(got) == 4

    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pfx" in plan
    assert "StartsWith(key,cu" in plan.replace(" ", ""), plan


def test_parser_classic_grammar():
    """Classic QueryParser completion (queryparser/classic/
    QueryParser.jj): &&/||/! aliases, field groups, escaping,
    q.op."""
    from lucene_solr_spark.search import ast as A

    assert A.parse_query("a && b") == A.parse_query("a AND b")
    assert A.parse_query("a || b") == A.parse_query("a OR b")
    assert A.parse_query("a !b") == A.parse_query("a NOT b")
    # field group scopes bare leaves; default field stays bare
    g = A.parse_query("text:(a || b) && c")
    assert g == A.AndQ((A.OrQ((A.TermQ("a"), A.TermQ("b"))), A.TermQ("c")))
    fg = A.parse_query("title:(a b)", fields=("text", "title"))
    assert fg == A.FieldedQ("title", A.OrQ((A.TermQ("a"), A.TermQ("b"))))
    # escapes: escaped specials are literal term text, never syntax
    assert A.parse_query(r"data\-base") == A.TermQ("data-base")
    assert A.parse_query(r"foo\*bar") == A.TermQ("foo*bar")
    assert A.parse_query(r"a\:b") == A.TermQ("a:b")
    assert A.parse_query(r"ti\~2") == A.TermQ("ti~2")
    assert A.parse_query(r"one\ term") == A.TermQ("one term")
    assert A.parse_query(r"\(paren\)") == A.TermQ("(paren)")
    # unescaped multi-term leaves unchanged
    assert A.parse_query("wild*") == A.PrefixQ("wild")
    assert A.parse_query("fz~1") == A.FuzzyQ("fz", max_edits=1)
    # q.op: implicit clauses flip to MUST; explicit OR stays SHOULD
    assert A.parse_query("a b", default_op="and") == A.AndQ(
        (A.TermQ("a"), A.TermQ("b")))
    assert A.parse_query("a OR b", default_op="and") == A.OrQ(
        (A.TermQ("a"), A.TermQ("b")))
    import pytest as _pt
    with _pt.raises(ValueError):
        A.parse_query("a b", default_op="xor")


def test_payload_score_functions(spark, offsets_index_tiny):
    """PayloadScoreQ min/max/avg/sum over offset payloads equals a
    per-doc numpy fold of the starts arrays; include_span_score
    multiplies the term's BM25 score (PayloadSpanScorer)."""
    import numpy as np

    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher

    idx = offsets_index_tiny
    s = Searcher(idx, mode="sql")
    rows = idx.postings.where(F.col("term") == "t000002").select(
        "docid", "starts").collect()
    starts = {r["docid"]: np.asarray(r["starts"], dtype=np.int64)
              for r in rows}
    assert starts
    for func, fold in (("min", np.min), ("max", np.max),
                       ("sum", np.sum),
                       ("avg", lambda a: float(np.sum(a)) / len(a))):
        got = {r["docid"]: float(r["score"]) for r in s.matches(
            A.PayloadScoreQ("t000002", func=func)).collect()}
        assert set(got) == set(starts)
        for d, a in starts.items():
            assert abs(got[d] - float(fold(a))) < 1e-9, (func, d)
    # include_span_score multiplies the BM25 term score
    base = {r["docid"]: float(r["score"]) for r in s.matches(
        A.TermQ("t000002")).collect()}
    got = {r["docid"]: float(r["score"]) for r in s.matches(
        A.PayloadScoreQ("t000002", func="max",
                        include_span_score=True)).collect()}
    for d, a in starts.items():
        assert abs(got[d] - float(np.max(a)) * base[d]) < 1e-9


@pytest.fixture(scope="module")
def offsets_seg_index(pages_tiny, tmp_path_factory):
    from lucene_solr_spark.index.segments import build_segment_index

    path = str(tmp_path_factory.mktemp("payidx") / "idx")
    return build_segment_index(pages_tiny, path, seg_size=128,
                               store_offsets=True)


def _f32_bits(df) -> list:
    return [(r["docid"], np.float32(r["score"]).tobytes())
            for r in sorted(df.collect(), key=lambda r: r["rank"])]


def test_payload_score_wand_fallback(offsets_seg_index, jobs_stages):
    """PayloadScoreQ over the segment index runs on the segment tier
    (the .pay stream read task-side, one job with one stage) and is
    bit-equal (docid and float32 score bits) to the flat evaluation
    for each payload function, with and without include_span_score."""
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.wand import WandSearcher

    si = offsets_seg_index
    ws = WandSearcher(si)
    flat = Searcher(si.as_flat_tables(with_offsets=True), mode="lucene")
    for func in ("min", "max", "sum", "avg"):
        for span in (False, True):
            q = A.PayloadScoreQ("t000002", func=func, include_span_score=span,
                                boost=1.3)
            a = _f32_bits(ws.search(q, k=10))
            assert a == _f32_bits(flat.search(q, k=10)) and len(a) > 0, \
                (func, span)
    assert jobs_stages(lambda: ws.search(q, k=10).collect()) == (1, 1)


def test_span_payload_check_segment_tier(offsets_seg_index, jobs_stages):
    """SpanPayloadCheckQ through WandSearcher.search on an offsets index
    (it raised "needs a payloads column or an index built with offsets"
    when it took the positions-only flat fallback): with the start
    offsets of an adjacent pair found in the data the answer is
    non-empty, and it is bit-equal to the flat executor over the
    positions+offsets tables; a mismatching payload gives the same
    empty answer on both. One job with one stage."""
    from lucene_solr_spark.search import ast as A
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.wand import WandSearcher

    si = offsets_seg_index
    flat_t = si.as_flat_tables(with_positions=True, with_offsets=True)
    occ = {}
    for r in flat_t.postings.where(F.col("term").isin(
            ["t000000", "t000001", "t000002"])).collect():
        for p, st in zip(r["positions"], r["starts"]):
            occ[(r["docid"], p)] = (r["term"], st)
    (d, p), (t1, s1) = next((dp, v) for dp, v in sorted(occ.items())
                            if (dp[0], dp[1] + 1) in occ)
    t2, s2 = occ[(d, p + 1)]
    ws = WandSearcher(si)
    flat = Searcher(flat_t, mode="lucene")
    q = A.SpanPayloadCheckQ((t1, t2), (s1, s2), boost=2.0)
    a = _f32_bits(ws.search(q, k=50))
    assert a == _f32_bits(flat.search(q, k=50)) and d in [x for x, _ in a]
    miss = A.SpanPayloadCheckQ((t1, t2), (s1, s2 + 1))
    assert _f32_bits(ws.search(miss, k=10)) == \
        _f32_bits(flat.search(miss, k=10)) == []
    assert jobs_stages(lambda: ws.search(q, k=10).collect()) == (1, 1)

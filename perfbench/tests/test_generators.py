"""The benchmark's inputs depend only on the seed."""

import re

import numpy as np

import querylog
from corpus import make_corpus


def test_corpus_is_deterministic_per_seed():
    a, b = make_corpus(40, seed=7), make_corpus(40, seed=7)
    assert a.urls == b.urls and a.texts == b.texts
    assert (a.df == b.df).all()
    assert make_corpus(40, seed=8).texts != a.texts


def test_corpus_document_does_not_depend_on_batch():
    whole = make_corpus(30, seed=3)
    tail = make_corpus(10, seed=3, first=20)
    assert tail.texts == whole.texts[20:]
    assert tail.urls == whole.urls[20:]


def test_interactive_log_is_deterministic_per_seed():
    corpus = make_corpus(300, seed=5)
    logs = [querylog.interactive_log(querylog.interactive_pool(corpus, s), s)
            for s in (5, 5, 6)]
    assert logs[0] == logs[1]
    assert logs[0] != logs[2]
    # same shape sequence for every seed: only the terms change
    assert [sh for sh, _ in logs[0]] == [sh for sh, _ in logs[2]]
    assert len(logs[0]) == len(querylog.ROUND) * querylog.LOG_ROUNDS


def test_warm_queries_share_no_term_with_the_pool():
    corpus = make_corpus(300, seed=5)
    pool = querylog.interactive_pool(corpus, 5)
    warm = querylog.warm_queries(corpus, pool, 5)
    assert warm == querylog.warm_queries(corpus, pool, 5)
    pooled = " ".join(q for qs in pool.values() for q in qs)
    for q in warm:
        for t in re.findall(r"t\d{6}", q):
            assert t not in pooled, (q, t)


def test_serve_log_and_arrivals_are_deterministic_per_seed():
    corpus = make_corpus(300, seed=5)
    pool = querylog.serve_pool(corpus, 5)
    assert pool == querylog.serve_pool(corpus, 5)
    assert querylog.serve_log(pool, 50, 5) == querylog.serve_log(pool, 50, 5)
    assert querylog.serve_log(pool, 50, 5) != querylog.serve_log(pool, 50, 6)
    a = querylog.arrivals(20.0, 5.0, seed=5)
    assert np.array_equal(a, querylog.arrivals(20.0, 5.0, seed=5))
    assert not np.array_equal(a, querylog.arrivals(20.0, 5.0, seed=6))
    assert len(a) == 100 and (np.diff(a) >= 0).all()
    assert 0.0 <= a[0] and a[-1] < 5.0


def test_phrases_occur_in_the_corpus():
    corpus = make_corpus(200, seed=2)
    rng = np.random.default_rng(0)
    for _ in range(20):
        phrase = querylog.sample_phrase(corpus, rng).strip('"')
        assert any(phrase in t for t in corpus.texts)


def test_round_head_covers_every_shape():
    head = querylog.ROUND[:querylog.ROUND_HEAD]
    assert {querylog.SHAPE[kind] for kind in head} == set(querylog.SHAPES)

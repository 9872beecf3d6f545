"""Seeded query pools, query logs and arrival schedules.

Every generator takes the seed and the corpus it queries, and returns
plain strings in the package's query syntax, so the same seed always
gives the same log.
"""

from __future__ import annotations

import re

import numpy as np

from corpus import _CDF, VOCAB_SIZE, Corpus, term

# One interactive "round" of 20 queries with the fixed shape mix:
# term 35% (df tiers high/med/low), AND2/3 20%, OR2/3 20%, NOT 5%,
# exact phrase 10%, nested (a AND b) OR c 10%. The order is fixed and
# puts every shape in the first ten queries, one phrase and one nested
# among eight fast flat ones, the nested last (it costs as much as five
# flat queries): a run that completes only the start of the log still
# sees every shape, and its median falls on flat queries.
ROUND = (
    "term_high", "and2", "or2", "not", "term_med",
    "phrase", "and3", "or3", "term_low", "nested",
    "term_high", "and2", "or2", "phrase", "term_med",
    "nested", "and3", "term_med", "or3", "term_low",
)
# the first queries of ROUND that cover every shape
ROUND_HEAD = 10
POOL_PER_KIND = 6
LOG_ROUNDS = 6

# shape reported in per-shape metrics for each kind
SHAPE = {
    "term_high": "term", "term_med": "term", "term_low": "term",
    "and2": "and", "and3": "and", "or2": "or", "or3": "or",
    "not": "not", "phrase": "phrase", "nested": "nested",
}
SHAPES = ("term", "and", "or", "not", "phrase", "nested")

# Serving pool: only shapes WandSearcher.search_many accepts.
SERVE_MIX = (("term", 18), ("and", 14), ("or", 16), ("not", 6),
             ("phrase", 10))


def df_tiers(corpus: Corpus) -> dict[str, np.ndarray]:
    """Term ids by document-frequency tier (FIXTURES section 2):
    high = the 20 most frequent terms, med = df near 1% of the docs,
    low = df between 2 and 10."""
    df = corpus.df
    n = len(corpus)
    order = np.argsort(-df, kind="stable")
    med = np.flatnonzero((df >= max(3, n // 200)) & (df <= max(6, n // 50)))
    low = np.flatnonzero((df >= 2) & (df <= 10))
    return {"high": order[:20], "med": med, "low": low}


def sample_phrase(corpus: Corpus, rng: np.random.Generator) -> str:
    """An exact two-term phrase copied from a random document, so it
    matches at least that document."""
    while True:
        toks = corpus.tokens[int(rng.integers(len(corpus)))]
        if len(toks) < 3:
            continue
        p = int(rng.integers(len(toks) - 1))
        a, b = int(toks[p]), int(toks[p + 1])
        if a >= 0 and b >= 0 and a != b:
            return f'"{term(a)} {term(b)}"'


def _distinct(rng, ids: np.ndarray, n: int) -> list[str]:
    return [term(int(t)) for t in rng.choice(ids, size=n, replace=False)]


def _interactive_query(kind: str, tiers, corpus, rng) -> str:
    hi, med, low = tiers["high"], tiers["med"], tiers["low"]
    if kind == "term_high":
        return _distinct(rng, hi, 1)[0]
    if kind == "term_med":
        return _distinct(rng, med, 1)[0]
    if kind == "term_low":
        return _distinct(rng, low, 1)[0]
    if kind == "and2":
        return f"{_distinct(rng, hi, 1)[0]} AND {_distinct(rng, med, 1)[0]}"
    if kind == "and3":
        a, b = _distinct(rng, hi, 2)
        return f"{a} AND {b} AND {_distinct(rng, med, 1)[0]}"
    if kind == "or2":
        return f"{_distinct(rng, med, 1)[0]} OR {_distinct(rng, low, 1)[0]}"
    if kind == "or3":
        return (f"{_distinct(rng, hi, 1)[0]} OR {_distinct(rng, med, 1)[0]}"
                f" OR {_distinct(rng, low, 1)[0]}")
    if kind == "not":
        return f"{_distinct(rng, hi, 1)[0]} NOT {_distinct(rng, med, 1)[0]}"
    if kind == "phrase":
        return sample_phrase(corpus, rng)
    if kind == "nested":
        return (f"({_distinct(rng, hi, 1)[0]} AND {_distinct(rng, med, 1)[0]})"
                f" OR {_distinct(rng, low, 1)[0]}")
    raise ValueError(kind)


def interactive_pool(corpus: Corpus, seed: int) -> dict[str, list[str]]:
    """POOL_PER_KIND distinct queries for every kind in ROUND."""
    rng = np.random.default_rng([seed, 1])
    tiers = df_tiers(corpus)
    pool: dict[str, list[str]] = {}
    for kind in dict.fromkeys(ROUND):
        qs: list[str] = []
        while len(qs) < POOL_PER_KIND:
            q = _interactive_query(kind, tiers, corpus, rng)
            if q not in qs:
                qs.append(q)
        pool[kind] = qs
    return pool


def warm_queries(corpus: Corpus, pool: dict[str, list[str]],
                 seed: int) -> list[str]:
    """A term, AND, OR and NOT query and an exact phrase that share no
    term with ``pool``. Run before the timed loop, they start the
    Python workers and warm the code paths of every flat shape and of
    the phrase stage, while the log's queries still reach the searcher
    with cold terms."""
    used = set(re.findall(r"t\d{6}", " ".join(q for qs in pool.values()
                                                for q in qs)))
    order = np.argsort(-corpus.df, kind="stable")
    free = [t for t in map(term, order.tolist()) if t not in used][:7]
    rng = np.random.default_rng([seed, 7])
    while True:
        phrase = sample_phrase(corpus, rng)
        if not used & set(re.findall(r"t\d{6}", phrase)):
            break
    a, b, c, d, e, f, g = free
    return [a, f"{b} AND {c}", f"{d} OR {e}", f"{f} NOT {g}", phrase]


def interactive_log(pool: dict[str, list[str]],
                    seed: int) -> list[tuple[str, str]]:
    """(shape, query) pairs: LOG_ROUNDS repetitions of ROUND, each slot
    filled with a seeded pick from that kind's pool."""
    rng = np.random.default_rng([seed, 2])
    return [(SHAPE[kind], pool[kind][int(rng.integers(len(pool[kind])))])
            for _ in range(LOG_ROUNDS) for kind in ROUND]


def _zipf_terms(rng, n: int) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        t = term(min(int(np.searchsorted(_CDF, rng.random())), VOCAB_SIZE - 1))
        if t not in out:
            out.append(t)
    return out


def serve_pool(corpus: Corpus, seed: int) -> list[tuple[str, str]]:
    """(shape, query) pairs with Zipf-drawn terms over the whole
    vocabulary, plus exact phrases copied from documents."""
    rng = np.random.default_rng([seed, 3])
    pool: list[tuple[str, str]] = []
    for shape, count in SERVE_MIX:
        for _ in range(count):
            if shape == "term":
                q = _zipf_terms(rng, 1)[0]
            elif shape == "and":
                q = " AND ".join(_zipf_terms(rng, 2 + int(rng.integers(2))))
            elif shape == "or":
                q = " OR ".join(_zipf_terms(rng, 2 + int(rng.integers(2))))
            elif shape == "not":
                a, b = _zipf_terms(rng, 2)
                q = f"{a} NOT {b}"
            else:
                q = sample_phrase(corpus, rng)
            pool.append((shape, q))
    return pool


def arrivals(rate: float, seconds: float, seed: int) -> np.ndarray:
    """Due times (seconds from the start) of an open-loop Poisson
    arrival process at ``rate`` per second, conditioned on its count:
    exactly round(rate * seconds) arrivals, uniform order statistics
    over [0, seconds)."""
    rng = np.random.default_rng([seed, 4])
    n = max(1, int(round(rate * seconds)))
    return np.sort(rng.uniform(0.0, seconds, n))


def serve_log(pool: list[tuple[str, str]], n: int,
              seed: int) -> list[tuple[str, str]]:
    """The (shape, query) sent at each of n arrivals."""
    rng = np.random.default_rng([seed, 5])
    return [pool[int(i)] for i in rng.integers(len(pool), size=n)]


def probe_queries(corpus: Corpus, seed: int) -> list[str]:
    """The fixed probe set run after each index change in the write
    phase: one of each flat shape and an exact phrase."""
    rng = np.random.default_rng([seed, 6])
    tiers = df_tiers(corpus)
    return [_interactive_query(kind, tiers, corpus, rng)
            for kind in ("term_med", "and2", "or2", "phrase")]

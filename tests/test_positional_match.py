"""The positional match layer (executor.exact_phrase_freqs,
automaton_freq, span_near_match): seeded fuzz against brute-force
itertools references. The segment kernels and the flat executor both
call these functions, so their duels cannot see a rule error; these
tests can."""

from __future__ import annotations

import itertools

import numpy as np

from lucene_solr_spark.search.executor import (automaton_freq,
                                               exact_phrase_freqs,
                                               span_near_match)

TERMS = ("a", "b", "c")


def _doc(rng) -> dict[str, np.ndarray]:
    """term -> ascending unique positions; a term may be absent."""
    return {t: np.unique(rng.integers(0, 14, rng.integers(1, 6)))
            for t in TERMS if rng.random() < 0.8}


def _brute_exact(slots, pos) -> int:
    """Distinct starts p0 of chains (p0, p0 + 1, ...) drawn one
    position per slot from the slot's terms."""
    slot_pos = [sorted({int(p) for t in s for p in pos.get(t, ())})
                for s in slots]
    return len({c[0] for c in itertools.product(*slot_pos)
                if all(c[i] == c[0] + i for i in range(len(c)))})


def test_fuzz_exact_phrase_and_multiphrase_freqs():
    rng = np.random.default_rng(5)
    for trial in range(300):
        slots = [tuple(rng.choice(TERMS, rng.integers(1, 3), replace=False))
                 for _ in range(rng.integers(1, 5))]
        docs = [_doc(rng) for _ in range(rng.integers(1, 6))]
        flat = {}
        for t in TERMS:
            held = [(i, d[t]) for i, d in enumerate(docs) if t in d]
            if held:
                flat[t] = (np.repeat([i for i, _ in held],
                                     [len(p) for _, p in held]),
                           np.concatenate([p for _, p in held]))
        di, freqs = exact_phrase_freqs(slots, flat)
        got = dict(zip(di.tolist(), freqs.tolist()))
        want = {i: f for i, d in enumerate(docs)
                for f in (_brute_exact(slots, d),) if f}
        assert got == want, (trial, slots, docs)


def _brute_starts(paths, pos) -> int:
    """Distinct starts s >= 0 such that some path has every real term
    t at offset off on position s + off (None = ANY)."""
    starts = set()
    for path in paths:
        slots = [(off, t) for off, t in enumerate(path) if t is not None]
        if any(t not in pos for _, t in slots):
            continue
        for c in itertools.product(*(pos[t] for _, t in slots)):
            s = {int(p) - off for p, (off, _) in zip(c, slots)}
            if len(s) == 1 and min(s) >= 0:
                starts |= s
    return len(starts)


def test_fuzz_automaton_start_set_with_any_gaps():
    rng = np.random.default_rng(6)
    choices = TERMS + (None,)
    for trial in range(300):
        paths, n_paths = [], int(rng.integers(1, 4))
        while len(paths) < n_paths:
            path = tuple(choices[i] for i in rng.integers(0, 4, rng.integers(1, 5)))
            if any(t is not None for t in path):
                paths.append(path)
        pos = _doc(rng)
        assert automaton_freq(paths, pos) == _brute_starts(paths, pos), (
            trial, paths, pos)


def _brute_near(p1, p2, slop, in_order) -> bool:
    return any((0 < y - x <= slop + 1) if in_order
               else (0 < abs(y - x) <= slop + 1)
               for x, y in itertools.product(p1, p2))


def test_fuzz_span_near_pair_test():
    rng = np.random.default_rng(7)
    for trial in range(400):
        slop = int(rng.integers(0, 4))
        in_order = bool(rng.integers(0, 2))
        p1 = np.unique(rng.integers(0, 20, rng.integers(1, 5)))
        p2 = np.unique(rng.integers(0, 20, rng.integers(1, 5)))
        assert span_near_match(p1, p2, slop, in_order) == _brute_near(
            p1, p2, slop, in_order), (trial, slop, in_order, p1, p2)
        # first == second: two distinct occurrences of the one term
        assert span_near_match(p1, p1, slop, in_order) == _brute_near(
            p1, p1, slop, in_order), (trial, slop, in_order, p1)
    assert not span_near_match(np.array([3]), np.array([3]), 2, False)
    assert not span_near_match(None, np.array([1]), 2, True)

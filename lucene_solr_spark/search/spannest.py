"""Nested span-query matching: the span rule of the positional match
layer (beside the phrase, automaton and span-near rules in
search/executor.py). One pure-numpy evaluator that the segment kernel
(wand.span_nested_topk) and the flat executor
(executor.Searcher._eval_positional) both call, so the two paths agree
bit-for-bit; tests/test_spannest.py checks it against a brute-force
all-chains reference.

Reference: lucene/core/src/java/org/apache/lucene/search/spans/
NearSpansOrdered.java (ordered sub-span chaining +
shrinkToAfterShortestMatch), SpanOrQuery.java (union of clause spans).
Spans follow Lucene's convention: [start, end) with end exclusive; a
term occurrence at position p is the span (p, p+1). The ordered-near
slop rule is NearSpansOrdered.atMatch's width test: a chain of
sub-spans s_1..s_m with end_i <= start_{i+1} matches when the total
gap sum(start_{i+1} - end_i) <= slop.

Documented deviation (mirrors the reference's own non-exhaustive
matching contract — SpanNearQuery javadoc: "matches which overlap ...
are not guaranteed"): for each candidate first-slot span, the chain is
built greedily, picking at every next slot the span with the smallest
end among those starting at-or-after the current end
(shrinkToAfterShortestMatch's discipline). For width-1 sub-spans
(terms, ORs of terms) the greedy chain has the provably minimal total
gap, so matching is EXACT at nesting depth <= 2; deeper nests (a near
inside a near) inherit the greedy heuristic.
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.search import ast as A

__all__ = ["leaf_terms", "slot_groups", "emit_spans", "nested_match"]


def leaf_terms(node) -> set[str]:
    """All index terms a span node consults."""
    if isinstance(node, str):
        return {node}
    if isinstance(node, A.SpanOrNQ):
        return set().union(*(leaf_terms(c) for c in node.clauses))
    if isinstance(node, A.SpanNearNQ):
        return set().union(*(leaf_terms(c) for c in node.clauses))
    raise TypeError(f"not a span node: {type(node).__name__}")


def slot_groups(node) -> list[tuple[str, ...]]:
    """Phase-1 conjunction groups: a matching doc must contain >= 1
    term of EVERY group (the docid-level necessary condition of the
    span match — each near slot needs some clause present, and an OR
    slot needs any of its leaves). Exactly the multiphrase kernel's
    slot-union shape, so the same interval-sweep conjunction drives
    candidate generation."""
    if isinstance(node, str):
        return [(node,)]
    if isinstance(node, A.SpanOrNQ):
        # an OR slot is satisfied by any leaf, nested or not
        return [tuple(sorted(leaf_terms(node)))]
    if isinstance(node, A.SpanNearNQ):
        out: list[tuple[str, ...]] = []
        for c in node.clauses:
            out.extend(slot_groups(c))
        return out
    raise TypeError(f"not a span node: {type(node).__name__}")


def _term_spans(pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    p = np.asarray(pos, dtype=np.int64)
    return p, p + 1


def emit_spans(node, pos: dict[str, np.ndarray]
               ) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the node's match spans within ONE document,
    sorted by (start, end), deduplicated. ``pos`` maps term ->
    ascending position array; absent terms have no occurrences."""
    if isinstance(node, str):
        p = pos.get(node)
        if p is None or len(p) == 0:
            return _EMPTY
        return _term_spans(p)
    if isinstance(node, A.SpanOrNQ):
        parts = [emit_spans(c, pos) for c in node.clauses]
        parts = [(s, e) for s, e in parts if len(s)]
        if not parts:
            return _EMPTY
        s = np.concatenate([p[0] for p in parts])
        e = np.concatenate([p[1] for p in parts])
        order = np.lexsort((e, s))
        s, e = s[order], e[order]
        keep = np.ones(len(s), dtype=bool)
        keep[1:] = (s[1:] != s[:-1]) | (e[1:] != e[:-1])
        return s[keep], e[keep]
    if isinstance(node, A.SpanNearNQ):
        subs = [emit_spans(c, pos) for c in node.clauses]
        if any(len(s) == 0 for s, _ in subs):
            return _EMPTY
        s0, e0 = subs[0]
        cur_end = e0.copy()
        gap = np.zeros(len(s0), dtype=np.int64)
        alive = np.ones(len(s0), dtype=bool)
        for ss, ee in subs[1:]:
            # among spans with start >= cur_end, pick the smallest
            # (end, start): suffix argmin over the start-sorted list
            n = len(ss)
            best = np.empty(n, dtype=np.int64)
            bi = n - 1
            for i2 in range(n - 1, -1, -1):
                if (ee[i2], ss[i2]) <= (ee[bi], ss[bi]):
                    bi = i2
                best[i2] = bi
            idx = np.searchsorted(ss, cur_end, side="left")
            ok = alive & (idx < n)
            idx_c = np.where(ok, idx, 0)
            chosen = best[idx_c]
            gap = np.where(ok, gap + ss[chosen] - cur_end, gap)
            cur_end = np.where(ok, ee[chosen], cur_end)
            alive = ok
        alive &= gap <= int(node.slop)
        if not alive.any():
            return _EMPTY
        s, e = s0[alive], cur_end[alive]
        order = np.lexsort((e, s))
        s, e = s[order], e[order]
        keep = np.ones(len(s), dtype=bool)
        keep[1:] = (s[1:] != s[:-1]) | (e[1:] != e[:-1])
        return s[keep], e[keep]
    raise TypeError(f"not a span node: {type(node).__name__}")


def nested_match(node, pos: dict[str, np.ndarray]) -> bool:
    """Whether the document matches (>= 1 emitted span)."""
    return len(emit_spans(node, pos)[0]) > 0


_EMPTY = (np.empty(0, np.int64), np.empty(0, np.int64))

"""Block-max WAND top-k execution over the segment index (M3).

The read path of EP2 (SURVEY §3) at block granularity:

  reference                                this engine
  ---------                                -----------
  per-leaf scorer tree + BulkScorer        one mapInPandas task per
    (IndexSearcher.search(leaves,...))       segment, numpy kernel inside
  ConjunctionDISI leapfrog / WAND          interval sweep over the merged
    (ConjunctionDISI.java:193-227;           block-boundary grid with
     Broder et al. CIKM'03)                  block-max pruning
  block-max metadata (extension per        per-block (max_tf, max_norm)
    Ding & Suel SIGIR'11 — this Lucene       -> float32 score upper bound
    snapshot predates impacts)               via BM25.block_max_bound
  multi-level skip list advance()          numpy searchsorted over the
    (Lucene50SkipReader)                     skip_last_doc arrays (log-time)
  TopScoreDocCollector bounded heap        per-segment top-k arrays with
    (TopScoreDocCollector.java:63-80)        float32 threshold theta
  TopDocs.merge tie-breaks                 coordinator merge on the driver:
    (TopDocs.java:96-110; Solr               np.lexsort (score desc, docid
     QueryComponent.mergeIds)                asc) over <= k rows per task

Correctness invariants (duel-tested against the flat executor and the
numpy oracle):

- Exact float32 score parity: per-term score = float32 BM25 with
  byte315 norms; multi-term sums accumulate in float64 in canonical
  clause-key order (sorted term) and downcast — identical to
  executor.py's fold, so WAND and exhaustive results are bit-equal.
- Safe pruning: an interval is skipped only when
  float32(sum_f64 of per-term block bounds) <= theta. Per-doc score
  is float32(sum_f64 of per-term scores) with each term score <= its
  block bound; float64 summation of <=2048 float32 terms is exact and
  round-to-nearest is monotone, so skipped intervals cannot contain a
  doc that beats the heap bottom (equal scores lose the docid
  tie-break to earlier-collected docs because intervals are processed
  in docid order — the same reasoning as TopScoreDocCollector's
  ``score <= pqTop.score`` reject).

Scale: one Spark task per segment (per segment and query shard in a
batch), dealt by a ``spark.range`` task list with no scan and no
exchange before it; each task reads its own segment's metadata rows,
payloads and norms (term-pruned parquet reads), decodes only blocks
whose bound beats theta, and emits k rows per query. A search() or a
search_many() batch is ONE Spark job with one stage (that task map),
run when called (after one _expand job for multi-term leaves); the
driver reads global df itself (_global_df) and
merges the task rows in O(segments * k) into a local frame whose
collect starts no job (merge_topk).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from itertools import groupby
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.functions.bm25 import BM25
from lucene_solr_spark.index.codec import (
    EncodedPosting,
    block_last_docs,
    decode_nth_block,
)
from lucene_solr_spark.index.segments import SegmentIndex
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.search.executor import (
    POSITIONAL, _collect_terms, _union, automaton_freq, exact_phrase_freqs,
    multiphrase_rpt_groups, phrase_weight, positional_idf_terms,
    sloppy_phrase_freq, span_near_match)
from lucene_solr_spark.search.spannest import emit_spans, leaf_terms, slot_groups


@dataclass
class WandStats:
    """Pruning telemetry (per kernel call)."""
    blocks_total: int = 0
    blocks_decoded: int = 0
    intervals_total: int = 0
    intervals_scored: int = 0


def _block_bounds(bm25: BM25, w, ep) -> np.ndarray:
    """Per logical block score upper bounds. Baseline: the single
    (max_tf, max_norm) pair. When the posting carries impact frontiers
    (impacts_tf/impacts_norm per FULL block — codec.impact_frontier),
    full blocks tighten to max over the pareto pairs: the true
    in-block maximum is attained on the skyline, so this bound is
    exact-per-block instead of the corner overestimate (high-tf docs
    that are long no longer inflate the bound). Tail/singleton blocks
    keep the baseline pair."""
    base = bm25.block_max_bound(
        w,
        np.asarray(ep.blockmax_tf, dtype=np.int64),
        np.asarray(ep.blockmax_norm, dtype=np.int64)).astype(np.float32)
    imp_tf = getattr(ep, "impacts_tf", None)
    if imp_tf:
        counts = np.fromiter((len(x) for x in imp_tf), dtype=np.int64,
                             count=len(imp_tf))
        if counts.sum() and (counts > 0).all():
            flat_tf = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in imp_tf])
            flat_nb = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in ep.impacts_norm])
            s = bm25.score(np.full(len(flat_tf), np.float32(w), np.float32),
                           flat_tf, flat_nb)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            tight = np.maximum.reduceat(s, starts)
            n = len(counts)
            base[:n] = np.minimum(base[:n], tight)
    return base


def _decode_block_cached(ep, j: int):
    """decode_nth_block through the worker-global decoded-array LRU
    (enabled when the posting carries a cache_key — set by
    _segment_postings; arrays are shared READ-ONLY, the kernel only
    slices them)."""
    ck = getattr(ep, "cache_key", None)
    if ck is None:
        return decode_nth_block(ep, j)
    hit = _lru_get(_DECODED_CACHE, (ck, j))
    if hit is None:
        hit = decode_nth_block(ep, j)
        _lru_put(_DECODED_CACHE, (ck, j), hit, _DECODED_CACHE_BLOCKS)
    return hit


def _decode_full_cached(ep) -> tuple[np.ndarray, np.ndarray]:
    """Full (docids, tfs) of a posting through the worker-global
    decoded-postings LRU (element-budgeted; keyed on the immutable
    index cell like _PAYLOAD_CACHE — the reused-enum discipline of
    Lucene50PostingsReader's postings reuse). Arrays are shared
    READ-ONLY."""
    from lucene_solr_spark.index.codec import decode_posting

    ck = getattr(ep, "cache_key", None)
    if ck is None:
        return decode_posting(ep)
    hit = _lru_get(_FULLDEC_CACHE, ck)
    if hit is None:
        hit = decode_posting(ep)
        global _FULLDEC_ELEMS
        _FULLDEC_ELEMS += len(hit[0])
        _FULLDEC_CACHE[ck] = hit
        while _FULLDEC_ELEMS > _FULLDEC_CACHE_MAX_ELEMS and len(_FULLDEC_CACHE) > 1:
            _, old = _FULLDEC_CACHE.popitem(last=False)
            _FULLDEC_ELEMS -= len(old[0])
    return hit


# sum-of-df crossover below which one fused fold over fully decoded
# postings beats the per-interval WAND sweep (the sweep's Python loop
# costs ~10-25 ms/query on 65k-doc segments while one numpy pass over
# every posting costs ~1-3 ms; at production segment sizes the sweep's
# theta pruning wins and this path steps aside).
EXHAUSTIVE_MAX_NDOCS = 1 << 19


def _decoded(ep, stats: WandStats) -> tuple[np.ndarray, np.ndarray]:
    """A posting's full (docids, tfs); all of its blocks count as
    decoded."""
    n_blocks = max(1, ep.n_full_blocks + int(ep.has_tail))
    stats.blocks_total += n_blocks
    stats.blocks_decoded += n_blocks
    return _decode_full_cached(ep)


def _term_hits(ep, w32, norms: np.ndarray, doc_base: int, bm25: BM25,
               stats: WandStats) -> tuple[np.ndarray, np.ndarray]:
    """Every (docid, f32 BM25) of one posting — TermQuery's scorer over
    the whole posting."""
    d, tf = _decoded(ep, stats)
    return d, bm25.score(np.full(len(d), np.float32(w32), np.float32), tf,
                         norms[d - doc_base])


def _boost(s32: np.ndarray, boost: float) -> np.ndarray:
    """BoostQuery as the flat executor applies it after scoring:
    f32(f64(score) * f32(boost))."""
    if boost == 1.0:
        return s32
    return (s32.astype(np.float64) * np.float64(np.float32(boost))).astype(
        np.float32)


def _fold(parts: list[list[tuple]], need: int,
          tie: float | None = None) -> tuple[np.ndarray, np.ndarray]:
    """The flat executor's clause fold (AND, OR with msm, DisMax) over
    per-clause (docids ascending, f32 scores) hits.

    ``parts``: the clauses in sorted clause-key order, as groups of
    clauses with EQUAL keys. Per doc the f64 sum runs in that order and,
    inside a group, in ascending score order (the flat OR sorts each
    doc's (key, score) pairs). Keeps docs matched by at least ``need``
    clauses; with ``tie`` the score is DisjunctionMaxScorer's
    max + tie * (sum - max). One f32 downcast."""
    ds = [d for g in parts for d, _ in g if len(d)]
    if not ds:
        return _no_hits()
    docs = _union(ds)
    acc = np.zeros(len(docs))
    top = np.full(len(docs), -np.inf)
    cnt = np.zeros(len(docs), np.int32)
    for g in parts:
        cols = [(np.searchsorted(docs, d), s.astype(np.float64)) for d, s in g]
        if len(g) > 1:
            m = np.full((len(g), len(docs)), np.inf)
            for row, (i, s) in zip(m, cols):
                row[i] = s
            m.sort(axis=0)
            cols = [(np.flatnonzero(row < np.inf), row[row < np.inf])
                    for row in m]
        for i, s in cols:
            acc[i] += s
            cnt[i] += 1
            if tie is not None:
                top[i] = np.maximum(top[i], s)
    if tie is not None:
        acc = top + np.float64(tie) * (acc - top)
    keep = cnt >= need
    return docs[keep], acc[keep].astype(np.float32)


def _without(hits: tuple, docids) -> tuple[np.ndarray, np.ndarray]:
    """``hits`` minus the docs in ``docids`` (ReqExclScorer); both
    sides unique."""
    if docids is None or not len(docids):
        return hits
    keep = ~np.isin(hits[0], docids, assume_unique=True)
    return hits[0][keep], hits[1][keep]


def boolean_topk(
    postings: dict[str, EncodedPosting],
    weights: dict[str, np.float32],
    norms: np.ndarray,
    doc_base: int,
    bm25: BM25,
    k: int,
    msm: int = 1,
    exclude: np.ndarray | None = None,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k of a flat term AND/OR (msm) with an optional MUST_NOT
    docid set, by a cost model (Lucene's BooleanWeight chooses
    BooleanScorer vs WAND-pruned scorers the same way): small summed
    segment-local df -> the term leaves through one _fold, the bulk
    tier that scores whole postings without advancing iterators;
    large -> the block-max WAND sweep. Both are bit-equal."""
    if sum(ep.ndocs for ep in postings.values()) > EXHAUSTIVE_MAX_NDOCS:
        return wand_topk(postings, weights, norms, doc_base, bm25, k,
                         msm=msm, exclude=exclude, stats=stats)
    st = stats if stats is not None else WandStats()
    top = _TopK(k)
    top.push(*_without(_fold([[_term_hits(postings[t], weights[t], norms,
                                          doc_base, bm25, st)]
                               for t in sorted(postings)], msm), exclude))
    return top.result()


class _Grid:
    """The interval sweep every block-grid kernel runs — the
    ConjunctionDISI / WAND advance over skip data, as one merged
    block-boundary grid (ICDE'25 "Columnar Formatted Inverted Index":
    one vectorized operator over decoded blocks, the query shape
    supplied as data).

    ``postings`` maps a key (a term, a (term, field) pair — any
    hashable) to its posting. Interval i covers docids
    (bounds[i-1], bounds[i]]; ``j[key][i]`` is the key's active block
    there (the first block whose last doc >= bounds[i]) and
    ``ok[key][i]`` says the posting is not exhausted. A block decodes
    at most once per grid, counted in ``stats.blocks_decoded``."""

    def __init__(self, postings: dict, stats: WandStats | None):
        self.postings = postings
        self.stats = stats if stats is not None else WandStats()
        lasts = {}
        for key, ep in postings.items():
            # only a tail block needs the posting's last doc: group rows
            # carry it as metadata, a plain posting decodes its tail
            last = -1
            if ep.has_tail:
                last = int(getattr(ep, "last_doc", -1))
                if last < 0:
                    last = int(_decode_block_cached(
                        ep, ep.n_full_blocks)[0][-1])
            lasts[key] = block_last_docs(ep, last)
        self.bounds = np.unique(np.concatenate(list(lasts.values())))
        self.n = len(self.bounds)
        self.j = {key: np.searchsorted(ld, self.bounds, side="left")
                  for key, ld in lasts.items()}
        self.ok = {key: self.j[key] < len(ld) for key, ld in lasts.items()}
        self._decoded: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
        self.stats.blocks_total += sum(len(ld) for ld in lasts.values())
        self.stats.intervals_total += self.n

    def at(self, key, per_block, fill) -> np.ndarray:
        """``per_block`` of the key's active block in every interval,
        ``fill`` where the posting is exhausted."""
        per_block = np.asarray(per_block)
        out = np.full(self.n, fill, dtype=per_block.dtype)
        ok = self.ok[key]
        out[ok] = per_block[self.j[key][ok]]
        return out

    def max_tf(self, key) -> np.ndarray:
        return self.at(key, np.asarray(self.postings[key].blockmax_tf,
                                       dtype=np.int64), 0)

    def max_norm(self, key) -> np.ndarray:
        return self.at(key, np.asarray(self.postings[key].blockmax_norm,
                                       dtype=np.int64), 255)

    def live(self, groups, need: int | None = None) -> np.ndarray:
        """Intervals where at least ``need`` groups (default: all) have
        an active key; a group is a tuple of keys."""
        n_act = sum(reduce(np.logical_or, [self.ok[k] for k in g])
                    .astype(np.int32) for g in groups)
        return n_act >= (len(groups) if need is None else need)

    def cheapest_first(self, groups) -> list[tuple]:
        """The distinct groups by (summed df, keys): the conjunction
        order, ConjunctionDISI's cheapest-lead rule."""
        return sorted({tuple(g) for g in groups}, key=lambda g: (
            sum(self.postings[k].ndocs for k in g), g))

    def lo_hi(self, i: int) -> tuple[int, int]:
        return (int(self.bounds[i - 1]) if i > 0 else -1,
                int(self.bounds[i]))

    def block(self, key, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(docids, tfs) of the key's active block in interval i,
        decoded on first use; empty when the posting is exhausted."""
        if not self.ok[key][i]:
            return _EMPTY_BLOCK
        bk = (key, int(self.j[key][i]))
        hit = self._decoded.get(bk)
        if hit is None:
            hit = self._decoded[bk] = _decode_block_cached(
                self.postings[key], bk[1])
            self.stats.blocks_decoded += 1
        return hit

    def slice(self, key, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(docids, tfs) of the key's posting inside interval i."""
        docs, tfs = self.block(key, i)
        lo, hi = self.lo_hi(i)
        a = np.searchsorted(docs, lo, side="right")
        b = np.searchsorted(docs, hi, side="right")
        return docs[a:b], tfs[a:b]


_EMPTY_BLOCK = (np.empty(0, np.int64), np.empty(0, np.int64))


class _TopK:
    """TopScoreDocCollector's bounded heap as sorted arrays: the k best
    hits pushed so far by (score desc, docid asc). TWO thresholds with
    different tie semantics (conflating them either weakens pruning or
    drops seed-tied docs):

    - theta: the LOCAL kth score once k hits are held; prunes <=
      (intervals ascend in docid, so equal scores lose the tie-break to
      earlier-collected docs — ``score <= pqTop.score``).
    - floor (theta0): the cross-segment seed; prunes STRICTLY < at all
      times, full or not (a doc below another segment's kth can never
      reach the global top-k; ties at the seed are KEPT so the global
      docid tie-break stays exact). Never lowered by a local kth.

    A constant-score kernel pushes with ub = its constant: once full,
    theta equals it and every later interval is skipped — exact early
    termination at k matches."""

    def __init__(self, k: int, theta0: float = -np.inf):
        self.k = k
        self.floor = np.float32(theta0)
        self.theta = np.float32(-np.inf)
        self.docs = np.empty(0, np.int64)
        self.scores = np.empty(0, np.float32)

    def skip(self, ub) -> bool:
        """True when no doc scoring at most ``ub`` can enter."""
        return ub <= self.theta or ub < self.floor

    def push(self, docs: np.ndarray, scores: np.ndarray) -> None:
        keep = (scores > self.theta) & (scores >= self.floor)
        if not keep.any():
            return
        md = np.concatenate([self.docs, docs[keep]])
        ms = np.concatenate([self.scores, scores[keep]])
        order = np.lexsort((md, -ms.astype(np.float64)))[:self.k]
        self.docs, self.scores = md[order], ms[order]
        if len(self.scores) >= self.k:
            self.theta = self.scores[-1]

    def result(self) -> tuple[np.ndarray, np.ndarray]:
        return self.docs, self.scores


def _conjoin(grid: _Grid, groups: list[tuple], i: int) -> np.ndarray | None:
    """Docids of interval i present in EVERY group, where a group's
    docid set is the union of its keys' (MultiPhraseQuery's
    UnionPostingsEnum). ``groups`` come cheapest first
    (_Grid.cheapest_first): a later group's blocks decode only while
    the intersection is non-empty. None when it is empty."""
    inter = None
    for g in groups:
        parts = [d for d in (grid.slice(key, i)[0] for key in g) if len(d)]
        if not parts:
            return None
        d = _union(parts)
        inter = d if inter is None else np.intersect1d(
            inter, d, assume_unique=True)
        if len(inter) == 0:
            return None
    return inter


def _rows_holding(grid: _Grid, t, inter: np.ndarray, i: int) -> np.ndarray:
    """Indices of the ``inter`` docs (all in interval i) that t's
    active block holds — both sorted and unique, so a searchsorted
    probe, no sort."""
    d = grid.block(t, i)[0]
    at = np.searchsorted(d, inter)
    hit = at < len(d)
    hit[hit] = d[at[hit]] == inter[hit]
    return np.nonzero(hit)[0]


def _positions_by_doc(grid: _Grid, terms, inter: np.ndarray,
                      i: int) -> list[dict[str, np.ndarray]]:
    """Per intersection doc, {term: positions} of the ``terms`` whose
    interval-i slice holds it — .pos payloads fetched lazily per group
    for those docs only (the TwoPhaseIterator verify step)."""
    out: list[dict[str, np.ndarray]] = [{} for _ in range(len(inter))]
    for t in terms:
        rows = _rows_holding(grid, t, inter, i)
        if len(rows):
            for oi, arr in zip(rows, _positions_for(grid.postings[t],
                                                    inter[rows])):
                out[oi][t] = arr.astype(np.int64, copy=False)
    return out


def _no_hits() -> tuple[np.ndarray, np.ndarray]:
    return np.empty(0, np.int64), np.empty(0, np.float32)


def wand_topk(
    postings: dict[str, EncodedPosting],
    weights: dict[str, np.float32],
    norms: np.ndarray,
    doc_base: int,
    bm25: BM25,
    k: int,
    msm: int = 1,
    exclude: np.ndarray | None = None,
    theta0: float = -np.inf,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Numpy block-max WAND kernel for ONE segment.

    postings: query term -> EncodedPosting (terms absent from the
    segment simply don't appear). weights: float32 per-term weight
    (boost * idf * (k1+1), global stats). norms: dense uint8 norm
    array indexed by docid - doc_base. msm: minimum matching terms
    (len(postings) for pure AND, 1 for OR). exclude: sorted docid
    array of MUST_NOT matches within this segment. theta0: initial
    threshold (enables cross-segment threshold passing).

    Interval bound: the f64 sum of the active terms' block bounds
    (_block_bounds), downcast. Returns (docids, scores_float32) of up
    to k hits sorted by (score desc, docid asc).
    """
    terms = sorted(postings)  # canonical clause-key order == sorted term
    if len(terms) < msm or not terms:
        return _no_hits()
    grid = _Grid({t: postings[t] for t in terms}, stats)
    w = {t: np.float32(weights[t]) for t in terms}
    ub = sum(grid.at(t, _block_bounds(bm25, weights[t], postings[t]), 0)
             .astype(np.float64) for t in terms).astype(np.float32)

    # Cost-ordered lead-driven candidate filter (ConjunctionDISI's
    # "two cheapest lead, others confirm", generalized by pigeonhole to
    # n-of-m: every match occurs in at least one of the (m - msm + 1)
    # lowest-df terms). Leads decode lazily, only in intervals that
    # survive the theta test, so pruned intervals cost them neither
    # decode CPU nor payload IO. For pure OR the block-max bound is
    # the only pruning.
    leads = (sorted(terms, key=lambda t: postings[t].ndocs)
             [: len(terms) - msm + 1] if msm >= 2 else None)
    top = _TopK(k, theta0)
    for i in np.nonzero(grid.live([(t,) for t in terms], msm))[0]:
        if top.skip(ub[i]):
            continue
        if leads is not None and not any(
                len(grid.slice(t, i)[0]) for t in leads):
            continue
        grid.stats.intervals_scored += 1
        hits = [(d, bm25.score(np.full(len(d), w[t], np.float32), tf,
                               norms[d - doc_base]))
                for t in terms for d, tf in (grid.slice(t, i),) if len(d)]
        top.push(*_without(_fold([[h] for h in hits], msm), exclude))
    return top.result()


def _positions_flat(ep, docids: np.ndarray) -> tuple[np.ndarray,
                                                     np.ndarray]:
    """Flat (idx_rep, positions) dispatch: GroupedPosting has the
    vectorized segmented-cumsum path; anything else flattens the
    per-doc lists."""
    if hasattr(ep, "positions_flat"):
        return ep.positions_flat(docids)
    lists = _positions_for(ep, docids)
    lens = np.fromiter((len(p) for p in lists), np.int64, len(lists))
    idx = np.repeat(np.arange(len(lists), dtype=np.int64), lens)
    pos = (np.concatenate(lists) if lists
           else np.empty(0, np.int64))
    return idx, pos.astype(np.int64, copy=False)


def _positions_for(ep, docids: np.ndarray) -> list[np.ndarray]:
    """positions_for dispatch: GroupedPosting fetches its .pos payload
    lazily per group; a plain EncodedPosting (kernel-level tests)
    decodes its own pos_enc once and slices."""
    if hasattr(ep, "positions_for"):
        return ep.positions_for(docids)
    from lucene_solr_spark.index.codec import decode_posting, read_vints_arr

    cached = getattr(ep, "_pos_decoded", None)
    if cached is None:
        docs, tfs = decode_posting(ep)
        if not ep.pos_enc:
            raise ValueError("posting has no positions")
        vals = read_vints_arr(ep.pos_enc)
        starts = np.concatenate(([0], np.cumsum(tfs)))
        cached = (docs, tfs, vals, starts)
        ep._pos_decoded = cached
    docs, tfs, vals, starts = cached
    idxs = np.searchsorted(docs, np.asarray(docids, dtype=np.int64))
    out = []
    for ii in idxs:
        ii = int(ii)
        s, t = int(starts[ii]), int(tfs[ii])
        out.append(np.cumsum(vals[s:s + t]))
    return out


def phrase_topk(
    terms: list[str],
    postings: dict[str, "object"],
    weight: np.float32,
    norms: np.ndarray,
    doc_base: int,
    bm25: BM25,
    k: int,
    slop: int = 0,
    stats: WandStats | None = None,
    collect_freqs: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Segment-native two-phase phrase kernel — the reference's
    ExactPhraseScorer / SloppyPhraseScorer discipline: multiphrase_topk
    over single-term slots, with their multiphrase_rpt_groups repeat
    groups (slots of one term), as the flat executor runs a PhraseQ.

    weight: f32(boost * f32(sum idf over the SLOT array) * (k1+1)) —
    the flat executor's phrase weight. Returns top-k (docids, float32
    scores) by (score desc, docid asc); with ``collect_freqs`` ALL
    matches' (docids, float64 phrase freqs), unpruned.
    """
    slots = [(t,) for t in terms]
    groups, multi_term = multiphrase_rpt_groups(slots, slop)
    return multiphrase_topk(
        slots, postings, weight, norms, doc_base, bm25, k, slop=slop,
        groups=groups, multi_term=multi_term, stats=stats,
        collect_freqs=collect_freqs)


def multiphrase_topk(
    slots: list[tuple[str, ...]],
    postings: dict[str, "object"],
    weight: np.float32,
    norms: np.ndarray,
    doc_base: int,
    bm25: BM25,
    k: int,
    slop: int = 0,
    groups: list[list[int]] | None = None,
    multi_term: bool = False,
    stats: WandStats | None = None,
    collect_freqs: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Segment-native two-phase MultiPhrase kernel
    (search/MultiPhraseQuery.java's UnionPostingsEnum over each slot,
    driven by ConjunctionDISI + TwoPhaseIterator like
    ExactPhraseScorer); phrase_topk is this over single-term slots.

    phase 1: an interval is live only where EVERY slot has an active
    term; slots (a slot's docids = the union of its terms') intersect
    cheapest first, so a rare-led phrase does O(df_rare) work — the
    head term's blocks decode only in intervals the rare term reaches.

    phase 2: .pos payloads are fetched lazily per group for
    intersection docs only. slop=0: executor.exact_phrase_freqs over
    the flat (doc index, position) arrays of all intersection docs at
    once, no per-doc Python loop. slop>0: executor.sloppy_phrase_freq
    per doc with the caller's rptGroups (groups/multi_term, from
    multiphrase_rpt_groups as the flat executor takes them).

    Pruning: per-interval bound = f32 BM25 of (tf_bound, min active
    block-max norm byte), tf_bound = min over slots of the slot's
    summed block-max tfs for slop=0 (an exact occurrence consumes a
    position of every slot) or the all-slot sum for slop>0 (sloppy
    freq adds <= 1 per PhrasePositions advance). Monotone in tf and
    norm byte, so skipped intervals cannot beat theta.

    weight: f32(boost * f32(sum idf over ALL DISTINCT slot terms) *
    (k1+1)) — the flat MultiPhraseQ weight. ``collect_freqs``:
    return ALL matches' (docids, float64 freqs) with no theta pruning
    (WandSearcher.phrase_freqs).
    """
    slot_terms = [tuple(t for t in slot if t in postings) for slot in slots]
    if not slots or any(not s for s in slot_terms):
        return _no_hits()
    uniq = sorted({t for s in slot_terms for t in s})
    grid = _Grid({t: postings[t] for t in uniq}, stats)
    slot_tf = [sum(grid.max_tf(t) for t in s) for s in slot_terms]
    tf_bound = reduce(np.minimum if slop == 0 else np.add, slot_tf)
    nb_min = reduce(np.minimum, [grid.max_norm(t) for t in uniq])
    ub = bm25.score(np.full(grid.n, np.float32(weight), np.float32),
                    tf_bound, nb_min)
    conj = grid.cheapest_first(slot_terms)
    top = _TopK(k)
    out_d: list[np.ndarray] = []
    out_f: list[np.ndarray] = []
    for i in np.nonzero(grid.live(conj))[0]:
        if not collect_freqs and top.skip(ub[i]):
            continue
        inter = _conjoin(grid, conj, i)
        if inter is None:
            continue
        grid.stats.intervals_scored += 1
        freqs = np.zeros(len(inter), dtype=np.float64)
        if slop == 0:
            flat = {}
            for t in uniq:
                rows = _rows_holding(grid, t, inter, i)
                if len(rows):
                    di, pos = _positions_flat(postings[t], inter[rows])
                    flat[t] = (rows[di], pos)
            di, counts = exact_phrase_freqs(slot_terms, flat)
            freqs[di] = counts
        else:
            for di, pos in enumerate(_positions_by_doc(grid, uniq, inter, i)):
                freqs[di] = sloppy_phrase_freq(slot_terms, pos, slop,
                                               groups, multi_term)
        mask = freqs > 0
        if not mask.any():
            continue
        cand, f = inter[mask], freqs[mask]
        if collect_freqs:
            out_d.append(cand)
            out_f.append(f)
            continue
        top.push(cand, bm25.score(
            np.full(len(cand), np.float32(weight), np.float32), f,
            norms[cand - doc_base]))
    if collect_freqs:
        return (np.concatenate(out_d) if out_d else np.empty(0, np.int64),
                np.concatenate(out_f) if out_f else np.empty(0, np.float64))
    return top.result()


def span_near_topk(
    first: str,
    second: str,
    postings: dict[str, "object"],
    boost: float,
    k: int,
    slop: int = 0,
    in_order: bool = True,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Segment-native two-phase SpanNear kernel (search/spans/
    SpanNearQuery.java semantics): a doc matches when
    executor.span_near_match, the flat executor's pair test too, finds
    an occurrence pair 0 < p2 - p1 <= slop + 1 (in_order) or
    0 < |p2 - p1| <= slop + 1 (unordered).

    phase 1: the two terms' docid conjunction on the block grid.
    phase 2: .pos payloads fetched lazily per group for intersection
    docs only.

    The score is CONSTANT (float32(boost), the flat executor's span
    score), so theta pruning degenerates to early termination: matches
    arrive in ascending docid order and equal scores lose the
    (score desc, docid asc) tie-break to earlier docids, so the sweep
    stops after the first k matches — O(first-k) block decodes for
    head terms instead of O(df).

    Returns (docids, float32 scores) — at most k, ascending docid.
    """
    if first not in postings or second not in postings:
        return _no_hits()
    grid = _Grid({t: postings[t] for t in sorted({first, second})}, stats)
    conj = grid.cheapest_first([(first,), (second,)])
    score = np.float32(boost)
    top = _TopK(k)
    for i in np.nonzero(grid.live(conj))[0]:
        if top.skip(score):
            continue
        inter = _conjoin(grid, conj, i)
        if inter is None:
            continue
        grid.stats.intervals_scored += 1
        p1s = _positions_for(postings[first], inter)
        p2s = (p1s if second == first
               else _positions_for(postings[second], inter))
        keep = np.array([span_near_match(p1, p2, slop, in_order)
                         for p1, p2 in zip(p1s, p2s)], dtype=bool)
        top.push(inter[keep], np.full(int(keep.sum()), score))
    return top.result()


def span_nested_topk(
    node,
    postings: dict[str, "object"],
    boost: float,
    k: int,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Segment-native NESTED span kernel (SpanNearNQ/SpanOrNQ trees):
    the lazy DISI composition of search/spans/NearSpansOrdered.java +
    SpanOrQuery.java, expressed as the two-phase discipline the other
    positional kernels use — no full posting decode of any term.

    phase 1: conjunction over spannest.slot_groups (each group's docid
    set is the union of its terms' — the multiphrase slot-union).
    phase 2: .pos payloads fetched lazily per group for intersection
    docs only; the match test is spannest.emit_spans, the span rule of
    the positional match layer that the flat executor runs too.

    Constant score (float32(boost), the SpanNear contract) ⇒ theta
    pruning degenerates to EXACT early termination at k matches
    (ascending docids win the (score desc, docid asc) tie-break) —
    the span_near_topk argument, inherited verbatim.
    """
    groups = [tuple(t for t in g if t in postings) for g in slot_groups(node)]
    if not groups or any(not g for g in groups):
        return _no_hits()
    uniq = sorted({t for g in groups for t in g})
    grid = _Grid({t: postings[t] for t in uniq}, stats)
    conj = grid.cheapest_first(groups)
    score = np.float32(boost)
    top = _TopK(k)
    for i in np.nonzero(grid.live(conj))[0]:
        if top.skip(score):
            continue
        inter = _conjoin(grid, conj, i)
        if inter is None:
            continue
        grid.stats.intervals_scored += 1
        keep = np.array([len(emit_spans(node, pos)[0]) > 0 for pos in
                         _positions_by_doc(grid, uniq, inter, i)])
        top.push(inter[keep], np.full(int(keep.sum()), score))
    return top.result()


def automaton_topk(
    paths: list[tuple],
    postings: dict[str, "object"],
    weight: np.float32,
    norms: np.ndarray,
    doc_base: int,
    bm25: BM25,
    k: int,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Segment-native TermAutomatonQuery kernel (sandbox/search/
    TermAutomatonQuery.java's TermAutomatonScorer, run over the
    enumerated finite strings like GraphTokenStreamFiniteStrings):

    ``paths``: the automaton's accepted term sequences (None = ANY
    slot, one position ordinal). phase 1: one docid conjunction per
    path over its terms (an interval is live when SOME path has all
    its terms active; candidates = the union of the live paths'
    intersections). phase 2: .pos fetched lazily per group for
    intersection docs only; freq = executor.automaton_freq, the
    distinct start positions matched by ANY path (the reference's
    merge-sorted position run), which the flat executor runs too.

    theta bound: freq <= sum over live paths of the path's min
    slot-level block-max tf (a start consumes >= 1 occurrence of every
    slot term of that path); monotone in tf and norm byte, so skipped
    intervals cannot beat theta. weight: the flat phrase recipe
    f32(f32(boost) * f32(sum idf over ALL automaton terms) * f32(k1+1)).
    """
    pterms = [sorted({t for t in p if t is not None}) for p in paths]
    live_paths = [pi for pi, ts in enumerate(pterms)
                  if ts and all(t in postings for t in ts)]
    if not live_paths:
        return _no_hits()
    uniq = sorted({t for pi in live_paths for t in pterms[pi]})
    grid = _Grid({t: postings[t] for t in uniq}, stats)
    conj = [grid.cheapest_first([(t,) for t in pterms[pi]])
            for pi in live_paths]
    path_act = [grid.live(c) for c in conj]
    tf_bound = sum(np.where(act, reduce(
        np.minimum, [grid.max_tf(t) for t in pterms[pi]]), 0)
        for pi, act in zip(live_paths, path_act))
    nb_min = reduce(np.minimum, [grid.max_norm(t) for t in uniq])
    ub = bm25.score(np.full(grid.n, np.float32(weight), np.float32),
                    tf_bound, nb_min)
    top = _TopK(k)
    for i in np.nonzero(reduce(np.logical_or, path_act))[0]:
        if top.skip(ub[i]):
            continue
        hits = [h for c, act in zip(conj, path_act) if act[i]
                for h in (_conjoin(grid, c, i),) if h is not None]
        if not hits:
            continue
        inter = reduce(np.union1d, hits)
        grid.stats.intervals_scored += 1
        freqs = np.array([automaton_freq(paths, pos)
                          for pos in _positions_by_doc(grid, uniq, inter, i)])
        mask = freqs > 0
        cand = inter[mask]
        top.push(cand, bm25.score(
            np.full(len(cand), np.float32(weight), np.float32),
            freqs[mask], norms[cand - doc_base]))
    return top.result()


def qf_dismax_topk(
    terms: list[str],
    sources: dict[str, dict[str, "object"]],
    weights: dict[str, dict[str, np.float32]],
    norms: dict[str, np.ndarray],
    doc_base: int,
    bm25s: dict[str, "BM25"],
    k: int,
    tie: float = 0.0,
    msm: int = 1,
    boosts: dict[str, np.float32] | None = None,
    stats: WandStats | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """CROSS-FIELD block-max WAND — the edismax qf shape
    (ExtendedDismaxQParser: per term, DisjunctionMaxQuery across the
    qf fields; terms combine as SHOULD) pruned at the kernel level
    instead of the exact-but-exhaustive flat path.

    ``sources[t][f]`` is field f's GroupedPosting for t (fields are
    SEPARATE per-field segment indexes with aligned docids —
    build_multifield_segment_index), gridded on (term, field) keys;
    ``weights[t][f]`` the per-field f32 term weight (that field's
    idf/docCount); ``norms[f]`` / ``bm25s[f]`` field-local norms and
    similarity.

    Pruning bound: per interval, each (t, f)'s block-max bound
    dominates that field's f32 scores (functions/bm25.py
    block_max_bound); DisMax mx + tie*(sm - mx) = (1-tie)*mx + tie*sm
    is monotone in every per-field score for tie in [0,1], the f64
    SHOULD-sum is monotone, and the final f32 downcast is monotone —
    so the bound expression evaluated on the per-field bounds
    dominates any in-interval doc's final f32 score. Skipped
    intervals cannot beat theta.

    Scoring replicates the flat MultiFieldSearcher bit-for-bit
    (duel-tested): per (t, f) f32 BM25, per term f64
    mx + tie*(sm-mx) over present fields, terms folded in SORTED
    order (the flat OrQ's clause-key order for uniform qf DisMax
    nodes), one f32 downcast; (score desc, docid asc) top-k; msm
    counts terms with any matching field.
    """
    boosts = boosts or {}
    by_term = {t: [(t, f) for f in sorted(sources[t])]
               for t in sorted(terms) if sources.get(t)}
    if not by_term:
        return _no_hits()
    grid = _Grid({p: sources[p[0]][p[1]] for ps in by_term.values()
                  for p in ps}, stats)
    tie64 = float(tie)
    ub_total = np.zeros(grid.n, dtype=np.float64)
    for t, ps in by_term.items():
        fb = []
        for p in ps:
            ok = grid.ok[p]
            ub = np.zeros(grid.n, dtype=np.float64)
            ub[ok] = _boost(bm25s[p[1]].score(
                np.full(int(ok.sum()), weights[t][p[1]], np.float32),
                grid.max_tf(p)[ok], grid.max_norm(p)[ok]),
                boosts.get(p[1], 1.0))
            fb.append(ub)
        mx = np.maximum.reduce(fb)
        sm = np.sum(fb, axis=0)
        # mirror the doc path's PER-TERM f32 downcast (f32 rounding is
        # monotone, so downcasting both sides preserves domination; a
        # bound kept in f64 while the doc value rounds to f32 can lose
        # by half an ulp for tie > 0)
        ub_total += (mx + tie64 * (sm - mx)).astype(
            np.float32).astype(np.float64)
    ub32 = ub_total.astype(np.float32)

    top = _TopK(k)
    for i in np.nonzero(grid.live(list(by_term.values()), msm))[0]:
        if top.skip(ub32[i]):
            continue
        # every active (t, f) block slice; disjunction, so no
        # conjunction shortcut — theta does the pruning. Per term the
        # DisMax over its fields, downcast to f32 BEFORE the f64 SHOULD
        # fold over the terms (the flat _eval_dismax casts to the score
        # type)
        per_term = []
        for ps in by_term.values():
            fields = [(d, _boost(bm25s[f].score(
                np.full(len(d), weights[t][f], np.float32), tf,
                norms[f][d - doc_base]), boosts.get(f, 1.0)))
                for t, f in ps for d, tf in (grid.slice((t, f), i),)
                if len(d)]
            per_term.append(_fold([[h] for h in fields], 1, tie))
        if not any(len(d) for d, _ in per_term):
            continue
        grid.stats.intervals_scored += 1
        top.push(*_fold([[h] for h in per_term], msm))
    return top.result()


def _payload_score(q: A.PayloadScoreQ, w: np.float32, bm25: BM25) -> Callable:
    """PayloadScoreQuery as a _tree node, in Searcher._eval_payload_score's
    order: the term's offset payloads folded per doc in f64, times its
    f32 BM25 (weight ``w``) with include_span_score, times f32(boost)."""
    if q.func not in ("min", "max", "sum", "avg"):
        raise ValueError(f"unknown payload function {q.func!r}")
    fold = {"min": np.minimum, "max": np.maximum}.get(q.func, np.add)
    t, boost = q.term, np.float64(np.float32(q.boost))

    def run(eps, norms, doc_base, stats):
        if t not in eps:
            return _no_hits()
        d, tf = _decoded(eps[t], stats)
        v = fold.reduceat(eps[t].offsets_flat(d)[1],
                          np.cumsum(tf) - tf).astype(np.float64)
        if q.func == "avg":
            v /= tf
        if q.include_span_score:
            v *= bm25.score(np.full(len(d), w, np.float32), tf,
                            norms[d - doc_base])
        return d, (v * boost).astype(np.float32)
    return run


def _payload_check(q: A.SpanPayloadCheckQ) -> Callable:
    """SpanPayloadCheckQuery as a _tree node at f32(boost):
    exact_phrase_freqs over one pseudo-slot per span position holding
    its term's occurrences whose offset payload matches."""
    if len(q.terms) != len(q.payloads):
        raise ValueError("SpanPayloadCheckQ needs one payload per "
                         "span position")
    slots = [(t, int(p)) for t, p in zip(q.terms, q.payloads)]
    uniq, c = sorted(set(q.terms)), np.float32(q.boost)

    def run(eps, norms, doc_base, stats):
        if any(t not in eps for t in uniq):
            return _no_hits()
        docs = reduce(np.intersect1d,
                      [_decoded(eps[t], stats)[0] for t in uniq])
        flat = {}
        for i, (t, p) in enumerate(slots):
            (di, pos), pay = (eps[t].positions_flat(docs),
                              eps[t].offsets_flat(docs)[1])
            flat[i] = (di[pay == p], pos[pay == p])
        hit = docs[exact_phrase_freqs([(i,) for i in range(len(slots))],
                                      flat)[0]]
        return hit, np.full(len(hit), c, np.float32)
    return run


# --- Spark orchestration ----------------------------------------------------


class KernelSpec(NamedTuple):
    """One query's segment kernel: the terms whose metadata rows it
    reads, and ``run(eps, norms, doc_base) -> (docids, scores)`` over
    one segment's postings (None when the query cannot match there).
    A None ``run`` matches nothing (no job); a termless one still runs.
    ``bulk``: the kernel decodes every posting group anyway, so the
    task reads all payloads in one go."""
    terms: tuple[str, ...]
    run: Callable | None
    bulk: bool = False


def _only(eps: dict, terms) -> dict:
    """The postings of ``terms`` that this segment has."""
    return {t: eps[t] for t in terms if t in eps}


def check_k(k) -> int:
    """A top-k search needs an integer k >= 1, checked on the driver
    before any job (TopScoreDocCollector.create: numHits must be > 0)."""
    if isinstance(k, bool) or not isinstance(k, (int, np.integer)) or k < 1:
        raise ValueError(f"k must be an integer >= 1, got {k!r}")
    return int(k)


_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(), "int": pa.int32(),
                "float": pa.float32(), "double": pa.float64()}
SEARCH_SCHEMA = "docid long, score float, rank int"
# Batched-serving result schema — shared with MultiFieldWandSearcher's
# batch paths so the two can never drift.
SEARCH_MANY_SCHEMA = "qid string, docid long, score float, rank int"


def local_frame(spark, schema: str, cols: dict | None = None) -> DataFrame:
    """A driver-side answer as a local frame (LocalTableScan over one
    Arrow table): collecting it starts no Spark job. ``cols`` maps each
    column of the DDL ``schema`` to its values; None = no rows."""
    cols = cols or {}
    return spark.createDataFrame(pa.table({
        name: pa.array(cols.get(name, []), _ARROW_TYPES[typ])
        for name, typ in (f.split() for f in schema.split(", "))}))


def merge_topk(spark, hits: DataFrame | None, k: int,
               by_qid: bool = False) -> DataFrame:
    """TopDocs.merge on the coordinator (Solr's
    QueryComponent.mergeIds): collect the per-task top-k rows of
    ``hits`` as Arrow (the one job of a search; None = no rows, no
    job), keep each query's (score desc, docid asc) top k with its
    1-based rank, and answer with a local frame of SEARCH_SCHEMA, or of
    SEARCH_MANY_SCHEMA for ``by_qid``."""
    schema = SEARCH_MANY_SCHEMA if by_qid else SEARCH_SCHEMA
    if hits is None:
        return local_frame(spark, schema)
    t = hits.toArrow()
    docid = t["docid"].to_numpy()
    score = t["score"].to_numpy().astype(np.float32)
    qid = (t["qid"].to_numpy(zero_copy_only=False) if by_qid
           else np.zeros(len(docid)))
    code = np.unique(qid, return_inverse=True)[1]
    order = np.lexsort((docid, -score, code))
    rank = np.arange(len(order)) - np.searchsorted(code[order],
                                                   code[order]) + 1
    keep = order[rank <= k]
    return local_frame(spark, schema, {
        "qid": qid[keep], "docid": docid[keep], "score": score[keep],
        "rank": rank[rank <= k]})


def _segment_tasks(spark, tasks: list, run: Callable,
                   schema: str) -> DataFrame:
    """The one Spark plan every segment kernel runs in: one task per
    entry of ``tasks`` (each names its segment), run as
    ``spark.range(0, n, 1, n).mapInPandas`` — no postings scan and no
    exchange before the Python boundary; ``run(task)`` reads what it
    needs from the segment's own files and returns a pandas frame of
    ``schema`` (or None for no rows)."""
    def per_partition(batches):
        for b in batches:
            for i in b["id"]:
                out = run(tasks[int(i)])
                if out is not None and len(out):
                    yield out

    n = len(tasks)
    return spark.range(0, n, 1, max(n, 1)).mapInPandas(per_partition,
                                                       schema=schema)


# the posting-row columns a kernel task reads before any payload; the
# partition directory postings/seg_id=N supplies the segment
METADATA_COLS = ("term", "df", "ttf", "singleton_docid",
                 "skip_last_doc", "skip_doc_off", "skip_tf_off",
                 "bm_tf", "bm_norm", "tail_offset",
                 "imp_tf", "imp_norm",
                 "grp_id", "grp_prev_doc", "grp_last_doc")


# Process-global payload LRU, shared across tasks by Python-worker
# reuse — the executor-side block cache of a serving tier (Lucene
# keeps .doc blocks hot in the OS page cache / JVM the same way).
# Safe because index cells are IMMUTABLE: segments are never rewritten
# in place (merges mint fresh seg_ids; the manifest is generational),
# so a (path, seg_id, term, grp) key can never go stale. Bounded by
# cell count (~1-20KB/cell); norms blobs get a small separate ring.
_PAYLOAD_CACHE: "OrderedDict[tuple, tuple[bytes, bytes]]" = OrderedDict()
_PAYLOAD_CACHE_CELLS = 4096
_NORMS_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_NORMS_CACHE_MAX = 64
# decoded (docids, tfs) block arrays — ~2KB per full block; shared
# read-only (the kernel only slices them)
_DECODED_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_DECODED_CACHE_BLOCKS = 16384
# FULL decoded (docids, tfs) postings for the tree fold's leaves —
# element-budgeted (16 bytes/element; 8M elements is ~128 MB/worker),
# same immutable-cell key argument
_FULLDEC_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_FULLDEC_CACHE_MAX_ELEMS = 8_000_000
_FULLDEC_ELEMS = 0
# payload groups read per lazy .doc/.tfs fetch, and per .pos fetch
# before a term's third miss (see _make_group_fetcher/_make_pos_fetcher)
_GROUP_READAHEAD = 4
_POS_READAHEAD = 2
# driver-side (term -> global df) entries WandSearcher keeps
DF_CACHE_TERMS = 1 << 16


def _lru_get(cache: OrderedDict, key):
    v = cache.get(key)
    if v is not None:
        cache.move_to_end(key)
    return v


def _lru_put(cache: OrderedDict, key, val, cap: int) -> None:
    cache[key] = val
    while len(cache) > cap:
        cache.popitem(last=False)


def _read_payloads(idx_path: str, seg_id: int, filters: list,
                   cache: dict) -> None:
    """Read the (docs_enc, tfs_enc) group cells that match ``filters``
    into ``cache`` and the worker-global payload LRU."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{idx_path}/postings/seg_id={seg_id}",
                      columns=["term", "grp_id", "docs_enc", "tfs_enc"],
                      filters=filters)
    for tm, g, d, f in zip(t["term"].to_pylist(), t["grp_id"].to_pylist(),
                           t["docs_enc"].to_pylist(), t["tfs_enc"].to_pylist()):
        cell = (d if d is not None else b"", f if f is not None else b"")
        cache[(tm, int(g))] = cell
        _lru_put(_PAYLOAD_CACHE, (idx_path, seg_id, tm, int(g)), cell,
                 _PAYLOAD_CACHE_CELLS)


def _prefetch_payloads(idx_path: str, seg_id: int, terms: list[str],
                       cache: dict) -> None:
    """Seed the fetch cache with ALL group payloads of ``terms`` in one
    columnar read (used for single-group terms, whose whole payload is
    one small cell — per-term point reads would cost more IO round
    trips than the bytes saved by laziness)."""
    missing = [t for t in terms
               if _lru_get(_PAYLOAD_CACHE, (idx_path, seg_id, t, 0)) is None]
    for t in terms:
        if t in missing:
            continue
        cache[(t, 0)] = _lru_get(_PAYLOAD_CACHE, (idx_path, seg_id, t, 0))
    if missing:
        _read_payloads(idx_path, seg_id, [("term", "in", missing)], cache)


def _make_group_fetcher(idx_path: str, seg_id: int):
    """Task-side lazy payload reader for one segment.

    The kernel task holds METADATA-ONLY posting rows (term, df, skip
    arrays, block-max arrays — a few hundred bytes per group row,
    read by _segment_postings); encoded byte streams are read only
    on demand. When the kernel decodes a block, the owning GROUP row's
    payload is read straight from parquet: partition-pruned (one
    seg_id dir), row-group-pruned (rows are written sorted by
    (term, grp_id), so min/max statistics skip unrelated row groups)
    and column-pruned (pos_enc is never touched on WAND shapes).
    Groups whose blocks the kernel prunes by score bound cost NO IO at
    all. _GROUP_READAHEAD groups are fetched per read because the
    interval sweep requests ascend in docid order — the per-leaf .doc
    stream readahead of the reference."""
    cache: dict[tuple[str, int], tuple[bytes, bytes]] = {}

    def fetch(term: str, grp: int) -> tuple[bytes, bytes]:
        key = (term, grp)
        if key not in cache:
            hit = _lru_get(_PAYLOAD_CACHE, (idx_path, seg_id, term, grp))
            if hit is not None:
                cache[key] = hit
                return hit
            _read_payloads(idx_path, seg_id,
                           [("term", "==", term), ("grp_id", ">=", grp),
                            ("grp_id", "<", grp + _GROUP_READAHEAD)], cache)
        return cache[key]

    fetch.cache = cache  # exposed for bulk seeding
    return fetch


def _make_pos_fetcher(idx_path: str, seg_id: int, column: str = "pos_enc"):
    """Lazy .pos payload reader (the .pos stream open of
    ExactPhraseScorer; offs_enc: the .pay stream): per-(term, group)
    point reads of ``column`` only — docs/tfs payloads are NOT re-read,
    and groups whose docs never reach the phrase's docid intersection
    cost no IO. Shares the payload LRU under a column-tagged key.

    Adaptive readahead: the phrase sweep requests a term's groups in
    ascending order, so after the THIRD miss on the same term the
    intersection has proven dense there — the remaining groups are
    fetched in ONE read (a hot-hot phrase pays ~2 reads per term
    instead of one ~30 ms parquet point read per group). Rare-led
    phrases touch < 3 groups of the head term and stay fully lazy, so
    the O(df_rare) IO bound is preserved."""
    import pyarrow.parquet as pq

    cache: dict[tuple[str, int], bytes] = {}
    misses: dict[str, int] = {}

    def fetch_pos(term: str, grp: int) -> bytes:
        key = (term, grp)
        if key not in cache:
            hit = _lru_get(_PAYLOAD_CACHE,
                           (idx_path, seg_id, term, grp, column))
            if hit is not None:
                cache[key] = hit
                return hit
            misses[term] = misses.get(term, 0) + 1
            filters = [("term", "==", term), ("grp_id", ">=", grp)]
            if misses[term] < 3:
                filters.append(("grp_id", "<", grp + _POS_READAHEAD))
            t = pq.read_table(
                f"{idx_path}/postings/seg_id={seg_id}",
                columns=["term", "grp_id", column],
                filters=filters)
            for tm, g, p in zip(t["term"].to_pylist(),
                                t["grp_id"].to_pylist(),
                                t[column].to_pylist()):
                blob = p if p is not None else b""
                cache[(tm, int(g))] = blob
                _lru_put(_PAYLOAD_CACHE,
                         (idx_path, seg_id, tm, int(g), column), blob,
                         _PAYLOAD_CACHE_CELLS)
        return cache[key]

    return fetch_pos


def _is_singleton(row: dict) -> bool:
    sd = row["singleton_docid"]
    return sd is not None and not (isinstance(sd, float) and np.isnan(sd))


def _segment_postings(idx_path: str, seg_id: int, terms,
                      bulk_all: bool = False) -> dict[str, "GroupedPosting"]:
    """One lazy GroupedPosting per term of ``terms`` that segment
    ``seg_id`` holds, from its METADATA_COLS rows: one term-filtered
    read of postings/seg_id=N (rows are written sorted by (seg_id,
    term, grp_id), so row-group statistics prune the read) — the
    terms-dictionary seek of a leaf reader, done by the task itself.

    Payload strategy: SINGLE-group terms (everything but the zipf
    head) are bulk-seeded in one columnar read — their whole payload
    is one small cell, so one IO round trip for all of them beats a
    point read each. MULTI-group (hot) terms stay lazy per group: the
    kernel's score-bound pruning decides which groups' bytes are read
    at all. ``bulk_all``: seed EVERY term's groups in the one read —
    the batched-serving path and the tree fold, which will
    decode every group anyway, so per-group point reads only add IO
    round trips."""
    import pyarrow.parquet as pq

    from lucene_solr_spark.index.codec import GroupedPosting

    seg_dir = f"{idx_path}/postings/seg_id={seg_id}"
    terms = sorted(set(terms))
    if not terms or not os.path.isdir(seg_dir):
        return {}
    rows_by_term: dict[str, list[dict]] = {}
    for row in pq.read_table(seg_dir, columns=list(METADATA_COLS),
                             filters=[("term", "in", terms)]).to_pylist():
        rows_by_term.setdefault(row["term"], []).append(row)
    fetch = _make_group_fetcher(idx_path, seg_id)
    if bulk_all:
        bulk = [t for t, rows in rows_by_term.items()
                if not (len(rows) == 1 and _is_singleton(rows[0]))]
    else:
        bulk = [t for t, rows in rows_by_term.items()
                if len(rows) == 1 and not _is_singleton(rows[0])]
    if bulk:
        _prefetch_payloads(idx_path, seg_id, bulk, fetch.cache)
    pos_fetch = _make_pos_fetcher(idx_path, seg_id)
    offs_fetch = _make_pos_fetcher(idx_path, seg_id, "offs_enc")
    out: dict[str, GroupedPosting] = {}
    for t, rows in rows_by_term.items():
        gp = GroupedPosting(rows, lambda g, t=t: fetch(t, g),
                            pos_fetch=lambda g, t=t: pos_fetch(t, g),
                            offs_fetch=lambda g, t=t: offs_fetch(t, g))
        gp.cache_key = (idx_path, seg_id, t)
        out[t] = gp
    return out


def _load_seg_norms(idx_path: str, seg_id: int) -> tuple[np.ndarray, int]:
    """Task-side sidecar read of a segment's norms blob (the .nvd
    open of TermWeight.scorer): a direct pyarrow read of the
    seg_id-partitioned norms parquet, instead of JOINING the blob onto
    every posting row (which would duplicate a doc_count-byte blob
    per query term — megabytes per row at production segment sizes)."""
    import pyarrow.parquet as pq

    hit = _lru_get(_NORMS_CACHE, (idx_path, seg_id))
    if hit is not None:
        return hit
    t = pq.read_table(f"{idx_path}/norms/seg_id={seg_id}",
                      columns=["doc_base", "norms"])
    doc_base = int(t["doc_base"][0].as_py())
    norms = np.frombuffer(t["norms"][0].as_py(), dtype=np.uint8)
    _lru_put(_NORMS_CACHE, (idx_path, seg_id), (norms, doc_base),
             _NORMS_CACHE_MAX)
    return norms, doc_base


class WandSearcher:
    """Segment-level top-k search with block-max WAND pruning.

    Every query but a FieldedQ (ValueError before any job;
    MultiFieldWandSearcher strips it first) is a per-segment kernel
    that search() runs alone and search_many() batches:

    - flat boolean: TermQ, AndQ/OrQ over unboosted terms (with
      min_should_match), NotQ whose negative side is a
      term/OR-of-terms (boolean_topk: the term fold or wand_topk);
    - PhraseQ and MultiPhraseQ, exact and sloppy (multiphrase_topk;
      a PhraseQ is single-term slots, as in phrase_topk);
    - top-level SpanNearQ (span_near_topk), nested SpanNearNQ trees
      and a standalone SpanOrNQ (span_nested_topk);
    - TermAutomatonQ (automaton_topk);
    - any other tree (MultiTermQ leaves expand in one job per call,
      _expand; _tree: one recursive fold over the segment's decoded
      postings, BooleanWeight's per-leaf scorer tree).

    The block-grid kernels (wand_topk, the phrase, span and automaton
    kernels, and MultiFieldWandSearcher's qf_dismax_topk) share one
    interval sweep: _Grid, _TopK and _conjoin; each adds only its
    interval bound and its match test. The positional kernels' match
    tests are the positional match layer of executor.py (and
    spannest.emit_spans), which the flat executor runs too. The tree
    fold decodes whole postings.
    """

    def __init__(self, si: SegmentIndex, k1: float = 1.2, b: float = 0.75,
                 preload_stats: bool = False):
        """``preload_stats`` is accepted and ignored: global df is
        always read on the driver from the live segments' (term, df)
        rows (_global_df), so there is no serving-mode stats tier to
        preload. The keyword is kept for existing callers."""
        self.si = si
        self._k1 = k1
        self._b = b
        self.coll = si.coll_stats()
        self.bm25 = BM25(self.coll["doc_count"], self.coll["sum_ttf"], k1=k1, b=b)
        self._df_cache: OrderedDict[str, int] = OrderedDict()
        self._snapshot = tuple(si.live_segments())

    def _check_snapshot(self) -> None:
        """Invalidate cached term/collection statistics when the live
        segment set changed (NRT append or merge followed by
        si.refresh()): stale df/avgdl would change float32 weights and
        silently break rank identity across the refresh."""
        snap = tuple(self.si.live_segments())
        if snap != self._snapshot:
            self._snapshot = snap
            self._df_cache.clear()
            self.coll = self.si.coll_stats()
            self.bm25 = BM25(self.coll["doc_count"], self.coll["sum_ttf"],
                             k1=self._k1, b=self._b)

    # -- plan shape analysis ------------------------------------------------

    @staticmethod
    def _flat_terms(q: A.Query) -> tuple[list[str], int, list[str]] | None:
        """Decompose into (scored terms, msm, excluded terms) if the
        query is WAND-shaped; None otherwise.

        Scored clauses must be PLAIN terms: a nested OR clause is NOT
        flattened into the term list, because (a) min_should_match
        counts matching top-level CLAUSES (MinShouldMatchSumScorer),
        not distinct matching terms, and (b) the flat executor folds a
        nested OR to float32 before the outer float64 sum, so a
        flattened single fold would break bit-exact score parity.
        Nested trees and boosted terms go to _tree's fold (same
        scores, no pruning). The MUST_NOT side may still be an
        OR-of-terms — it contributes an unscored docid set, where
        flattening is exact.
        """
        def neg_terms_of(node) -> list[str] | None:
            if isinstance(node, A.TermQ):
                return [node.term]
            if isinstance(node, A.OrQ) and node.min_should_match <= 1:
                parts = [neg_terms_of(c) for c in node.clauses]
                return None if None in parts else [t for p in parts for t in p]
            return None

        if isinstance(q, A.TermQ) and q.boost == 1.0:
            return [q.term], 1, []
        if isinstance(q, (A.AndQ, A.OrQ)):
            if not all(isinstance(c, A.TermQ) and c.boost == 1.0
                       for c in q.clauses):
                return None
            terms = [c.term for c in q.clauses]
            return terms, (len(terms) if isinstance(q, A.AndQ)
                           else max(1, q.min_should_match)), []
        if isinstance(q, A.NotQ):
            pos = WandSearcher._flat_terms(q.positive)
            neg = neg_terms_of(q.negative)
            if pos is None or neg is None or pos[2]:
                return None
            return pos[0], pos[1], neg
        return None

    def _global_df(self, terms: list[str]) -> dict[str, int]:
        """Global df per term, read on the driver with no Spark job: per
        live segment, one term-filtered pyarrow read of the (term, df)
        rows of postings/seg_id=N (the row-group-pruned read
        _segment_postings does in a task), summed over every row of a
        term. Looked-up terms LRU into _df_cache (at most
        DF_CACHE_TERMS entries), so repeat traffic reads nothing."""
        import pyarrow.parquet as pq

        dfs = {t: _lru_get(self._df_cache, t) for t in set(terms)}
        missing = sorted(t for t, df in dfs.items() if df is None)
        if missing:
            got = dict.fromkeys(missing, 0)
            for sid in self.si.live_segments():
                seg_dir = f"{self.si.path}/postings/seg_id={sid}"
                if os.path.isdir(seg_dir):
                    for row in pq.read_table(
                            seg_dir, columns=["term", "df"],
                            filters=[("term", "in", missing)]).to_pylist():
                        got[row["term"]] += row["df"]
            for t in missing:
                dfs[t] = got[t]
                _lru_put(self._df_cache, t, dfs[t], DF_CACHE_TERMS)
        return {t: dfs[t] for t in terms}

    def search(self, q: A.Query | str, k: int = 10) -> DataFrame:
        """Top-k (docid, score, rank) of one query, as a local frame:
        its kernel runs in ONE Spark job when search() is called (after
        one _expand job for multi-term leaves), one task per segment
        (_kernel_plan), and the driver merges the rows (merge_topk)."""
        k = check_k(k)
        return merge_topk(self.si.spark,
                          self._kernel_plan(self._specs({"": q}, k)), k)

    def _specs(self, queries: dict[str, A.Query | str],
               k: int) -> dict[str, KernelSpec]:
        """Parse, rewrite and compile a batch (one df lookup, one
        _expand); a FieldedQ raises ValueError before any job."""
        self._check_snapshot()
        parsed = {qid: (A.parse_query(q) if isinstance(q, str) else q)
                  .rewrite() for qid, q in queries.items()}
        nodes = [n for q in parsed.values() for n in q.nodes()]
        if any(isinstance(n, A.FieldedQ) for n in nodes):
            raise ValueError("a FieldedQ needs MultiFieldWandSearcher")
        self._global_df(sorted(set().union(*map(_collect_terms,
                                                parsed.values()))))
        expanded = self._expand(nodes)
        return {qid: self._kernel_spec(q, k, expanded)
                for qid, q in parsed.items()}

    def _expand(self, nodes) -> dict:
        """{leaf: expanded terms} of the MultiTermQs among ``nodes``, by
        ONE one-stage scan of the live postings' term column filtered by
        the OR of their term_predicate (prefix/range/in-set push down).
        The read's schema is given, so no parquet schema-inference job
        runs first, even on a fresh SegmentIndex handle."""
        leaves = list(dict.fromkeys(
            n for n in nodes if isinstance(n, A.MultiTermQ)))
        if not leaves:
            return {}
        preds = [q.term_predicate() for q in leaves]
        terms = (self.si.spark.read.schema("term string, seg_id int")
                 .parquet(f"{self.si.path}/postings")
                 .where(F.col("seg_id").isin(list(self._snapshot))))
        rows = terms.where(reduce(lambda a, b: a | b, preds)).select(
            "term", *[p.alias(f"m{i}") for i, p in enumerate(preds)]).collect()
        return {q: tuple(sorted({r["term"] for r in rows if r[f"m{i}"]}))
                for i, q in enumerate(leaves)}

    def _kernel_spec(self, q: A.Query, k: int,
                     expanded: dict | None = None) -> KernelSpec:
        """The segment kernel of a rewritten query (a None run matches
        nothing): a top-level positional shape keeps its pruning kernel,
        a flat term AND/OR/NOT takes boolean_topk, and any other tree
        the _tree fold (``expanded``: _expand's answer, computed when
        None). Every kernel scores bit-equal to the flat executor's
        evaluator of the same shape (duel-tested); the positional ones
        share its match rules and positional_idf_terms."""
        bm25 = self.bm25
        k = int(k)
        nothing = KernelSpec((), None)
        if isinstance(q, (A.PhraseQ, A.MultiPhraseQ)):
            # the slot-union kernel (a PhraseQ is single-term slots),
            # with the flat executor's idf terms and rptGroups; a dead
            # slot cannot match
            slots = ([(t,) for t in q.terms] if isinstance(q, A.PhraseQ)
                     else [tuple(s) for s in q.slots])
            idf_terms = positional_idf_terms(q)
            dfs = self._global_df(sorted(set(idf_terms)))
            if any(all(dfs[t] == 0 for t in slot) for slot in slots):
                return nothing
            weight = phrase_weight(bm25, q.boost, idf_terms, dfs)
            slop = int(q.slop)
            groups, multi_term = multiphrase_rpt_groups(slots, slop)
            return KernelSpec(
                tuple(t for t in sorted(dfs) if dfs[t] > 0),
                lambda eps, norms, doc_base: multiphrase_topk(
                    slots, eps, weight, norms, doc_base, bm25, k=k,
                    slop=slop, groups=groups, multi_term=multi_term))
        if isinstance(q, (A.SpanNearQ, A.SpanNearNQ, A.SpanOrNQ)):
            # constant-score span kernels: per-segment early
            # termination at k matches is exact (lowest docids win)
            nested = not isinstance(q, A.SpanNearQ)
            terms = sorted(leaf_terms(q) if nested else {q.first, q.second})
            dfs = self._global_df(terms)
            present = tuple(t for t in terms if dfs[t] > 0)
            if not present or (not nested and len(present) < len(terms)):
                return nothing
            boost = float(np.float32(q.boost))
            if nested:
                return KernelSpec(present, lambda eps, norms, doc_base:
                                  span_nested_topk(q, eps, boost, k=k))
            first, second = q.first, q.second
            slop, in_order = int(q.slop), bool(q.in_order)
            return KernelSpec(present, lambda eps, norms, doc_base:
                              span_near_topk(first, second, eps, boost,
                                             k=k, slop=slop,
                                             in_order=in_order))
        if isinstance(q, A.TermAutomatonQ):
            # per-path block-grid conjunctions; weight = the phrase
            # recipe over ALL automaton terms (absent ones add their
            # df=0 idf, as the flat path does)
            paths = q.finite_strings()
            all_terms = positional_idf_terms(q)
            dfs = self._global_df(all_terms)
            present = tuple(t for t in all_terms if dfs[t] > 0)
            if not present:
                return nothing
            weight = phrase_weight(bm25, q.boost, all_terms, dfs)
            return KernelSpec(present, lambda eps, norms, doc_base:
                              automaton_topk(paths, eps, weight, norms,
                                             doc_base, bm25, k=k))
        shape = self._flat_terms(q)
        if shape is None:
            return self._tree(q, k, expanded)
        terms, msm, neg_terms = shape
        dfs = self._global_df(terms + neg_terms)
        present = tuple(sorted({t for t in terms if dfs[t] > 0}))
        if len(present) < msm or not present:
            return nothing
        weights = {t: bm25.term_weight(dfs[t]) for t in present}
        negs = tuple(sorted({t for t in neg_terms if dfs[t] > 0}))

        def run_boolean(eps, norms, doc_base):
            postings = _only(eps, present)
            if len(postings) < msm:
                return None
            neg_parts = [_decode_full_cached(eps[t])[0]
                         for t in negs if t in eps]
            exclude = (np.unique(np.concatenate(neg_parts))
                       if neg_parts else None)
            return boolean_topk(postings, weights, norms, doc_base, bm25,
                                k=k, msm=msm, exclude=exclude)
        return KernelSpec(present + negs, run_boolean)

    def _tree(self, q: A.Query, k: int,
              expanded: dict | None = None) -> KernelSpec:
        """Compile a rewritten query tree to a bulk KernelSpec (top k
        per segment). Each node compiles to ``run(eps, norms,
        doc_base, stats)`` -> every match of its subtree as (docids
        ascending, f32 scores), folded exactly as Searcher._eval folds
        it (duel-tested). No present term and no MatchAllQ: run None."""
        if expanded is None:
            expanded = self._expand(q.nodes())
        dfs = self._global_df(sorted(_collect_terms(q)))
        bm25, n_docs = self.bm25, int(self.coll["doc_count"])
        tree_terms: set[str] = {t for t in dfs if dfs[t] > 0}

        def node(q: A.Query) -> Callable:
            if isinstance(q, POSITIONAL):
                # the leaf's own kernel, asked for every match
                leaf = self._kernel_spec(q, n_docs).run or (lambda *_: None)

                def run(eps, norms, doc_base, stats):
                    hit = leaf(eps, norms, doc_base)
                    if hit is None:
                        return _no_hits()
                    order = np.argsort(hit[0])
                    return hit[0][order], hit[1][order]
                return run
            if isinstance(q, A.TermQ):
                t, boost = q.term, q.boost
                w = bm25.term_weight(dfs[t])

                def run(eps, norms, doc_base, stats):
                    if t not in eps:
                        return _no_hits()
                    d, s = _term_hits(eps[t], w, norms, doc_base, bm25, stats)
                    return d, _boost(s, boost)
                return run
            if isinstance(q, A.MultiTermQ):
                # CONSTANT_SCORE_REWRITE: the expanded terms' docids
                terms, c = expanded[q], np.float32(q.boost)
                tree_terms.update(terms)

                def run(eps, norms, doc_base, stats):
                    d = _union([_decoded(eps[t], stats)[0]
                                for t in terms if t in eps])
                    return d, np.full(len(d), c, np.float32)
                return run
            if isinstance(q, A.MatchAllQ):
                # no deletes: the segment's docid range
                c = np.float32(q.boost)
                return lambda eps, norms, doc_base, stats: (
                    np.arange(doc_base, doc_base + len(norms)),
                    np.full(len(norms), c, np.float32))
            if isinstance(q, A.PayloadScoreQ):
                return _payload_score(q, bm25.term_weight(dfs[q.term]), bm25)
            if isinstance(q, A.SpanPayloadCheckQ):
                return _payload_check(q)
            if isinstance(q, (A.SynonymQ, A.BlendedTermQ)):
                # one weight from the blended df (max over the terms)
                terms = sorted(t for t in set(q.terms) if dfs[t] > 0)
                w = bm25.term_weight(max([dfs[t] for t in terms] or [0]),
                                     q.boost)
                if isinstance(q, A.BlendedTermQ):
                    return lambda eps, norms, doc_base, stats: _fold(
                        [[_term_hits(eps[t], w, norms, doc_base, bm25, stats)]
                         for t in terms if t in eps], 1)

                def run(eps, norms, doc_base, stats):
                    # SynonymQuery: tf summed per doc, scored once
                    hits = [_decoded(eps[t], stats) for t in terms if t in eps]
                    if not hits:
                        return _no_hits()
                    d = _union([hd for hd, _ in hits])
                    tf = np.zeros(len(d), np.int64)
                    for hd, htf in hits:
                        tf[np.searchsorted(d, hd)] += htf
                    return d, bm25.score(np.full(len(d), w, np.float32), tf,
                                         norms[d - doc_base])
                return run
            if isinstance(q, A.NotQ):
                pos, neg = node(q.positive), node(q.negative)
                return lambda eps, norms, doc_base, stats: _without(
                    pos(eps, norms, doc_base, stats),
                    neg(eps, norms, doc_base, stats)[0])
            if isinstance(q, A.ReqOptQ):
                req, opt = node(q.required), node(q.optional)

                def run(eps, norms, doc_base, stats):
                    r = req(eps, norms, doc_base, stats)
                    d, s = _fold([[r], [opt(eps, norms, doc_base, stats)]], 1)
                    keep = np.isin(d, r[0])
                    return d[keep], s[keep]
                return run
            if isinstance(q, A.ConstQ):
                inner, c = node(q.inner), np.float32(q.boost)

                def run(eps, norms, doc_base, stats):
                    d = inner(eps, norms, doc_base, stats)[0]
                    return d, np.full(len(d), c, np.float32)
                return run
            if not isinstance(q, (A.AndQ, A.OrQ, A.DisMaxQ)):
                raise ValueError(f"{type(q).__name__} has no single-field "
                                 "segment case")
            # AndQ / OrQ / DisMaxQ: clauses in sorted key order; only
            # the flat OR orders equal-key clauses by score (one group)
            kids = sorted(q.clauses, key=lambda c: c.key())
            runs = [node(c) for c in kids]
            groups = [[i] for i in range(len(kids))]
            need, tie = len(kids), None
            if isinstance(q, A.OrQ):
                groups = [[i for i, _ in g] for _, g in
                          groupby(enumerate(kids), key=lambda x: x[1].key())]
                need = max(1, q.min_should_match)
            elif isinstance(q, A.DisMaxQ):
                need, tie = 1, float(q.tie_breaker)

            def run(eps, norms, doc_base, stats):
                hits = [r(eps, norms, doc_base, stats) for r in runs]
                return _fold([[hits[i] for i in g] for g in groups], need, tie)
            return run

        tree = node(q)
        if not tree_terms and not any(isinstance(n, A.MatchAllQ)
                                      for n in q.nodes()):
            return KernelSpec((), None)

        def run_tree(eps, norms, doc_base):
            top = _TopK(k)
            top.push(*tree(eps, norms, doc_base, WandStats()))
            return top.result()
        return KernelSpec(tuple(sorted(tree_terms)), run_tree, bulk=True)

    def _kernel_plan(self, specs: dict[str, KernelSpec]) -> DataFrame | None:
        """Run segment kernels through _segment_tasks: one task per
        (live segment, shard) that reads the metadata rows of its
        specs' terms and runs its specs in turn. Returns (qid, docid,
        score), at most k rows per (query, segment), or None when no
        spec can match (every run is None).

        Specs are dealt round-robin (sorted qids) over
        ceil(parallelism / live segments) shards, capped by their
        count, so a batch uses the whole cluster and one query runs
        one task per segment. Payload reads follow the specs a task
        serves: lazy per group for one pruning kernel, one bulk read
        for several specs or an exhaustive kernel, which decode
        every group anyway."""
        specs = {qid: s for qid, s in specs.items() if s.run is not None}
        segs = self.si.live_segments()
        if not specs or not segs:
            return None
        par = self.si.spark.sparkContext.defaultParallelism
        n_shards = min(-(-par // len(segs)), len(specs))
        by_shard: dict[int, list[tuple[str, KernelSpec]]] = {}
        for i, qid in enumerate(sorted(specs)):
            by_shard.setdefault(i % n_shards, []).append((qid, specs[qid]))
        idx_path = self.si.path

        def per_task(task: tuple) -> pd.DataFrame | None:
            sid, mine = task
            bulk = len(mine) > 1 or any(s.bulk for _, s in mine)
            eps = _segment_postings(idx_path, sid,
                                    {t for _, s in mine for t in s.terms},
                                    bulk_all=bulk)
            norms, doc_base = _load_seg_norms(idx_path, sid)
            out_q, out_d, out_s = [], [], []
            for qid, spec in mine:
                hit = spec.run(eps, norms, doc_base)
                if hit is None:
                    continue
                out_q.extend([qid] * len(hit[0]))
                out_d.append(hit[0])
                out_s.append(hit[1])
            if not out_q:
                return None
            return pd.DataFrame({
                "qid": out_q,
                "docid": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            })

        return _segment_tasks(
            self.si.spark, [(sid, mine) for sid in segs
                            for mine in by_shard.values()],
            per_task, "qid string, docid long, score float")

    def phrase_freqs(self, terms: list[str], slop: int = 0) -> DataFrame:
        """All (docid, phrase freq) matches of a phrase — the unranked
        MatchesIterator view, one task per live segment. Runs the same
        two-phase kernel with no theta (every match is returned), still
        decoding docs only in all-terms-active intervals and positions
        only for intersection docs. pfreq is integral for slop=0,
        fractional (sloppyFreq sums 1/(len+1)) for slop>0."""
        self._check_snapshot()
        terms_ = list(terms)
        uniq = sorted(set(terms_))
        dfs = self._global_df(uniq)
        if any(dfs[t] == 0 for t in uniq):
            return local_frame(self.si.spark, "docid long, pfreq double")
        bm25 = self.bm25
        slop_ = int(slop)
        idx_path = self.si.path

        def per_segment(sid: int) -> pd.DataFrame | None:
            eps = _segment_postings(idx_path, sid, uniq)
            if any(t not in eps for t in uniq):
                return None
            norms, doc_base = _load_seg_norms(idx_path, sid)
            d, f = phrase_topk(terms_, eps, np.float32(1.0), norms,
                               doc_base, bm25, k=0, slop=slop_,
                               collect_freqs=True)
            return pd.DataFrame({"docid": d, "pfreq": f})

        return _segment_tasks(self.si.spark, self.si.live_segments(),
                              per_segment, "docid long, pfreq double")

    def search_many(self, queries: dict[str, A.Query | str],
                    k: int = 10) -> DataFrame:
        """Batched serving (micro-batched scatter-gather, EP2b's
        PURPOSE_GET_TOP_IDS phase for a request window): every shape
        search() accepts, in ONE Spark job (plus one expansion job when
        a query holds multi-term leaves), each (segment, shard) task
        reading its queries' postings once; the driver merges each
        query's rows (merge_topk) into a local frame of (qid, docid,
        score, rank), bit-equal to per-query search()."""
        k = check_k(k)
        return merge_topk(self.si.spark, self._kernel_plan(
            self._specs(queries, k)), k, by_qid=True)

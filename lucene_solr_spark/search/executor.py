"""Query execution: compile the query AST into a DataFrame program.

Mapping of Lucene's scorer tree onto Spark operators (SURVEY §2.3):

  ConjunctionDISI (AND leapfrog)    inner joins on docid
  DisjunctionSumScorer (OR heap)    union + groupBy(docid).sum
  MinShouldMatchSumScorer           ... HAVING count >= n
  ReqExclScorer (MUST_NOT)          left_anti join
  MultiTermQuery rewrite            predicate over the term-stats table
                                    (constant-score, the default
                                    CONSTANT_SCORE_REWRITE of
                                    search/MultiTermQuery.java)
  Exact/SloppyPhraseScorer,         one two-phase plan (search/
    TermAutomatonScorer, spans      TwoPhaseIterator.java): a docid
                                    groupBy keeps the docs holding every
                                    slot, then one pandas UDF per Arrow
                                    batch runs the match rule shared
                                    with the segment kernels
  TopScoreDocCollector + TopDocs    orderBy(score desc, docid asc)
    .merge                          .limit(k) → TakeOrderedAndProject
                                    (per-partition bounded heaps + a
                                    driver-side k-way merge — exactly
                                    the reference's collector/merge
                                    split, run by Spark)

Two scoring modes:

- ``lucene``: float32-exact BM25 (byte315 norms, float32 weight/score,
  clause sums accumulated in float64 in canonical clause-key order and
  downcast — ConjunctionScorer.java:54-60 semantics with a *defined*
  summation order so results are identical at any parallelism).
- ``sql``: same formulas in plain double precision Catalyst
  expressions with exact doc length (no byte quantization). This mode
  is cross-engine reproducible (DuckDB oracle) after quantizing scores
  to ``floor(score * 1e6)`` — sub-ulp libm differences between JVM and
  DuckDB are absorbed by the quantization.
"""

from __future__ import annotations

from collections import OrderedDict, deque
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from lucene_solr_spark.functions.bm25 import BM25
from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search import ast as A

K1 = 1.2
B = 0.75
SCORE_QUANTUM = 1_000_000  # sql-mode cross-engine score quantization


def _sloppy_phrase_freq(rebased: list, slop: int,
                        groups: list[list[int]] | None = None,
                        multi_term: bool = False) -> float:
    """The greedy PhraseQueue traversal of SloppyPhraseScorer.phraseFreq
    (SloppyPhraseScorer.java:96-133) over ALREADY-REBASED per-slot
    position arrays (position - query offset). Tie order on equal
    rebased positions follows PhraseQueue.lessThan: (position, offset,
    ord). ``groups``: repeat groups — slot indices (offset-sorted) of
    slots sharing terms ("a b a"), i.e. the connected components
    gatherRptGroups computes: handled per the reference's rptGroups
    machinery (a post-advance collision — two repeat slots on one
    actual token — advances the lesser pp until clear, advanceRpts at
    :148-185). ``multi_term``: at least one grouped slot holds
    MULTIPLE terms (a MultiPhraseQuery with shared-term slots) — then
    group members' position lists differ and initialization resolves
    collisions iteratively (advanceRepeatGroups' hasMultiTermRpts
    branch, :296-312) instead of the single-term stagger (:314-321).
    Returns sum of 1/(matchLength+1) over scored matches."""
    import heapq

    n = len(rebased)
    idx = [0] * n
    if any(len(r) == 0 for r in rebased):
        return 0.0
    pos = [int(r[0]) for r in rebased]
    offs = list(range(n))  # slot offset == slot index for phrase slots
    group_of: dict[int, list[int]] = {}
    rpt_ind: dict[int, int] = {}
    if groups:
        for g in groups:
            for j, si in enumerate(g):
                group_of[si] = g
                rpt_ind[si] = j

        def _adv0(i: int) -> bool:
            # init-time advance (end not tracked yet; computed after)
            idx[i] += 1
            if idx[i] >= len(rebased[i]):
                return False
            pos[i] = int(rebased[i][idx[i]])
            return True

        def _collide0(i: int) -> int:
            tp = pos[i] + offs[i]
            for j in group_of.get(i, ()):
                if j != i and pos[j] + offs[j] == tp:
                    return j
            return -1

        if multi_term:
            # advanceRepeatGroups, multi-term branch: some members may
            # not collide; resolve iteratively, always advancing the
            # lesser (by position, then offset) of the colliding pair
            for g in groups:
                i = 0
                while i < len(g):
                    incr = 1
                    si = g[i]
                    while True:
                        k = _collide0(si)
                        if k < 0:
                            break
                        lower = (si if (pos[si], offs[si]) < (pos[k], offs[k])
                                 else k)
                        if not _adv0(lower):
                            return 0.0
                        if rpt_ind[lower] < i:
                            incr = 0
                            break
                    i += incr
        else:
            # single-term repeats: all group members share one position
            # list — member j starts at the term's (j+1)-th position
            for g in groups:
                for j, si in enumerate(g):
                    if j == 0:
                        continue
                    idx[si] += j
                    if idx[si] >= len(rebased[si]):
                        return 0.0
                    pos[si] = int(rebased[si][idx[si]])
    end = max(pos)

    def advance(i: int) -> bool:
        idx[i] += 1
        if idx[i] >= len(rebased[i]):
            return False
        nonlocal end
        pos[i] = int(rebased[i][idx[i]])
        if pos[i] > end:
            end = pos[i]
        return True

    def collide(i: int) -> int:
        tp = pos[i] + offs[i]
        for j in group_of.get(i, ()):
            if j != i and pos[j] + offs[j] == tp:
                return j
        return -1

    def advance_rpts(i: int) -> bool:
        """Resolve post-advance repeater collisions by advancing the
        lesser of the colliding pair; False when pps exhaust."""
        if i not in group_of:
            return True
        cur = i
        while True:
            k = collide(cur)
            if k < 0:
                return True
            lower = cur if (pos[cur], offs[cur]) < (pos[k], offs[k]) else k
            if not advance(lower):
                return False
            cur = lower

    heap = [(pos[i], offs[i], i) for i in range(n)]
    heapq.heapify(heap)
    freq = 0.0
    _, _, ord_ = heapq.heappop(heap)
    match_length = end - pos[ord_]
    next_ = heap[0][0] if heap else pos[ord_]
    while True:
        # advancePP(pp) [+ advanceRpts when the phrase has repeats]
        if not advance(ord_):
            break  # exhausted -> final match check below
        if group_of and not advance_rpts(ord_):
            break  # pps exhausted during collision resolution
        if group_of:
            # collision resolution may have advanced queued pps: bring
            # the queue in line with their new positions (the partial
            # re-queue of advanceRpts, done as a rebuild); ``next``
            # deliberately stays stale, as in the reference
            heap = [(pos[i], offs[i], i) for i in range(n) if i != ord_]
            heapq.heapify(heap)
        p = pos[ord_]
        if p > next_:
            if match_length <= slop:
                freq += 1.0 / (match_length + 1)
            heapq.heappush(heap, (p, offs[ord_], ord_))
            _, _, ord_ = heapq.heappop(heap)
            next_ = heap[0][0] if heap else pos[ord_]
            match_length = end - pos[ord_]
        else:
            ml2 = end - p
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq += 1.0 / (match_length + 1)
    return freq


def multiphrase_rpt_groups(
        slots, slop: int) -> tuple[list[list[int]] | None, bool]:
    """Repeat detection over MultiPhrase slots (SloppyPhraseScorer.
    repeatingTerms + gatherRptGroups' multi-term path): slots sharing
    ANY repeating term form one group (connected components of the
    slot/term bipartite graph, unionTermGroups); ``multi_term`` when a
    grouped slot holds several terms. Phrases and multiphrases take
    their groups from here in the flat executor and in the segment
    kernels alike (a PhraseQ is single-term slots)."""
    from collections import Counter

    term_cnt = Counter(t for slot in slots for t in set(slot))
    rpt_terms = {t for t, c in term_cnt.items() if c > 1}
    groups: list[list[int]] | None = None
    multi_term = False
    if rpt_terms and slop > 0:
        parent = list(range(len(slots)))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for t in rpt_terms:
            members = [i for i, s in enumerate(slots) if t in s]
            for m in members[1:]:
                parent[find(m)] = find(members[0])
        comps: dict[int, list[int]] = {}
        for i, s in enumerate(slots):
            if rpt_terms & set(s):
                comps.setdefault(find(i), []).append(i)
        groups = [sorted(g) for g in comps.values() if len(g) > 1] or None
        if groups:
            multi_term = any(len(slots[i]) > 1 for g in groups for i in g)
    return groups, multi_term


# -- the positional match layer ---------------------------------------------
# Each positional shape's per-document match rule, written once: the
# segment kernels (wand.multiphrase_topk, automaton_topk,
# span_near_topk) and the flat Searcher._eval_positional both call
# these; nested spans share spannest.emit_spans the same way.

POSITIONAL = (A.PhraseQ, A.MultiPhraseQ, A.TermAutomatonQ, A.SpanNearQ,
              A.SpanNearNQ, A.SpanOrNQ)


def _union(parts: list[np.ndarray]) -> np.ndarray:
    """Sorted union of sorted unique int64 arrays."""
    if len(parts) == 1:
        return parts[0]
    return np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)


def exact_phrase_freqs(slots, flat: dict) -> tuple[np.ndarray, np.ndarray]:
    """ExactPhraseScorer over a batch of docs: (doc indexes, freqs) of
    the docs with some start p where slot i holds position p + i for
    every i; freq = the number of such starts. ``flat[t]``: term t's
    (doc index, position) arrays, ascending. A slot is the union of
    its terms (MultiPhraseQuery's UnionPostingsEnum). Vectorized over
    the batch: keys doc << 33 | pos - off + n_slots, per slot the union
    of its terms' keys, one sorted intersect per slot."""
    base = np.empty(0, np.int64)
    for off, s in enumerate(slots):
        keys = _union([(di << 33) | (pos - off + len(slots))
                       for di, pos in (flat[t] for t in s if t in flat)])
        base = keys if off == 0 else np.intersect1d(base, keys,
                                                    assume_unique=True)
        if base.size == 0:
            break
    return np.unique(base >> 33, return_counts=True)


def sloppy_phrase_freq(slots, pos: dict, slop: int,
                       groups: list[list[int]] | None = None,
                       multi_term: bool = False) -> float:
    """SloppyPhraseScorer for one doc (``pos``: term -> ascending
    positions): _sloppy_phrase_freq over each slot's position union,
    rebased by the slot offset, with the multiphrase_rpt_groups
    repeat groups."""
    return _sloppy_phrase_freq(
        [_union([pos[t] for t in s if t in pos]) - off
         for off, s in enumerate(slots)], slop, groups, multi_term)


def automaton_freq(paths: list[tuple], pos: dict) -> float:
    """TermAutomatonScorer for one doc: the number of distinct start
    positions (>= 0) from which some enumerated path matches, a path
    slot of None (ANY) stepping over one position."""
    starts: set = set()
    for path in paths:
        base: np.ndarray | None = None
        for off, t in enumerate(path):
            if t is None:
                continue
            if t not in pos:
                base = None
                break
            base = (pos[t] - off if base is None else np.intersect1d(
                base, pos[t] - off, assume_unique=True))
            if base.size == 0:
                break
        if base is not None:
            starts.update(int(x) for x in base if x >= 0)
    return float(len(starts))


def span_near_match(p1: np.ndarray | None, p2: np.ndarray | None,
                    slop: int, in_order: bool) -> bool:
    """SpanNearQuery over two terms for one doc: some occurrence pair
    with 0 < p2 - p1 <= slop + 1 (in order) or 0 < |p2 - p1| <= slop + 1
    (unordered). When both terms are the same, p1 is p2 and the strict
    inequalities demand two distinct occurrences."""
    if p1 is None or p2 is None:
        return False
    win = slop + 1
    if (np.searchsorted(p2, p1 + win, side="right")
            > np.searchsorted(p2, p1, side="right")).any():
        return True
    return not in_order and bool(
        (np.searchsorted(p2, p1, side="left")
         > np.searchsorted(p2, p1 - win, side="left")).any())


def positional_idf_terms(q: A.Query) -> list[str]:
    """The terms whose idf a phrase-scored shape sums: the query-order
    term array with repeats for PhraseQ, the sorted distinct terms for
    MultiPhraseQ and TermAutomatonQ (BM25Similarity.idfExplain over
    the TermStatistics array)."""
    if isinstance(q, A.PhraseQ):
        return list(q.terms)
    if isinstance(q, A.MultiPhraseQ):
        return sorted({t for slot in q.slots for t in slot})
    return sorted({t for p in q.finite_strings() for t in p if t is not None})


def phrase_weight(bm25: BM25, boost: float, terms, dfs: dict) -> np.float32:
    """The f32 weight of a phrase-scored shape (both searchers):
    f32(boost) * f32(sum of f64 idf over ``terms`` in the given order)
    * (k1 + 1) in f32, as BM25.term_weight forms it."""
    idf_sum64 = float(sum(bm25.idf(dfs[t]) for t in terms))
    return (np.float32(boost) * np.float32(idf_sum64)
            * (bm25.k1 + np.float32(1)))


def _collect_terms(q: A.Query) -> set[str]:
    if isinstance(q, A.TermQ):
        return {q.term}
    if isinstance(q, A.PhraseQ):
        return set(q.terms)
    if isinstance(q, A.MultiPhraseQ):
        return {t for slot in q.slots for t in slot}
    if isinstance(q, A.TermAutomatonQ):
        return {t for s, d, t in q.transitions if t is not None}
    if isinstance(q, (A.AndQ, A.OrQ, A.DisMaxQ)):
        return set().union(*(_collect_terms(c) for c in q.clauses))
    if isinstance(q, A.NotQ):
        return _collect_terms(q.positive) | _collect_terms(q.negative)
    if isinstance(q, A.ReqOptQ):
        return _collect_terms(q.required) | _collect_terms(q.optional)
    if isinstance(q, A.ConstQ):
        return _collect_terms(q.inner)
    # closed-set leaves that score from their own terms' postings
    if isinstance(q, (A.SynonymQ, A.BlendedTermQ)):
        return set(q.terms)
    if isinstance(q, A.SpanNearQ):
        return {q.first, q.second}
    if isinstance(q, (A.SpanOrNQ, A.SpanNearNQ)):
        from lucene_solr_spark.search.spannest import leaf_terms
        return leaf_terms(q)
    if isinstance(q, A.PayloadScoreQ):
        return {q.term}
    if isinstance(q, A.SpanPayloadCheckQ):
        return set(q.terms)
    # MultiTermQ / MatchAllQ expand against the dictionary
    return set()


class QueryCache:
    """LRUQueryCache analogue (search/LRUQueryCache.java:807,
    UsageTrackingQueryCachingPolicy): caches the MATCHING DOC SET of a
    subquery (persisted DataFrame keyed by the query's canonical
    clause key) once it appears ``min_uses`` times among the last
    USE_HISTORY keys looked up (the policy's bounded recent-filter
    ring) — scores are never cached, exactly like the reference, which
    caches filter DocIdSets only. At ``max_entries`` the least recently
    used entry is evicted; a hit refreshes its entry."""

    USE_HISTORY = 256

    def __init__(self, max_entries: int = 32, min_uses: int = 2):
        self.max_entries = max_entries
        self.min_uses = min_uses
        self._history: deque[str] = deque(maxlen=self.USE_HISTORY)
        self._cached: OrderedDict[str, DataFrame] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key: str, build) -> DataFrame | None:
        if key in self._cached:
            self.hits += 1
            self._cached.move_to_end(key)
            return self._cached[key]
        self.misses += 1
        self._history.append(key)
        if self._history.count(key) < self.min_uses:
            return None
        if len(self._cached) >= self.max_entries:  # least recently used
            self._cached.popitem(last=False)[1].unpersist()
        df = build().persist()
        self._cached[key] = df
        return df


class Searcher:
    """IndexSearcher analogue over IndexTables (flat posting model)."""

    def __init__(self, index: IndexTables, mode: str = "lucene",
                 k1: float = K1, b: float = B,
                 query_cache: QueryCache | None = None,
                 preload_stats: bool = False):
        """``preload_stats``: load the whole (term -> df) dictionary in
        one job on first use (the in-RAM term dictionary of a serving
        tier) instead of one stats job per novel query term. Memory is
        O(vocabulary)."""
        assert mode in ("lucene", "sql")
        self.index = index
        self.mode = mode
        self.k1 = k1
        self.b = b
        self.bm25 = BM25(index.coll_stats["doc_count"], index.coll_stats["sum_ttf"],
                         k1=k1, b=b)
        self._stats_cache: dict[str, int] = {}
        self._preload = preload_stats
        self._preloaded = False
        self.query_cache = query_cache
        # IndexTables is an immutable snapshot — UNLESS it came from
        # SegmentIndex.as_flat_tables, which tags its provenance so a
        # Searcher held across an NRT append/merge + refresh() serves
        # fresh statistics (WandSearcher._check_snapshot parity).
        self._seg_source = getattr(index, "_segment_source", None)
        self._seg_snapshot = getattr(index, "_segment_snapshot", None)

    def _check_snapshot(self) -> None:
        if self._seg_source is None:
            return
        snap = tuple(self._seg_source.live_segments())
        if snap == self._seg_snapshot:
            return
        self.index = self._seg_source.as_flat_tables(
            **self.index._flat_args)
        self._seg_snapshot = snap
        self.bm25 = BM25(self.index.coll_stats["doc_count"],
                         self.index.coll_stats["sum_ttf"],
                         k1=self.k1, b=self.b)
        self._stats_cache = {}
        self._preloaded = False

    # -- statistics (TermStatistics / CollectionStatistics) --------------

    def _df_for(self, terms: set[str]) -> dict[str, int]:
        if self._preload and not self._preloaded:
            rows = self.index.term_stats.select("term", "df").collect()
            self._stats_cache = {r["term"]: int(r["df"]) for r in rows}
            self._preloaded = True
        if self._preloaded:
            return {t: self._stats_cache.get(t, 0) for t in terms}
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            rows = (
                self.index.term_stats.where(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            got = {r["term"]: r["df"] for r in rows}
            for t in missing:
                self._stats_cache[t] = got.get(t, 0)
        return {t: self._stats_cache[t] for t in terms}

    # -- leaf scoring -----------------------------------------------------

    def _scored_terms(self, terms: list[str]) -> DataFrame:
        """(term, docid, score) for every query term, scored per mode.

        One postings scan for all query terms (isin filter is pushed to
        the parquet scan); docs joined for norms/length. The filtered
        postings side is small, so AQE turns the join into a broadcast.
        """
        dfs = self._df_for(set(terms))
        present = [t for t in terms if dfs[t] > 0]
        if not present:
            return self._empty_scored()
        p = self.index.postings.where(F.col("term").isin(present)).select(
            "term", "docid", "tf"
        )
        if self.mode == "sql":
            d = self.index.docs.select("docid", "doclen")
            j = p.join(d, "docid")
            n = float(self.index.coll_stats["doc_count"])
            avgdl = self.index.coll_stats["sum_ttf"] / self.index.coll_stats["doc_count"]
            df_map = F.create_map(
                *[x for t in present for x in (F.lit(t), F.lit(float(dfs[t])))]
            )
            dfc = df_map[F.col("term")]
            idf = F.log(F.lit(1.0) + (F.lit(n) - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
            cache = F.lit(self.k1) * (
                F.lit(1.0 - self.b) + F.lit(self.b) * F.col("doclen") / F.lit(avgdl)
            )
            tf = F.col("tf").cast("double")
            score = idf * F.lit(self.k1 + 1.0) * tf / (tf + cache)
            return j.select("term", "docid", score.alias("score"))

        # lucene float32 mode
        d = self.index.docs.select("docid", "norm_byte")
        j = p.join(d, "docid")
        weights = {t: float(self.bm25.term_weight(dfs[t])) for t in present}
        bm25 = self.bm25

        @pandas_udf("float")
        def score32(term: pd.Series, tf: pd.Series, norm: pd.Series) -> pd.Series:
            w = term.map(weights).to_numpy(dtype=np.float32)
            s = bm25.score(w, tf.to_numpy(dtype=np.int64),
                           norm.to_numpy(dtype=np.int64).astype(np.uint8))
            return pd.Series(s)

        return j.select("term", "docid",
                        score32(F.col("term"), F.col("tf"), F.col("norm_byte")).alias("score"))

    def _empty_scored(self) -> DataFrame:
        spark = self.index.docs.sparkSession
        st = "double" if self.mode == "sql" else "float"
        return spark.createDataFrame([], f"term string, docid long, score {st}")

    def _score_type(self) -> str:
        return "double" if self.mode == "sql" else "float"

    # -- node evaluation ---------------------------------------------------

    def matches(self, q: A.Query) -> DataFrame:
        """Evaluate to (docid, score)."""
        self._check_snapshot()
        q = q.rewrite()
        all_terms = sorted(_collect_terms(q))
        scored = self._scored_terms(all_terms) if all_terms else None
        return self._eval(q, scored)

    def _eval(self, q: A.Query, scored: DataFrame | None) -> DataFrame:
        if isinstance(q, A.TermQ):
            out = scored.where(F.col("term") == q.term).select("docid", "score")
            if q.boost != 1.0:
                out = self._boost(out, q.boost)
            return out
        if isinstance(q, A.MatchAllQ):
            return self.index.docs.select(
                "docid", F.lit(q.boost).cast(self._score_type()).alias("score"))
        if isinstance(q, A.ConstQ):
            inner = self._filter_docids(
                q.inner.key(),
                lambda: self._eval(q.inner, scored).select("docid").distinct())
            return inner.withColumn("score", F.lit(q.boost).cast(self._score_type()))
        if isinstance(q, A.MultiTermQ):
            return self._eval_multiterm(q)
        if isinstance(q, A.AndQ):
            return self._eval_and(q, scored)
        if isinstance(q, A.OrQ):
            return self._eval_or(q, scored)
        if isinstance(q, A.NotQ):
            pos = self._eval(q.positive, scored)
            neg = self._eval(q.negative, scored).select("docid")
            return pos.join(neg, "docid", "left_anti")
        if isinstance(q, POSITIONAL):
            return self._eval_positional(q)
        if isinstance(q, A.DisMaxQ):
            return self._eval_dismax(q, scored)
        if isinstance(q, A.SynonymQ):
            return self._eval_synonym(q)
        if isinstance(q, A.BlendedTermQ):
            return self._eval_blended(q)
        if isinstance(q, A.ReqOptQ):
            return self._eval_reqopt(q, scored)
        if isinstance(q, A.PayloadScoreQ):
            return self._eval_payload_score(q)
        if isinstance(q, A.SpanPayloadCheckQ):
            return self._eval_payload_check(q)
        raise TypeError(f"unsupported query node {type(q).__name__}")

    def _eval_payload_score(self, q: A.PayloadScoreQ) -> DataFrame:
        """PayloadScoreQuery.java + PayloadFunction.java: fold the
        term's per-occurrence payload ints with min/max/avg/sum;
        score = fold result (double), times the term's BM25 score when
        include_span_score (PayloadSpanScorer.scoreCurrentDoc), times
        boost. Payloads ride the ``payloads`` column when the postings
        frame has one, else the .pay-analogue ``starts`` offsets
        (TokenOffsetPayloadTokenFilter shape) — Catalyst array
        expressions, no UDF."""
        p = self.index.postings.where(F.col("term") == q.term)
        pay_col = "payloads" if "payloads" in p.columns else "starts"
        if pay_col not in p.columns:
            raise ValueError(
                "PayloadScoreQ needs a payloads column or an index "
                "built with offsets (build_index(with_offsets=True) / "
                "build_segment_index(store_offsets=True))")
        pay = F.col(pay_col)
        if q.func == "min":
            v = F.array_min(pay).cast("double")
        elif q.func == "max":
            v = F.array_max(pay).cast("double")
        elif q.func == "sum":
            v = F.aggregate(pay, F.lit(0).cast("long"),
                            lambda a, x: a + x.cast("long")).cast("double")
        elif q.func == "avg":
            v = (F.aggregate(pay, F.lit(0).cast("long"),
                             lambda a, x: a + x.cast("long")).cast("double")
                 / F.size(pay).cast("double"))
        else:
            raise ValueError(f"unknown payload function {q.func!r}")
        out = p.select("docid", v.alias("_pv"))
        if q.include_span_score:
            base = self.matches(A.TermQ(q.term)).withColumnRenamed(
                "score", "_ts")
            out = out.join(base, "docid").select(
                "docid",
                (F.col("_pv") * F.col("_ts").cast("double")).alias("_pv"))
        if self.mode == "sql":
            score = F.col("_pv") * F.lit(float(q.boost))
        else:
            score = (F.col("_pv")
                     * F.lit(float(np.float32(q.boost)))).cast("float")
        return out.select("docid", score.cast(self._score_type())
                          .alias("score"))

    def _eval_payload_check(self, q: A.SpanPayloadCheckQ) -> DataFrame:
        """SpanPayloadCheckQuery.java: explode (position, payload)
        pairs per wrapped-span term, keep occurrences whose payload
        equals the list entry for their slot, leapfrog the adjacency
        (pos_i = pos_0 + i), distinct matching docs at constant score.
        Catalyst-only — the payload equality is a pushed Column
        predicate per slot, so a selective payload list prunes before
        the position join."""
        if len(q.terms) != len(q.payloads):
            raise ValueError("SpanPayloadCheckQ needs one payload per "
                             "span position")
        p = self.index.postings.where(
            F.col("term").isin(list(set(q.terms))))
        pay_col = "payloads" if "payloads" in p.columns else "starts"
        if pay_col not in p.columns:
            raise ValueError(
                "SpanPayloadCheckQ needs a payloads column or an index "
                "built with offsets (build_index(with_offsets=True))")
        occ = (p.select("docid", "term",
                        F.explode(F.arrays_zip("positions",
                                               pay_col)).alias("o"))
               .select("docid", "term",
                       F.col("o.positions").alias("pos"),
                       F.col(f"o.{pay_col}").alias("pay")))
        cur = (occ.where((F.col("term") == q.terms[0])
                         & (F.col("pay") == int(q.payloads[0])))
               .select("docid", "pos"))
        for i, (t, pl) in enumerate(zip(q.terms[1:], q.payloads[1:]),
                                    start=1):
            nxt = (occ.where((F.col("term") == t)
                             & (F.col("pay") == int(pl)))
                   .select(F.col("docid").alias("_d"),
                           F.col("pos").alias("_p")))
            cur = (cur.join(nxt, (cur.docid == F.col("_d"))
                            & (F.col("_p") == cur.pos + i))
                   .select("docid", "pos"))
        out = cur.select("docid").distinct()
        if self.mode == "sql":
            score = F.lit(float(q.boost))
        else:
            score = F.lit(float(np.float32(q.boost)))
        return out.select("docid",
                          score.cast(self._score_type()).alias("score"))

    def _eval_dismax(self, q: A.DisMaxQ, scored: DataFrame | None) -> DataFrame:
        """DisjunctionMaxScorer.java:36-61: scoreMax + tieBreaker *
        (scoreSum - scoreMax), accumulated in double, downcast."""
        parts = [self._eval(c, scored) for c in sorted(q.clauses, key=lambda x: x.key())]
        u = reduce(lambda a, b: a.unionByName(b), parts)
        agg = u.groupBy("docid").agg(
            F.max(F.col("score").cast("double")).alias("_mx"),
            F.sum(F.col("score").cast("double")).alias("_sm"))
        out = agg.select(
            "docid",
            (F.col("_mx") + F.lit(q.tie_breaker) * (F.col("_sm") - F.col("_mx")))
            .cast(self._score_type()).alias("score"))
        return out

    def _eval_synonym(self, q: A.SynonymQ) -> DataFrame:
        """SynonymQuery.java: union the terms' postings, sum tf per
        doc, score once as a pseudo-term whose df = max(term dfs)."""
        dfs = self._df_for(set(q.terms))
        present = [t for t in q.terms if dfs[t] > 0]
        if not present:
            return self._empty_scored().select("docid", "score")
        p = (self.index.postings.where(F.col("term").isin(present))
             .groupBy("docid").agg(F.sum("tf").alias("tf")))
        return self._score_tf(p, "tf", *self._blend_weights(
            max(dfs[t] for t in present), q.boost))

    def _eval_blended(self, q: A.BlendedTermQ) -> DataFrame:
        """BlendedTermQuery.java: per-term scoring with BLENDED df =
        max over the blended terms; per-doc scores summed (SHOULD
        semantics) in canonical term order."""
        dfs = self._df_for(set(q.terms))
        present = sorted(t for t in set(q.terms) if dfs[t] > 0)
        if not present:
            return self._empty_scored().select("docid", "score")
        p = self.index.postings.where(F.col("term").isin(present)).select(
            "term", "docid", "tf")
        per_term = self._score_tf(p, "tf", *self._blend_weights(
            max(dfs[t] for t in present), q.boost), keep=("term",))
        if self.mode == "sql":
            return per_term.groupBy("docid").agg(F.sum("score").alias("score"))
        # float64 fold in term order, downcast (DisjunctionSumScorer)
        return per_term.groupBy("docid").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(
                    F.col("term").alias("k"), F.col("score").alias("s")))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"].cast("double"),
            ).cast("float").alias("score"))

    def _blend_weights(self, df: int, boost: float) -> tuple[float, np.float32]:
        """(sql-mode f64 weight, f32 weight) of one pseudo-term of
        document frequency ``df``."""
        n = float(self.index.coll_stats["doc_count"])
        idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        return (idf * (self.k1 + 1.0) * boost,
                np.float32(self.bm25.term_weight(df, boost)))

    def _eval_reqopt(self, q: A.ReqOptQ, scored: DataFrame | None) -> DataFrame:
        """ReqOptSumScorer.java: required score + optional score when
        the optional side also matches (left join + coalesce)."""
        req = self._eval(q.required, scored).withColumnRenamed("score", "_rs")
        opt = self._eval(q.optional, scored).withColumnRenamed("score", "_os")
        j = req.join(opt, "docid", "left")
        total = (F.col("_rs").cast("double")
                 + F.coalesce(F.col("_os").cast("double"), F.lit(0.0)))
        return j.select("docid", total.cast(self._score_type()).alias("score"))

    def _boost(self, df: DataFrame, boost: float) -> DataFrame:
        if self.mode == "sql":
            return df.withColumn("score", F.col("score") * F.lit(boost))
        return df.withColumn(
            "score",
            (F.col("score").cast("double") * F.lit(float(np.float32(boost)))).cast("float"),
        )

    def _eval_and(self, q: A.AndQ, scored: DataFrame | None) -> DataFrame:
        # canonical clause order = sorted clause key; left-to-right
        # float64 accumulation in that order, downcast at the end.
        clauses = sorted(q.clauses, key=lambda c: c.key())
        frames = []
        for i, c in enumerate(clauses):
            frames.append(self._eval(c, scored).withColumnRenamed("score", f"_s{i}"))
        joined = reduce(lambda a, b: a.join(b, "docid"), frames)
        total = reduce(lambda acc, i: acc + F.col(f"_s{i}").cast("double"),
                       range(1, len(clauses)), F.col("_s0").cast("double"))
        out_t = self._score_type()
        return joined.select("docid", total.cast(out_t).alias("score"))

    def _eval_or(self, q: A.OrQ, scored: DataFrame | None) -> DataFrame:
        parts = []
        for c in sorted(q.clauses, key=lambda x: x.key()):
            parts.append(
                self._eval(c, scored).select(
                    "docid", F.lit(c.key()).alias("_ck"), F.col("score")
                )
            )
        u = reduce(lambda a, b: a.unionByName(b), parts)
        if self.mode == "sql":
            agg = u.groupBy("docid").agg(
                F.sum("score").alias("score"), F.count(F.lit(1)).alias("_m"))
        else:
            # deterministic float64 fold in clause-key order
            agg = u.groupBy("docid").agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct(F.col("_ck").alias("k"),
                                                         F.col("score").alias("s")))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["s"].cast("double"),
                ).cast("float").alias("score"),
                F.count(F.lit(1)).alias("_m"),
            )
        if q.min_should_match > 1:
            agg = agg.where(F.col("_m") >= q.min_should_match)
        return agg.select("docid", "score")

    def _eval_multiterm(self, q: A.MultiTermQ) -> DataFrame:
        """CONSTANT_SCORE_REWRITE: expand terms (q.term_predicate) against
        the term dictionary, union postings, dedup docids, constant score."""
        terms = self.index.term_stats.where(q.term_predicate()).select("term")

        # broadcast the (small) expanded term set into the postings scan
        def build():
            return (self.index.postings.join(F.broadcast(terms), "term")
                    .select("docid").distinct())

        docids = self._filter_docids(q.key(), build)
        return docids.withColumn("score", F.lit(q.boost).cast(self._score_type()))

    def _filter_docids(self, key: str, build) -> DataFrame:
        """Route a non-scoring docid-set computation through the
        query cache (when attached) — the LRUQueryCache pattern:
        only filters cache, never scores."""
        if self.query_cache is None:
            return build()
        got = self.query_cache.get_or_build(key, build)
        return got if got is not None else build()

    def _eval_positional(self, q: A.Query) -> DataFrame:
        """Every positional shape (POSITIONAL) as one two-phase plan
        (search/TwoPhaseIterator.java). Phase 1, in Catalyst: keep the
        docs holding a term of every slot group. Phase 2: one
        {term: positions} map per surviving doc, and one pandas UDF
        call per Arrow batch that runs the shape's rule from the
        positional match layer, shared with the segment kernels.
        Phrases and automata score through _score_phrase_freq over
        positional_idf_terms; spans score the constant boost."""
        from lucene_solr_spark.search.spannest import nested_match, slot_groups

        if isinstance(q, (A.PhraseQ, A.MultiPhraseQ)):
            slots = ([(t,) for t in q.terms] if isinstance(q, A.PhraseQ)
                     else [tuple(s) for s in q.slots])
            groups, slop = slots, int(q.slop)
            rpt = multiphrase_rpt_groups(slots, slop)

            def match(docs: list[dict]):
                if slop:
                    return [sloppy_phrase_freq(slots, pos, slop, *rpt)
                            for pos in docs]
                held = {t: [(i, pos[t]) for i, pos in enumerate(docs)
                            if t in pos] for s in slots for t in s}
                di, freqs = exact_phrase_freqs(slots, {
                    t: (np.repeat([i for i, _ in h], [len(p) for _, p in h]),
                        np.concatenate([p for _, p in h]))
                    for t, h in held.items() if h})
                out = np.zeros(len(docs))
                out[di] = freqs
                return out
        elif isinstance(q, A.TermAutomatonQ):
            paths = q.finite_strings()
            groups = [tuple(positional_idf_terms(q))]
            match = (lambda docs: [automaton_freq(paths, pos) for pos in docs])
        elif isinstance(q, A.SpanNearQ):
            first, second = q.first, q.second
            slop, in_order = int(q.slop), bool(q.in_order)
            groups = [(first,), (second,)]
            match = (lambda docs: [span_near_match(
                pos.get(first), pos.get(second), slop, in_order)
                for pos in docs])
        else:
            groups = slot_groups(q)
            match = (lambda docs: [nested_match(q, pos) for pos in docs])

        dfs = self._df_for({t for g in groups for t in g})
        groups = [tuple(t for t in g if dfs[t] > 0) for g in groups]
        if not all(groups):
            return self._empty_scored().select("docid", "score")
        present = sorted({t for g in groups for t in g})
        gids = F.create_map(*[x for t in present for x in (F.lit(t), F.lit(
            [gi for gi, g in enumerate(groups) if t in g]))])
        docs = (self.index.postings.where(F.col("term").isin(present))
                .groupBy("docid").agg(
                    F.map_from_entries(F.collect_list(
                        F.struct("term", "positions"))).alias("tpos"),
                    F.size(F.array_distinct(F.flatten(F.collect_list(
                        gids[F.col("term")])))).alias("_ng"))
                .where(F.col("_ng") == len(groups)))

        @pandas_udf("double")
        def freq(maps: pd.Series) -> pd.Series:
            return pd.Series(np.asarray(match([
                {t: np.asarray(p, np.int64) for t, p in m.items()}
                for m in maps]), np.float64))

        with_freq = docs.select("docid", freq("tpos").alias("pfreq")).where(
            F.col("pfreq") > 0)
        if isinstance(q, (A.PhraseQ, A.MultiPhraseQ, A.TermAutomatonQ)):
            return self._score_phrase_freq(
                with_freq, positional_idf_terms(q), dfs, q.boost)
        return with_freq.select("docid", F.lit(float(q.boost)).cast(
            self._score_type()).alias("score"))

    def _score_phrase_freq(self, with_freq: DataFrame, terms: list[str],
                           dfs: dict[str, int], boost: float) -> DataFrame:
        """Shared phrase scoring: summed idf over the phrase terms,
        freq = phrase occurrences (BM25Similarity idfExplain over
        TermStatistics[], lines 196-205)."""
        n = self.index.coll_stats["doc_count"]
        idf_sum = float(sum(
            np.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in terms))
        return self._score_tf(with_freq, "pfreq",
                              idf_sum * (self.k1 + 1.0) * boost,
                              phrase_weight(self.bm25, boost, terms, dfs))

    def _score_tf(self, frame: DataFrame, tf_col: str, w64: float,
                  w32: np.float32, keep: tuple[str, ...] = ()) -> DataFrame:
        """(*keep, docid, score): BM25 at one weight over a frame's
        (possibly fractional) tf column — w64 * tf / (tf + cache) over
        the exact doc length in sql mode, the f32 BM25 at w32 over the
        norm byte otherwise."""
        if self.mode == "sql":
            avgdl = self.index.coll_stats["sum_ttf"] / self.index.coll_stats["doc_count"]
            j = frame.join(self.index.docs.select("docid", "doclen"), "docid")
            tf = F.col(tf_col).cast("double")
            cache = F.lit(self.k1) * (
                F.lit(1.0 - self.b) + F.lit(self.b) * F.col("doclen") / F.lit(avgdl))
            return j.select(*keep, "docid",
                            (F.lit(w64) * tf / (tf + cache)).alias("score"))
        bm25 = self.bm25
        j = frame.join(self.index.docs.select("docid", "norm_byte"), "docid")

        @pandas_udf("float")
        def score(tf: pd.Series, norm: pd.Series) -> pd.Series:
            return pd.Series(bm25.score(
                np.full(len(tf), w32, dtype=np.float32),
                tf.to_numpy(dtype=np.float64),
                norm.to_numpy(dtype=np.int64).astype(np.uint8)))

        return j.select(*keep, "docid",
                        score(F.col(tf_col), F.col("norm_byte")).alias("score"))

    # -- top-k --------------------------------------------------------------

    def search(self, q: A.Query | str, k: int = 10, with_url: bool = False) -> DataFrame:
        """Top-k by (score desc, docid asc) — TopScoreDocCollector
        semantics (TopScoreDocCollector.java:63-80; merge tie-break
        TopDocs.java:96-110). Returns (docid[, url], score, rank)."""
        if isinstance(q, str):
            q = A.parse_query(q)
        m = self.matches(q)
        top = m.orderBy(F.desc("score"), F.asc("docid")).limit(k)
        if with_url:
            top = top.join(self.index.docs.select("docid", "url"), "docid")
        w = F.row_number().over(Window.orderBy(F.desc("score"), F.asc("docid")))
        return top.withColumn("rank", w)

    def search_many(self, queries: dict[str, A.Query | str],
                    k: int = 10) -> DataFrame:
        """Batched serving for the flat engine: ONE postings scan
        scores the union of every query's terms (persisted), then each
        query's operator tree composes over the shared frame — the
        scan+score work is paid once per batch instead of once per
        query (the scatter-gather request-window shape; WandSearcher
        .search_many is the segment-store analogue). Returns
        (qid, docid, score, rank <= k). The shared frame stays
        persisted for reuse until the next search_many call."""
        self._check_snapshot()
        parsed: dict[str, A.Query] = {}
        for qid, q in queries.items():
            if isinstance(q, str):
                q = A.parse_query(q)
            parsed[qid] = q.rewrite()
        all_terms = sorted(set().union(
            *(_collect_terms(q) for q in parsed.values())) or set())
        prev = getattr(self, "_batch_scored", None)
        if prev is not None:
            prev.unpersist()
        scored = None
        if all_terms:
            scored = self._scored_terms(all_terms).persist()
            self._batch_scored = scored
        frames = []
        for qid, q in parsed.items():
            frames.append(self._eval(q, scored)
                          .select(F.lit(qid).alias("qid"), "docid", "score"))
        u = reduce(lambda a, b: a.unionByName(b), frames)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        return (u.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))

    def search_quantized(self, q: A.Query | str, k: int = 10) -> DataFrame:
        """sql-mode top-k with cross-engine-stable integer scores:
        score_q = floor(score * 1e6); rank by (score_q desc, docid asc)
        so rank assignment is identical in any engine computing the
        same double-precision formula (sub-ulp noise absorbed)."""
        assert self.mode == "sql", "quantized search requires sql mode"
        if isinstance(q, str):
            q = A.parse_query(q)
        m = self.matches(q).withColumn(
            "score_q", F.floor(F.col("score") * SCORE_QUANTUM).cast("long"))
        top = m.orderBy(F.desc("score_q"), F.asc("docid")).limit(k)
        w = F.row_number().over(Window.orderBy(F.desc("score_q"), F.asc("docid")))
        return top.withColumn("rank", w).select(
            F.col("docid").alias("doc_id"), "score_q", "rank")

"""In-process replay of queries through the public segment kernels.

Each query is run once per live segment through
``search.wand.boolean_topk`` or ``search.wand.phrase_topk`` with a
fresh ``WandStats``, on ``codec.GroupedPosting`` views built from
``SegmentIndex.postings`` rows, and the per-segment results are merged
into the global top-k (score desc, docid asc). This reads the pruning
counters that the Spark plan builds and drops, and times the kernels
and the block decoder without Spark scheduling in the way.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_spark.index.codec import GroupedPosting
from lucene_solr_spark.search import ast as A
from lucene_solr_spark.search.wand import WandStats, boolean_topk, phrase_topk


class SegmentData:
    """Posting rows and norms of the given terms, per live segment,
    collected to the driver once, with the searcher's ``BM25`` of the
    same snapshot (``WandSearcher.bm25``)."""

    def __init__(self, si, terms: set[str], bm25):
        self.rows: dict[int, dict[str, list[dict]]] = defaultdict(
            lambda: defaultdict(list))
        self.df: dict[str, int] = defaultdict(int)
        for r in si.postings.where(F.col("term").isin(sorted(terms))).collect():
            d = r.asDict()
            self.rows[int(d["seg_id"])][d["term"]].append(d)
            self.df[d["term"]] += int(d["df"])
        self.norms: dict[int, tuple[np.ndarray, int]] = {}
        for r in si.norms.select("seg_id", "doc_base", "norms").collect():
            self.norms[int(r["seg_id"])] = (
                np.frombuffer(r["norms"], dtype=np.uint8), int(r["doc_base"]))
        self.bm25 = bm25
        self.payload_bytes: dict[tuple[int, str], int] = {
            (sid, t): sum(len(r["docs_enc"] or b"") + len(r["tfs_enc"] or b"")
                          for r in rows)
            for sid, by_term in self.rows.items() for t, rows in by_term.items()}

    def postings(self, sid: int, terms) -> dict[str, GroupedPosting]:
        out = {}
        for t in terms:
            rows = self.rows.get(sid, {}).get(t)
            if not rows:
                continue
            by_grp = {int(r["grp_id"]): r for r in rows}
            out[t] = GroupedPosting(
                rows,
                lambda g, m=by_grp: (m[g]["docs_enc"] or b"",
                                     m[g]["tfs_enc"] or b""),
                pos_fetch=lambda g, m=by_grp: m[g]["pos_enc"] or b"")
        return out


def flat_shape(node) -> tuple[list[str], int, list[str]]:
    """(scored terms, min_should_match, excluded terms) of the flat
    shapes the benchmark generates: a term, an AND or OR of terms, and
    ``a NOT b`` over those. The engine's own decomposition
    (``WandSearcher._flat_terms``) is private, so the replay keeps this
    copy for the shapes it needs."""
    if isinstance(node, A.TermQ):
        return [node.term], 1, []
    if isinstance(node, (A.AndQ, A.OrQ)) and all(
            isinstance(c, A.TermQ) for c in node.clauses):
        terms = [c.term for c in node.clauses]
        msm = len(terms) if isinstance(node, A.AndQ) else max(
            1, node.min_should_match)
        return terms, msm, []
    if isinstance(node, A.NotQ) and isinstance(node.negative, A.TermQ):
        terms, msm, _ = flat_shape(node.positive)
        return terms, msm, [node.negative.term]
    raise ValueError(f"not a kernel shape: {node!r}")


def query_terms(q: str) -> set[str]:
    node = A.parse_query(q).rewrite()
    if isinstance(node, A.PhraseQ):
        return set(node.terms)
    terms, _, negs = flat_shape(node)
    return set(terms) | set(negs)


@dataclass
class Counters:
    """WandStats summed over kernel calls, plus each call's wall time.

    The exhaustive boolean scorer (which ``boolean_topk`` picks for
    small postings) counts decoded blocks but not ``blocks_total``;
    for such a call the total is taken from the postings it was given
    (a singleton posting counts as one block)."""

    blocks_decoded: int = 0
    blocks_total: int = 0
    intervals_scored: int = 0
    intervals_total: int = 0
    call_s: list[float] = field(default_factory=list)

    def add(self, st: WandStats, postings: dict, seconds: float) -> None:
        self.blocks_decoded += st.blocks_decoded
        self.blocks_total += st.blocks_total or sum(
            max(1, p.n_full_blocks + int(p.has_tail)) for p in postings.values())
        self.intervals_scored += st.intervals_scored
        self.intervals_total += st.intervals_total
        self.call_s.append(seconds)


def replay(data: SegmentData, q: str, k: int,
           acc: Counters) -> list[tuple[int, float]]:
    """Global top-k of ``q`` from one kernel call per segment, each
    with a fresh WandStats added into ``acc``."""
    node = A.parse_query(q).rewrite()
    docs, scores = [], []
    if isinstance(node, A.PhraseQ):
        terms = list(node.terms)
        if any(data.df[t] == 0 for t in set(terms)):
            return []
        idf = float(sum(data.bm25.idf(data.df[t]) for t in terms))
        weight = (np.float32(node.boost) * np.float32(idf)
                  * (data.bm25.k1 + np.float32(1.0)))
        for sid, (norms, base) in sorted(data.norms.items()):
            eps = data.postings(sid, set(terms))
            if any(t not in eps for t in set(terms)):
                continue
            st, t0 = WandStats(), time.perf_counter()
            d, s = phrase_topk(terms, eps, weight, norms, base, data.bm25,
                               k=k, slop=int(node.slop), stats=st)
            acc.add(st, eps, time.perf_counter() - t0)
            docs.append(d)
            scores.append(s)
    else:
        terms, msm, negs = flat_shape(node)
        present = sorted({t for t in terms if data.df[t] > 0})
        if len(present) < msm or not present:
            return []
        weights = {t: data.bm25.term_weight(data.df[t]) for t in present}
        neg_present = sorted({t for t in negs if data.df[t] > 0})
        for sid, (norms, base) in sorted(data.norms.items()):
            eps = data.postings(sid, present + neg_present)
            pos = {t: eps[t] for t in present if t in eps}
            if len(pos) < msm or not pos:
                continue
            neg = [eps[t].decode_all()[0] for t in neg_present if t in eps]
            exclude = np.unique(np.concatenate(neg)) if neg else None
            st, t0 = WandStats(), time.perf_counter()
            d, s = boolean_topk(pos, weights, norms, base, data.bm25, k=k,
                                msm=msm, exclude=exclude, stats=st)
            acc.add(st, pos, time.perf_counter() - t0)
            docs.append(d)
            scores.append(s)
    if not docs:
        return []
    d = np.concatenate(docs).astype(np.int64)
    s = np.concatenate(scores).astype(np.float32)
    order = np.lexsort((d, -s.astype(np.float64)))[:k]
    return [(int(d[i]), float(s[i])) for i in order]


def decode_mb_per_s(data: SegmentData) -> float:
    """Throughput of ``GroupedPosting.decode_all`` over every collected
    (segment, term) posting, in MB of encoded docs+tfs payload per
    second."""
    total_bytes, total_s = 0, 0.0
    for (sid, t), nbytes in sorted(data.payload_bytes.items()):
        gp = data.postings(sid, [t])[t]
        if gp.singleton_docid is not None:
            continue
        t0 = time.perf_counter()
        gp.decode_all()
        total_s += time.perf_counter() - t0
        total_bytes += nbytes
    return total_bytes / 1e6 / total_s if total_s else 0.0

"""Expected top-k answers from the package's numpy oracle, cached.

``oracle.OracleIndex`` scores exhaustively in float32 with the
engine's clause order and tie-break, so its top-k (docid plus float32
score) must equal the engine's bit for bit. It is far slower than the
engine, so the workloads record the engine's answers and compute the
expected ones after the timed sections, for the queries that ran,
through an on-disk cache keyed by workload, corpus and the sources of
the oracle and the query parser.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np

CACHE_DIR = Path(__file__).resolve().parent / ".cache"
K = 10
# modules whose code decides the expected answers: the oracle and what
# it imports from the package (analyzer, BM25, query parser)
ORACLE_SOURCES = ("oracle.py", "analysis/standard.py", "functions/bm25.py",
                  "search/ast.py")

Answer = list[tuple[int, float]]


def _digest(texts: list[str]) -> str:
    """sha256 over the texts and the ORACLE_SOURCES of the package
    under test."""
    import lucene_solr_spark

    pkg = Path(lucene_solr_spark.__file__).resolve().parent
    h = hashlib.sha256()
    for src in ORACLE_SOURCES:
        h.update((pkg / src).read_bytes())
        h.update(b"\0")
    for t in texts:
        h.update(t.encode("utf-8"))
        h.update(b"\0")
    return h.hexdigest()


def oracle_answers(texts_by_docid: list[str],
                   queries: list[str]) -> dict[str, Answer]:
    """Top-K per query over documents whose docid is their index in
    ``texts_by_docid``."""
    from lucene_solr_spark.oracle import OracleIndex

    oracle = OracleIndex(list(enumerate(texts_by_docid)))
    return {q: [(int(d), float(np.float32(s))) for d, s in oracle.top_k(q, K)]
            for q in sorted(set(queries))}


def cached_answers(tag: str, texts_by_docid: list[str],
                   queries) -> dict[str, Answer]:
    """oracle_answers through the on-disk cache ``.cache/<tag>.json``,
    which maps queries to answers and stores a digest of the texts and
    of the oracle's sources, so a changed generator or oracle
    recomputes instead of reusing stale answers. The oracle is built
    only when some query is missing."""
    digest = _digest(texts_by_docid)
    path = CACHE_DIR / f"{tag}-n{len(texts_by_docid)}-k{K}.json"
    known: dict[str, Answer] = {}
    if path.exists():
        try:
            blob = json.loads(path.read_text())
        except (OSError, ValueError):
            blob = {}
        if blob.get("digest") == digest:
            known = {q: [(int(d), float(s)) for d, s in a]
                     for q, a in blob["answers"].items()}
    missing = sorted(set(queries) - set(known))
    if missing:
        known.update(oracle_answers(texts_by_docid, missing))
        CACHE_DIR.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"digest": digest, "answers": known}))
        tmp.replace(path)
    return {q: known[q] for q in set(queries)}


def same_topk(got: list[tuple[int, float]], want: Answer) -> bool:
    """Bit-exact comparison: same docids in the same order, and float32
    scores equal."""
    if len(got) != len(want):
        return False
    return all(int(gd) == wd and np.float32(gs) == np.float32(ws)
               for (gd, gs), (wd, ws) in zip(got, want))

"""The in-process kernel replay answers like the engine's batched
search. Starts a small local Spark session and builds a 3-segment
index of 400 documents (about a minute on 2 cores)."""

import os

import pytest

import kernels
import querylog
from corpus import make_corpus, to_frame
from expected import oracle_answers, same_topk


@pytest.fixture(scope="module")
def index(tmp_path_factory):
    from pathlib import Path

    import host
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.wand import WandSearcher

    root = Path(__file__).resolve().parents[2]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = host.start_spark(2, {})
    corpus = make_corpus(400, seed=9)
    path = tmp_path_factory.mktemp("idx") / "index"
    si = build_segment_index(to_frame(spark, corpus), str(path), seg_size=150)
    yield corpus, si, WandSearcher(si, preload_stats=True)
    host.stop_spark(spark)


def test_replay_matches_search_many_and_oracle(index):
    corpus, si, ws = index
    assert len(si.live_segments()) == 3
    queries = sorted({q for _, q in querylog.serve_pool(corpus, 9)})[:40]
    got = {}
    for r in ws.search_many({f"q{i}": q for i, q in enumerate(queries)}, k=10).collect():
        got.setdefault(r["qid"], []).append(r)
    data = kernels.SegmentData(si, set().union(*map(kernels.query_terms, queries)),
                              ws.bm25)
    acc = kernels.Counters()
    expected = oracle_answers(corpus.by_url(), queries)
    for i, q in enumerate(queries):
        engine = [(int(r["docid"]), float(r["score"]))
                  for r in sorted(got.get(f"q{i}", []), key=lambda r: r["rank"])]
        replayed = kernels.replay(data, q, 10, acc)
        assert same_topk(replayed, engine), q
        assert same_topk(replayed, expected[q]), q
    assert acc.call_s and 0 < acc.blocks_decoded <= acc.blocks_total
    assert kernels.decode_mb_per_s(data) > 0

"""M5 tests: NRT incremental indexing (Structured Streaming appends).

Asserts the reference's NRT contract re-expressed on Spark: new
segments become visible on refresh, replayed batches are no-ops
(UpdateLog idempotency), and a streamed index answers queries with
scores equal to a batch-built index over the same corpus (stats are
index-global, so only docid assignment order differs).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.checkindex import check_index
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index
from lucene_solr_spark.search.wand import WandSearcher
from lucene_solr_spark.streaming.nrt import append_batch, index_stream

SEG, SALT = 64, 32


def _batches(pages, n):
    """Split the corpus deterministically into n url-ordered slices."""
    urls = sorted(r["url"] for r in pages.select("url").collect())
    cuts = [urls[i * len(urls) // n] for i in range(1, n)]
    conds = []
    lo = None
    for hi in cuts + [None]:
        c = F.lit(True) if lo is None else (F.col("url") >= lo)
        if hi is not None:
            c = c & (F.col("url") < hi)
        conds.append(c)
        lo = hi
    return [pages.where(c) for c in conds]


@pytest.fixture(scope="module")
def streamed_index(spark, pages_tiny, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("nrt") / "idx")
    for i, b in enumerate(_batches(pages_tiny, 3)):
        append_batch(b, path, batch_id=i, seg_size=SEG, salt_span=SALT)
    return SegmentIndex(path=path, spark=spark)


def test_all_docs_visible(streamed_index):
    report = check_index(streamed_index)
    assert report["clean"] and report["docs"] == 300


def test_batch_lineage_recorded(streamed_index):
    tags = {r["merged_from"] for r in streamed_index.meta.collect()}
    assert tags == {"batch:0", "batch:1", "batch:2"}


def test_replay_is_noop(spark, pages_tiny, streamed_index):
    before = streamed_index.meta.count()
    out = append_batch(_batches(pages_tiny, 3)[1], streamed_index.path,
                       batch_id=1, seg_size=SEG, salt_span=SALT)
    assert out is None
    streamed_index.refresh()
    assert streamed_index.meta.count() == before


def test_streamed_equals_batch_scores(spark, pages_tiny, streamed_index,
                                      tmp_path_factory):
    """Same corpus batch-built vs streamed: identical (url, score)
    result sets (docids differ — arrival order vs global url order —
    so compare by url; our batches are url-ordered slices, so even
    docids happen to align, but the test doesn't rely on it)."""
    path = str(tmp_path_factory.mktemp("nrtcmp") / "idx")
    batch_idx = build_segment_index(pages_tiny, path, seg_size=SEG,
                                    salt_span=SALT)
    url_a = dict((r["docid"], r["url"]) for r in streamed_index.docs.collect())
    url_b = dict((r["docid"], r["url"]) for r in batch_idx.docs.collect())
    for q in ["t000000", "t000001 AND t000002", "t000001 OR t000002"]:
        a = sorted((url_a[r["docid"]], np.float32(r["score"]))
                   for r in WandSearcher(streamed_index).search(q, k=10).collect())
        b = sorted((url_b[r["docid"]], np.float32(r["score"]))
                   for r in WandSearcher(batch_idx).search(q, k=10).collect())
        assert a == b, q


def test_streaming_query_end_to_end(spark, pages_tiny, tmp_path_factory):
    """Real readStream -> foreachBatch -> segment appends, then a
    post-drain merge (the NRT flush + background merge lifecycle)."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "src")
    idx_path = str(base / "idx")
    ckpt = str(base / "ckpt")

    batches = _batches(pages_tiny, 2)
    batches[0].write.mode("overwrite").parquet(src)
    schema = pages_tiny.schema

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = index_stream(stream, idx_path, ckpt, seg_size=SEG, salt_span=SALT,
                     trigger={"availableNow": True})
    q.awaitTermination(120)

    si = SegmentIndex(path=idx_path, spark=spark)
    n1 = check_index(si)["docs"]
    assert 0 < n1 < 300

    # second tranche of files arrives; restart stream from checkpoint
    batches[1].write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = index_stream(stream2, idx_path, ckpt, seg_size=SEG, salt_span=SALT,
                      trigger={"availableNow": True})
    q2.awaitTermination(120)

    si.refresh()
    assert check_index(si)["docs"] == 300

    # background merge keeps the accumulating segments tiered
    from lucene_solr_spark.index.merge import TieredMergePolicy, maybe_merge

    n_before = len(si.live_segments())
    maybe_merge(si, TieredMergePolicy(segs_per_tier=1.0, max_merge_at_once=4,
                                      floor_bytes=1))
    assert check_index(si)["clean"]
    assert len(si.live_segments()) <= n_before


def test_windowed_stream_with_watermark(spark, tmp_path_factory):
    """Event-time windowed aggregation with a watermark — absent from
    the reference (SURVEY §2.11 'late data / watermarks: absent');
    Structured Streaming provides it natively. Late events beyond the
    watermark are dropped from finalized windows."""
    import datetime as dt

    base = tmp_path_factory.mktemp("wm")
    src, ckpt, out = str(base / "src"), str(base / "ckpt"), str(base / "out")

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows1 = [(i, t0 + dt.timedelta(minutes=i % 30), f"u{i % 3}") for i in range(60)]
    spark.createDataFrame(rows1, "id long, ts timestamp, user string") \
        .write.mode("overwrite").parquet(src)

    stream = (spark.readStream
              .schema("id long, ts timestamp, user string").parquet(src))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "15 minutes"), F.col("user"))
           .agg(F.count(F.lit(1)).alias("n")))
    q = (agg.writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out).start())
    q.awaitTermination(120)

    # second batch: on-time events advance the watermark; a very late
    # event (before the watermark) must NOT reopen a closed window
    rows2 = ([(100 + i, t0 + dt.timedelta(hours=2, minutes=i), "u0")
              for i in range(20)]
             + [(999, t0 + dt.timedelta(minutes=1), "u0")])  # too late
    spark.createDataFrame(rows2, "id long, ts timestamp, user string") \
        .write.mode("append").parquet(src)
    stream2 = (spark.readStream
               .schema("id long, ts timestamp, user string").parquet(src))
    agg2 = (stream2.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"), F.col("user"))
            .agg(F.count(F.lit(1)).alias("n")))
    q2 = (agg2.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True)
          .format("parquet").option("path", out).start())
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    first_window = got.where(
        (F.col("user") == "u0")
        & (F.col("window.start") == t0)).agg(F.sum("n")).collect()[0][0]
    # u0's on-time events in [t0, t0+15m) are i in {0,3,...,12, 30,...,42}
    # = 10 events; the late id=999 (ts inside the window, arriving
    # after the watermark passed) must NOT be added (11 would be wrong)
    assert first_window == 10
    assert got.where(F.col("window.start") == t0 + dt.timedelta(hours=2)).count() >= 0


def test_merge_then_replay_is_noop(spark, pages_tiny, tmp_path_factory):
    """A merge must not erase consumed batch tags: replaying a batch
    whose segments were merged away stays a no-op (the exactly-once
    contract surviving the NRT flush -> background merge lifecycle)."""
    from lucene_solr_spark.index.checkindex import check_index
    from lucene_solr_spark.index.merge import TieredMergePolicy, maybe_merge

    path = str(tmp_path_factory.mktemp("mergereplay") / "idx")
    batches = _batches(pages_tiny, 3)
    for i, b in enumerate(batches):
        append_batch(b, path, batch_id=i, seg_size=SEG, salt_span=SALT)
    si = SegmentIndex(path=path, spark=spark)
    policy = TieredMergePolicy(segs_per_tier=1.0, max_merge_at_once=10,
                               floor_bytes=1)
    merges = maybe_merge(si, policy)
    assert merges, "expected the batch segments to merge"
    tags = {t for r in si.meta.collect() if r["merged_from"]
            for t in r["merged_from"].split(",")}
    assert {"batch:0", "batch:1", "batch:2"} <= tags

    docs_before = check_index(si)["docs"]
    out = append_batch(batches[1], path, batch_id=1, seg_size=SEG,
                       salt_span=SALT)
    assert out is None, "merged-away batch was re-applied"
    si.refresh()
    assert check_index(si)["docs"] == docs_before


def test_wand_stats_refresh_after_append(spark, pages_tiny, tmp_path_factory):
    """A WandSearcher must drop its cached df/collection stats when its
    SegmentIndex is refreshed past an append — stale float32 weights
    would silently break rank identity vs a fresh searcher."""
    path = str(tmp_path_factory.mktemp("nrtstats") / "idx")
    batches = _batches(pages_tiny, 2)
    append_batch(batches[0], path, batch_id=0, seg_size=SEG, salt_span=SALT)
    si = SegmentIndex(path=path, spark=spark)
    ws = WandSearcher(si)
    q = "t000001 OR t000002"
    ws.search(q, k=10).collect()  # populates the df/coll stats caches

    append_batch(batches[1], path, batch_id=1, seg_size=SEG, salt_span=SALT)
    si.refresh()
    got = [(r["docid"], np.float32(r["score"]))
           for r in ws.search(q, k=10).orderBy("rank").collect()]
    fresh = [(r["docid"], np.float32(r["score"]))
             for r in WandSearcher(SegmentIndex(path=path, spark=spark))
             .search(q, k=10).orderBy("rank").collect()]
    assert got == fresh


def test_stateful_sessionize_stream(spark, tmp_path_factory):
    """applyInPandasWithState custom stateful operator: per-user
    session state survives across micro-batches; a session closes
    (and is emitted) when a later batch brings an event past the gap."""
    from lucene_solr_spark.streaming.stateful import sessionize_stream

    base = tmp_path_factory.mktemp("stateful")
    src = str(base / "src")
    out = str(base / "out")
    ckpt = str(base / "ckpt")

    # batch 1: two close events for u1, one for u2
    spark.createDataFrame(
        [("u1", 1000.0), ("u1", 1010.0), ("u2", 1000.0)],
        "user_id string, epoch double").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    # batch 2 (separate file): u1 event far past the gap -> closes
    # the first u1 session; u2 stays within its session
    spark.createDataFrame(
        [("u1", 9000.0), ("u2", 1500.0)],
        "user_id string, epoch double").coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema("user_id string, epoch double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (sessionize_stream(stream, gap_seconds=3600)
         .writeStream.outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .format("parquet").option("path", out).start())
    q.awaitTermination(120)

    rows = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.read.parquet(out).collect()}
    # exactly one closed session: u1's first (1000..1010, 2 events);
    # u1's second and u2's only session remain open in state
    assert rows == {("u1", 1000.0, 1010.0, 2)}


def test_flat_searcher_stats_refresh_after_append(spark, pages_tiny,
                                                  tmp_path_factory):
    """Flat-engine parity for the WandSearcher snapshot check: a
    Searcher over as_flat_tables() must re-derive its tables and
    statistics when the SegmentIndex is refreshed past an append."""
    from lucene_solr_spark.search.executor import Searcher

    path = str(tmp_path_factory.mktemp("nrtflat") / "idx")
    batches = _batches(pages_tiny, 2)
    append_batch(batches[0], path, batch_id=0, seg_size=SEG, salt_span=SALT)
    si = SegmentIndex(path=path, spark=spark)
    s = Searcher(si.as_flat_tables(), mode="lucene")
    q = "t000001 OR t000002"
    s.search(q, k=10).collect()  # populates the stats cache

    append_batch(batches[1], path, batch_id=1, seg_size=SEG, salt_span=SALT)
    si.refresh()
    got = [(r["docid"], np.float32(r["score"]))
           for r in s.search(q, k=10).orderBy("rank").collect()]
    fresh = [(r["docid"], np.float32(r["score"]))
             for r in Searcher(SegmentIndex(path=path, spark=spark)
                               .as_flat_tables(), mode="lucene")
             .search(q, k=10).orderBy("rank").collect()]
    assert got == fresh


def test_replicator_incremental(spark, pages_tiny, tmp_path_factory):
    """lucene/replicator semantics: first round copies all live
    segments; replica answers queries identically; after an NRT
    append + new round, only the NEW segments are copied and the
    replica flips to the new revision atomically."""
    from lucene_solr_spark.index.replicator import replicate
    from lucene_solr_spark.search.wand import WandSearcher

    src_path = str(tmp_path_factory.mktemp("repl") / "src")
    dst_path = str(tmp_path_factory.mktemp("repl") / "dst")
    batches = _batches(pages_tiny, 2)
    append_batch(batches[0], src_path, batch_id=0, seg_size=SEG,
                 salt_span=SALT)
    src = SegmentIndex(path=src_path, spark=spark)

    r1 = replicate(src, dst_path)
    assert r1["copied"] and not r1["skipped"]
    dst = SegmentIndex(path=dst_path, spark=spark)
    q = "t000001 OR t000002"
    a = [(r["docid"], np.float32(r["score"]))
         for r in WandSearcher(src).search(q, k=10).orderBy("rank").collect()]
    b = [(r["docid"], np.float32(r["score"]))
         for r in WandSearcher(dst).search(q, k=10).orderBy("rank").collect()]
    assert a == b

    append_batch(batches[1], src_path, batch_id=1, seg_size=SEG,
                 salt_span=SALT)
    src.refresh()
    r2 = replicate(src, dst_path)
    assert r2["copied"] and set(r2["skipped"]) == set(r1["copied"])
    dst.refresh()
    a2 = [(r["docid"], np.float32(r["score"]))
          for r in WandSearcher(src).search(q, k=10).orderBy("rank").collect()]
    b2 = [(r["docid"], np.float32(r["score"]))
          for r in WandSearcher(dst).search(q, k=10).orderBy("rank").collect()]
    assert a2 == b2
    # idempotent third round: nothing to copy
    r3 = replicate(src, dst_path)
    assert not r3["copied"]


def test_cdcr_checkpointed_rounds(spark, pages_tiny, tmp_path_factory):
    """CDCR (CdcrReplicator + checkpoint semantics): round 1 ships and
    advances the checkpoint; a no-change round is a NO-OP (checkpoint
    says the generation is applied — no copies, no manifest commit);
    after an NRT append the next round ships only the new segments;
    a crash between ship and checkpoint (simulated by deleting the
    checkpoint) replays idempotently."""
    import shutil

    from lucene_solr_spark.index.replicator import (_cdcr_read_checkpoint,
                                                    cdcr_replicate)
    from lucene_solr_spark.index.segments import meta_generations
    from lucene_solr_spark.search.wand import WandSearcher

    base = tmp_path_factory.mktemp("cdcr")
    src_path, dst_path, st_path = (str(base / "src"), str(base / "dst"),
                                   str(base / "state"))
    batches = _batches(pages_tiny, 2)
    append_batch(batches[0], src_path, batch_id=0, seg_size=SEG,
                 salt_span=SALT)
    src = SegmentIndex(path=src_path, spark=spark)

    r1 = cdcr_replicate(src, dst_path, st_path)
    assert r1["applied"] and r1["copied"]
    assert _cdcr_read_checkpoint(spark, st_path) == r1["generation"]
    gens_after_r1 = meta_generations(spark, dst_path)

    # unchanged source -> no-op round (no new manifest at the target)
    r2 = cdcr_replicate(src, dst_path, st_path)
    assert not r2["applied"] and not r2["copied"]
    assert meta_generations(spark, dst_path) == gens_after_r1

    # NRT append -> only new segments ship; target flips revisions
    append_batch(batches[1], src_path, batch_id=1, seg_size=SEG,
                 salt_span=SALT)
    src.refresh()
    r3 = cdcr_replicate(src, dst_path, st_path)
    assert r3["applied"] and r3["copied"]
    assert set(r3["skipped"]) == set(r1["copied"])
    dst = SegmentIndex(path=dst_path, spark=spark)
    q = "t000001 OR t000002"
    a = [(r["docid"], np.float32(r["score"])) for r in
         WandSearcher(src).search(q, k=10).orderBy("rank").collect()]
    b = [(r["docid"], np.float32(r["score"])) for r in
         WandSearcher(dst).search(q, k=10).orderBy("rank").collect()]
    assert a == b

    # crash-replay: lose the checkpoint, rerun — idempotent (nothing
    # copied, identical manifest re-committed, checkpoint restored)
    shutil.rmtree(st_path)
    r4 = cdcr_replicate(src, dst_path, st_path)
    assert r4["applied"] and not r4["copied"]
    assert _cdcr_read_checkpoint(spark, st_path) == r4["generation"]
    b2 = [(r["docid"], np.float32(r["score"])) for r in
          WandSearcher(SegmentIndex(path=dst_path, spark=spark))
          .search(q, k=10).orderBy("rank").collect()]
    assert b2 == a


def test_topic_stream_checkpointed(spark, pages_tiny, tmp_path_factory):
    """TopicStream semantics: first poll+commit delivers everything
    matching; a poll after an NRT append delivers ONLY the new docs;
    poll-without-commit REPLAYS (at-least-once); a fresh subscriber
    instance resumes from the durable checkpoint."""
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.streaming.nrt import Topic

    base = tmp_path_factory.mktemp("topic")
    src_path, st_path = str(base / "idx"), str(base / "state")
    batches = _batches(pages_tiny, 2)
    append_batch(batches[0], src_path, batch_id=0, seg_size=SEG,
                 salt_span=SALT)
    si = SegmentIndex(path=src_path, spark=spark)

    class SegSearcher:  # match surface over the segment index
        def __init__(self, si):
            self.si = si

        def matches(self, q):
            return Searcher(self.si.as_flat_tables(),
                            mode="sql").matches(q)

    from lucene_solr_spark.search import ast as A

    t = Topic(SegSearcher(si), A.TermQ("t000001"), st_path)
    first = {r["docid"] for r in t.poll().collect()}
    assert first
    t.commit()
    # nothing new -> empty poll
    assert t.poll().count() == 0
    t.commit()

    append_batch(batches[1], src_path, batch_id=1, seg_size=SEG,
                 salt_span=SALT)
    nxt = {r["docid"] for r in t.poll().collect()}
    assert nxt and nxt.isdisjoint(first)
    # poll again WITHOUT commit: replay (at-least-once)
    again = {r["docid"] for r in t.poll().collect()}
    assert again == nxt
    t.commit()
    # a fresh subscriber resumes from the durable checkpoint
    t2 = Topic(SegSearcher(SegmentIndex(path=src_path, spark=spark)),
               A.TermQ("t000001"), st_path)
    assert t2.poll().count() == 0
    # full coverage: first + nxt == every match in the index
    allm = {r["docid"] for r in SegSearcher(si).matches(
        A.TermQ("t000001")).collect()}
    assert first | nxt == allm

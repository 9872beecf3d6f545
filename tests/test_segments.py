"""M2 tests: segment-structured build, CheckIndex invariants, resume.

Mirrors the reference's test strategy (SURVEY §5): codec round-trip at
index scale, CheckIndex validation of every posting, and the
distributed-vs-fresh equivalence (Solr's BaseDistributedSearchTestCase
pattern applied to checkpoint resume).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.checkindex import check_index
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index

SEG = 128
SALT = 32


@pytest.fixture(scope="module")
def seg_index(spark, pages_tiny, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segidx") / "idx")
    si = build_segment_index(pages_tiny, path, seg_size=SEG, salt_span=SALT)
    return si


def test_checkindex_clean(seg_index):
    report = check_index(seg_index)
    assert report["clean"]
    assert report["docs"] == 300
    assert report["segments"] == 3  # 300 docs / 128 per segment


def test_segment_postings_match_flat(seg_index, tiny_index):
    """Decoded segment postings == flat-index postings exactly
    (the dueling-codecs pattern, TestDuelingCodecs.java)."""
    flat_from_seg = seg_index.as_flat_tables()
    a = flat_from_seg.postings.select("term", "docid", "tf")
    b = tiny_index.postings.select("term", "docid", "tf")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_term_stats_match_flat(seg_index, tiny_index):
    a = seg_index.term_stats
    b = tiny_index.term_stats
    assert a.exceptAll(b).count() == 0
    cs = seg_index.coll_stats()
    assert cs == tiny_index.coll_stats


def test_norm_blob_matches_docs(seg_index, tiny_index):
    a = seg_index.docs.select("docid", "norm_byte")
    b = tiny_index.docs.select("docid", "norm_byte")
    assert a.exceptAll(b).count() == 0


def test_resume_identical_to_fresh(spark, pages_tiny, tmp_path_factory):
    """Kill-and-resume: build only segment 0's docs (simulated partial
    run), then resume over the full input; final tables must equal a
    single-shot build (north-rule resumability)."""
    base = tmp_path_factory.mktemp("resume")
    p_full, p_resumed = str(base / "full"), str(base / "part")

    full = build_segment_index(pages_tiny, p_full, seg_size=SEG, salt_span=SALT)

    # partial: only the first 128 docs by url order (= segment 0),
    # then resume with the complete input.
    urls = [r["url"] for r in pages_tiny.select("url").collect()]
    first = set(sorted(urls)[:SEG])
    part_pages = pages_tiny.where(F.col("url").isin(list(first)))
    build_segment_index(part_pages, p_resumed, seg_size=SEG, salt_span=SALT)
    resumed = build_segment_index(pages_tiny, p_resumed, seg_size=SEG,
                                  salt_span=SALT, resume=True)

    assert check_index(resumed)["clean"]
    for sub in ("postings", "docs"):
        a = spark.read.parquet(f"{p_full}/{sub}")
        b = spark.read.parquet(f"{p_resumed}/{sub}")
        cols = [c for c in a.columns]
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0, sub
        assert b.select(cols).exceptAll(a.select(cols)).count() == 0, sub
    # meta: same segment geometry
    am = full.meta.select("seg_id", "doc_base", "doc_count", "sum_doclen")
    bm = resumed.meta.select("seg_id", "doc_base", "doc_count", "sum_doclen")
    assert am.exceptAll(bm).count() == 0


def test_resume_noop_when_complete(spark, seg_index, pages_tiny):
    """Resuming a finished build must rebuild nothing."""
    before = seg_index.meta.select("seg_id", "built_at").collect()
    si2 = build_segment_index(pages_tiny, seg_index.path, seg_size=SEG,
                              salt_span=SALT, resume=True)
    after = si2.meta.select("seg_id", "built_at").collect()
    assert sorted((r["seg_id"], r["built_at"]) for r in before) == \
        sorted((r["seg_id"], r["built_at"]) for r in after)


def test_corrupted_index_detected(spark, seg_index, tmp_path_factory):
    """CheckIndex must flag a tampered posting (df inflated)."""
    from lucene_solr_spark.index.checkindex import CheckIndexError

    path = str(tmp_path_factory.mktemp("corrupt") / "idx")
    shutil.copytree(seg_index.path, path)
    post = spark.read.parquet(f"{path}/postings")
    bad = post.withColumn("df", F.col("df") + F.lit(1))
    bad.write.mode("overwrite").parquet(f"{path}/postings_bad")
    shutil.rmtree(f"{path}/postings")
    shutil.move(f"{path}/postings_bad", f"{path}/postings")
    si = SegmentIndex(path=path, spark=spark)
    with pytest.raises(CheckIndexError):
        check_index(si)


def test_docid_assignment_unique_on_parquet_source(spark, pages_tiny, tmp_path_factory):
    """Regression: repartitionByRange samples with a per-execution
    seed; without pinning, the two-pass docid assignment can disagree
    between passes and emit duplicate ids (seen with parquet sources)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.docid import assign_doc_ids

    p = str(tmp_path_factory.mktemp("docid") / "pages")
    pages_tiny.write.mode("overwrite").parquet(p)
    base = assign_doc_ids(spark.read.parquet(p), key="url")
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("docid").alias("d"),
        F.min("docid").alias("lo"),
        F.max("docid").alias("hi")).collect()[0]
    assert agg["n"] == agg["d"] == 300
    assert agg["lo"] == 0 and agg["hi"] == 299


def test_positions_roundtrip_and_phrase(spark, seg_index, tiny_index):
    """The .pos stream: decoded positions equal the flat index's, and
    phrase queries answered from the segment store (WandSearcher's
    two-phase phrase kernel) are bit-identical to the flat engine."""
    import numpy as np

    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.wand import WandSearcher

    flat_pos = seg_index.as_flat_tables(with_positions=True).postings
    a = flat_pos.select("term", "docid", "positions")
    b = tiny_index.postings.select("term", "docid", "positions")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0

    ws = WandSearcher(seg_index)
    fs = Searcher(tiny_index, mode="lucene")
    for q in ['"t000001 t000002"', '"the t000000"']:
        ra = [(r["docid"], np.float32(r["score"]))
              for r in ws.search(q, k=10).orderBy("rank").collect()]
        rb = [(r["docid"], np.float32(r["score"]))
              for r in fs.search(q, k=10).orderBy("rank").collect()]
        assert ra == rb, q


def test_positions_survive_merge(spark, pages_tiny, tmp_path_factory):
    from lucene_solr_spark.index.merge import TieredMergePolicy, maybe_merge

    path = str(tmp_path_factory.mktemp("posmerge") / "idx")
    si = build_segment_index(pages_tiny, path, seg_size=64, salt_span=32)
    before = si.as_flat_tables(with_positions=True).postings.select(
        "term", "docid", "tf", "positions")
    before_rows = before.count()
    maybe_merge(si, TieredMergePolicy(segs_per_tier=1.0, max_merge_at_once=3,
                                      floor_bytes=1))
    after = si.as_flat_tables(with_positions=True).postings.select(
        "term", "docid", "tf", "positions")
    assert after.count() == before_rows
    assert after.exceptAll(before).count() == 0
    assert check_index(si)["clean"]


def test_build_independent_of_input_partitioning(spark, pages_tiny,
                                                 tmp_path_factory):
    """North rule: the same corpus must produce the IDENTICAL index at
    any parallelism/partitioning (docid assignment is global-order
    based, not partition based)."""
    base = tmp_path_factory.mktemp("partind")
    a = build_segment_index(pages_tiny.repartition(13), str(base / "a"),
                            seg_size=SEG, salt_span=SALT)
    b = build_segment_index(pages_tiny.repartition(2), str(base / "b"),
                            seg_size=SEG, salt_span=SALT)
    for sub in ("postings", "docs"):
        x = spark.read.parquet(f"{base}/a/{sub}")
        y = spark.read.parquet(f"{base}/b/{sub}")
        assert x.count() == y.count(), sub
        assert x.exceptAll(y).count() == 0, sub
        assert y.exceptAll(x).count() == 0, sub


def test_snapshot_isolation_across_merge(spark, pages_tiny, tmp_path_factory):
    """A reader opened before a merge keeps answering identically
    after it (superseded segment files remain on disk; only
    segments_meta moved — the commit-point contract)."""
    import numpy as np

    from lucene_solr_spark.index.merge import TieredMergePolicy, maybe_merge
    from lucene_solr_spark.search.wand import WandSearcher

    path = str(tmp_path_factory.mktemp("snap") / "idx")
    si_reader = build_segment_index(pages_tiny, path, seg_size=SEG,
                                    salt_span=SALT)
    ws_before = WandSearcher(si_reader)   # pins live segments + stats
    before = [(r["docid"], np.float32(r["score"]))
              for r in ws_before.search("t000001 OR t000002", k=10).collect()]

    si_merger = build_segment_index(pages_tiny, path, seg_size=SEG,
                                    salt_span=SALT, resume=True)
    maybe_merge(si_merger, TieredMergePolicy(segs_per_tier=1.0,
                                             max_merge_at_once=3,
                                             floor_bytes=1))
    # the OLD searcher (stale segment list) still answers consistently
    after_old = [(r["docid"], np.float32(r["score"]))
                 for r in ws_before.search("t000001 OR t000002", k=10).collect()]
    assert before == after_old
    # a refreshed searcher sees the merged layout with equal results
    si_reader.refresh()
    after_new = [(r["docid"], np.float32(r["score"]))
                 for r in WandSearcher(si_reader)
                 .search("t000001 OR t000002", k=10).collect()]
    assert before == after_new


def test_meta_commit_generations(spark, pages_tiny, tmp_path_factory):
    """segments_meta commits are generational (segments_N protocol): a
    torn commit — a generation directory without _SUCCESS — is ignored
    and the previous generation stays the readable manifest."""
    import os
    import shutil

    from lucene_solr_spark.index.segments import (
        META_GEN_PREFIX,
        commit_segments_meta,
        meta_generations,
        read_segments_meta,
    )
    from lucene_solr_spark.streaming.nrt import append_batch

    path = str(tmp_path_factory.mktemp("metagen") / "idx")
    half = pages_tiny.limit(150)
    append_batch(half, path, batch_id=0, seg_size=SEG, salt_span=SALT)
    assert meta_generations(spark, path) == [1]
    append_batch(pages_tiny.subtract(half), path, batch_id=1, seg_size=SEG,
                 salt_span=SALT)
    gens = meta_generations(spark, path)
    assert gens[-1] == 2
    live = read_segments_meta(spark, path)
    n_live = live.count()

    # torn commit: copy the latest generation WITHOUT its _SUCCESS
    # marker to a higher generation number, plus a row that would
    # corrupt the index if it were ever read
    torn = f"{path}/{META_GEN_PREFIX}99"
    shutil.copytree(f"{path}/{META_GEN_PREFIX}{gens[-1]}", torn)
    os.remove(f"{torn}/_SUCCESS")
    assert meta_generations(spark, path)[-1] == 2
    assert read_segments_meta(spark, path).count() == n_live

    # the next commit proceeds from the last COMMITTED generation; the
    # torn dir stays ignored
    commit_segments_meta(live, path)
    assert meta_generations(spark, path)[-1] == 3
    assert read_segments_meta(spark, path).count() == n_live


def test_hot_term_group_sharding_end_to_end(spark, tmp_path_factory):
    """A term with df > GROUP_BLOCKS*BLOCK_SIZE in one segment is
    written as multiple group rows; search duels the flat engine
    bit-equal and CheckIndex stays clean."""
    import numpy as np

    from lucene_solr_spark.index.checkindex import check_index
    from lucene_solr_spark.index.codec import BLOCK_SIZE, GROUP_BLOCKS
    from lucene_solr_spark.search.executor import Searcher
    from lucene_solr_spark.search.wand import WandSearcher
    from pyspark.sql import functions as F

    n = GROUP_BLOCKS * BLOCK_SIZE + 900       # 8192 + 900 docs
    pages = spark.range(n).select(
        F.format_string("https://h/%06d", F.col("id")).alias("url"),
        F.concat(F.lit("hot common"),
                 F.when(F.col("id") % 3 == 0, F.lit(" trio")).otherwise(F.lit("")),
                 F.format_string(" w%03d", F.pmod(F.col("id"), F.lit(211))),
                 ).alias("text"))
    path = str(tmp_path_factory.mktemp("grpshard") / "idx")
    si = build_segment_index(pages, path, seg_size=1 << 14, salt_span=SALT)

    hot_rows = (si.postings.where(F.col("term") == "hot")
                .select("grp_id", "df", "grp_prev_doc", "grp_last_doc")
                .orderBy("grp_id").collect())
    assert [int(r["grp_id"]) for r in hot_rows] == [0, 1]
    assert sum(int(r["df"]) for r in hot_rows) == n
    assert int(hot_rows[1]["grp_prev_doc"]) == int(hot_rows[0]["grp_last_doc"])
    assert int(hot_rows[1]["grp_last_doc"]) == n - 1

    assert check_index(si)["clean"]

    flat = Searcher(si.as_flat_tables(), mode="lucene")
    ws = WandSearcher(si)
    for q in ("hot", "hot AND trio", "hot OR w003", "trio NOT w005"):
        a = [(r["docid"], np.float32(r["score"]))
             for r in ws.search(q, k=10).orderBy("rank").collect()]
        b = [(r["docid"], np.float32(r["score"]))
             for r in flat.search(q, k=10).orderBy("rank").collect()]
        assert a == b, q


def test_offsets_roundtrip_and_merge(spark, pages_tiny, tmp_path_factory):
    """The offsets stream (.pay analogue): segment-store offsets decode
    to exactly the flat builder's offsets, and survive a merge."""
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.index.merge import TieredMergePolicy, maybe_merge

    path = str(tmp_path_factory.mktemp("offs") / "idx")
    si = build_segment_index(pages_tiny, path, seg_size=64, salt_span=32,
                             store_offsets=True)
    flat_ref = build_index(pages_tiny, with_offsets=True)
    a = si.as_flat_tables(with_offsets=True).postings.select(
        "term", "docid", "starts", "ends")
    b = flat_ref.postings.select("term", "docid", "starts", "ends")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    maybe_merge(si, TieredMergePolicy(segs_per_tier=1.0, max_merge_at_once=3,
                                      floor_bytes=1))
    c = si.as_flat_tables(with_offsets=True).postings.select(
        "term", "docid", "starts", "ends")
    assert c.exceptAll(b).count() == 0
    assert b.exceptAll(c).count() == 0
    assert check_index(si)["clean"]


def test_offsets_slice_matches_text(spark, pages_tiny):
    """Offsets are true char spans: text[start:end] == the token (the
    corpus is ASCII so lowering is 1:1)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.builder import build_index

    idx = build_index(pages_tiny, with_offsets=True)
    texts = {r["url"]: r["text"] for r in pages_tiny.collect()}
    urls = {r["docid"]: r["url"] for r in idx.docs.collect()}
    rows = (idx.postings.where(F.col("term").isin(["t000001", "t000002"]))
            .select("term", "docid", "starts", "ends").collect())
    assert rows
    for r in rows:
        text = texts[urls[r["docid"]]]
        for st, en in zip(r["starts"], r["ends"]):
            assert text[st:en].lower() == r["term"]


def test_docvalues_sidecar_and_backfill(spark, pages_tiny, tmp_path_factory):
    """Doc-values sidecar (Lucene70DocValuesFormat analogue): built
    inline with docvalues_cols, OR backfilled onto an existing index;
    a function-query consumer's plan touches ONLY the index path —
    never the source table."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.segments import (
        SegmentIndex, build_segment_index, write_docvalues)

    src = pages_tiny.withColumn("boostval",
                                F.length("text").cast("double"))
    path = str(tmp_path_factory.mktemp("dv") / "idx")
    build_segment_index(src, path, seg_size=64, salt_span=16,
                        docvalues_cols=["boostval"])
    si = SegmentIndex(path=path, spark=spark)
    assert si.has_docvalues()
    dv = si.docvalues
    assert dv.count() == pages_tiny.count()
    # values round-trip exactly
    want = {r["url"]: float(len(r["text"]))
            for r in pages_tiny.select("url", "text").collect()}
    got = {r["url"]: r["boostval"]
           for r in dv.join(si.docs.select("docid", "url"), "docid")
           .select("url", "boostval").collect()}
    assert got == want

    # the consuming plan must scan only the index (no source table)
    score = F.log(F.lit(1.0) + F.col("boostval"))
    plan = (dv.select("docid", score.alias("s"))
            .orderBy(F.desc("s")).limit(5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "docvalues" in plan
    assert "synth" not in plan and "pages" not in plan

    # backfill path: delete the sidecar, restore via write_docvalues
    import shutil
    shutil.rmtree(f"{path}/docvalues")
    assert not si.has_docvalues()
    write_docvalues(si, src, key_col="url", cols=["boostval"])
    assert si.has_docvalues()
    got2 = {r["url"]: r["boostval"]
            for r in si.docvalues.join(si.docs.select("docid", "url"), "docid")
            .select("url", "boostval").collect()}
    assert got2 == want


def test_index_sorted_topk_prunes(spark, pages_tiny, tmp_path_factory):
    """Index-sort early termination: correct first-k rows AND the
    docid cutoff is pushed to the parquet scan (row-group pruning)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.segments import (
        SegmentIndex, build_segment_index)

    path = str(tmp_path_factory.mktemp("ets") / "idx")
    build_segment_index(pages_tiny, path, seg_size=64, salt_span=16)
    si = SegmentIndex(path=path, spark=spark)
    got = [r["docid"] for r in si.index_sorted_topk(10).collect()]
    want = [r["docid"] for r in
            si.docs.orderBy("docid").limit(10).collect()]
    assert got == want == list(range(10))
    plan = (si.index_sorted_topk(10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "LessThan(docid" in plan

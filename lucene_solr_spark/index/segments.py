"""Segment-structured index build (SURVEY §7 Milestone 2).

Lucene's write path (EP1, SURVEY §3) re-expressed as one declarative
DataFrame pipeline:

  reference                               this engine
  ---------                               -----------
  DWPT: one thread owns one in-RAM        one segment = one contiguous
    segment (DocumentsWriterPerThread)      docid range; built by a
                                            groupBy shuffle keyed on seg_id
  FreqProxTermsWriter.flush sort + codec  one (seg_id, term-hash-bucket)
    (FreqProxTermsWriter.java:82-103)       shuffle -> vectorized bulk
                                            encoder in a grouped-map UDF
  Lucene50PostingsWriter FOR blocks +     codec.py (128-int FOR blocks,
    skip + our block-max extension          skip offsets, blockmax cols)
  .nvd norms file                         per-segment norms blob (one
    (Lucene70NormsFormat)                   binary row, index = docid-base)
  SegmentInfos (segments_N)               segments_meta parquet table with
                                            lineage + metrics per segment
  flush checkpoint / resumability         completed-segment manifest: a
                                            re-run builds only segments
                                            missing from segments_meta

Scale design (the part that must survive 10^12 docs / 1000 executors):

- **Contiguous docid ranges per segment.** seg_id = docid // seg_size.
  Tie-breaks are global-docid ordered, merges of adjacent segments
  need NO docid rebasing (concatenation in docbase order is already
  sorted), and the per-segment norms "file" is a dense array.
- **Zipf-skew salting** (north rule). Terms are hash-routed across
  `max(2*parallelism, 32)` salt buckets per segment, so a segment's
  vocabulary spreads over many reducers; and any ONE hot term's
  postings are bounded by seg_size rows — the segment bound IS the
  skew bound, exactly Lucene's DWPT flush bound. (An earlier
  doc-range two-stage collect_list design was replaced: collect_list
  partials do not reduce shuffle bytes for distinct (doc,term) rows,
  and the JVM list churn profiled 4x slower than the grouped-map
  numpy encoder.)
- **One wide shuffle for postings.** The (seg_id, bucket) exchange
  carries flat (term, docid, tf, norm) rows; grouping, sorting and
  encoding all happen vectorized inside the grouped map.
- **Postings written partitioned by seg_id, sorted by term** so a
  query-term lookup prunes to one directory and row-group min/max
  stats prune within it (the FST term-dictionary seek of
  codecs/blocktree/ becomes free storage-level pruning).
- **Independent sinks run as concurrent Spark jobs** (docs, norms,
  postings) off one materialized analyzed frame — no serial
  job-barrier chain.
- **No driver-side data paths**: the only collect() is the tiny
  per-segment metrics aggregate (one row per segment).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables, analyzed_frame
from lucene_solr_spark.index.codec import (
    POSTING_ROW_FIELDS,
    POSTING_ROW_SCHEMA,
    encode_posting,
)
from lucene_solr_spark.index.docid import assign_doc_ids

DEFAULT_SEG_SIZE = 1 << 16          # docs per segment (tests use smaller)
DEFAULT_SALT_SPAN = 1 << 10         # docids per salt bucket within a segment

POSTINGS_SCHEMA = "seg_id int, term string, " + POSTING_ROW_SCHEMA

# --- segments_meta generations (the segments_N commit protocol) -------------
#
# The manifest is the commit point: a torn overwrite of a single
# ``segments_meta`` directory would lose the live-segment list. Like
# the reference (IndexFileDeleter + SegmentInfos.write: write
# segments_N+1, then delete segments_N), every commit writes a NEW
# generation directory ``segments_meta_v<N>``; the directory only
# counts once Spark's _SUCCESS marker lands (written last), so a crash
# mid-commit leaves the previous generation as the readable manifest.
# Old generations are pruned after the new one is durable.

META_GEN_PREFIX = "segments_meta_v"
META_KEEP_GENERATIONS = 2


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def meta_generations(spark: SparkSession, path: str) -> list[int]:
    """Committed (_SUCCESS-marked) manifest generations, ascending."""
    fs, jvm = _hadoop_fs(spark, path)
    base = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(base):
        return []
    gens = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not name.startswith(META_GEN_PREFIX):
            continue
        try:
            n = int(name[len(META_GEN_PREFIX):])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{name}/_SUCCESS")):
            gens.append(n)
    return sorted(gens)


def read_segments_meta(spark: SparkSession, path: str) -> DataFrame | None:
    """The live manifest: newest committed generation (falling back to
    a legacy un-generational ``segments_meta`` dir). None if absent."""
    gens = meta_generations(spark, path)
    if gens:
        return spark.read.parquet(f"{path}/{META_GEN_PREFIX}{gens[-1]}")
    try:
        return spark.read.parquet(f"{path}/segments_meta")
    except Exception:
        return None


def _claim_generation(spark, path: str, start_after: int,
                      max_attempts: int = 64) -> int:
    """Claim the next manifest generation number via an atomic
    create-if-absent marker (FileSystem.create(overwrite=False) — the
    IndexWriter write-lock analogue, store/NativeFSLockFactory.java).
    Two concurrent committers (NRT append + background merge) both
    reading generation N can no longer both write v{N+1}: exactly one
    wins the claim file, the other claims v{N+2} — a whole-manifest
    lost update becomes two ordered commits."""
    fs, jvm = _hadoop_fs(spark, path)
    gen = start_after
    for _ in range(max_attempts):
        gen += 1
        claim = jvm.org.apache.hadoop.fs.Path(
            f"{path}/.claim_{META_GEN_PREFIX}{gen}")
        try:
            out = fs.create(claim, False)  # throws if already claimed
            out.close()
            return gen
        except Exception:
            continue  # claimed by a concurrent committer; try the next
    raise RuntimeError(
        f"could not claim a manifest generation after {max_attempts} tries")


def commit_segments_meta(meta: DataFrame, path: str) -> int:
    """Atomically commit a full manifest as the next generation and
    prune superseded generations; returns the new generation number.
    Generation numbers are claimed atomically (_claim_generation), so
    concurrent committers serialize instead of overwriting each other;
    note the LAST claimant still wins the logical manifest — callers
    performing read-modify-write cycles (merges) should hold a single
    writer per index, as Lucene's IndexWriter does."""
    spark = meta.sparkSession
    gens = meta_generations(spark, path)
    new_gen = _claim_generation(spark, path, gens[-1] if gens else 0)
    # single commit-point file: the manifest is O(segments) tiny rows
    meta.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{META_GEN_PREFIX}{new_gen}")
    fs, jvm = _hadoop_fs(spark, path)
    for g in gens[:-(META_KEEP_GENERATIONS - 1)] if META_KEEP_GENERATIONS > 1 else gens:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{path}/{META_GEN_PREFIX}{g}"), True)
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{path}/.claim_{META_GEN_PREFIX}{g}"), False)
    # a legacy un-generational manifest is superseded by any commit
    legacy = jvm.org.apache.hadoop.fs.Path(f"{path}/segments_meta")
    if fs.exists(legacy):
        fs.delete(legacy, True)
    return new_gen


def index_exists(spark: SparkSession, path: str) -> bool:
    return read_segments_meta(spark, path) is not None

META_SCHEMA = (
    "seg_id int, doc_base long, doc_count long, sum_doclen long, "
    "term_count long, posting_rows long, max_df long, "
    "input_rows long, build_wall_s double, built_at double, "
    "salt_span int, seg_size int, merged_from string"
)


@dataclass
class SegmentIndex:
    """Handle over an on-disk segment index (read side).

    segments_meta is the commit point (the ``segments_N`` analogue,
    index/SegmentInfos.java): after a merge, superseded segments'
    files may still exist on disk, so postings/norms reads are
    filtered to the live segment set — the snapshot-isolation role an
    Iceberg catalog would play in a real deployment.
    """

    path: str
    spark: SparkSession

    def __post_init__(self):
        self._live: list[int] | None = None
        self._postings_df: DataFrame | None = None

    def live_segments(self) -> list[int]:
        if self._live is None:
            self._live = sorted(
                int(r["seg_id"])
                for r in self.meta.select("seg_id").distinct().collect())
        return self._live

    def refresh(self) -> None:
        """Drop the cached segment list (SearcherManager.maybeRefresh)."""
        self._live = None
        self._postings_df = None

    @property
    def postings(self) -> DataFrame:
        # the scan handle is reusable across queries (lazy plan); caching
        # it avoids re-listing the partition directories per query
        if self._postings_df is None:
            df = self.spark.read.parquet(f"{self.path}/postings")
            self._postings_df = df.where(
                F.col("seg_id").isin(self.live_segments()))
        return self._postings_df

    @property
    def docs(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/docs")

    @property
    def norms(self) -> DataFrame:
        df = self.spark.read.parquet(f"{self.path}/norms")
        return df.where(F.col("seg_id").isin(self.live_segments()))

    @property
    def meta(self) -> DataFrame:
        m = read_segments_meta(self.spark, self.path)
        if m is None:
            raise FileNotFoundError(
                f"no committed segments_meta generation under {self.path}")
        return m

    def has_docvalues(self) -> bool:
        fs, jvm = _hadoop_fs(self.spark, self.path)
        return fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{self.path}/docvalues"))

    @property
    def docvalues(self) -> DataFrame:
        """Per-segment (docid -> numeric fields) forward index — the
        Lucene70DocValuesFormat analogue (codecs/lucene70/
        Lucene70DocValuesFormat.java:88-117). seg_id-partitioned, so a
        per-segment consumer's read is partition-pruned. Built via
        build_segment_index(docvalues_cols=...) or backfilled with
        write_docvalues()."""
        df = self.spark.read.parquet(f"{self.path}/docvalues")
        return df.where(F.col("seg_id").isin(self.live_segments()))

    @property
    def term_stats(self) -> DataFrame:
        """Global (term, df, ttf) — aggregated across segments, the
        cross-segment term dictionary statistics (TermStatistics)."""
        return self.postings.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))

    def coll_stats(self) -> dict:
        row = self.meta.agg(
            F.sum("doc_count").alias("n"), F.sum("sum_doclen").alias("s")
        ).collect()[0]
        return {"doc_count": int(row["n"]), "sum_ttf": int(row["s"])}

    def index_sorted_topk(self, k: int) -> DataFrame:
        """Early-terminating collection over the INDEX SORT
        (search/EarlyTerminatingSortingCollector.java): docids are
        assigned in url order (the index sort — index/docid.py), so
        top-k by url == the first k docids. The segment manifest
        bounds the docid cutoff driver-side (O(segments) tiny meta
        rows — the per-segment "stop after k" of the reference), and
        the docs scan prunes to row groups below the cutoff via
        parquet min/max statistics on the sort key — IO is O(k),
        independent of corpus size. Returns (docid, url, doclen)."""
        meta = sorted(self.meta.select("doc_base", "doc_count").collect(),
                      key=lambda r: r["doc_base"])
        need, cutoff = int(k), 0
        for r in meta:
            cutoff = int(r["doc_base"]) + int(r["doc_count"])
            need -= int(r["doc_count"])
            if need <= 0:
                break
        return (self.docs.select("docid", "url", "doclen")
                .where(F.col("docid") < cutoff)
                .orderBy("docid").limit(k))

    def as_flat_tables(self, with_positions: bool = False,
                       with_offsets: bool = False) -> IndexTables:
        """Adapter: view the segment index through the flat-index API
        (decodes postings on the fly) — used by dueling tests and
        driver queries (positions decode from the .pos stream, char
        offsets from the .pay-analogue offs_enc stream, when the index
        stores them)."""
        from lucene_solr_spark.index.codec import posting_from_row

        def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from lucene_solr_spark.index.codec import (
                decode_offsets,
                decode_positions,
                decode_posting,
            )
            for pdf in batches:
                terms, docids, tfs, plists, olists = [], [], [], [], []
                for i in range(len(pdf)):
                    row = pdf.iloc[i]
                    ep = posting_from_row(row)
                    d, t = decode_posting(ep)
                    terms.extend([row["term"]] * len(d))
                    docids.append(d)
                    tfs.append(t)
                    if with_positions:
                        if not ep.pos_enc:
                            raise ValueError(
                                "positions requested but index was built "
                                "with store_positions=False")
                        plists.extend(decode_positions(ep.pos_enc, t))
                    if with_offsets:
                        if not ep.offs_enc:
                            raise ValueError(
                                "offsets requested but index was built "
                                "with store_offsets=False")
                        olists.extend(decode_offsets(ep.offs_enc, t))
                if terms:
                    out = {
                        "term": terms,
                        "docid": np.concatenate(docids),
                        "tf": np.concatenate(tfs).astype(np.int32),
                    }
                    if with_positions:
                        out["positions"] = [p.astype(np.int32) for p in plists]
                    if with_offsets:
                        out["starts"] = [o[0].astype(np.int32) for o in olists]
                        out["ends"] = [o[1].astype(np.int32) for o in olists]
                    yield pd.DataFrame(out)

        schema = "term string, docid long, tf int"
        if with_positions:
            schema += ", positions array<int>"
        if with_offsets:
            schema += ", starts array<int>, ends array<int>"
        flat = self.postings.mapInPandas(explode, schema=schema)
        docs = self.docs
        out = IndexTables(
            docs=docs,
            postings=flat,
            term_stats=self.term_stats,
            coll_stats=self.coll_stats(),
        )
        # Snapshot provenance: a flat Searcher held across an NRT
        # append/merge + refresh() can re-derive fresh tables (the
        # flat-engine analogue of WandSearcher._check_snapshot).
        out._segment_source = self
        out._flat_args = dict(with_positions=with_positions,
                              with_offsets=with_offsets)
        out._segment_snapshot = tuple(self.live_segments())
        return out


# --- build ------------------------------------------------------------------


def _empty_encoded() -> pd.DataFrame:
    return pd.DataFrame(columns=["seg_id", "term"] + list(POSTING_ROW_FIELDS))


def _bulk_pos_enc(pos_col: np.ndarray, row_tfs: np.ndarray,
                  posting_row_starts: np.ndarray) -> list[bytes]:
    """Encode ALL postings' .pos streams in one vectorized vint pass.

    pos_col: object array of per-(doc,term) sorted position arrays (in
    the same row order as row_tfs). posting_row_starts: row index
    where each posting begins. Returns one bytes blob per posting
    (per-doc delta coding with resets at doc boundaries, exactly
    encode_positions' layout).
    """
    from lucene_solr_spark.index.codec import vint_encode_arr

    if len(pos_col) == 0:
        return []
    flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in pos_col])
    doc_starts = np.concatenate(([0], np.cumsum(row_tfs)[:-1]))
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    deltas[doc_starts] = flat[doc_starts]
    enc, nb = vint_encode_arr(deltas)
    # value-range start of each posting = position count before it
    pcum = np.cumsum(row_tfs)
    p_vstart = np.concatenate(([0], pcum[:-1]))[posting_row_starts]
    vcounts = np.diff(np.concatenate((p_vstart, [int(row_tfs.sum())])))
    b_of_val = np.concatenate(([0], np.cumsum(nb)))
    b_starts = b_of_val[p_vstart]
    b_ends = b_of_val[p_vstart + vcounts]
    buf = enc.tobytes()
    return [buf[s:e] for s, e in zip(b_starts, b_ends)]


def _bulk_offs_enc(st_col: np.ndarray, en_col: np.ndarray,
                   row_tfs: np.ndarray,
                   posting_row_starts: np.ndarray) -> list[bytes]:
    """Encode ALL postings' .pay offset streams in one vectorized vint
    pass (mirrors _bulk_pos_enc): per occurrence [start_delta, length]
    with start deltas resetting at doc boundaries."""
    from lucene_solr_spark.index.codec import vint_encode_arr

    if len(st_col) == 0:
        return []
    st = np.concatenate([np.asarray(x, dtype=np.int64) for x in st_col])
    en = np.concatenate([np.asarray(x, dtype=np.int64) for x in en_col])
    doc_starts = np.concatenate(([0], np.cumsum(row_tfs)[:-1]))
    deltas = st.copy()
    deltas[1:] -= st[:-1]
    deltas[doc_starts] = st[doc_starts]
    vals = np.empty(2 * len(st), dtype=np.int64)
    vals[0::2] = deltas
    vals[1::2] = en - st
    enc, nb = vint_encode_arr(vals)
    pcum = np.cumsum(row_tfs)
    p_vstart = np.concatenate(([0], pcum[:-1]))[posting_row_starts]
    occ_counts = np.diff(np.concatenate((p_vstart, [int(row_tfs.sum())])))
    b_of_val = np.concatenate(([0], np.cumsum(nb)))
    b_starts = b_of_val[2 * p_vstart]
    b_ends = b_of_val[2 * (p_vstart + occ_counts)]
    buf = enc.tobytes()
    return [buf[s:e] for s, e in zip(b_starts, b_ends)]


def _encode_bucket(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map encoder: all (docid, tf, norm[, positions]) rows of
    one (segment, term-hash-bucket) -> one encoded posting row per term.

    Fully vectorized over the Zipf shape of the vocabulary:
    - df == 1 singletons (the long tail — most terms): no byte
      streams at all, assembled columnar in one shot.
    - 2 <= df < 128 (tail-only postings): ALL such postings' vint
      tails are encoded in ONE concatenated vint_encode_arr pass and
      sliced apart by per-posting byte offsets (reduceat bookkeeping).
    - df >= 128 (the hot head, few terms): the full block codec per
      posting.
    Positions (when present) encode the same way: one shared vint pass
    per class, sliced per posting (_bulk_pos_enc).
    """
    if len(pdf) == 0:
        return _empty_encoded()
    seg_id = int(key[0])
    terms = pdf["term"].to_numpy()
    docids = pdf["docid"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    norms = pdf["norm_byte"].to_numpy(dtype=np.int64)
    has_pos = "positions" in pdf.columns
    has_offs = "starts" in pdf.columns
    order = np.lexsort((docids, terms))
    terms, docids, tfs, norms = terms[order], docids[order], tfs[order], norms[order]
    pos_col = pdf["positions"].to_numpy()[order] if has_pos else None
    st_col = pdf["starts"].to_numpy()[order] if has_offs else None
    en_col = pdf["ends"].to_numpy()[order] if has_offs else None
    cuts = np.nonzero(terms[1:] != terms[:-1])[0] + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(terms)]))
    dfs = ends - starts

    from lucene_solr_spark.index.codec import BLOCK_SIZE, interleave_tail, vint_encode_arr

    frames = []

    # --- singletons, fully columnar ------------------------------------
    sing = dfs == 1
    if sing.any():
        s_idx = starts[sing]
        n = len(s_idx)
        frames.append(pd.DataFrame({
            "seg_id": np.full(n, seg_id, dtype=np.int32),
            "term": terms[s_idx],
            "df": np.ones(n, dtype=np.int32),
            "ttf": tfs[s_idx],
            "singleton_docid": docids[s_idx],
            "docs_enc": [b""] * n,
            "tfs_enc": [b""] * n,
            "skip_last_doc": [[]] * n,
            "skip_doc_off": [[]] * n,
            "skip_tf_off": [[]] * n,
            "bm_tf": [[int(x)] for x in tfs[s_idx]],
            "bm_norm": [[int(x)] for x in norms[s_idx]],
            "tail_offset": np.full(n, -1, dtype=np.int32),
            "pos_enc": (_bulk_pos_enc(pos_col[s_idx], tfs[s_idx],
                                      np.arange(n))
                        if has_pos else [b""] * n),
            "offs_enc": (_bulk_offs_enc(st_col[s_idx], en_col[s_idx],
                                        tfs[s_idx], np.arange(n))
                         if has_offs else [b""] * n),
            "imp_tf": [[]] * n,
            "imp_norm": [[]] * n,
            "grp_id": np.zeros(n, dtype=np.int32),
            "grp_prev_doc": np.zeros(n, dtype=np.int64),
            "grp_last_doc": docids[s_idx],
        }))

    # --- tail-only postings (2 <= df < 128), one shared vint pass ------
    small = (dfs >= 2) & (dfs < BLOCK_SIZE)
    if small.any():
        s_starts, s_ends = starts[small], ends[small]
        # gather rows of all small postings (vectorized ranges-concat)
        lens = s_ends - s_starts
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        gath = (np.repeat(s_starts, lens)
                + np.arange(int(lens.sum())) - np.repeat(offs, lens))
        g_doc, g_tf, g_norm = docids[gath], tfs[gath], norms[gath]
        g_dfs = (s_ends - s_starts)
        g_starts = np.concatenate(([0], np.cumsum(g_dfs)[:-1]))
        # per-posting d-gaps: first delta = docid, rest = diff
        deltas = g_doc.copy()
        deltas[1:] -= g_doc[:-1]
        deltas[g_starts] = g_doc[g_starts]
        # interleaved tail values for ALL postings at once
        one = g_tf == 1
        slots = 2 - one.astype(np.int64)            # vints per doc
        vals = interleave_tail(deltas, g_tf)
        enc, nb = vint_encode_arr(vals)
        # per-posting value counts -> byte ranges
        vcounts = np.add.reduceat(slots, g_starts)
        v_starts = np.concatenate(([0], np.cumsum(vcounts)[:-1]))
        bcounts = np.add.reduceat(nb, v_starts)
        b_starts = np.concatenate(([0], np.cumsum(bcounts)[:-1]))
        buf = enc.tobytes()
        n = len(s_starts)
        frames.append(pd.DataFrame({
            "seg_id": np.full(n, seg_id, dtype=np.int32),
            "term": terms[s_starts],
            "df": g_dfs.astype(np.int32),
            "ttf": np.add.reduceat(g_tf, g_starts),
            "singleton_docid": np.full(n, np.nan),
            "docs_enc": [buf[b: b + c] for b, c in zip(b_starts, bcounts)],
            "tfs_enc": [b""] * n,
            "skip_last_doc": [[]] * n,
            "skip_doc_off": [[]] * n,
            "skip_tf_off": [[]] * n,
            "bm_tf": [[int(x)] for x in np.maximum.reduceat(g_tf, g_starts)],
            "bm_norm": [[int(x)] for x in np.maximum.reduceat(g_norm, g_starts)],
            "tail_offset": np.zeros(n, dtype=np.int32),
            "pos_enc": (_bulk_pos_enc(pos_col[gath], g_tf, g_starts)
                        if has_pos else [b""] * n),
            "offs_enc": (_bulk_offs_enc(st_col[gath], en_col[gath],
                                        g_tf, g_starts)
                         if has_offs else [b""] * n),
            "imp_tf": [[]] * n,
            "imp_norm": [[]] * n,
            "grp_id": np.zeros(n, dtype=np.int32),
            "grp_prev_doc": np.zeros(n, dtype=np.int64),
            "grp_last_doc": g_doc[g_starts + g_dfs - 1],
        }))

    # --- the hot head (df >= 128): full block codec, sharded into
    # group rows of <= GROUP_BLOCKS blocks (split_posting_to_rows) ----
    big = dfs >= BLOCK_SIZE
    if big.any():
        from lucene_solr_spark.index.codec import split_posting_to_rows

        out = []
        for s, e in zip(starts[big], ends[big]):
            ep = encode_posting(docids[s:e], tfs[s:e], norms[s:e])
            flat = flat_st = flat_en = None
            if has_pos:
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in pos_col[s:e]])
            if has_offs:
                flat_st = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in st_col[s:e]])
                flat_en = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in en_col[s:e]])
            for row in split_posting_to_rows(ep, tfs[s:e], flat,
                                             flat_st, flat_en):
                row["seg_id"] = seg_id
                row["term"] = terms[s]
                out.append(row)
        frames.append(pd.DataFrame(out))

    if not frames:
        return _empty_encoded()
    out_df = pd.concat(frames, ignore_index=True)
    # nullable int for the singleton column (NaN-free Arrow transfer)
    out_df["singleton_docid"] = pd.array(
        [None if v is None or (isinstance(v, float) and np.isnan(v)) else int(v)
         for v in out_df["singleton_docid"]], dtype="Int64")
    return out_df


def build_segment_index(
    pages: DataFrame,
    path: str,
    key_col: str = "url",
    text_col: str = "text",
    seg_size: int = DEFAULT_SEG_SIZE,
    salt_span: int = DEFAULT_SALT_SPAN,
    resume: bool = False,
    precomputed_docid: str | None = None,
    docid_offset: int = 0,
    seg_id_offset: int = 0,
    lineage: str = "",
    store_positions: bool = True,
    store_offsets: bool = False,
    docvalues_cols: list[str] | None = None,
) -> SegmentIndex:
    """Build (or resume building) a segment-structured index at ``path``.

    Resume contract (north rule): segment builds are idempotent and
    docid assignment is deterministic, so a re-run after a mid-build
    failure recomputes docids, drops segments already present in
    segments_meta, and builds only the missing ranges. The final index
    is byte-identical to a single-shot build (tested).

    ``docid_offset`` / ``seg_id_offset`` / ``lineage`` support
    incremental (NRT) appends — see streaming/nrt.py: a micro-batch
    becomes fresh segments whose docid range starts after the existing
    index and whose meta rows carry the batch lineage tag.
    """
    spark = pages.sparkSession
    t0 = time.time()

    # project to the columns the build touches BEFORE the docid range
    # shuffle — at webtext scale the html blobs dominate row size and
    # must not ride through the sort (column pruning by hand here;
    # Catalyst can't prune through the id-assigning mapInPandas).
    cols = list(dict.fromkeys(
        [key_col, text_col] + ([precomputed_docid] if precomputed_docid else [])
        + list(docvalues_cols or [])))
    slim = pages.select(*cols)
    pinned_range = None
    if precomputed_docid:
        base = slim.withColumn("docid", F.col(precomputed_docid).cast("long"))
    else:
        base = assign_doc_ids(slim, key=key_col)
        pinned_range = getattr(base, "_pinned_range_frame", None)
        if docid_offset:
            base = base.withColumn("docid", F.col("docid") + F.lit(docid_offset))
    base = base.withColumn(
        "seg_id",
        (F.lit(seg_id_offset)
         + ((F.col("docid") - F.lit(docid_offset)) / F.lit(seg_size)).cast("int")))

    done: set[int] = set()
    if resume:
        done = completed_segments(spark, path)
        if done:
            base = base.where(~F.col("seg_id").isin(sorted(done)))
    appending = bool(done) or docid_offset > 0 or seg_id_offset > 0

    base = base.persist()
    if base.isEmpty():
        base.unpersist()
        if pinned_range is not None:
            pinned_range.unpersist()
        return SegmentIndex(path=path, spark=spark)

    # --- one fused analyze+invert scan; everything derives from it ------
    af = (analyzed_frame(base, key_col=key_col, text_col=text_col,
                         with_positions=store_positions,
                         with_offsets=store_offsets)
          .withColumn("seg_id", F.lit(seg_id_offset)
                      + ((F.col("docid") - F.lit(docid_offset))
                         / F.lit(seg_size)).cast("int"))
          .persist())

    docs = af.select("seg_id", "docid", "url", "doclen", "norm_byte").persist()

    # write parallelism must not collapse to one-task-per-segment (a
    # hard ceiling when segments < cores): spread rows over the full
    # parallelism keyed by (seg_id, docid); partitionBy still routes
    # rows to per-segment directories, each file internally sorted.
    par = spark.sparkContext.defaultParallelism
    af.count()  # materialize the shared scan ONCE before forking jobs

    # Append paths write with DYNAMIC partition overwrite instead of
    # plain append: re-writing a segment partition REPLACES its files,
    # so a resumed/replayed run can never duplicate a partially-written
    # segment left by a killed job (idempotent sink; fresh builds use
    # static overwrite to wipe any stale index at the path).
    def _part_write(df, sub):
        w = df.write.partitionBy("seg_id")
        if appending:
            w = w.option("partitionOverwriteMode", "dynamic").mode("overwrite")
        else:
            w = w.mode("overwrite")
        w.parquet(f"{path}/{sub}")

    def write_docs():
        _part_write(docs.repartition(par, "seg_id", "docid")
                        .sortWithinPartitions("seg_id", "docid"), "docs")

    # per-segment dense norms blob (index = docid - doc_base) WITH the
    # per-segment doc stats folded in — one pass produces both the
    # .nvd analogue and the SegmentInfo doc metrics, saving a separate
    # aggregation job over the docs table.
    def pack_norms(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("docid")
        doc_base = int(pdf["docid"].iloc[0])
        blob = pdf["norm_byte"].to_numpy(dtype=np.int64).astype(np.uint8).tobytes()
        lens = pdf["doclen"].to_numpy(dtype=np.int32)
        return pd.DataFrame({
            "seg_id": [int(key[0])], "doc_base": [doc_base],
            "doc_count": [len(pdf)], "norms": [blob],
            "doclens": [lens],
            "sum_doclen": [int(lens.sum())],
        })

    def write_norms():
        norms = docs.groupBy("seg_id").applyInPandas(
            pack_norms,
            schema="seg_id int, doc_base long, doc_count long, norms binary, "
                   "doclens array<int>, sum_doclen long")
        _part_write(norms, "norms")

    # --- postings (the .doc/.tim side) -----------------------------------
    # one row per (doc, distinct term), already tf-combined in the
    # analysis pass — no token-granularity shuffle anywhere.
    zip_cols = [F.col("terms").alias("term"), F.col("tfs").alias("tf")]
    if store_positions or store_offsets:
        zip_cols.append(F.col("positions").alias("positions"))
    if store_offsets:
        zip_cols.append(F.col("starts").alias("starts"))
        zip_cols.append(F.col("ends").alias("ends"))
    z = af.select(
        "seg_id", "docid", "norm_byte",
        F.explode(F.arrays_zip(*zip_cols)).alias("z"),
    )
    sel = ["seg_id", "docid", "norm_byte",
           F.col("z.term").alias("term"), F.col("z.tf").alias("tf")]
    if store_positions or store_offsets:
        sel.append(F.col("z.positions").alias("positions"))
    if store_offsets:
        sel.append(F.col("z.starts").alias("starts"))
        sel.append(F.col("z.ends").alias("ends"))
    with_norm = z.select(*sel)

    # Zipf-skew handling ("salting", north rule): terms are hash-routed
    # across salt_buckets reducers, so the vocabulary of a segment is
    # spread over many tasks instead of landing wherever groupBy(term)
    # hashes them relative to other load; and the postings of any ONE
    # hot term are bounded by seg_size rows — the segment bound IS the
    # skew bound, exactly Lucene's DWPT flush bound. Grouping +
    # sorting + encoding happen vectorized in numpy inside the grouped
    # map (one shuffle; no JVM collect_list/sort_array object churn,
    # which profiled 4x slower).
    salt_buckets = max(2 * par, 32)
    bucket = F.pmod(F.xxhash64("term"), F.lit(salt_buckets)).alias("salt_bucket")
    enc_cols = ["seg_id", "term", "docid", "tf", "norm_byte"]
    if store_positions or store_offsets:
        enc_cols.append("positions")
    if store_offsets:
        enc_cols.append("starts")
        enc_cols.append("ends")
    encoded = (
        with_norm.select(*enc_cols, bucket)
        .groupBy("seg_id", "salt_bucket")
        .applyInPandas(_encode_bucket, schema=POSTINGS_SCHEMA)
    )

    def write_postings():
        # repartition by (seg_id, term) keeps a term's group rows in
        # one file; sorting by (term, grp_id) makes the row-group term
        # statistics tight for the task-side point reads
        _part_write(encoded.repartition(par, "seg_id", "term")
                           .sortWithinPartitions("seg_id", "term", "grp_id"),
                    "postings")

    # The three sinks are independent given the materialized analyzed
    # frame — submit them as CONCURRENT Spark jobs (the scheduler
    # interleaves their stages over the same executors). This removes
    # the serial job-barrier chain, which at high core counts is the
    # dominant non-scaling cost (a Lucene flush writes .doc/.nvd/
    # stored-fields files concurrently for the same reason).
    # optional per-segment doc-values sidecar (the Lucene70DocValues
    # .dvd/.dvm analogue, codecs/lucene70/Lucene70DocValuesFormat.java:
    # 88-117): a (docid -> numeric field) columnar table per segment,
    # so function queries and sort-by-field answer from the index
    # without touching source tables. Values come straight off the
    # docid-assigned base frame — they never ride the analyzer.
    def write_docvalues():
        dv = base.select(
            "seg_id", "docid",
            *[F.col(c).cast("double").alias(c) for c in docvalues_cols])
        _part_write(dv.repartition(par, "seg_id", "docid")
                      .sortWithinPartitions("seg_id", "docid"), "docvalues")

    from concurrent.futures import ThreadPoolExecutor

    sinks = [write_docs, write_norms, write_postings]
    if docvalues_cols:
        sinks.append(write_docvalues)
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futs = [pool.submit(f) for f in sinks]
        for f in futs:
            f.result()

    # --- segment infos: lineage + metrics (north rule) --------------------
    # per-segment doc stats come from the tiny norms table (one row per
    # segment), not a fresh aggregation over docs
    seg_doc = (spark.read.parquet(f"{path}/norms")
               .select("seg_id", "doc_base", "doc_count", "sum_doclen"))
    if done:
        seg_doc = seg_doc.where(~F.col("seg_id").isin(sorted(done)))
    if appending and not done:
        seg_doc = seg_doc.where(F.col("seg_id") >= seg_id_offset)
    post_read = spark.read.parquet(f"{path}/postings")
    if done:
        post_read = post_read.where(~F.col("seg_id").isin(sorted(done)))
    seg_post = post_read.groupBy("seg_id").agg(
        F.count(F.lit(1)).alias("term_count"),
        F.count(F.lit(1)).alias("posting_rows"),
        F.max("df").alias("max_df"),
    )
    wall = time.time() - t0
    meta = (
        seg_doc.join(seg_post, "seg_id", "left")
        .withColumn("input_rows", F.col("doc_count"))
        .withColumn("build_wall_s", F.lit(round(wall, 3)))
        .withColumn("built_at", F.lit(time.time()))
        .withColumn("salt_span", F.lit(salt_span))
        .withColumn("seg_size", F.lit(seg_size))
        .withColumn("merged_from", F.lit(lineage))
        .select([f.split(" ")[0] for f in META_SCHEMA.split(", ")])
    )
    if appending:
        prev = read_segments_meta(spark, path)
        if prev is not None:
            new_ids = {int(r["seg_id"])
                       for r in meta.select("seg_id").distinct().collect()}
            prev = prev.where(~F.col("seg_id").isin(sorted(new_ids)))
            meta = prev.unionByName(meta)
    commit_segments_meta(meta, path)

    docs.unpersist()
    af.unpersist()
    base.unpersist()
    if pinned_range is not None:
        # docids are materialized in the written index; the pinned
        # range partitioning (see assign_doc_ids) is no longer needed
        pinned_range.unpersist()
    return SegmentIndex(path=path, spark=spark)


def completed_segments(spark: SparkSession, path: str) -> set[int]:
    """Segments already durably built (present in segments_meta with a
    matching postings partition) — the resume manifest."""
    meta = read_segments_meta(spark, path)
    if meta is None:
        return set()
    return {int(r["seg_id"]) for r in meta.select("seg_id").distinct().collect()}


def write_docvalues(si: SegmentIndex, source: DataFrame, key_col: str,
                    cols: list[str]) -> None:
    """Backfill the per-segment doc-values sidecar onto an EXISTING
    index (the updateDocValues analogue — Lucene rewrites .dvd
    sidecars without touching postings, index/IndexWriter.java
    updateNumericDocValue): join the source's numeric columns onto the
    index's (seg_id, docid) mapping and write seg_id-partitioned.
    ``key_col`` must be the column the index's docids were assigned
    from (url order) or the precomputed docid column itself.

    Scale: one broadcast-or-shuffle join keyed by the docid mapping,
    one partitioned write — no analyzer pass, postings untouched.
    """
    ids = si.docs.select("seg_id", "docid", "url")
    src = source.select(
        F.col(key_col).cast("string").alias("url"),
        *[F.col(c).cast("double").alias(c) for c in cols])
    dv = ids.join(src, "url").select("seg_id", "docid", *cols)
    # Validate BEFORE writing (one cheap aggregate): an inner join
    # silently drops index docs missing from the source (no sidecar
    # row -> later CheckIndexError / wrong sort results) and fans out
    # duplicate source keys into duplicate (seg_id, docid) rows. Fail
    # loudly at write time, naming the offending keys.
    n_docs = int(si.meta.agg(F.sum("doc_count")).collect()[0][0])
    st = dv.agg(F.count(F.lit(1)).alias("n"),
                F.count_distinct("seg_id", "docid").alias("nd")).collect()[0]
    if int(st["nd"]) != int(st["n"]):
        dups = [r["url"] for r in
                src.groupBy("url").count().where(F.col("count") > 1)
                .select("url").limit(10).collect()]
        raise ValueError(
            f"write_docvalues: source has duplicate {key_col} keys "
            f"(would fan out into duplicate docvalues rows); e.g. {dups}")
    if int(st["n"]) != n_docs:
        missing = [r["url"] for r in
                   ids.join(src.select("url"), "url", "left_anti")
                   .select("url").limit(10).collect()]
        raise ValueError(
            f"write_docvalues: source covers {int(st['n'])} of {n_docs} "
            f"index docs; missing {key_col} keys e.g. {missing}")
    par = si.spark.sparkContext.defaultParallelism
    (dv.repartition(par, "seg_id", "docid")
       .sortWithinPartitions("seg_id", "docid")
       .write.partitionBy("seg_id").mode("overwrite")
       .parquet(f"{si.path}/docvalues"))

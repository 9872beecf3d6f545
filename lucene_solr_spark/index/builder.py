"""Inverted-index construction as a DataFrame pipeline.

The write path mirrors Lucene's indexing chain (EP1, SURVEY §3):

  reference                           this engine
  ---------                           -----------
  IndexWriter.addDocument             rows of the pages DataFrame
  DefaultIndexingChain.processField   tokens_udf (vectorized analyzer)
  TermsHashPerField.add (in-RAM       posexplode + groupBy(term, docid)
    postings byte slices)               -> (term, docid, tf, positions)
  norms (computeNorm, BM25)           norm_byte column via byte315
  term dict stats (df, ttf)           groupBy(term).agg(count, sum)
  CollectionStatistics                global agg (docCount, sumTtf)

Everything stays in Catalyst-planned operators; the only Python is the
Arrow-batched analyzer UDF. The groupBy(term) shuffle is the Spark
equivalent of the flush/merge sort in FreqProxTermsWriter.flush
(index/FreqProxTermsWriter.java:82-103).

Scale notes:
- posting build shuffles on (term, docid) then (term) — both
  map-side-combinable aggregations, so Zipf-skewed hot terms are
  partially aggregated before the shuffle; AQE skew-join handles the
  residue, and the segment path (segments.py) salts hot terms
  explicitly.
- docs table and postings table are both written partitioned; postings
  are bucket-friendly on term.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import tokens_udf
from lucene_solr_spark.functions.bm25 import length_norm_byte
from lucene_solr_spark.index.docid import assign_doc_ids

import numpy as np
import pandas as pd


@dataclass
class IndexTables:
    """The logical 'index': Lucene's per-segment files re-expressed as
    columnar tables (SURVEY §1.4 'Spark mapping')."""

    docs: DataFrame        # docid, url, doclen, norm_byte  (norms + stored-ref)
    postings: DataFrame    # term, docid, tf, positions     (.doc/.pos)
    term_stats: DataFrame  # term, df, ttf                  (term dictionary stats)
    coll_stats: dict       # doc_count, sum_ttf             (CollectionStatistics)

    def cache(self) -> "IndexTables":
        self.docs.cache()
        self.postings.cache()
        self.term_stats.cache()
        return self


def analyzed_frame(pages: DataFrame, key_col: str = "url",
                   text_col: str = "text",
                   with_positions: bool = True,
                   with_offsets: bool = False,
                   analyzer: str = "standard") -> DataFrame:
    """One fused analyze+invert pass over the corpus: per document,
    (docid, url, doclen, norm_byte, terms[], tfs[]
    [, poslists[][]][, starts[][], ends[][]]).

    This is the single expensive scan of a build; everything else
    (docs table, postings, stats) projects or explodes it. Caller
    should persist() it when deriving more than one output.
    ``with_offsets`` implies positions (the .pos/.pay pairing).
    ``analyzer``: 'standard' (the fused numpy StandardAnalyzer chain)
    or one of analysis/extra.ANALYZERS ('whitespace', 'simple',
    'keyword' — generic inverter, no offsets support).
    """
    from lucene_solr_spark.analysis.standard import invert_batch, invert_batch_offsets

    if analyzer != "standard":
        from lucene_solr_spark.analysis.extra import (
            ANALYZERS, invert_batch_generic)

        if with_offsets:
            raise ValueError("offsets are only supported by the "
                             "standard analyzer chain")
        an = ANALYZERS[analyzer]

        def run_alt(batches):
            for pdf in batches:
                urls = pdf[key_col].astype(str).to_numpy()
                if with_positions:
                    dl, terms, tfs, pos = invert_batch_generic(
                        pdf[text_col], an, True)
                    out = pd.DataFrame({
                        "docid": pdf["docid"].to_numpy(), "url": urls,
                        "doclen": dl, "terms": terms, "tfs": tfs,
                        "positions": pos,
                    })
                else:
                    dl, terms, tfs = invert_batch_generic(
                        pdf[text_col], an, False)
                    out = pd.DataFrame({
                        "docid": pdf["docid"].to_numpy(), "url": urls,
                        "doclen": dl, "terms": terms, "tfs": tfs,
                    })
                nb = np.zeros(len(out), dtype=np.int32)
                nz = dl > 0
                nb[nz] = length_norm_byte(
                    dl[nz].astype(np.int64)).astype(np.int32)
                out["norm_byte"] = nb
                yield out

        schema_alt = ("docid long, url string, doclen int, "
                      "terms array<string>, tfs array<int>, "
                      + ("positions array<array<int>>, "
                         if with_positions else "")
                      + "norm_byte int")
        return pages.mapInPandas(run_alt, schema=schema_alt)

    def run(batches):
        for pdf in batches:
            urls = pdf[key_col].astype(str).to_numpy()  # key may be numeric
            if with_offsets:
                dl, terms, tfs, pos, sts, ens = invert_batch_offsets(pdf[text_col])
                out = pd.DataFrame({
                    "docid": pdf["docid"].to_numpy(),
                    "url": urls,
                    "doclen": dl, "terms": terms, "tfs": tfs,
                    "positions": pos, "starts": sts, "ends": ens,
                })
            elif with_positions:
                dl, terms, tfs, pos = invert_batch(pdf[text_col], True)
                out = pd.DataFrame({
                    "docid": pdf["docid"].to_numpy(),
                    "url": urls,
                    "doclen": dl, "terms": terms, "tfs": tfs,
                    "positions": pos,
                })
            else:
                dl, terms, tfs = invert_batch(pdf[text_col], False)
                out = pd.DataFrame({
                    "docid": pdf["docid"].to_numpy(),
                    "url": urls,
                    "doclen": dl, "terms": terms, "tfs": tfs,
                })
            nb = np.zeros(len(out), dtype=np.int32)
            nz = dl > 0
            nb[nz] = length_norm_byte(dl[nz].astype(np.int64)).astype(np.int32)
            out["norm_byte"] = nb
            yield out

    schema = ("docid long, url string, doclen int, terms array<string>, "
              "tfs array<int>, "
              + ("positions array<array<int>>, " if with_positions or with_offsets else "")
              + ("starts array<array<int>>, ends array<array<int>>, "
                 if with_offsets else "")
              + "norm_byte int")
    return pages.mapInPandas(run, schema=schema)


def build_index(
    pages: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    precomputed_docid: str | None = None,
    with_offsets: bool = False,
    analyzer: str = "standard",
) -> IndexTables:
    """Build the full flat index from a pages/documents DataFrame.

    ``precomputed_docid``: use an existing unique integer column as the
    docid (e.g. documents.doc_id) instead of assigning by key order.
    ``with_offsets``: postings additionally carry per-occurrence char
    offset arrays (starts/ends — the .pay stream analogue), enabling
    offset-based highlighting without re-scanning stored text.
    ``analyzer``: 'standard' | 'whitespace' | 'simple' | 'keyword'
    (the analysis chain is pluggable; see analysis/extra.py).
    """
    pinned_range = None
    if precomputed_docid:
        base = pages.withColumn("docid", F.col(precomputed_docid).cast("long"))
    else:
        base = assign_doc_ids(pages, key=key_col)
        pinned_range = getattr(base, "_pinned_range_frame", None)

    af = analyzed_frame(base, key_col=key_col, text_col=text_col,
                        with_offsets=with_offsets,
                        analyzer=analyzer).persist()

    docs = af.select("docid", "url", "doclen", "norm_byte")

    zip_cols = [F.col("terms").alias("term"), F.col("tfs").alias("tf"),
                F.col("positions").alias("positions")]
    if with_offsets:
        zip_cols += [F.col("starts").alias("starts"), F.col("ends").alias("ends")]
    z = af.select("docid", F.explode(F.arrays_zip(*zip_cols)).alias("z"))
    sel = [F.col("z.term").alias("term"), "docid",
           F.col("z.tf").alias("tf"), F.col("z.positions").alias("positions")]
    if with_offsets:
        sel += [F.col("z.starts").alias("starts"), F.col("z.ends").alias("ends")]
    postings = z.select(*sel)

    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("ttf"),
    )

    stats_row = docs.agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.coalesce(F.sum("doclen"), F.lit(0)).alias("sum_ttf"),
    ).collect()[0]
    coll_stats = {"doc_count": stats_row["doc_count"], "sum_ttf": stats_row["sum_ttf"]}

    # the collect above materialized ``af`` (persisted), so the docid
    # assigner's pinned range frame can be released — without this,
    # every flat build leaks one cached DataFrame for the session
    # lifetime (the build_segment_index path has the same release).
    if pinned_range is not None:
        pinned_range.unpersist()

    return IndexTables(docs=docs, postings=postings, term_stats=term_stats,
                       coll_stats=coll_stats)

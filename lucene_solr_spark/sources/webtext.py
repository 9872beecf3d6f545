"""Deterministic synthetic webtext corpus (FIXTURES.md §1).

Schema is exactly BASELINE.json's input_hint:
  (url string, warc_ts timestamp, html binary, text string, lang string)

Properties:
- Zipf(s=1.07) term draw over a 50k-term vocabulary with the 33
  Lucene English stopwords interleaved (so StopFilter is exercised).
- Doc length ~ lognormal(mean≈200 tokens, σ=0.6) clamped to [5, 2000].
- html = b"<html><body>" + text + b"</body></html>" so the per-row
  invariant (byte-identical extracted text per url) is checkable.
- Per-row RNG seeded by (seed, i): generation is independent of
  partitioning and parallelism — the same corpus at local[8] and
  local[32], which the scaling benchmark requires.

Generation is distributed: spark.range(n) → mapInPandas, numpy
vectorized per batch. No driver-side materialization.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

VOCAB_SIZE = 50_000
STOPWORD_EVERY = 12  # ~8% stopword tokens, interleaved deterministically

_STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()


def _zipf_cdf(n: int, s: float = 1.07) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = ranks ** (-s)
    return np.cumsum(w) / w.sum()


def synth_pages(spark: SparkSession, n_rows: int, seed: int = 42,
                num_partitions: int | None = None) -> DataFrame:
    """The primary fixture: n_rows synthetic Common-Crawl-style pages."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cdf = _zipf_cdf(VOCAB_SIZE)
    stop = list(_STOPWORDS)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = np.array([f"t{i:06d}" for i in range(VOCAB_SIZE)])
        stop_arr = np.array(stop)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            urls, texts, htmls, ts = [], [], [], []
            for i in ids:
                rng = np.random.default_rng(np.array([seed, i], dtype=np.uint64))
                ln = int(np.clip(rng.lognormal(np.log(200.0), 0.6), 5, 2000))
                draws = np.searchsorted(cdf, rng.random(ln))
                words = vocab[draws]
                # interleave stopwords at fixed stride
                sw_idx = np.arange(0, ln, STOPWORD_EVERY)
                words[sw_idx] = stop_arr[(i + sw_idx) % len(stop_arr)]
                text = " ".join(words.tolist())
                s = int(i) % 1000
                urls.append(f"https://site{s:04d}.example/p/{int(i):08d}")
                texts.append(text)
                htmls.append(b"<html><body>" + text.encode("utf-8") + b"</body></html>")
                ts.append(np.datetime64("2024-01-01T00:00:00") + np.timedelta64(int(i), "s"))
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": pd.Series(ts, dtype="datetime64[us]"),
                "html": htmls,
                "text": texts,
                "lang": ["en" if i % 20 != 19 else ["de", "fr", "es", "zh"][(i // 20) % 4]
                          for i in ids],
            })

    return (
        spark.range(0, n_rows, numPartitions=num_partitions)
        .mapInPandas(gen, schema="url string, warc_ts timestamp, html binary, "
                                 "text string, lang string")
    )

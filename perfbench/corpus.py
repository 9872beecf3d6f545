"""Seeded synthetic corpus for the benchmark (FIXTURES.md section 1).

The benchmark owns this generator so that a change to the package's
``sources/webtext.py`` cannot change the benchmark's inputs:

- vocabulary ``t000000 .. t049999``, terms drawn Zipf(s=1.07);
- the 33 Lucene English stopwords written over every 12th token;
- lognormal document lengths (median 200 tokens, sigma 0.6), clamped
  to [5, 2000];
- one RNG per document, seeded by ``(seed, doc number)``, so a document
  does not depend on how many others are generated.

Documents are numbered globally; ``make_corpus(n, seed, first=m)``
generates documents ``m .. m+n-1`` and is used for appended batches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
STOPWORD_EVERY = 12
STOPWORDS = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()

_VOCAB = np.array([f"t{i:06d}" for i in range(VOCAB_SIZE)])


def zipf_cdf(n: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return np.cumsum(w) / w.sum()


_CDF = zipf_cdf()


def term(i: int) -> str:
    return str(_VOCAB[i])


@dataclass
class Corpus:
    """A run of generated documents.

    ``tokens[j]`` holds the vocabulary ids of document j's tokens, with
    -1 where a stopword was written. ``df[t]`` is the number of
    documents containing vocabulary term t.
    """

    urls: list[str]
    texts: list[str]
    tokens: list[np.ndarray]
    df: np.ndarray

    def __len__(self) -> int:
        return len(self.urls)

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def by_url(self) -> list[str]:
        """Texts in url order: the order in which the engine assigns
        docids within one build or append batch."""
        return [t for _, t in sorted(zip(self.urls, self.texts))]


def make_corpus(n_docs: int, seed: int, first: int = 0) -> Corpus:
    stop = np.array(STOPWORDS)
    urls, texts, tokens = [], [], []
    df = np.zeros(VOCAB_SIZE, dtype=np.int64)
    for i in range(first, first + n_docs):
        rng = np.random.default_rng([seed, i])
        ln = int(np.clip(rng.lognormal(np.log(200.0), 0.6), 5, 2000))
        ids = np.searchsorted(_CDF, rng.random(ln))
        ids = np.minimum(ids, VOCAB_SIZE - 1)
        words = _VOCAB[ids]
        sw = np.arange(0, ln, STOPWORD_EVERY)
        words[sw] = stop[(i + sw) % len(stop)]
        ids[sw] = -1
        df[np.unique(ids[ids >= 0])] += 1
        urls.append(f"https://site{i % 1000:04d}.example/p/{i:08d}")
        texts.append(" ".join(words.tolist()))
        tokens.append(ids)
    return Corpus(urls=urls, texts=texts, tokens=tokens, df=df)


def to_frame(spark, corpus: Corpus):
    """The corpus as a Spark DataFrame (url, text)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"url": corpus.urls, "text": corpus.texts}))

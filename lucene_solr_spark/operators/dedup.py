"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (Lucene dedups at the document-id
level only — updateDocument by term, index/IndexWriter.java:1574),
these are the standard web-scale near-dup algorithms, built
DataFrame-first:

- exact_dedup:       hash-groupBy on content digest.
- shingle/Jaccard:   word n-gram shingles, candidate pairs via a
                     shared-shingle inverted join, exact Jaccard.
- MinHash + LSH:     k permutations via (a*h + b) mod p over 60-bit
                     md5-prefix hashes; banding → bucket join.
- SimHash:           64-bit weighted-bit signature, near-dup =
                     small Hamming distance.

Determinism contract: every hash is derived from md5 (aligned with
the DuckDB oracle via conv(substr(md5(x),1,15),16,10)); permutation
constants are fixed. No Python on the hot path — everything is
Catalyst expressions except the Hamming-distance popcount, which is
a bit-arithmetic column expression too.

Scale notes:
- exact dedup is one shuffle on the digest.
- shared-shingle pair generation explodes on hot shingles; we drop
  shingles with df > max_shingle_df (standard practice) *before* the
  self-join, and the join is shingle-partitioned.
- MinHash signatures are one explode + groupBy(doc) min-agg per hash
  function (vectorized as array ops); LSH buckets join on
  (band, band_hash) — each band join is equi and partition-local
  after the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 60-bit hash space (15 hex chars of md5 — fits a signed 64-bit int,
# and '0x'||prefix casts cleanly in DuckDB for the oracle).
HASH_BITS = 60


def md5_long(col: F.Column) -> F.Column:
    """60-bit integer hash from the md5 hex prefix — identical
    expression exists in DuckDB: ('0x'||substr(md5(x),1,15))::bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one survivor (min id) per content digest.
    Returns (digest, survivor_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("survivor_id"),
             F.count(F.lit(1)).alias("dup_count"))
    )


def word_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle string).
    Tokenization = whitespace split (dedup operates on raw text, not
    the analysis chain)."""
    words = F.split(F.col(text_col), " ")
    # shingle i = words[i..i+n-1], i in 0..len-n (empty when len < n —
    # guard needed: sequence(0, -1) would generate a descending array)
    idx = F.when(F.size(words) >= n,
                 F.sequence(F.lit(0), F.size(words) - n)).otherwise(
        F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(sh).alias("shingle"))
        .distinct()
    )


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.8,
                  max_shingle_df: int | None = 10_000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t).

    Candidate generation via the shared-shingle inverted join (only
    pairs sharing >= 1 surviving shingle are compared); intersection
    and union are exact integer counts so the result is
    engine-independent. Returns (id_a, id_b, inter, size_a, size_b).

    ``max_shingle_df`` bounds the self-join blowup: a shingle shared
    by d docs contributes d*(d-1)/2 candidate pairs, so ONE viral
    shingle (boilerplate, license header) can make the join quadratic
    in corpus size. Shingles above the cap are dropped from BOTH the
    intersection and the set sizes (capped-Jaccard semantics — the
    standard stop-shingle treatment); pass None to disable. The
    shingle explosion is deliberately NOT cached: it's a pure-codegen
    expansion that is cheaper to recompute per use than to pin at
    webtext scale.
    """
    sh = word_shingles(df, text_col, id_col, n)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") > max_shingle_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "size_b"}), "id_b")
    )
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return out.where(jac >= threshold).select("id_a", "id_b", "inter",
                                              "size_a", "size_b")


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 12) -> DataFrame:
    """MinHash signature per doc: (id, sig array<long>[num_hashes]).

    Hash family: salted md5 mixes, h_i(s) = md5_long(i || ':' || s) —
    an exact-int64 MinHash family (the usual affine (a*h+b) mod p
    needs 128-bit modmul, which neither int64 SQL engine has; salted
    rehash is the standard substitute and stays bit-identical in the
    DuckDB oracle). One groupBy(id) with num_hashes min() columns —
    a single shuffle for the whole signature matrix.
    """
    sh = word_shingles(df, text_col, id_col, n)
    cols = [
        F.min(md5_long(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*cols)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 12, bands: int = 4) -> DataFrame:
    """LSH candidate pairs: split the signature into `bands` bands of
    r = num_hashes/bands rows; docs sharing any band bucket are
    candidates. Returns distinct (id_a, id_b) with id_a < id_b.

    Shuffle profile: explode by band (x bands), groupBy band bucket —
    bucket sizes are the skew knob (band hash over r values)."""
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    # band bucket = md5 of ':'-joined band values — portable (exact
    # same expression exists in the SQL oracle), unlike Spark's
    # murmur-based hash().
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(":", *[
                         F.col("sig")[b * r + j].cast("string")
                         for j in range(r)])).alias("bucket"))
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash signature: sign-sum of term-hash bits weighted by tf.

    bit_j(sig) = 1 iff sum over terms(tf * (2*bit_j(h(term)) - 1)) > 0.
    Pure column algebra: explode terms -> tf -> per-bit contribution
    via bit shifts -> groupBy(doc).sum per bit -> reassemble. 32 bits
    keeps the per-bit expressions compact (and the oracle identical).
    Returns (id, simhash long)."""
    words = F.split(F.col(text_col), " ")
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(words).alias("term"))
        .groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    h = md5_long(F.col("term"))
    per_bit = [
        F.sum(F.col("tf") * (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1))
        .alias(f"b{j}")
        for j in range(bits)
    ]
    sums = tf.groupBy("id").agg(*per_bit)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select("id", sig.cast("long").alias("simhash"))


def embedding_dupes(emb: DataFrame, dim: int, threshold: float,
                    n_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Candidate generation: random-hyperplane LSH buckets (the same
    family the ANN probe uses, similarity.lsh_bucket) — only pairs
    landing in the SAME bucket are compared, so the join is
    bucket-local instead of all-pairs (recall knob = n_planes; missed
    cross-bucket pairs are the documented LSH trade, exactly the
    MinHash-band treatment of text near-dup). Verification: exact
    cosine, quantized. Returns (id_a, id_b, cos_q) for pairs with
    cosine >= threshold.
    """
    from lucene_solr_spark.operators.similarity import cosine, lsh_bucket

    b = lsh_bucket(emb.select(id_col, vec_col), dim, n_planes, seed, vec_col)
    a = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                 "bucket")
    c = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                 "bucket")
    pairs = a.join(c, "bucket").where(F.col("id_a") < F.col("id_b"))
    cos_q = F.floor(cosine(F.col("va"), F.col("vb")) * 1_000_000).cast("long")
    return (pairs.select("id_a", "id_b", cos_q.alias("cos_q"))
            .where(F.col("cos_q") >= int(threshold * 1_000_000)))

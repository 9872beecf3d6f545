"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — a single scan with the dot
product as a Catalyst fold (F.aggregate over zip_with), no Python.
Scale path: LSH bucketing via random hyperplanes (SimHash over the
embedding), so candidates are bucket-joined instead of full-scanned;
plus an IVF-style coarse quantizer (assign to nearest of k centroid
rows, probe the closest cells).

Determinism: cosine is accumulated left-to-right by F.aggregate
(Catalyst fold) — a fixed order; quantizing to floor(cos * 1e6)
makes results hash-stable across engines (64-element folds differ
from any other order by ~1e-14 at most).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right float64 fold of the elementwise product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine to a constant query vector.

    Plan shape: one scan -> per-row fold -> TakeOrderedAndProject.
    The query vector is a literal array (broadcast in the plan).
    Returns (vec_id, cos_q, rank) with cos quantized for stability.
    """
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        F.floor(cosine(F.col(vec_col), qlit) * 1_000_000).cast("long").alias("cos_q"),
    )
    top = scored.orderBy(F.desc("cos_q"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("cos_q"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def knn_join(queries: DataFrame, corpus: DataFrame, k: int = 5,
             qid_col: str = "vec_id", cid_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Brute-force k-NN join: for each query row, top-k corpus rows by
    cosine. Cross join + window — the baseline the LSH path is judged
    against. For small query sets the query side is broadcast, so the
    'cross' is a per-partition loop over corpus partitions (no
    shuffle of the corpus)."""
    q = queries.select(F.col(qid_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(cid_col).alias("cid"), F.col(vec_col).alias("cv"))
    pairs = c.crossJoin(F.broadcast(q))
    scored = pairs.select(
        "qid", "cid",
        F.floor(cosine(F.col("cv"), F.col("qv")) * 1_000_000)
        .cast("long").alias("cos_q"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_q"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k)


# --- LSH-bucketed scale path ------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes (deterministic, seeded)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(df: DataFrame, dim: int, n_planes: int = 12, seed: int = 42,
               vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit string of the vector
    against n_planes fixed hyperplanes. Cosine-similar vectors land in
    the same bucket with probability (1 - theta/pi)^n_planes."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for i, p in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(F.col(vec_col), plit) > 0, F.lit(1 << i))
                    .otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn("bucket", bucket.cast("long"))


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantizer: cell = argmax cosine against the fixed
    centroid list (ties -> lowest cell id). Centroids are literals in
    the plan (broadcast); assignment is one scan, no shuffle."""
    best_cell = F.lit(-1)
    best_cos = F.lit(float("-inf"))
    for ci, c in enumerate(centroids):
        clit = F.array(*[F.lit(float(x)) for x in c])
        cos = cosine(F.col(vec_col), clit)
        is_better = cos > best_cos
        best_cell = F.when(is_better, F.lit(ci)).otherwise(best_cell)
        best_cos = F.when(is_better, cos).otherwise(best_cos)
    return df.withColumn("cell", best_cell)


def ivf_topk_scan(embeddings: DataFrame, query_vec: list[float],
                  centroids: list[list[float]], k: int = 10, nprobe: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """FULL-SCAN IVF baseline: recomputes every vector's cell
    assignment per query — O(corpus) per probe. Use ONLY for ad-hoc
    frames with no persisted layout; the serving path is
    build_ann_index() once + ivf_topk_indexed() (partition-pruned
    probe whose cost is independent of corpus size)."""
    import numpy as np

    c = np.array(centroids, dtype=np.float64)
    qv = np.array(query_vec, dtype=np.float64)
    cos_q = (c @ qv) / (np.linalg.norm(c, axis=1) * np.linalg.norm(qv))
    # nprobe closest cells, ties -> lowest cell id
    probe = [int(i) for i in np.lexsort((np.arange(len(c)), -cos_q))[:nprobe]]
    cand = ivf_assign(embeddings, centroids, vec_col).where(F.col("cell").isin(probe))
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.floor(cosine(F.col(vec_col), qlit) * 1_000_000).cast("long").alias("cos_q"),
    )
    top = scored.orderBy(F.desc("cos_q"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("cos_q"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


# back-compat aliases for the pre-rename names (the _scan suffix makes
# the O(corpus) cost explicit; prefer the *_indexed probes)
ivf_topk = ivf_topk_scan


def build_ann_index(embeddings: DataFrame, path: str, dim: int,
                    n_planes: int = 8, seed: int = 42,
                    centroids: list[list[float]] | None = None,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    sq8: bool = True) -> None:
    """Materialize the ANN layout ONCE at ingest: vectors written
    partitioned by their LSH ``bucket`` (and, when centroids are
    given, by their IVF ``cell``). A probe then reads only its probe
    partitions — partition pruning in the scan, independent of corpus
    size — instead of re-computing bucket bits over the whole corpus
    per query (the round-1 scale hazard). This is the inverted-file
    structure of FAISS-style IVF expressed as a parquet partition key.

    ``sq8`` additionally persists the int8 code layout at
    ``{path}/sq8``: (id, codes BINARY = the dim int8 bytes packed,
    scale DOUBLE). A quantized probe (sq8_topk_indexed) then scans
    ONLY this table — dim bytes per vector instead of 4*dim float
    bytes, the actual "100 TB of floats serves from a 25 TB code
    table" layout (the codes are never re-derived from the float
    column at query time)."""
    slim = embeddings.select(id_col, vec_col)
    b = lsh_bucket(slim, dim, n_planes, seed, vec_col)
    b.write.partitionBy("bucket").mode("overwrite").parquet(f"{path}/lsh")
    if centroids is not None:
        c = ivf_assign(slim, centroids, vec_col)
        c.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/ivf")
    if sq8:
        sq8_encode(embeddings, id_col, vec_col).write.mode(
            "overwrite").parquet(f"{path}/sq8")


def _scored_topk(cand: DataFrame, query_vec: list[float], k: int,
                 id_col: str, vec_col: str) -> DataFrame:
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.floor(cosine(F.col(vec_col), qlit) * 1_000_000).cast("long").alias("cos_q"),
    )
    top = scored.orderBy(F.desc("cos_q"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("cos_q"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def lsh_query_buckets(query_vec: list[float], dim: int, n_planes: int = 8,
                      seed: int = 42, probe_hamming: int = 1) -> list[int]:
    """Multi-probe bucket set for a query vector (same planes/seed as
    the index build)."""
    import numpy as np

    planes = np.array(_hyperplanes(dim, n_planes, seed))
    qb = 0
    for i, p in enumerate(planes):
        if float(np.dot(p, np.array(query_vec))) > 0:
            qb |= 1 << i
    if probe_hamming >= 1:
        return [qb] + [qb ^ (1 << i) for i in range(n_planes)]
    return [qb]


def lsh_topk_indexed(spark, path: str, query_vec: list[float], dim: int,
                     k: int = 10, n_planes: int = 8, seed: int = 42,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     probe_hamming: int = 1) -> DataFrame:
    """LSH ANN over the PERSISTED bucket layout: the probe is a
    partition-pruned read of the probe buckets (PartitionFilters in
    the scan — verified in tests), then exact cosine on candidates.
    Identical results to lsh_topk for the same (planes, seed)."""
    probe = lsh_query_buckets(query_vec, dim, n_planes, seed, probe_hamming)
    cand = spark.read.parquet(f"{path}/lsh").where(F.col("bucket").isin(probe))
    return _scored_topk(cand, query_vec, k, id_col, vec_col)


def ivf_probe_cells(query_vec: list[float], centroids: list[list[float]],
                    nprobe: int = 2) -> list[int]:
    import numpy as np

    c = np.array(centroids, dtype=np.float64)
    qv = np.array(query_vec, dtype=np.float64)
    cos_q = (c @ qv) / (np.linalg.norm(c, axis=1) * np.linalg.norm(qv))
    return [int(i) for i in np.lexsort((np.arange(len(c)), -cos_q))[:nprobe]]


def ivf_topk_indexed(spark, path: str, query_vec: list[float],
                     centroids: list[list[float]], k: int = 10,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF ANN over the PERSISTED cell layout: reads only the nprobe
    closest cells' partitions (partition pruning), then exact cosine.
    Identical results to ivf_topk for the same centroid list."""
    probe = ivf_probe_cells(query_vec, centroids, nprobe)
    cand = spark.read.parquet(f"{path}/ivf").where(F.col("cell").isin(probe))
    return _scored_topk(cand, query_vec, k, id_col, vec_col)


def lsh_topk_scan(embeddings: DataFrame, query_vec: list[float], dim: int,
                  k: int = 10, n_planes: int = 8, seed: int = 42,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  probe_hamming: int = 1) -> DataFrame:
    """FULL-SCAN LSH baseline: recomputes every vector's bucket bits
    per query — O(corpus) per probe. Use ONLY for ad-hoc frames with
    no persisted layout; the serving path is build_ann_index() once +
    lsh_topk_indexed() (partition-pruned probe whose cost is
    independent of corpus size). Recall/cost knob =
    (n_planes, probe_hamming)."""
    import numpy as np

    planes = np.array(_hyperplanes(dim, n_planes, seed))
    qb = 0
    for i, p in enumerate(planes):
        if float(np.dot(p, np.array(query_vec))) > 0:
            qb |= 1 << i
    probe = [qb] + [qb ^ (1 << i) for i in range(n_planes)] if probe_hamming >= 1 else [qb]
    bucketed = lsh_bucket(embeddings, dim, n_planes, seed, vec_col)
    cand = bucketed.where(F.col("bucket").isin(probe))
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.floor(cosine(F.col(vec_col), qlit) * 1_000_000).cast("long").alias("cos_q"),
    )
    top = scored.orderBy(F.desc("cos_q"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("cos_q"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w))


# back-compat alias (see ivf_topk above): prefer lsh_topk_indexed
lsh_topk = lsh_topk_scan


# --- int8 scalar quantization (the FAISS SQ8 baseline) ----------------------

def sq8_codes(vec: Column) -> tuple[Column, Column]:
    """Symmetric int8 scalar quantization: scale = max|x|, code_i =
    floor(x_i * 127 / scale) — the SQ8 storage layout (4x smaller
    than float32, so a 100 TB float corpus scans as 25 TB). Returns
    (codes array<long>, scale). All-double arithmetic in a fixed op
    order so any engine derives identical codes."""
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    codes = F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(127.0) / mx)
        .cast("long"))
    return codes, mx


def sq8_encode(embeddings: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, codes BINARY, scale DOUBLE): each vector's int8 codes
    packed into dim bytes. scale = max|x| (the per-vector symmetric
    quantizer constant); zero vectors are dropped (no direction).
    One Arrow pass at ingest; the write is the 4x-smaller layout the
    quantized probe scans."""
    import numpy as np
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            ids, blobs, scales = [], [], []
            for i, v in zip(pdf[id_col], pdf[vec_col]):
                a = np.asarray(v, dtype=np.float64)
                mx = float(np.abs(a).max()) if len(a) else 0.0
                if mx == 0.0:
                    continue
                codes = np.floor(a * 127.0 / mx).astype(np.int8)
                ids.append(i)
                blobs.append(codes.tobytes())
                scales.append(mx)
            yield pd.DataFrame({id_col: ids, "codes": blobs,
                                "scale": scales})

    return embeddings.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, codes binary, scale double")


def sq8_topk_indexed(spark, path: str, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     exclude_ids: list[int] | None = None) -> DataFrame:
    """Quantized top-k over the PERSISTED code layout: scans ONLY the
    (id, codes, scale) table written by build_ann_index — the float
    embedding column is never read (plan-asserted in tests), so a
    100 TB float corpus serves stage 1 from its 25 TB code table.

    Ranking follows the FAISS SQ8 asymmetric-distance reconstruction
    (the codes decode to code_i * scale / 127): score is the exact
    int64 code dot multiplied by the stored per-vector scale —
    recon_q = floor((dot::double * scale) * 1e6), a fixed-op-order
    double product, deterministic across engines. The query's own
    scale and the 1/127^2 factor are positive per-query constants and
    drop out of the ordering. Returns (id, recon_q, rank)."""
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    qm = float(np.abs(q).max())
    if qm == 0.0:
        raise ValueError("zero query vector")
    qc = np.floor(q * 127.0 / qm).astype(np.int64)

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.frombuffer(
                b"".join(pdf["codes"]), dtype=np.int8
            ).reshape(len(pdf), len(qc)).astype(np.int64)
            dots = mat @ qc
            recon = np.floor(
                (dots.astype(np.float64) * pdf["scale"].to_numpy())
                * 1_000_000.0).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "recon_q": recon})

    codes = spark.read.parquet(f"{path}/sq8")
    if exclude_ids:
        codes = codes.where(~F.col(id_col).isin(exclude_ids))
    scored = codes.mapInPandas(probe, schema=f"{id_col} long, recon_q long")
    order = [F.desc("recon_q"), F.asc(id_col)]
    return (scored.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order))
                        .cast("long")))

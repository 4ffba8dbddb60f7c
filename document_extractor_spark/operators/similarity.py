"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k, all JVM-side (zip_with +
aggregate — no Python worker, stays in whole-stage codegen). The
top-k is an ORDER BY ... LIMIT k, which Spark executes as TakeOrdered
(per-partition heap + driver merge), not a full sort.

Scale path: random-hyperplane LSH. Signatures are deterministic
(seeded hyperplanes generated per-executor from the seed — only the
seed ships in the closure). Candidates come from bucket equality;
exact cosine re-ranks within buckets. Multi-probe (flipping one bit)
bounds recall loss. At 10^12 rows the bucket groupBy replaces the
O(n) scan per query with O(n / 2^bits) expected work.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _norm_expr(vec_col):
    return F.sqrt(F.aggregate(
        F.transform(vec_col, lambda x: x.cast("double") * x),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_scores(emb: DataFrame, query_vec: list[float],
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Cosine of every row vs a literal query vector (JVM-side)."""
    q = [float(x) for x in query_vec]
    qnorm = float(np.sqrt(np.dot(q, q)))
    qarr = F.array(*[F.lit(x) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), qarr,
                   lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        F.col(id_col),
        F.round(dot / (_norm_expr(F.col(vec_col)) * F.lit(qnorm)), 4)
        .alias("cosine"))


def brute_force_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k by cosine; deterministic tie-break on id."""
    return (
        cosine_scores(emb, query_vec, id_col, vec_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _planes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def lsh_bucketed(emb: DataFrame, n_bits: int = 8, seed: int = 7,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Add a random-hyperplane LSH bucket column (sign-bit signature)."""
    # derive the vector element type from the input: hardcoding
    # array<float> silently truncated double embeddings to float32,
    # skewing the downstream exact-cosine re-rank
    elem = emb.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} long, {vec_col} {elem}, bucket int"

    def signer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        for pdf_batch in batches:
            if len(pdf_batch) == 0:
                yield pd.DataFrame(columns=[id_col, vec_col, "bucket"])
                continue
            mat = np.vstack(pdf_batch[vec_col].values).astype(np.float64)
            if planes is None:
                planes = _planes(mat.shape[1], n_bits, seed)
            bits = (mat @ planes.T) > 0
            bucket = np.zeros(len(mat), dtype=np.int32)
            for b in range(n_bits):
                bucket |= bits[:, b].astype(np.int32) << b
            out = pdf_batch[[id_col, vec_col]].copy()
            out["bucket"] = bucket
            yield out

    return emb.select(id_col, vec_col).mapInPandas(signer, schema=out_schema)


@dataclass
class LshIndex:
    """Built LSH index: the bucket-signed table (persist it — queries
    only filter probe buckets + re-rank) plus the signing parameters a
    query needs to hash itself into the same bucket space. At 100 TB
    the bucketed table is written `partitionBy("bucket")` so a query's
    probe filter becomes partition pruning at the scan — the same
    build-once/query-many shape as IvfIndex (the per-query corpus
    re-signing this replaces paid a full scan + mapInPandas per
    lookup)."""

    bucketed: DataFrame
    n_bits: int = 8
    seed: int = 7
    id_col: str = "vec_id"
    vec_col: str = "embedding"


def lsh_build(emb: DataFrame, n_bits: int = 8, seed: int = 7,
              id_col: str = "vec_id", vec_col: str = "embedding",
              persist: bool = True) -> LshIndex:
    """ONE signing pass (Arrow-batched numpy matmul), one bucketed
    table — build ONCE, query many."""
    bucketed = lsh_bucketed(emb, n_bits, seed, id_col, vec_col)
    if persist:
        bucketed = bucketed.persist()
    return LshIndex(bucketed, n_bits, seed, id_col, vec_col)


def lsh_query(index: LshIndex, query_vec: list[float], k: int = 10,
              multiprobe: bool = True) -> DataFrame:
    """ANN top-k against a prebuilt LshIndex: hash the query on the
    driver (tiny plane matrix), probe only its bucket (+1-bit flips),
    exact cosine re-rank within them. No corpus signing happens here."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = _planes(len(q), index.n_bits, index.seed)
    qbits = (planes @ q) > 0
    qbucket = int(sum(int(b) << i for i, b in enumerate(qbits)))
    probes = [qbucket]
    if multiprobe:
        probes += [qbucket ^ (1 << b) for b in range(index.n_bits)]
    candidates = index.bucketed.filter(F.col("bucket").isin(probes))
    return brute_force_topk(candidates, query_vec, k,
                            index.id_col, index.vec_col)


def _with_unit_vec(emb: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Two projections so the O(dim) norm is a materialized per-row
    column before the per-element divide — not re-inlined dim times."""
    withn = emb.withColumn("_nrm", _norm_expr(F.col(vec_col)))
    return withn.withColumn(
        out_col,
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double") / F.col("_nrm"))
    ).drop("_nrm")


def ivf_fit_assign(emb: DataFrame, n_cells: int = 16, seed: int = 7,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_iter: int = 20):
    """IVF coarse quantizer: distributed spherical-ish k-means over
    L2-normalized vectors (unit sphere makes euclidean order cosine
    order), each row assigned to its nearest-centroid cell.

    Returns (assigned DataFrame with a ``cell`` column, centroid
    matrix). The centroid matrix is tiny (n_cells x dim) and lives on
    the driver — at index-build scale you persist the assigned table
    partitioned BY cell so a query touches only nprobe partitions;
    training cost is one MLlib k-means|| fit, fully distributed.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    import numpy as np

    feat = _with_unit_vec(emb, vec_col, "_unit").withColumn(
        "_fv", array_to_vector(F.col("_unit"))).drop("_unit")
    model = KMeans(featuresCol="_fv", predictionCol="cell", k=n_cells,
                   seed=seed, maxIter=max_iter).fit(feat)
    assigned = model.transform(feat).select(
        id_col, vec_col, F.col("cell").cast("int"))
    centers = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centers


@dataclass
class IvfIndex:
    """Built IVF index: the cell-assigned table (persist it — queries
    only filter + re-rank) plus the tiny driver-side centroid matrix.
    At 100 TB the assigned table is written `partitionBy("cell")` so a
    query's cell filter becomes partition pruning at the scan."""

    assigned: DataFrame
    centers: np.ndarray  # (n_cells x dim)
    id_col: str = "vec_id"
    vec_col: str = "embedding"


def ivf_build(emb: DataFrame, n_cells: int = 16, seed: int = 7,
              id_col: str = "vec_id", vec_col: str = "embedding",
              max_iter: int = 20, persist: bool = True) -> IvfIndex:
    """One k-means|| fit, one assigned table — build ONCE, query many.
    (The per-query-refit anti-pattern this replaces paid a full MLlib
    fit per lookup.)"""
    assigned, centers = ivf_fit_assign(
        emb, n_cells, seed, id_col, vec_col, max_iter)
    if persist:
        assigned = assigned.persist()
    return IvfIndex(assigned, centers, id_col, vec_col)


def ivf_query(index: IvfIndex, query_vec: list[float], k: int = 10,
              nprobe: int = 2) -> DataFrame:
    """ANN top-k against a prebuilt IvfIndex: rank centroids on the
    driver (tiny matrix), probe only the nprobe nearest cells, exact
    cosine re-rank within them. No fitting happens here."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / np.linalg.norm(q)
    # nearest centroids on the unit sphere = max dot product
    order = np.argsort(-(index.centers @ qn))
    probes = [int(c) for c in order[:nprobe]]
    candidates = index.assigned.filter(F.col("cell").isin(probes))
    return brute_force_topk(candidates, query_vec, k,
                            index.id_col, index.vec_col)


def ivf_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
             n_cells: int = 16, nprobe: int = 2, seed: int = 7,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """One-shot convenience: build + single query. For repeated
    lookups use ivf_build once and ivf_query per query.
    nprobe == n_cells degenerates to exact brute force (the recall
    test exploits that invariant)."""
    if n_cells < 2:  # one cell = every row probed = brute force
        return brute_force_topk(emb, query_vec, k, id_col, vec_col)
    index = ivf_build(emb, n_cells, seed, id_col, vec_col, persist=False)
    return ivf_query(index, query_vec, k, nprobe)

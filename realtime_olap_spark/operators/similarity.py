"""Similarity search over embedding columns (``array<float>``).

The reference (Apache Pinot ~2019) has no vector surface at all; these are
the training-data-pipeline extensions: brute-force cosine top-k as the exact
baseline, plus two sublinear-scale paths — random-hyperplane LSH bucketing
and IVF (coarse-quantizer) probing.

Scale design (100 TB / billions of vectors):
- every scoring expression is a per-row JVM fold over the array column
  against LITERAL query/centroid/plane vectors — no UDF, no shuffle, no
  cross join; the only exchange is the final top-k
  (TakeOrderedAndProject) or the bucket filter;
- LSH / IVF prune the scan: bucket assignment is computed once at write
  time in practice (partition/bucket the table by it) so a probe reads only
  matching partitions — here it is computed on the fly, which Catalyst
  still evaluates scan-side after column pruning;
- centroids come from an offline sampling/KMeans job in practice; they are
  passed in as plain Python lists (broadcast as literals), never joined.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark.operators.dedup import cosine, dot


def _lit_vec(v: list[float]) -> Column:
    """ONE parsed array literal instead of len(v)+1 py4j round trips
    (the ``importance_weights`` LUT construction pattern): the
    VARCHAR→DOUBLE cast is correctly rounded, so the array is bit-equal
    to the per-element ``F.lit(float(x))`` form, and Catalyst constant-
    folds it into a single array literal. A 64-dim query vector built
    per ``F.lit`` cost ~65 driver round trips — the PQ probe's cosine
    path builds 17 such vectors (query + 16 LUTs) per plan."""
    if not v:
        return F.array().cast("array<double>")
    from realtime_olap_spark.litarray import lit_doubles  # noqa: PLC0415
    return lit_doubles(v)


def cosine_topk(df: DataFrame, query_vec: list[float], id_col: str,
                vec_col: str, k: int = 10) -> DataFrame:
    """Exact brute-force cosine top-k: one pass, per-partition bounded
    top-k merged on the driver (TakeOrderedAndProject) — the correctness
    baseline every approximate path is measured against."""
    q = _lit_vec(query_vec)
    return (df.select(F.col(id_col), cosine(F.col(vec_col), q).alias("cos"))
              .orderBy(F.col("cos").desc(), F.col(id_col).asc())
              .limit(k))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """SimHash-style bucket id: bit j = [vec · plane_j > 0]. Near vectors
    (small angle) agree on most sign bits, so sharing all ``len(planes)``
    bits is a high-precision candidate filter."""
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        bucket = bucket + F.when(dot(vec, _lit_vec(p)) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_topk(df: DataFrame, query_vec: list[float], planes: list[list[float]],
             id_col: str, vec_col: str, k: int = 10) -> DataFrame:
    """ANN via hyperplane LSH: score only rows in the query's bucket.
    With the bucket as a write-time partition column this becomes a
    partition-pruned scan of ~1/2^b of the data."""
    qb = _query_bucket(query_vec, planes)
    v = F.col(vec_col)
    return (df.where(hyperplane_bucket(v, planes) == F.lit(qb))
              .select(F.col(id_col), cosine(v, _lit_vec(query_vec)).alias("cos"))
              .orderBy(F.col("cos").desc(), F.col(id_col).asc())
              .limit(k))


def _query_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side bucket of the (literal) query vector, with the same
    sequential-fold dot product the executors use."""
    bucket = 0
    for j, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(query_vec, p):
            acc += float(x) * float(y)
        if acc > 0:
            bucket |= 1 << j
    return bucket


# ---------------------------------------------------------------------------
# IVF (inverted-file / coarse quantizer)
# ---------------------------------------------------------------------------

def _self_dot(v: list[float]) -> float:
    """Driver-side b·b with the executors' sequential-fold order."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc


def ivf_assign(vec: Column, centroids: list[list[float]]) -> Column:
    """Index (0-based) of the nearest centroid by squared L2; ties resolve
    to the FIRST minimal index (array_position of the min), matching the
    oracle's list_indexof semantics.

    K-way distance shares one a·a fold per row, and each centroid's b·b is
    a driver-side constant (same IEEE fold) — K+1 folds per row instead of
    3K."""
    aa = dot(vec, vec)
    dists = F.array(*[
        aa - F.lit(2.0) * dot(vec, _lit_vec(c)) + F.lit(_self_dot(c))
        for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_assign_norm(vec_col: str | Column,
                    centroids: list[list[float]]) -> Column:
    """Arrow-vectorized twin of ``ivf_assign(v, centroids)`` +
    ``sqrt(dot(v, v))``, returned as one ``struct<cell:int, nrm:double>``
    column.

    Bit-identical to the JVM fold path (equality-tested in
    ``tests/test_fixes_r2.py``): numpy accumulates dimension-by-dimension —
    vectorized ACROSS rows, sequential ACROSS dims — so every IEEE
    multiply/add happens in exactly the fold's order, and ``np.argmin``
    matches ``array_position(min)`` first-minimal tie-breaking. Use this on
    hot paths that assign every row (e.g. near-dup blocking): the K·dim
    interpreted-lambda folds per row become K batched numpy passes per
    Arrow batch, which is the shape you want for billions of rows or a
    K ≫ 8 codebook. The scalar ``ivf_assign`` stays the oracle-rendering
    reference and the write-time partition-column path.
    """
    cents = [[float(x) for x in c] for c in centroids]
    self_dots = [_self_dot(c) for c in cents]

    @F.pandas_udf("struct<cell:int,nrm:double>")
    def _assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cell": pd.Series(dtype="int32"),
                                 "nrm": pd.Series(dtype="float64")})
        mat = np.stack(v.values).astype(np.float64)
        n, dim = mat.shape
        aa = np.zeros(n)
        for j in range(dim):
            aa = aa + mat[:, j] * mat[:, j]
        dists = np.empty((n, len(cents)))
        for k, c in enumerate(cents):
            ab = np.zeros(n)
            for j in range(dim):
                ab = ab + mat[:, j] * c[j]
            dists[:, k] = (aa - 2.0 * ab) + self_dots[k]
        return pd.DataFrame({"cell": dists.argmin(axis=1).astype(np.int32),
                             "nrm": np.sqrt(aa)})

    # asNondeterministic: the function IS deterministic, but declaring it
    # so stops the optimizer from splitting a consumer's constraint filter
    # (isnotnull(cell)/isnotnull(nrm), inferred from join keys) below the
    # projection and RE-EVALUATING the UDF above it — the near-dup pair
    # join paid four Arrow passes over the corpus where two suffice
    # (2 ArrowEvalPython per side -> 1; optimization guide §4.4 pattern).
    return _assign.asNondeterministic()(
        F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def ivf_topk(df: DataFrame, query_vec: list[float], centroids: list[list[float]],
             id_col: str, vec_col: str, k: int = 10, nprobe: int = 2) -> DataFrame:
    """IVF probe: rank centroids by distance to the query (driver-side,
    literals only), scan the ``nprobe`` nearest cells, exact cosine top-k
    within them. At scale the cell id is a write-time partition column and
    the probe is a partition-pruned scan of nprobe/K of the corpus."""
    probes = _nearest_centroids(query_vec, centroids, nprobe)
    v = F.col(vec_col)
    return (df.where(ivf_assign(v, centroids).isin(probes))
              .select(F.col(id_col), cosine(v, _lit_vec(query_vec)).alias("cos"))
              .orderBy(F.col("cos").desc(), F.col(id_col).asc())
              .limit(k))


def ivf_index_write(df: DataFrame, path: str, centroids: list[list[float]],
                    vec_col: str = "embedding",
                    files_per_cell: int = 1) -> None:
    """Materialize the IVF index: assign every row's cell ONCE (the
    Arrow-vectorized twin — bit-identical to the fold path) and write the
    corpus partitioned by ``cell``, so probes become partition-pruned
    scans of nprobe/K of the data instead of evaluating K folds per row
    per query. This is the ingest-time half of the scale story
    (SegmentPartitionConfig / ColumnValueSegmentPruner.java:41 analog:
    partition assignment at segment build, pruning at query time).

    ``files_per_cell`` bounds the small-file problem at scale (repartition
    within each cell before the write)."""
    out = df.withColumn("cell",
                        ivf_assign_norm(vec_col, centroids)["cell"])
    out = out.repartition(files_per_cell * max(len(centroids), 1),
                          F.col("cell"))
    out.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_indexed(spark, path: str, query_vec: list[float],
                     centroids: list[list[float]], id_col: str,
                     vec_col: str, k: int = 10, nprobe: int = 2,
                     frame: DataFrame | None = None) -> DataFrame:
    """Probe a materialized IVF index (``ivf_index_write`` layout): the
    cell filter hits the partition directories (PartitionFilters in the
    plan — plan-asserted in tests), so only nprobe/K of the corpus is
    listed, read, or scored; exact cosine top-k within the probed cells.
    Returns exactly the rows ``ivf_topk`` computes on the fly.

    ``frame`` (optional) supplies an already-resolved DataFrame over
    ``path`` — re-resolving ``spark.read.parquet`` per probe costs a
    schema/footer job plus ~0.1 s of DataSource resolution; callers that
    probe repeatedly should memoize the read (suite does, via
    ``session_memo(materialize=False)`` so the value stays a FileScan
    with partition pruning intact)."""
    probes = _nearest_centroids(query_vec, centroids, nprobe)
    v = F.col(vec_col)
    idx = frame if frame is not None else spark.read.parquet(path)
    return (idx
              .where(F.col("cell").isin(probes))
              .select(F.col(id_col), cosine(v, _lit_vec(query_vec)).alias("cos"))
              .orderBy(F.col("cos").desc(), F.col(id_col).asc())
              .limit(k))


def _nearest_centroids(query_vec: list[float], centroids: list[list[float]],
                       nprobe: int) -> list[int]:
    def sq(c: list[float]) -> float:
        aa = ab = bb = 0.0
        for x, y in zip(query_vec, c):
            aa += float(x) * float(x)
            ab += float(x) * float(y)
            bb += float(y) * float(y)
        return aa - 2.0 * ab + bb

    order = sorted(range(len(centroids)), key=lambda i: (sq(centroids[i]), i))
    return order[:nprobe]


def hard_negative_pairs(df: DataFrame, id_col: str, vec_col: str,
                        label_col: str, centroids: list[list[float]],
                        k: int = 5) -> DataFrame:
    """Hard-negative mining for embedding training: for every vector, the
    ``k`` most similar vectors with a DIFFERENT label —
    ``(id_a, id_b, label_a, label_b, cos, rk)``.

    Plan shape (the same discipline as dedup.embedding_near_dup_pairs):
    the candidate join is blocked on the deterministic IVF cell — truly
    hard negatives are close in embedding space, so they share the
    nearest centroid (the standard ANN recall trade; widen by training
    more centroids, never by unblocking). Per-row (cell, norm) assignment
    is Arrow-vectorized once; within-cell pairs get one JVM fold each;
    the per-anchor top-k is a rank window over the (tiny) candidate set.
    Nothing is ever quadratic in a label or in the corpus — cost is
    O(Σ cell²) bounded by the quantizer, exactly the IVF contract."""
    an = ivf_assign_norm(vec_col, centroids)
    sides = df.select(F.col(id_col), F.col(label_col).alias("lbl"),
                      F.col(vec_col).alias("v"),
                      an.alias("__an")) \
              .select(id_col, "lbl", "v",
                      F.col("__an.cell").alias("cell"),
                      F.col("__an.nrm").alias("nrm"))
    a = sides.select(F.col(id_col).alias("id_a"), F.col("lbl").alias("label_a"),
                     F.col("v").alias("va"), F.col("nrm").alias("na"), "cell")
    b = sides.select(F.col(id_col).alias("id_b"), F.col("lbl").alias("label_b"),
                     F.col("v").alias("vb"), F.col("nrm").alias("nb"), "cell")
    from pyspark.sql import Window  # noqa: PLC0415
    from realtime_olap_spark.operators.dedup import dot  # noqa: PLC0415
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("id_a").orderBy(F.col("cos").desc(),
                                           F.col("id_b").asc())
    return (a.join(b, "cell")
            .where(F.col("label_a") != F.col("label_b"))
            .withColumn("cos", cos)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("id_a", "id_b", "label_a", "label_b", "cos", "rk"))

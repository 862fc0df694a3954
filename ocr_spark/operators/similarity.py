"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``     — brute-force exact top-k: JVM-side dot product via
  ``zip_with``/``aggregate`` against a literal query vector, then a global
  top-k (``orderBy(desc).limit(k)`` — Spark executes this as per-partition
  TakeOrdered + merge, no full sort shuffle).
- ``ivf_topk``        — the scale path: k-means-lite (deterministic seeded
  centroid init + a few Lloyd iterations driver-side on a sample), assign
  every vector to its nearest centroid (JVM expression over a broadcast
  centroid literal array), search only the ``n_probe`` closest clusters.
  At 10^9+ vectors this turns a full scan into a ~n_probe/n_lists fraction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot_lit(vec_col, q: list[float]):
    return F.aggregate(
        F.zip_with(vec_col, F.array(*[F.lit(float(x)) for x in q]), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(vec_col):
    return F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query`` (JVM-side, no UDF)."""
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # a zero-norm row (empty/failed doc embedding) must rank last (cos 0),
    # not abort the query: Spark 4 ANSI raises DIVIDE_BY_ZERO — guard the
    # row norm exactly like qn's `or 1.0` guard above
    norm = _norm_col(vec)
    denom = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm) * F.lit(qn)
    cos = _dot_lit(vec, query) / denom
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _kmeans_lite(
    sample: list[list[float]], n_lists: int, iters: int = 5
) -> list[list[float]]:
    """Deterministic Lloyd's on a driver-side sample: first n_lists sample
    points (by stable order) seed the centroids."""
    cents = [list(sample[i % len(sample)]) for i in range(n_lists)]
    for _ in range(iters):
        sums = [[0.0] * len(cents[0]) for _ in range(n_lists)]
        counts = [0] * n_lists
        for v in sample:
            best, bd = 0, float("inf")
            for ci, c in enumerate(cents):
                d = sum((a - b) ** 2 for a, b in zip(v, c))
                if d < bd:
                    best, bd = ci, d
            counts[best] += 1
            for j, x in enumerate(v):
                sums[best][j] += x
        for ci in range(n_lists):
            if counts[ci]:
                cents[ci] = [s / counts[ci] for s in sums[ci]]
    return cents


def build_ivf_index(
    df: DataFrame,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 512,
) -> tuple[DataFrame, list[list[float]]]:
    """Build the IVF index: centroids from a deterministic driver-side
    sample, then every vector assigned to its nearest centroid by a
    vectorized pandas UDF (one numpy matmul per Arrow batch — the centroid
    table broadcasts in the UDF closure).  At scale the returned DataFrame
    is materialized once (e.g. an icelite table partitioned by ``_list``)
    and probed many times."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    sample = [
        [float(x) for x in r[vec_col]]
        for r in df.select(vec_col).orderBy(F.col(id_col)).limit(sample_rows).collect()
    ]
    if not sample:
        return df.withColumn("_list", F.lit(0)), []
    cents = _kmeans_lite(sample, n_lists)
    c = np.asarray(cents, dtype=np.float64)  # (L, d)
    c_norm2 = (c * c).sum(axis=1)

    @pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype="int32")
        v = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, d)
        # argmin_l |v|^2 - 2 v.c_l + |c_l|^2  (|v|^2 constant per row)
        d2 = -2.0 * (v @ c.T) + c_norm2[None, :]
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return df.withColumn("_list", assign(F.col(vec_col))), cents


def _probe_lists(
    centroids: list[list[float]], query: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` posting lists whose centroids are nearest ``query``
    (ties broken by list id)."""
    qd = [
        (sum((a - b) ** 2 for a, b in zip(query, c)), i)
        for i, c in enumerate(centroids)
    ]
    return [i for _, i in sorted(qd)[:n_probe]]


def ivf_topk_indexed(
    indexed: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a prebuilt IVF index: scan only the n_probe nearest lists."""
    if not centroids:
        return cosine_topk(indexed, query, k, id_col, vec_col)
    probe = _probe_lists(centroids, query, n_probe)
    return cosine_topk(
        indexed.filter(F.col("_list").isin(probe)), query, k, id_col, vec_col
    )


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 512,
) -> DataFrame:
    """IVF ANN, build + probe in one call (see build_ivf_index for the
    reuse-the-index form)."""
    indexed, cents = build_ivf_index(df, n_lists, id_col, vec_col, sample_rows)
    return ivf_topk_indexed(indexed, cents, query, k, n_probe, id_col, vec_col)


def materialize_ivf_index(
    df: DataFrame,
    table,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 512,
) -> tuple[DataFrame, list[list[float]]]:
    """Build the IVF index ONCE into ``table``, or reuse the index it holds
    (the rule: ``IceliteTable.build_or_reuse``): the assigned relation is
    keyed on ``_list``, so probes prune at the FILE level — each posting
    list lands in its own bucket directory — and the centroids ride in the
    build snapshot's metadata.  The build-once/probe-many shape a
    10^9-vector ANN service needs.

    Construct the table as ``IceliteTable(root, key_col="_list",
    n_buckets=n_lists)``."""

    def build(d: DataFrame):
        indexed, cents = build_ivf_index(d, n_lists, id_col, vec_col, sample_rows)
        return indexed, {"ivf_centroids": cents}

    indexed, meta = table.build_or_reuse(df, "ivf_index", {"n_lists": n_lists}, build)
    return indexed, meta["ivf_centroids"]


def ivf_topk_table(
    table,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spark=None,
) -> DataFrame:
    """Probe a MATERIALIZED IVF index with manifest-level file pruning:
    only the buckets holding the ``n_probe`` nearest posting lists are
    read (the file list shrinks before Spark lists anything; a residual
    ``_list`` filter handles hash-collided buckets)."""
    from pyspark.sql import SparkSession

    from ocr_spark.sources.icelite import bucket_expr

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("no active SparkSession — pass spark=")
    if not centroids:
        return cosine_topk(table.read(spark), query, k, id_col, vec_col)
    probe = _probe_lists(centroids, query, n_probe)
    buckets = [
        r["b"]
        for r in spark.createDataFrame([(l,) for l in probe], "_list int")
        .select(bucket_expr("_list", table.n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    part = table.read(spark, buckets=buckets).filter(F.col("_list").isin(probe))
    return cosine_topk(part, query, k, id_col, vec_col)

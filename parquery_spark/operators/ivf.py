"""IVF (inverted-file) approximate nearest neighbor: a k-means coarse
quantizer over the embedding space, vectors stored partitioned by nearest
centroid, queries probing only the ``nprobe`` closest cells.

This is the second ANN path beside sign-bit LSH
(:mod:`parquery_spark.operators.similarity`): LSH needs no training and
gives probabilistic recall; IVF adapts to the data distribution (cells
follow density) and gives a tunable recall/cost dial — nprobe/k_cells of
the corpus is scanned per query.

Spark-first design:

* **Training** is ``pyspark.ml.clustering.KMeans`` (distributed Lloyd's,
  k-means|| init) over the (optionally sampled) corpus — the idiomatic
  Spark route to a coarse quantizer.  Centroids come back to the driver as
  a small ``k × dim`` numpy array: that IS the index metadata, persisted
  alongside the data in real deployments.
* **Assignment** is an Arrow-batched ``pandas_udf``: one numpy matmul per
  batch against the broadcast centroid matrix.  A JVM expression would
  need k×dim unrolled terms per row (Janino limits, no SIMD); this is the
  documented "built-ins genuinely can't express it" case for a Pandas UDF.
* **Layout** reuses :func:`~parquery_spark.sources.parquet.
  write_partitioned`: hive directories by ``cell``, so a probe's
  ``cell IN (...)`` predicate is directory-level partition pruning —
  the scan never opens unprobed cells (same contract as
  :func:`~parquery_spark.operators.similarity.write_ann_index`).
* **Search** ranks the probed cells' vectors by exact cosine via the same
  JVM ``TakeOrderedAndProject`` top-k as the brute-force baseline.

The reference has no similarity operators (SURVEY.md §2.4); this module is
part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquery_spark.operators.similarity import cosine_topk
from parquery_spark.operators.util import fan_out


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 20,
    seed: int = 7,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Train the coarse quantizer; returns the ``k × dim`` centroid matrix.

    Vectors are L2-normalized before clustering so euclidean k-means
    partitions by ANGLE (monotone with cosine distance on the unit
    sphere) — the metric the search uses.  ``sample_fraction`` trains on a
    Bernoulli sample: at corpus scale the quantizer only needs a few
    hundred points per cell, not every vector.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        src = src.sample(fraction=sample_fraction, seed=seed)
    from parquery_spark.operators.similarity import norm as _norm

    norm = _norm(F.col("v"))
    unit = F.transform("v", lambda x: x / norm)
    feats = src.select(array_to_vector(unit).alias("features"))
    model = (
        KMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="features")
        .fit(feats)
    )
    return np.array([np.asarray(c) for c in model.clusterCenters()])


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach each row's nearest-centroid id (cosine) as ``cell_col``.

    One Arrow batch → one ``(batch × dim) @ (dim × k)`` matmul → argmax;
    the centroid matrix rides to executors inside the UDF closure (a few
    KB — broadcast is overkill below ~10 MB).
    """
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.array(vecs.tolist(), dtype=np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cent.T, axis=1).astype(np.int32))

    return fan_out(df).withColumn(cell_col, nearest(F.col(vec_col)))


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> str:
    """Persist the corpus hive-partitioned by IVF cell (one directory per
    cell); probes prune to ``nprobe`` directories.  Persist ``centroids``
    next to the index in real deployments — it is the index metadata."""
    from parquery_spark.sources.parquet import write_partitioned

    assigned = ivf_assign(df, centroids, vec_col)
    return write_partitioned(assigned, path, ["cell"], mode=mode)


def probe_cells(centroids: np.ndarray, query: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` nearest cells to the query, ranked driver-side
    (k × dim dot products — microseconds for any sane k)."""
    cent = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    q = np.asarray(query, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(cent @ q))
    return [int(c) for c in order[:nprobe]]


def ivf_topk(
    spark: SparkSession,
    index_path: str,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k against a :func:`write_ivf_index` layout:
    ``cell IN (probes)`` partition-prunes the scan to nprobe directories,
    exact cosine ranks the survivors (verify with ``.explain``:
    ``PartitionFilters: [cell#.. IN (..)]``)."""
    probes = probe_cells(centroids, query, nprobe)
    from parquery_spark import relations

    candidates = relations.get_relation(spark, index_path).filter(
        F.col("cell").isin(probes)
    )
    return cosine_topk(candidates, query, k, vec_col, id_col, digits)

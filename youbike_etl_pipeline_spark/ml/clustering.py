"""Seeded K-Means clustering (SURVEY §2.7 M8).

The reference clusters stations on their 24-hour mean filling-rate profile
(k=4, seeded) and auto-labels clusters by peak hour
(``notebooks/01_youbike_analysis.ipynb:L659-L679``). Here: the A6 pivot
feeds ``pyspark.ml.clustering.KMeans`` (distributed Lloyd iterations — each
step one map + one reduce over the data; centers broadcast), and the
peak-hour labeling is A10 arg-max over ``clusterCenters()`` (tiny,
driver-side).
"""

from __future__ import annotations

from pyspark.ml.clustering import KMeans
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans_hour_profiles(
    profile: DataFrame,
    id_col: str,
    hour_cols: list[str],
) -> tuple[DataFrame, list[dict]]:
    """Seeded K-Means (k=4) over the rows of a pivoted hour-profile matrix
    (A6 output).

    Returns (assignments DataFrame [id, cluster], cluster summaries
    [{cluster, peak_hour, center}] — the reference's auto-labeling input).
    """
    assembled = VectorAssembler(inputCols=hour_cols, outputCol="features").transform(profile)
    model = KMeans(k=4, seed=42, featuresCol="features", predictionCol="cluster").fit(assembled)
    assignments = model.transform(assembled).select(id_col, "cluster")
    summaries = []
    for i, center in enumerate(model.clusterCenters()):
        vals = list(center)
        peak = max(range(len(vals)), key=lambda j: (vals[j], -j))
        summaries.append({"cluster": i, "peak_hour": peak, "center": vals})
    return assignments, summaries


def label_cluster_by_peak(peak_hour: int) -> str:
    """Reference's cluster auto-labels by centroid peak hour
    (``notebooks/01_youbike_analysis.ipynb:L669-L679``)."""
    if 7 <= peak_hour <= 10:
        return "morning-peak"
    if 11 <= peak_hour <= 16:
        return "daytime"
    if 17 <= peak_hour <= 20:
        return "evening-peak"
    return "mixed"


def kmeans_cluster_embeddings(df: DataFrame, k: int = 4) -> DataFrame:
    """K-Means over an embedding array column (the IVF-centroid builder for
    similarity search): array → ml vector → seeded fit → assignments."""
    assembled = df.select(
        F.col("vec_id"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = KMeans(k=k, seed=42, featuresCol="features", predictionCol="cluster").fit(assembled)
    return model.transform(assembled).select("vec_id", "cluster")

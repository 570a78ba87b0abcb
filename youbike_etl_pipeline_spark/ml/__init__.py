"""ML layer: seeded K-Means profile clustering, RFormula linear-regression
R² fits (SURVEY §2.7 M7/M8), and numpy-LSTM batch inference over
``mapInPandas`` (M11, ``ml.inference``)."""

from .clustering import kmeans_cluster_embeddings, kmeans_hour_profiles
from .regression import linear_r2

__all__ = [
    "kmeans_cluster_embeddings",
    "kmeans_hour_profiles",
    "linear_r2",
]

"""k-means training: the batched multi-space trainer agrees bit-for-bit
with per-space training."""

from __future__ import annotations

from pyspark.sql import functions as F

from pharmaceutical_sales_data_etl_analysis_pipeline_spark.catalog import load_table
from pharmaceutical_sales_data_etl_analysis_pipeline_spark.operators import kmeans_core


def test_spaces_trainer_matches_per_space_training(spark, sf_dir):
    """The r14 batched trainer (one seeds collect + one sums job for all
    dimension windows) must return bit-identical centroids to the
    per-space kmeans_centroids path."""
    emb = load_table(spark, sf_dir, "embeddings")
    batched = kmeans_core.kmeans_centroids_spaces(
        emb, [(0, 8, 4), (8, 8, 4), (0, None, None)]
    )
    lo = emb.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    hi = emb.select("vec_id", F.slice("embedding", 9, 8).alias("embedding"))
    assert kmeans_core.kmeans_centroids(lo, 4) == batched[0]
    assert kmeans_core.kmeans_centroids(hi, 4) == batched[1]
    assert kmeans_core.kmeans_centroids(emb) == batched[2]

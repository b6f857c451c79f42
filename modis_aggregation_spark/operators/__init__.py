"""Aggregation plan builders + large-scale extension operators."""

from modis_aggregation_spark.operators.stats import (
    cell_stats,
    cloud_fraction,
    cloud_fraction_minmax,
    grid_counts,
    with_cell,
)
from modis_aggregation_spark.operators.hist import hist_1d, hist_2d
from modis_aggregation_spark.operators.densify import cell_dimension, densify
from modis_aggregation_spark.operators.compare import compare_grids, max_abs_diff
from modis_aggregation_spark.operators.dedup import (
    embedding_pairs,
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from modis_aggregation_spark.operators.multimodal import (
    attach_media_metadata,
    decode_images,
    sample_frames,
)
from modis_aggregation_spark.operators.similarity import (
    cosine_topk,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
)
from modis_aggregation_spark.operators.skew import salted_agg

__all__ = [
    "cell_stats",
    "cloud_fraction",
    "cloud_fraction_minmax",
    "grid_counts",
    "with_cell",
    "hist_1d",
    "hist_2d",
    "cell_dimension",
    "densify",
    "compare_grids",
    "max_abs_diff",
    "exact_dedup",
    "minhash_lsh_pairs",
    "minhash_dedup",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "embedding_pairs",
    "cosine_topk",
    "kmeans_centroids",
    "ivf_assign",
    "ivf_topk",
    "attach_media_metadata",
    "decode_images",
    "sample_frames",
    "salted_agg",
]

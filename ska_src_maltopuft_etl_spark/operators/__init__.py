from ska_src_maltopuft_etl_spark.operators.joins import (
    CardinalityError,
    asof_join,
    interval_join,
    interval_overlap_join,
    remap_keys,
    validated_join,
)
from ska_src_maltopuft_etl_spark.operators.dedup import (
    dedup_keep_first,
    first_in_group,
    surrogate_key,
    surrogate_key_with_count,
    surrogate_key_with_subset,
)
from ska_src_maltopuft_etl_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    pagerank_fixed_point,
)
from ska_src_maltopuft_etl_spark.operators.clustering import (
    kmeans_fixed_point,
)
from ska_src_maltopuft_etl_spark.operators.quantiles import (
    exact_percentiles,
)
from ska_src_maltopuft_etl_spark.operators.expectations import (
    expect_between,
    expect_fk,
    expect_non_null,
    expect_regex,
    expect_unique,
    quality_report,
)
from ska_src_maltopuft_etl_spark.operators.ivf_index import (
    IvfIndex,
)
from ska_src_maltopuft_etl_spark.operators.sketches import (
    heavy_hitters,
    weighted_sample_per_group,
    weighted_sample_topk,
)

__all__ = [
    "CardinalityError",
    "expect_between",
    "expect_fk",
    "expect_non_null",
    "expect_regex",
    "expect_unique",
    "heavy_hitters",
    "IvfIndex",
    "quality_report",
    "weighted_sample_per_group",
    "weighted_sample_topk",
    "asof_join",
    "connected_components",
    "dedup_clusters",
    "dedup_keep_first",
    "exact_percentiles",
    "first_in_group",
    "interval_join",
    "interval_overlap_join",
    "kmeans_fixed_point",
    "pagerank_fixed_point",
    "remap_keys",
    "surrogate_key",
    "surrogate_key_with_count",
    "surrogate_key_with_subset",
    "validated_join",
]

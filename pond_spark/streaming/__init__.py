from pond_spark.streaming.anomaly import cusum_stream
from pond_spark.streaming.asof import asof_join_stream
from pond_spark.streaming.kmv import kmv_uniques_stream
from pond_spark.streaming.quantiles import value_quantiles_stream
from pond_spark.streaming.follow import continue_stream, follow_stream, follow_visitors
from pond_spark.streaming.ingest import ingest_stream, read_metrics
from pond_spark.streaming.ratelimit import rate_limit_stream
from pond_spark.streaming.attribution import attribute_conversions
from pond_spark.streaming.rollup import rollup_stream
from pond_spark.streaming.trending import top_terms_per_bucket, trending_terms_stream
from pond_spark.streaming.groupsite import (
    group_site_topk_stream,
    site_key_counts_stream,
    top_keys_per_site,
)

__all__ = [
    "asof_join_stream",
    "cusum_stream",
    "kmv_uniques_stream",
    "value_quantiles_stream",
    "follow_stream",
    "continue_stream",
    "follow_visitors",
    "rate_limit_stream",
    "ingest_stream",
    "read_metrics",
    "rollup_stream",
    "attribute_conversions",
    "trending_terms_stream",
    "top_terms_per_bucket",
    "group_site_topk_stream",
    "site_key_counts_stream",
    "top_keys_per_site",
]

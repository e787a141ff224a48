"""Structured Streaming operators over event streams.

The reference is batch-only (SURVEY.md §2.10 ABSENT); these are the
engine's streaming equivalents, built on Spark's unified model: the
same transformation functions used by the batch queries
(spark_query_engine.queries.events) applied to an unbounded source,
plus watermarking for late data and stateful sessionization.
"""

from spark_query_engine.streaming.events import (
    dedup_stream,
    interval_join_streams,
    minhash_dedup_stream,
    pack_sequences_stream,
    cms_stream,
    psi_stream,
    hll_stream,
    kmv_stream,
    cusum_stream,
    manifest_stream,
    msprt_stream,
    msprt_log_lambda,
    moments_stream,
    ols_from_moments,
    ohlc_stream,
    run_to_memory_sink,
    per_type_counts_stream,
    running_user_totals,
    sessionize_stream,
    sliding_counts,
    stream_from_parquet_dir,
    stream_from_rate,
    tumbling_counts,
    write_foreach_batch_parquet,
)

__all__ = [
    "stream_from_parquet_dir",
    "stream_from_rate",
    "tumbling_counts",
    "sliding_counts",
    "sessionize_stream",
    "ohlc_stream",
    "per_type_counts_stream",
    "running_user_totals",
    "interval_join_streams",
    "dedup_stream",
    "minhash_dedup_stream",
    "pack_sequences_stream",
    "cms_stream",
    "psi_stream",
    "hll_stream",
    "kmv_stream",
    "cusum_stream",
    "manifest_stream",
    "msprt_stream",
    "msprt_log_lambda",
    "moments_stream",
    "ols_from_moments",
    "write_foreach_batch_parquet",
    "run_to_memory_sink",
]

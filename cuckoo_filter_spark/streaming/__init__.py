"""Structured Streaming surface: stateful streaming dedup, windowed
sketches and sessions (applyInPandasWithState around shared
micro-batch cores) and incremental filter builds (mergeable blobs make
them natural)."""

from cuckoo_filter_spark.streaming.dedup import streaming_dedup
from cuckoo_filter_spark.streaming.incremental import incremental_filter_build
from cuckoo_filter_spark.streaming.windowed import windowed_distinct_count

__all__ = ["streaming_dedup", "incremental_filter_build",
           "windowed_distinct_count"]

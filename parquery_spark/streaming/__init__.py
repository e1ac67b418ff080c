from parquery_spark.streaming.events import (
    dedup_stream,
    sessionize_stream,
    windowed_event_counts,
    windowed_event_counts_batch,
)

__all__ = [
    "windowed_event_counts",
    "windowed_event_counts_batch",
    "sessionize_stream",
    "dedup_stream",
]

from lookup_transform_spark.streaming.lookup_stream import (
    read_events_stream,
    run_to_memory,
)
from lookup_transform_spark.streaming.windows import (
    stream_dedup_within_watermark,
    stream_session_window,
    stream_tumbling_window,
)

__all__ = [
    "read_events_stream",
    "run_to_memory",
    "stream_dedup_within_watermark",
    "stream_session_window",
    "stream_tumbling_window",
]

from .events import (
    foreach_batch_upsert,
    stream_events,
    stream_stream_interval_join,
    streaming_dedupe,
    streaming_dedupe_within,
    streaming_session_counts,
    tumbling_counts,
)
from .cdc import stream_changes
from .stateful import running_user_stats

__all__ = [
    "foreach_batch_upsert",
    "stream_events",
    "stream_stream_interval_join",
    "streaming_dedupe",
    "streaming_dedupe_within",
    "streaming_session_counts",
    "tumbling_counts",
    "stream_changes",
    "running_user_stats",
]

from .jobs import (  # noqa: F401
    event_time_col,
    read_events_stream,
    sessionize_batch,
    sessionize_stream,
    window_counts,
)

from .pipeline import (
    sessionize,
    streaming_dedup,
    windowed_counts,
)

__all__ = ["windowed_counts", "streaming_dedup", "sessionize"]

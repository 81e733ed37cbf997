from .core import (  # noqa: F401
    available_now_compile,
    bounded_state_partitions,
    session_windowed_counts,
    sliding_windowed_agg,
    tumbling_windowed_agg,
)

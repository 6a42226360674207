from .events import dedup_event_stream, sessionized_stats  # noqa: F401
from .runner import read_table_stream, run_available_now  # noqa: F401

from .dedup import streaming_exact_dedup  # noqa: F401
from .joins import interval_join_stream  # noqa: F401
from .extract import (  # noqa: F401
    read_latest_triples,
    read_pages_stream,
    triples_merge_sink,
    triples_to_sink,
    windowed_mention_rate,
)
from .sessions import session_window_stats  # noqa: F401
from .stateful import (  # noqa: F401
    streaming_pred_stats,
    streaming_sessionize,
    streaming_sessionize_buffered,
)

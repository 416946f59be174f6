from .extract import (  # noqa: F401
    read_latest_triples,
    read_pages_stream,
    triples_merge_sink,
    triples_to_sink,
    windowed_mention_rate,
)

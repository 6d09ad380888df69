from .pipeline import (  # noqa: F401
    stream_transcripts,
    stream_classify,
    windowed_severity_counts,
    stream_asof_enrich,
    stream_route,
    stream_dedup_exact,
)
from .stateful import stream_parse_stateful  # noqa: F401

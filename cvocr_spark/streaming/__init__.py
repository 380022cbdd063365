from .extract_stream import (  # noqa: F401
    extract_pages_stream,
    read_merged_stats,
    run_stream_with_lineage,
    run_stream_with_stats,
)
from .cluster_stream import (  # noqa: F401
    cluster_batch_writer,
    current_clusters,
)
from .stateful import dedup_urls_stream, windowed_counts_stream  # noqa: F401

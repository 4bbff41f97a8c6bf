from .anomaly_stream import StreamingAnomalyMonitor, train_baseline  # noqa: F401
from .dedup_stream import StreamingDeduper  # noqa: F401
from .ingest import (  # noqa: F401
    dedup_redelivered,
    ingest_stream_to_lake,
    ingest_with_dlq,
    json_feed_schema,
    parse_kafka_json,
    split_dead_letters,
    streaming_user_totals,
    windowed_user_totals,
)
from .joins import enrich_stream_with_dim, interval_join_streams  # noqa: F401
from .stateful import sessionize_stream  # noqa: F401
from .warehouse_sink import stream_to_warehouse  # noqa: F401

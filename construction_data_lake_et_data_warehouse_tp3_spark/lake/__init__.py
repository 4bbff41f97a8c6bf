from .catalog import FeedCatalog, FeedConfig, FeedType, PartitioningType, StorageMode  # noqa: F401
from .retention import apply_stream_retention, apply_version_retention  # noqa: F401
from .writer import DataLakeWriter  # noqa: F401

"""PySpark-native analytics engine with the capabilities of
turbo3136/langchain-callback-parquet-logger (studied read-only at
/root/reference — see SURVEY.md), rebuilt Spark-first and extended with
large-scale training-data pipeline operators.

Public surface mirrors the reference's API roles:
- schema: fixed log-table schema (ParquetLogger's 7 columns)
- ingest: event normalization / filtering / tagging (write path)
- sinks: partitioned parquet + composite sinks (storage.py role)
- operators.queries: the read-side analysis surface
- batchmap / checkpoint: batch_run / batch_process / background retrieval
- operators.{text,dedup,similarity,multimodal}: the scale extensions
"""

from .schema import (
    CHECKPOINT_SCHEMA,
    CUSTOM_ID_PREFIX,
    DEFAULT_EVENT_TYPES,
    EVENT_TYPES,
    LOG_COLUMNS,
    LOG_SCHEMA,
    PAYLOAD_SCHEMA,
)
from .ingest import (
    extract_custom_id_from_tags,
    filter_event_types,
    normalize_events,
    payload_field,
    read_log_dataset,
    with_tags,
)
from .plans.session import (
    cache_tracked,
    get_spark,
    load_table,
    load_tables,
    release_caches,
)
from .logger import SparkParquetLogger
from .batchmap import ColumnConfig, RetryConfig, attach_results, batch_process, batch_run
from .checkpoint import (
    dedup_keep_last,
    filter_unprocessed,
    load_checkpoint,
    retrieve_with_checkpoint,
    save_checkpoint,
)
from .config import (
    EventType,
    JobConfig,
    LLMConfig,
    ProcessingConfig,
    S3Config,
    StorageConfig,
    build_job_metadata,
)
from .operators.temporal import asof_join
from .sinks import (
    CompositeSink,
    ParquetSink,
    compact_logs,
    create_sink,
    render_output_path,
    write_log,
)

__version__ = "0.1.0"

__all__ = [
    # schema / constants
    "CHECKPOINT_SCHEMA",
    "CUSTOM_ID_PREFIX",
    "DEFAULT_EVENT_TYPES",
    "EVENT_TYPES",
    "LOG_COLUMNS",
    "LOG_SCHEMA",
    "PAYLOAD_SCHEMA",
    # core (reference: ParquetLogger, with_tags)
    "SparkParquetLogger",
    "with_tags",
    # write path
    "extract_custom_id_from_tags",
    "filter_event_types",
    "normalize_events",
    "ParquetSink",
    "CompositeSink",
    "create_sink",
    "render_output_path",
    "write_log",
    "compact_logs",
    # batch processing (reference: batch_run, batch_process, ColumnConfig)
    "batch_run",
    "batch_process",
    "attach_results",
    "ColumnConfig",
    "RetryConfig",
    # background retrieval / checkpointing
    "retrieve_with_checkpoint",
    "load_checkpoint",
    "save_checkpoint",
    "filter_unprocessed",
    "dedup_keep_last",
    # configuration surface (reference config.py:8-157)
    "EventType",
    "S3Config",
    "JobConfig",
    "ProcessingConfig",
    "StorageConfig",
    "LLMConfig",
    "build_job_metadata",
    # temporal joins (beyond the reference — SURVEY.md §2.5 note)
    "asof_join",
    # read path
    "payload_field",
    "read_log_dataset",
    # session helpers
    "get_spark",
    "load_table",
    "load_tables",
    "cache_tracked",
    "release_caches",
    "__version__",
]

"""kafka_error_handling_spark — a PySpark-native error-handling engine.

Brand-new implementation of the capabilities of bakdata/kafka-error-handling
(reference surveyed in SURVEY.md) on Apache Spark: DataFrame/SQL for the
dataflow layer, Structured Streaming for streams, and a faithful
re-expression of the reference's error-capture / error-log / error-describe
decorator semantics as Arrow-batched per-row capture with JVM-side
success/error split projections and dead-letter formatting.

Public API (mirrors the reference surface, SURVEY.md §2.7 "UDF/UDAF/UDTF"):

- ``capture_*``   — route per-record failures to an error branch (§2.1)
- ``log_*``       — log and drop failing records (§2.2)
- ``describe_*``  — fail fast with an enriched message (§2.3)
- ``values`` / ``errors`` — split a captured frame (``ProcessedKeyValue``)
- ``dead_letters`` / ``dead_letter_struct`` — DLQ formatting (§2.4)
- ``with_error_headers`` — Kafka-header error metadata (§2.4)
- ``formats.avro_format`` / ``formats.proto_format`` — byte-compatible
  renderings of the reference's DeadLetter schemas
- ``streaming.runner`` — single-pass foreachBatch dual-sink + the
  ``FilteringProcessingExceptionHandler`` analog (§2.5)
- ``datapipe`` — large-scale training-data pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing)
"""

from .model import (  # noqa: F401
    DEAD_LETTER_SCHEMA,
    ERROR_SCHEMA,
    ProcessingException,
    RecordTooLargeError,
    is_recoverable,
)
from .operators import (  # noqa: F401
    capture_udf,
    capture_map,
    capture_map_values,
    capture_map_values_with_key,
    capture_flat_map,
    capture_flat_map_values,
    capture_flat_map_values_with_key,
    capture_process,
    capture_process_values,
    describe_errors,
    describe_errors_with_key,
    describe_flat_map,
    describe_flat_map_values,
    describe_map,
    describe_map_values,
    describe_map_values_with_key,
    describe_process,
    describe_udf,
    log_errors,
    log_map,
    log_map_values,
    log_map_values_with_key,
    log_flat_map,
    log_flat_map_values,
    log_flat_map_values_with_key,
    log_process,
    log_process_values,
    log_flat_transform_values,
    log_flat_transform_values_with_key,
    values,
    errors,
)
from .functions.dead_letter import dead_letter_struct, dead_letters  # noqa: F401
from .worker_imports import install as _install_worker_imports

_install_worker_imports()  # inside a Python worker only

__version__ = "0.1.0"

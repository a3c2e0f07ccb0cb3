"""Error-logging decorators — log the failing record, drop it from the output.

Spark-native re-expression of the reference's ``logErrors`` family
(SURVEY.md §2.2; ``ErrorLoggingValueMapper.java:89-100``,
``ErrorLoggingKeyValueMapper.java:92-103``, ``ErrorLoggingProcessor.java:157-167``).

Shared semantics: success → record flows through; recoverable exception →
rethrow; other exception → ``log.error("Cannot process ('<k>', '<v>')", e)``
and the record vanishes from the output (no DLQ branch exists in this
family).

"Logged, not silently eaten": besides the executor-side ``logging`` call
emitted from inside the UDF (the direct analog of the reference's slf4j
``log.error``), every ``log_*`` transform attaches a named
``DataFrame.observe`` metric counting dropped records, so a
``QueryExecutionListener`` / ``StreamingQueryListener`` can surface drop
counts per batch without a second pass (SURVEY.md §3.2).

Deliberate divergence at scale: the reference logs EVERY dropped record
with a full stack trace (``ErrorLoggingValueMapper.java:98``).  At 100 TB
that is millions of multi-line tracebacks per job — it floods any log
aggregator and dominates runtime (measured: ~150 µs/record, 7× the cost
of the wrapped function).  Our transforms therefore log the first
``max_logs`` failures per Python worker (default 50) followed by one
suppression notice; the ``observe`` metric still counts every drop, so
nothing is silently eaten.  Pass ``max_logs=None`` for reference-faithful
log-everything behavior.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, Iterable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

from ..model import ErrorFilter, is_recoverable
from . import capture as C
from .describe import Describer, column_message, record_message
from .loop import PROCESSED_COL, OnError, call_once, process_records

__all__ = [
    "log_errors",
    "log_map_values",
    "log_map_values_with_key",
    "log_map",
    "log_flat_map_values",
    "log_flat_map_values_with_key",
    "log_flat_map",
    "log_process",
    "log_process_values",
    "log_flat_transform_values",
    "log_flat_transform_values_with_key",
]

logger = logging.getLogger("kafka_error_handling_spark")

OBSERVATION_PREFIX = "keh_dropped"
_obs_counter = [0]

DEFAULT_MAX_LOGS = 50


def log_policy(
    error_filter: Optional[ErrorFilter],
    describe: Describer,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> OnError:
    """Re-raise if ``error_filter(exc)`` (default :func:`is_recoverable`);
    else log ``describe(args, exc)`` — the describe family's message,
    ``Cannot process v`` / ``Cannot process ('k', 'v')``
    (``ErrorLoggingValueMapper.java:98``, ``ErrorLoggingKeyValueMapper.java:100``)
    — and return a drop payload.  The record's error row is filtered out
    at once, so the payload skips the traceback rendering.

    Logs are rate-limited: the first ``max_logs`` failures, then one
    suppression notice (``None`` logs all).  The counter lives in the
    pickled policy, so it is per Python worker — a bounded number of
    processes, hence a bounded log volume at any SF."""
    flt = error_filter or is_recoverable
    state = {"n": 0}

    def on_error(args, exc):
        if flt(exc):
            raise exc
        state["n"] += 1
        if max_logs is None or state["n"] <= max_logs:
            logger.error("%s", describe(args, exc), exc_info=exc)
        elif state["n"] == max_logs + 1:
            logger.error(
                "Suppressing further 'Cannot process' logs in this worker "
                "(max_logs=%d reached); dropped-record totals remain available "
                "via the observe metric",
                max_logs,
            )
        return {
            "input_value": None,
            "error_class": type(exc).__name__,
            "message": None,
            "stack_trace": None,
        }

    return on_error


def log_errors(
    fn: Callable[..., Any],
    error_filter: Optional[ErrorFilter] = None,
    with_key: bool = False,
):
    """Wrap a plain callable with the reference's log-and-signal semantics:
    a recoverable error re-raises unlogged; any other is logged with the
    describe message, then re-raised.  The ``log_*`` transforms do not use
    it: they log through :func:`log_policy` and drop the record instead."""
    log = log_policy(error_filter, column_message(with_key), max_logs=None)

    def on_error(args, exc):
        log(args, exc)
        raise exc

    return lambda *args: call_once(fn, args, on_error)


def _drop_errors(processed: DataFrame, processed_col: str, observe: bool) -> DataFrame:
    if observe:
        processed = _observe_drops(
            processed, F.col(processed_col)[C.ERROR_COL].isNotNull()
        )
    return C.values(processed, processed_col)


def _observe_drops(df: DataFrame, is_error: Column) -> DataFrame:
    """Attach the named drop/total observe metric used by every ``log_*``
    transform — per-worker ``max_logs`` suppression never hides the count."""
    _obs_counter[0] += 1
    name = f"{OBSERVATION_PREFIX}_{_obs_counter[0]}"
    return df.observe(
        name,
        F.count(F.when(is_error, 1)).alias("dropped"),
        F.count(F.lit(1)).alias("total"),
    )


def _log_records(df, fn, result_type, in_cols, error_filter, observe, max_logs):
    """A ``log_*`` column shape: capture-shaped under the log policy, then
    the error rows dropped (and counted)."""
    on_error = log_policy(error_filter, column_message(len(in_cols) > 1), max_logs)
    return _drop_errors(C.apply_records(df, fn, result_type, in_cols, on_error, "r"), "r", observe)


def log_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingValueMapper.logErrors`` (``ErrorLoggingValueMapper.java:62,89-100``)."""
    return _log_records(df, fn, result_type, [value_col], error_filter, observe, max_logs)


def log_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingValueMapperWithKey`` (``ErrorLoggingValueMapperWithKey.java:64,92-103``)."""
    return _log_records(
        df, fn, result_type, [key_col, value_col], error_filter, observe, max_logs
    )


def log_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingKeyValueMapper`` (``ErrorLoggingKeyValueMapper.java:64,92-103``)."""
    return _log_records(
        df, C.pair_result(fn), C.kv_struct_type(key_type, value_type),
        [key_col, value_col], error_filter, observe, max_logs,
    )


def log_flat_map_values(
    df: DataFrame,
    fn: Callable[[Any], Iterable[Any]],
    element_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatValueMapper`` (``ErrorLoggingFlatValueMapper.java:61,88-98``)."""
    return _log_records(
        df, C.list_result(fn), ArrayType(element_type), [value_col],
        error_filter, observe, max_logs,
    )


def log_flat_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    element_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatValueMapperWithKey`` (``...WithKey.java:63,91-101``)."""
    return _log_records(
        df, C.list_result(fn), ArrayType(element_type), [key_col, value_col],
        error_filter, observe, max_logs,
    )


def log_flat_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    observe: bool = True,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingFlatKeyValueMapper`` (``ErrorLoggingFlatKeyValueMapper.java:63,91-101``)."""
    return _log_records(
        df, C.pair_list_result(fn), ArrayType(C.kv_struct_type(key_type, value_type)),
        [key_col, value_col], error_filter, observe, max_logs,
    )


def log_process(
    df: DataFrame,
    processor,
    result_type,
    error_filter: Optional[ErrorFilter] = None,
    pass_through=None,
    input_value_col=None,
    max_logs: Optional[int] = DEFAULT_MAX_LOGS,
) -> DataFrame:
    """``ErrorLoggingProcessor`` (``ErrorLoggingProcessor.java:68,157-167``):
    the processor shape of :func:`~.capture.capture_process`, exception →
    log + skip row.  Also covers the legacy
    ``ErrorLoggingFlatValueTransformer(WithKey)`` shapes
    (``ErrorLoggingFlatValueTransformer.java:65,148-158``) — same semantics,
    legacy API surface.
    """
    on_error = log_policy(error_filter, record_message(input_value_col or df.columns[-1]), max_logs)
    p = process_records(df, processor, result_type, on_error, pass_through)
    return _drop_errors(p, PROCESSED_COL, observe=True)


#: ``ErrorLoggingValueProcessor`` (``ErrorLoggingValueProcessor.java:66,152-162``)
log_process_values = log_process


# ---------------------------------------------------------------------------
# Legacy transformer API surface (SURVEY.md §2.2 last rows): the reference
# keeps deprecated transformValues-shaped decorators whose semantics are
# identical to the processor shapes — expose the same names for API parity.
# ---------------------------------------------------------------------------

#: ``ErrorLoggingFlatValueTransformer`` (``ErrorLoggingFlatValueTransformer.java:65,148-158``)
log_flat_transform_values = log_process_values
#: ``ErrorLoggingFlatValueTransformerWithKey`` (``...WithKey.java:68,154-164``)
log_flat_transform_values_with_key = log_process_values

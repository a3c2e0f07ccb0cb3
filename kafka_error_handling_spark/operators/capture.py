"""Error-capturing decorators — route per-record failures to an error branch.

Spark-native re-expression of the reference's ``captureErrors`` family
(SURVEY.md §2.1; reference ``ErrorCapturingKeyValueMapper.java:94-107``,
``ErrorCapturingValueMapper.java:86-95``, ``ErrorCapturingFlatValueMapper.java:89-98``,
``ErrorCapturingProcessor.java:164-176``).

Shared semantics, identical to the reference:

- call the wrapped function once per record;
- on success, emit the result with a NULL ``error`` column;
- on ``Exception e``: if ``error_filter(e)`` is true (default
  :func:`~kafka_error_handling_spark.model.is_recoverable`) **re-raise** —
  the Spark task fails and retries, preserving the reference's
  crash-and-retry-at-least-once contract (``ErrorCapturingValueMapper.java:57-60``);
  otherwise emit a NULL result with a populated ``error`` struct;
- exceptions that are not ``Exception`` (``KeyboardInterrupt``,
  ``SystemExit``, … — the Python analog of Java ``Error``/``Throwable``)
  are never caught (``ErrorCapturingKeyValueMapperTopologyTest.java:117-125``).

Architecture notes (scale):

- The wrapped Python function is the slow path by definition; it runs in
  the shared per-record loop (:mod:`.loop`) inside one nondeterministic
  ``arrow_udf`` for every shape (a processor's 0..n forwards ride an
  array the JVM explodes), so one bad row poisons neither the batch nor
  the task, while JVM↔Python transfer stays vectorized.
- Nondeterminism stops Catalyst from duplicating a capture UDF into both
  the success and the error branch — the wrapped function must run exactly
  once per record (SURVEY.md §4).
- Splitting success/error is two cheap JVM-side ``filter`` + ``select``
  projections of one DataFrame; in streaming, pair with
  ``streaming.runner.run_captured`` (single ``foreachBatch`` + persist).
"""

from __future__ import annotations

from operator import itemgetter
from typing import Any, Callable, Iterable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructField, StructType

from ..model import ErrorFilter, error_payload, is_recoverable
from .loop import ERROR_COL, PROCESSED_COL, RESULT_COL, OnError, column_udf, process_records

__all__ = [
    "capture_udf",
    "capture_map_values",
    "capture_map_values_with_key",
    "capture_map",
    "capture_flat_map_values",
    "capture_flat_map_values_with_key",
    "capture_flat_map",
    "capture_process",
    "capture_process_values",
    "values",
    "errors",
    "kv_struct_type",
]


def capture_policy(
    error_filter: Optional[ErrorFilter],
    input_value: Callable[[tuple], Any] = itemgetter(-1),
) -> OnError:
    """Re-raise if ``error_filter(exc)`` (default :func:`is_recoverable`),
    else the full error payload rendering ``input_value(args)`` (default:
    the value of a column shape's ``(value,)`` / ``(key, value)`` args)."""
    flt = error_filter or is_recoverable

    def on_error(args, exc):
        if flt(exc):
            raise exc
        return error_payload(input_value(args), exc)

    return on_error


def capture_udf(
    fn: Callable[..., Any],
    result_type: Union[DataType, str],
    error_filter: Optional[ErrorFilter] = None,
):
    """Column-level capture primitive.

    Returns a nondeterministic ``arrow_udf`` mapping its input columns to
    ``struct<result: result_type, error: ERROR_SCHEMA>``.  The rendered
    ``input_value`` in the error payload is the *last* argument (the value;
    key-value shapes pass ``(key, value)``), matching the reference where
    ``ProcessingError`` carries the input value (``ProcessingError.java:43-47``).
    """
    return column_udf(fn, result_type, capture_policy(error_filter))


def apply_records(
    df: DataFrame,
    fn: Callable[..., Any],
    result_type: DataType,
    in_cols: Sequence[Union[str, Column]],
    on_error: OnError,
    processed_col: str,
) -> DataFrame:
    """``processed_col = struct<result, error>`` of ``fn`` over ``in_cols``."""
    udf = column_udf(fn, result_type, on_error)
    cols = [F.col(c) if isinstance(c, str) else c for c in in_cols]
    return df.withColumn(processed_col, udf(*cols))


def pair_result(fn: Callable[[Any, Any], Any]) -> Callable[[Any, Any], Any]:
    """``fn(key, value) -> (new_key, new_value)``, unpacked inside the loop
    so a result that is not a pair is that record's error."""

    def _pair(k, v):
        out = fn(k, v)
        if out is None:
            return None
        nk, nv = out
        return nk, nv

    return _pair


def list_result(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``fn(*args) -> iterable``, listed inside the loop."""

    def _listed(*args):
        out = fn(*args)
        return None if out is None else list(out)

    return _listed


def pair_list_result(fn: Callable[[Any, Any], Any]) -> Callable[[Any, Any], Any]:
    """``fn(key, value) -> iterable[(new_key, new_value)]``."""

    def _pairs(k, v):
        out = fn(k, v)
        return None if out is None else [(nk, nv) for nk, nv in out]

    return _pairs


def kv_struct_type(key_type: DataType, value_type: DataType) -> StructType:
    """Result type for key-changing shapes: ``struct<key, value>``."""
    return StructType(
        [StructField("key", key_type, True), StructField("value", value_type, True)]
    )


# ---------------------------------------------------------------------------
# DataFrame-level decorator matrix (SURVEY.md §2.1 table)
# ---------------------------------------------------------------------------


def capture_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingValueMapper.captureErrors`` (``ErrorCapturingValueMapper.java:57,86-95``).

    Adds ``processed_col = struct<result, error>``; the key (all other
    columns) is untouched.  Split with :func:`values` / :func:`errors`.
    """
    on_error = capture_policy(error_filter)
    return apply_records(df, fn, result_type, [value_col], on_error, processed_col)


def capture_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingValueMapperWithKey`` (``ErrorCapturingValueMapperWithKey.java:60,90-99``).

    ``fn(key, value)``; the key column is read-only and still untouched in
    the output.
    """
    on_error = capture_policy(error_filter)
    return apply_records(df, fn, result_type, [key_col, value_col], on_error, processed_col)


def capture_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingKeyValueMapper.captureErrors`` (``ErrorCapturingKeyValueMapper.java:63,94-107``).

    ``fn(key, value) -> (new_key, new_value)``.  On success the result struct
    carries the new key+value; on error the new key is NULL and the *old*
    key survives as the original ``key_col`` column ("new key is only
    relevant if no error occurs", ``ErrorCapturingKeyValueMapper.java:103-105``).
    """
    return apply_records(
        df,
        pair_result(fn),
        kv_struct_type(key_type, value_type),
        [key_col, value_col],
        capture_policy(error_filter),
        processed_col,
    )


def capture_flat_map_values(
    df: DataFrame,
    fn: Callable[[Any], Iterable[Any]],
    element_type: DataType,
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingFlatValueMapper`` (``ErrorCapturingFlatValueMapper.java:60,89-98``).

    ``fn(value) -> iterable``; result column is ``array<element_type>``.
    :func:`values` explodes it (``explode_outer`` never drops error rows
    because they are filtered to the other branch first).
    """
    return apply_records(
        df,
        list_result(fn),
        ArrayType(element_type),
        [value_col],
        capture_policy(error_filter),
        processed_col,
    )


def capture_flat_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    element_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingFlatValueMapperWithKey`` (``...WithKey.java:62,92-101``)."""
    return apply_records(
        df,
        list_result(fn),
        ArrayType(element_type),
        [key_col, value_col],
        capture_policy(error_filter),
        processed_col,
    )


def capture_flat_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Iterable[Any]],
    key_type: DataType,
    value_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    error_filter: Optional[ErrorFilter] = None,
    processed_col: str = "r",
) -> DataFrame:
    """``ErrorCapturingFlatKeyValueMapper`` (``ErrorCapturingFlatKeyValueMapper.java:67,102-115``).

    ``fn(key, value) -> iterable[(new_key, new_value)]``; result column is
    ``array<struct<key, value>>``.
    """
    return apply_records(
        df,
        pair_list_result(fn),
        ArrayType(kv_struct_type(key_type, value_type)),
        [key_col, value_col],
        capture_policy(error_filter),
        processed_col,
    )


# ---------------------------------------------------------------------------
# Split projections — the consumer-side API
# (reference ``ProcessedKeyValue.getValues/getErrors``,
#  ``ProcessedKeyValue.java:64-83``; usage ``README.md:79-83``)
# ---------------------------------------------------------------------------


def values(
    df: DataFrame,
    processed_col: str = "r",
    result_alias: Optional[str] = RESULT_COL,
) -> DataFrame:
    """Success branch: rows whose ``error`` is NULL, result column surfaced.

    Array results (the ``flat_map*`` shapes) are exploded — the 0-or-1 /
    0-or-n element contract of ``SuccessValue.getValues``
    (``SuccessValue.java:48-52``).

    On an unpersisted serde-captured frame (``sources.serde``) the branch
    re-parses: predicate pushdown copies the bound parse into the branch
    filter, so the executed plan holds 3 parser nodes where the frame alone
    holds 1.  ``run_captured`` persists the frame before it splits it, so a
    stream parses once.
    """
    r = F.col(processed_col)
    out = df.filter(r[ERROR_COL].isNull())
    result = r[RESULT_COL]
    field = dict(zip(df.schema[processed_col].dataType.names, df.schema[processed_col].dataType.fields))
    rt = field[RESULT_COL].dataType
    if isinstance(rt, ArrayType):
        result = F.explode(result)
    keep = [c for c in df.columns if c != processed_col]
    return out.select(*keep, result.alias(result_alias))


def errors(df: DataFrame, processed_col: str = "r") -> DataFrame:
    """Error branch: the ``ProcessingError`` struct fields next to the
    original input columns — the old key is preserved for free because Spark
    never destroys input columns (``ErrorKeyValue.java:48-51``,
    ``ProcessedKeyValue.java:64-67``).

    Re-parses an unpersisted serde-captured frame as :func:`values` does
    (3 parser nodes in the executed plan, against 1 for the frame).
    """
    r = F.col(processed_col)
    keep = [c for c in df.columns if c != processed_col]
    return df.filter(r[ERROR_COL].isNotNull()).select(
        *keep, r[ERROR_COL].alias(ERROR_COL)
    )


# ---------------------------------------------------------------------------
# Processor shapes — arbitrary 0..n forwards per record, exploded in the JVM
# (reference ``ErrorCapturingProcessor.java:164-176``,
#  ``ErrorCapturingValueProcessor.java:159-168``)
# ---------------------------------------------------------------------------


def record_value(input_value_col: str) -> Callable[[tuple], Any]:
    """The value of a processor shape's ``(row_dict,)`` args."""
    return lambda args: args[0].get(input_value_col)


def capture_process(
    df: DataFrame,
    processor: Callable[[dict], Optional[Iterable[Any]]],
    result_type: DataType,
    error_filter: Optional[ErrorFilter] = None,
    pass_through: Optional[Sequence[str]] = None,
    input_value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorCapturingProcessor.captureErrors`` — the general ``process`` shape.

    ``processor(row_dict)`` may forward 0..n results (the Spark analog of
    ``context.forward`` — ``ErrorCapturingApiProcessorContext.java:31-59``:
    every forward is re-wrapped as a success).  Output schema:
    ``pass_through`` columns (default: all input columns) + ``result``
    (nullable ``result_type``, of any type) + ``error``.  Success rows: one
    per forward, error NULL.  Error rows: one, result NULL, ``input_value``
    rendered from ``input_value_col`` (default: the last input column).
    """
    on_error = capture_policy(error_filter, record_value(input_value_col or df.columns[-1]))
    p = process_records(df, processor, result_type, on_error, pass_through)
    r = F.col(PROCESSED_COL)
    # a failed record keeps one row (NULL result), one without forwards none
    failed = F.array(F.lit(None).cast(result_type))
    return p.select(
        *[c for c in p.columns if c != PROCESSED_COL],
        F.explode(F.coalesce(r[RESULT_COL], failed)).alias(RESULT_COL),
        r[ERROR_COL].alias(ERROR_COL),
    )


#: ``ErrorCapturingValueProcessor`` — the fixed-key ``processValues`` shape
#: (``ErrorCapturingValueProcessor.java:68,159-168``): forwards carry only a
#: new value, which may be of any ``result_type``; the key columns pass through.
capture_process_values = capture_process

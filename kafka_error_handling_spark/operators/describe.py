"""Error-describing decorators — fail fast with an enriched message.

Spark-native re-expression of the reference's ``describeErrors`` family
(SURVEY.md §2.3; ``ErrorDescribingKeyValueMapper.java:59,65-71``,
``ErrorDescribingValueMapper.java:57,63-69``,
``ErrorDescribingProcessor.java:101-107``).

Semantics: catch any ``Exception``, rethrow
``ProcessingException("Cannot process ('<key>', '<value>')") from exc``
(``ProcessingException.java:30-39``) — the query still fails, but the Spark
task failure / driver exception now names the exact record that killed it.
No error filter: everything is described.  Non-``Exception`` throwables
pass through untouched.

These wrappers are **type-transparent** (the wrapped return type passes
straight through), so the same three shapes also serve the flat variants —
exactly as in the reference, where the flat tests reuse
``ErrorDescribingKeyValueMapper.describeErrors`` with ``flatMap``
(``ErrorDescribingFlatKeyValueMapperTopologyTest.java:68``).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from ..model import ProcessingException
from .loop import PROCESSED_COL, RESULT_COL, OnError, call_once, column_udf, process_records

__all__ = [
    "describe_flat_map_values",
    "describe_flat_map",
    "describe_errors",
    "describe_errors_with_key",
    "describe_udf",
    "describe_map_values",
    "describe_map_values_with_key",
    "describe_map",
    "describe_process",
]

Describer = Callable[[tuple, Exception], ProcessingException]


def value_message(args: tuple, exc: Exception) -> ProcessingException:
    """``Cannot process <value>`` (``ErrorDescribingValueMapper.java:63-69``)."""
    return ProcessingException.for_value(args[-1], exc)


def key_value_message(args: tuple, exc: Exception) -> ProcessingException:
    """``Cannot process ('<key>', '<value>')`` (``ErrorDescribingKeyValueMapper.java:65-71``)."""
    return ProcessingException.for_key_value(args[0], args[1], exc)


def column_message(with_key: bool) -> Describer:
    return key_value_message if with_key else value_message


def record_message(value_col: str, key_cols: Optional[Sequence[str]] = None) -> Describer:
    """The message for a processor shape's ``(row_dict,)`` args: the value
    of ``value_col``, keyed by ``key_cols`` when given."""

    def describe(args, exc):
        rec = args[0]
        if not key_cols:
            return ProcessingException.for_value(rec.get(value_col), exc)
        key = tuple(rec.get(k) for k in key_cols)
        return ProcessingException.for_key_value(
            key[0] if len(key) == 1 else key, rec.get(value_col), exc
        )

    return describe


def describe_policy(describe: Describer) -> OnError:
    """Raise ``describe(args, exc)``, chained to the cause."""

    def on_error(args, exc):
        raise describe(args, exc) from exc

    return on_error


def describe_errors(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``ErrorDescribingValueMapper.describeErrors`` — value-only message
    (``ErrorDescribingValueMapper.java:63-69``)."""
    on_error = describe_policy(value_message)
    return lambda *args: call_once(fn, args, on_error)


def describe_errors_with_key(fn: Callable[..., Any]) -> Callable[..., Any]:
    """``ErrorDescribingKeyValueMapper`` / ``...ValueMapperWithKey`` —
    key-and-value message (``ErrorDescribingKeyValueMapper.java:65-71``)."""
    on_error = describe_policy(key_value_message)
    return lambda *args: call_once(fn, args, on_error)


def describe_udf(
    fn: Callable[..., Any],
    result_type: DataType,
    with_key: bool = False,
):
    """``arrow_udf`` wrapper re-raising enriched — the column-level primitive.

    The first failing record aborts the task with a ``ProcessingException``
    naming it (fail-fast is the point).  A struct ``result_type`` (the
    ``ErrorDescribingKeyValueMapper`` parity shape, where results are
    ``struct<key, value>``) takes dict or tuple results, and a ``None``
    result is a NULL struct, like every family.
    """
    return column_udf(fn, result_type, describe_policy(column_message(with_key)), with_error=False)


def describe_map_values(
    df: DataFrame,
    fn: Callable[[Any], Any],
    result_type: DataType,
    value_col: str = "value",
    result_col: str = "result",
) -> DataFrame:
    """``describeErrors`` over the ``mapValues`` shape (also serves
    ``flatMapValues`` with an array ``result_type`` — type-transparent)."""
    udf = describe_udf(fn, result_type, with_key=False)
    return df.withColumn(result_col, udf(F.col(value_col)))


def describe_map_values_with_key(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    result_col: str = "result",
) -> DataFrame:
    """``ErrorDescribingValueMapperWithKey`` (``ErrorDescribingValueMapperWithKey.java:58,64-70``)."""
    udf = describe_udf(fn, result_type, with_key=True)
    return df.withColumn(result_col, udf(F.col(key_col), F.col(value_col)))


def describe_map(
    df: DataFrame,
    fn: Callable[[Any, Any], Any],
    result_type: DataType,
    key_col: str = "key",
    value_col: str = "value",
    result_col: str = "result",
) -> DataFrame:
    """``ErrorDescribingKeyValueMapper`` over ``map``/``flatMap``
    (``ErrorDescribingKeyValueMapper.java:59``): ``fn(key, value)`` with the
    key-value message; return type passes through (tuple-shaped results use a
    ``struct<key, value>`` ``result_type``)."""
    udf = describe_udf(fn, result_type, with_key=True)
    return df.withColumn(result_col, udf(F.col(key_col), F.col(value_col)))


def describe_process(
    df: DataFrame,
    processor: Callable[[dict], Optional[Iterable[dict]]],
    result_type: StructType,
    pass_through: Optional[Sequence[str]] = None,
    key_cols: Optional[Sequence[str]] = None,
    value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorDescribingProcessor`` / ``ErrorDescribingValueProcessor``
    (``ErrorDescribingProcessor.java:64,101-107``): re-raising enriched;
    multi-forward supported like
    :func:`~kafka_error_handling_spark.operators.capture.capture_process`.
    """
    on_error = describe_policy(record_message(value_col or df.columns[-1], key_cols))
    p = process_records(df, processor, result_type, on_error, pass_through, with_error=False)
    keep = [c for c in p.columns if c != PROCESSED_COL]
    return p.select(*keep, F.explode(PROCESSED_COL).alias(RESULT_COL))


# Type-transparent flat aliases — the reference reuses the same describing
# mapper classes for flatMap shapes (ErrorDescribingFlatKeyValueMapperTopologyTest.java:68);
# pass an ArrayType result_type and explode downstream.
describe_flat_map_values = describe_map_values
describe_flat_map = describe_map

"""Dead-letter formatting & routing (SURVEY.md §2.4).

The reference's ``DeadLetterProcessor`` (``DeadLetterProcessor.java:77-111``)
builds a ``DeadLetterDescription`` from a ``ProcessingError`` + record
metadata, converts it via a pluggable ``DeadLetterConverter``
(``DeadLetterConverter.java:32-41``), and re-stamps the output timestamp to
wall clock (``DeadLetterProcessor.java:108``).

In Spark this whole processor is a **pure projection** — no UDF, fully
JVM-side, whole-stage-codegen friendly:

    errs → select(key, dead_letter_struct(...), current_timestamp())

Converters are ``Column → Column`` functions: identity keeps the struct,
:mod:`..formats.avro_format` / :mod:`..formats.proto_format` render the
byte-compatible Avro / proto3 encodings of the reference's schemas.  Each
format has one encoder, a function of one flat record: its spec fallback
calls it per dead letter in one ``arrow_udf`` (:func:`dead_letter_encoder`,
reading the struct through :func:`dead_letter_records`), and its
per-record encoder calls it on a dict (:func:`dead_letter_record`).
"""

from __future__ import annotations

import functools
from datetime import datetime, timedelta, timezone
from typing import Callable, Optional

import pyarrow as pa

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import BinaryType

from ..model import DEAD_LETTER_SCHEMA
from ..operators.loop import _pylist

__all__ = [
    "dead_letter_struct",
    "dead_letters",
    "replay_dead_letters",
    "DEAD_LETTER_SCHEMA",
]

# A dead letter as the encoders take it: the _TOP and _CAUSE fields, then
# (cause_is_null, input_us) — input_us is the UTC instant in microseconds.
_TOP = ("description", "input_value", "topic", "partition", "offset")
_CAUSE = ("message", "stack_trace", "error_class")
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def dead_letter_struct(
    description: str,
    error_col: str = "error",
    topic: Optional[Column] = None,
    partition: Optional[Column] = None,
    offset: Optional[Column] = None,
    input_timestamp: Optional[Column] = None,
) -> Column:
    """Build the ``DeadLetterDescription`` struct column
    (``DeadLetterProcessor.java:88-104``; schema ``DeadLetterDescription.java:39-60``).

    ``error_col`` must hold an :data:`~kafka_error_handling_spark.model.ERROR_SCHEMA`
    struct (from ``operators.capture.errors``).  Metadata columns default to
    NULL — batch file sources have no topic/partition/offset, exactly like
    the reference when ``recordMetadata()`` is absent
    (``DeadLetterProcessor.java:91,100-102`` uses Optional metadata).
    """
    e = F.col(error_col)
    null_s = F.lit(None).cast("string")
    return F.struct(
        F.lit(description).alias("description"),
        F.struct(
            e["message"].alias("message"),
            e["stack_trace"].alias("stack_trace"),
            e["error_class"].alias("error_class"),
        ).alias("cause"),
        e["input_value"].alias("input_value"),
        (topic if topic is not None else null_s).cast("string").alias("topic"),
        (partition if partition is not None else F.lit(None)).cast("int").alias("partition"),
        (offset if offset is not None else F.lit(None)).cast("long").alias("offset"),
        (input_timestamp if input_timestamp is not None else F.lit(None))
        .cast("timestamp")
        .alias("input_timestamp"),
    )


def dead_letters(
    errs: DataFrame,
    description: str,
    error_col: str = "error",
    key_cols: Optional[list] = None,
    topic_col: Optional[str] = None,
    partition_col: Optional[str] = None,
    offset_col: Optional[str] = None,
    timestamp_col: Optional[str] = None,
    dead_letter_col: str = "dead_letter",
) -> DataFrame:
    """``DeadLetterProcessor.create(description, converter)`` as a transform
    (``DeadLetterProcessor.java:77-80``).

    Input: the error branch from ``operators.capture.errors``.  Output: the
    original key columns (old key preserved, ``ProcessedKeyValue.java:64-67``),
    the dead-letter struct, and ``processing_timestamp = current_timestamp()``
    — the reference re-stamps dead letters to wall clock
    (``DeadLetterProcessor.java:108``); DLQ time ≠ event time by design.
    """
    cols = []
    for k in key_cols or []:
        cols.append(F.col(k))
    cols.append(
        dead_letter_struct(
            description,
            error_col,
            topic=F.col(topic_col) if topic_col else None,
            partition=F.col(partition_col) if partition_col else None,
            offset=F.col(offset_col) if offset_col else None,
            input_timestamp=F.col(timestamp_col) if timestamp_col else None,
        ).alias(dead_letter_col)
    )
    cols.append(F.current_timestamp().alias("processing_timestamp"))
    return errs.select(*cols)


def replay_dead_letters(
    dlq: DataFrame,
    fn,
    result_type,
    dead_letter_col: str = "dead_letter",
    error_filter=None,
    processed_col: str = "r",
):
    """Reprocess a dead-letter frame with a (presumably fixed) function —
    the standard DLQ-consumer lifecycle around the reference library: a
    repaired deployment re-reads the dead-letter topic and replays each
    record (the reference keeps the full original value in the dead letter
    for exactly this, ``DeadLetterDescription.java:52`` ``inputValue``).

    The function receives ``dead_letter.input_value`` — the stringified
    original value, which is all a DLQ consumer has.  Returns the captured
    frame: split with ``operators.capture.values`` / ``errors`` (recovered
    vs still-dead), or project the sum-type struct directly for a one-pass
    consumer.  Records that fail *again* keep full error metadata, so a
    replay's own DLQ is well-formed — replays compose.
    """
    from ..operators.capture import capture_map_values

    tmp = "__replay_input"
    replay_in = dlq.withColumn(tmp, F.col(f"{dead_letter_col}.input_value"))
    out = capture_map_values(
        replay_in,
        fn,
        result_type,
        value_col=tmp,
        error_filter=error_filter,
        processed_col=processed_col,
    )
    return out.drop(tmp)


def dead_letter_record(d: dict) -> tuple:
    """A dead-letter dict → the encoders' record; ``input_timestamp`` is a
    ``datetime`` or an ISO string, read as UTC when naive."""
    cause = d.get("cause") or {}
    ts = d.get("input_timestamp")
    if ts is not None:
        ts = datetime.fromisoformat(ts) if isinstance(ts, str) else ts
        ts = (ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)) - _EPOCH
        ts //= timedelta(microseconds=1)
    return (*map(d.get, _TOP), *map(cause.get, _CAUSE), not cause, ts)


def dead_letter_records(arr: pa.StructArray) -> list:
    """A dead-letter struct column → one record per row (``None`` for a
    NULL struct), read leaf column by leaf column; ``input_timestamp`` is
    its int64 storage, UTC microseconds whatever the session time zone."""
    cause = arr.field("cause")
    cols = [_pylist(arr.field(n)) for n in _TOP]
    cols += [_pylist(cause.field(n)) for n in _CAUSE]
    cols.append(_pylist(cause.is_null()))
    cols.append(_pylist(arr.field("input_timestamp").cast(pa.int64())))
    return [None if n else r for n, r in zip(_pylist(arr.is_null()), zip(*cols))]


def dead_letter_encoder(encode: Callable[..., bytes]):
    """An ``arrow_udf`` writing ``encode(*record)`` per dead letter, NULL
    for a NULL struct."""

    def _write(arr: pa.Array) -> pa.Array:
        rows = dead_letter_records(arr)
        return pa.array([None if r is None else encode(*r) for r in rows], pa.binary())

    return arrow_udf(_write, BinaryType())


def probed_per_context(probe: Callable[[SparkSession], bool]) -> Callable[..., bool]:
    """``probe(spark)`` → ``available(spark=None)``, which runs the probe
    once per live SparkContext.  A call with no active session answers from
    the live context's probe, or False without recording anything when it
    has none, so a later call with a session probes."""
    seen = (None, False)  # the SparkContext probed, and its answer

    @functools.wraps(probe)
    def available(spark: Optional[SparkSession] = None) -> bool:
        nonlocal seen
        spark = spark or SparkSession.getActiveSession()
        sc = SparkContext._active_spark_context if spark is None else spark.sparkContext
        probed, ok = seen
        if probed is sc:
            return ok
        if spark is None:
            return False
        seen = (sc, probe(spark))
        return seen[1]

    return available

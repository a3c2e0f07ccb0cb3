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
byte-compatible Avro / proto3 encodings of the reference's schemas.  Their
spec fallbacks are Catalyst expressions too, built from the blocks at the
end of this module (:func:`let`, :func:`varint`, :func:`built_once`), so
no step of the DLQ path starts a Python worker.  The per-record reference
encoders map a dead-letter dict to one flat record
(:func:`dead_letter_record`).
"""

from __future__ import annotations

import threading
from datetime import datetime, timedelta, timezone
from typing import Callable, Optional

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import DEAD_LETTER_SCHEMA

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


# ---------------------------------------------------------------------------
# Building blocks of the Catalyst spec encoders (formats/).  Catalyst has no
# public let, and an expression referenced twice is copied twice, so a
# value that is read more than once is bound as a lambda variable: it rides
# a one-element ``transform`` (:func:`let`).  Every varint of one level goes
# through one ``transform`` (:func:`varints`), so the per-byte tree of
# :func:`varint` appears once per level, not once per field.
# ---------------------------------------------------------------------------


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v = value`` evaluated once per row."""
    return F.transform(F.array(value), body)[0]


def varint(z: Column, max_bytes: int = 10) -> Column:
    """Base-128 varint of ``z`` (a BIGINT read as unsigned 64-bit) as
    binary, NULL for NULL.  ``z`` is copied three times per byte, so pass a
    lambda variable or a cheap expression; ``max_bytes`` < 10 serves values
    below ``2 ** (7 * max_bytes)``, such as lengths."""

    def group(k):
        return F.shiftrightunsigned(z, 7 * k)

    hex_ = F.lpad(F.hex(group(max_bytes - 1)), 2, "0")
    for k in reversed(range(max_bytes - 1)):
        more = F.hex(group(k).bitwiseAND(0x7F).bitwiseOR(0x80))
        hex_ = F.when(group(k + 1) == 0, F.lpad(F.hex(group(k)), 2, "0")).otherwise(
            F.concat(more, hex_)
        )
    return F.unhex(hex_)


def varints(zs: list) -> Column:
    """``array(varint(z) for z in zs)`` through one lambda."""
    return F.transform(F.array(*[z.cast("bigint") for z in zs]), lambda z: varint(z))


def byte(*values: int) -> Column:
    """A binary literal."""
    return F.lit(bytearray(values))


# (SparkContext, kind, hashCode, JVM Column, built Column), oldest first.
_BUILT: list = []
_BUILT_MAX = 32
_BUILT_LOCK = threading.Lock()  # streaming queries call back on their own threads


def built_once(kind: str, dead_letter: Column, build: Callable[[Column], Column]) -> Column:
    """``build(dead_letter)``, built once per ``kind``, input expression and
    SparkContext.  Building a spec encoder costs one py4j call per node
    (median 0.20 s for Avro, 0.36 s for proto on a 4-core host; a hit costs
    ~1 ms), and ``foreachBatch`` builds the DLQ frame anew for every
    micro-batch.  Inputs match by the JVM Column's structural
    equality: two ``F.col("dead_letter")`` are equal, ``df1["x"]`` and
    ``df2["x"]`` are not (they carry their plan's id)."""
    sc = SparkContext._active_spark_context
    jc = dead_letter._jc
    h = jc.hashCode()
    with _BUILT_LOCK:
        _BUILT[:] = [e for e in _BUILT if e[0] is sc]
        for _, k, eh, ejc, col in _BUILT:
            if k == kind and eh == h and jc.equals(ejc):
                return col
        col = build(dead_letter)
        _BUILT.append((sc, kind, h, jc, col))
        del _BUILT[:-_BUILT_MAX]
        return col

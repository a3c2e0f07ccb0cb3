"""Avro binary rendering of the dead-letter struct, byte-compatible with the
reference's generated ``DeadLetter`` class
(``error-handling-avro/src/main/avro/DeadLetter.avsc``).

Two encode paths, dispatched at runtime (``to_avro_dead_letter``):

1. **JVM** — ``pyspark.sql.avro.functions.to_avro(struct, DEAD_LETTER_AVSC)``
   whenever the spark-avro module is actually loaded (probed once per
   SparkContext with an eager analysis; the import alone succeeds even
   without the jar).  Fully JVM-side, matching the reference's
   ``AvroDeadLetterConverter.java:34-49`` cost profile — no Python in the
   encode hot path on DLQ-heavy runs.
2. **Spec fallback** — spark-avro does not ship with pyspark, so the
   fallback is a minimal, self-contained implementation of the *public*
   Avro binary encoding spec (zig-zag varint longs, length-prefixed UTF-8
   strings, union branch indices) specialized to the DeadLetter schema,
   round-trip tested by our own decoder.  :func:`_encode` is the only
   Avro encoder: the fallback calls it per dead letter in one ``arrow_udf``
   (:func:`..functions.dead_letter.dead_letter_encoder`), and
   :func:`encode_dead_letter` calls it on a dict.

Both paths write the same bytes in any session time zone: Avro binary
encoding is fully determined by (schema, value) — no framing, no field
tags — the JVM path receives the struct re-projected into exact .avsc
field order, and both write ``input_timestamp`` as the UTC instant in
milliseconds that ``timestamp-millis`` requires (floored, like Spark's
``microsToMillis``).  The fallback encodes a NULL struct to NULL;
:func:`_encode` raises ``ValueError`` on a NULL description, which the
schema does not allow.  Field order:

    input_value?, topic?, partition?, offset?, description,
    cause{error_class?, message?, stack_trace?}, input_timestamp?(millis)
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.dead_letter import (
    dead_letter_encoder,
    dead_letter_record,
    probed_per_context,
)

__all__ = [
    "DEAD_LETTER_AVSC",
    "encode_dead_letter",
    "decode_dead_letter",
    "to_avro_dead_letter",
    "jvm_avro_available",
]

# The reference schema, reproduced for interop (schema-registry-less writers
# embed nothing; readers need this JSON).
DEAD_LETTER_AVSC = json.dumps(
    {
        "type": "record",
        "name": "DeadLetter",
        "namespace": "com.bakdata.kafka",
        "fields": [
            {"name": "input_value", "type": ["null", "string"]},
            {"name": "topic", "type": ["null", "string"], "default": None},
            {"name": "partition", "type": ["null", "int"], "default": None},
            {"name": "offset", "type": ["null", "long"], "default": None},
            {"name": "description", "type": "string"},
            {
                "name": "cause",
                "type": {
                    "type": "record",
                    "name": "ErrorDescription",
                    "fields": [
                        {"name": "error_class", "type": ["null", "string"], "default": None},
                        {"name": "message", "type": ["null", "string"]},
                        {"name": "stack_trace", "type": ["null", "string"]},
                    ],
                },
            },
            {
                "name": "input_timestamp",
                "type": ["null", {"type": "long", "logicalType": "timestamp-millis"}],
                "default": None,
            },
        ],
    }
)


_ONE_BYTE = [bytes([b]) for b in range(128)]


def _zigzag(n: int) -> bytes:
    """Avro long: zig-zag + base-128 varint (public Avro spec)."""
    z = (n << 1) ^ (n >> 63)
    if 0 <= z < 128:  # most varints of a dead letter: branches, short lengths
        return _ONE_BYTE[z]
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _string(s: str) -> bytes:
    raw = s.encode("utf-8")
    return _zigzag(len(raw)) + raw


def _opt_string(s: Optional[str]) -> bytes:
    return _zigzag(0) if s is None else _zigzag(1) + _string(s)


def _opt_long(v: Optional[int]) -> bytes:
    return _zigzag(0) if v is None else _zigzag(1) + _zigzag(int(v))


def _encode(
    description, input_value, topic, partition, offset,
    message, stack_trace, error_class, cause_is_null, input_us,
) -> bytes:
    """One flat dead-letter record → Avro binary, .avsc field order."""
    if description is None:
        raise ValueError("DeadLetter.description must not be NULL")
    return b"".join(
        [
            _opt_string(input_value),
            _opt_string(topic),
            _opt_long(partition),
            _opt_long(offset),
            _string(description),
            _opt_string(error_class),
            _opt_string(message),
            _opt_string(stack_trace),
            _opt_long(None if input_us is None else input_us // 1000),
        ]
    )


def encode_dead_letter(d: dict) -> bytes:
    """dict (DEAD_LETTER_SCHEMA shape) → Avro binary; a naive
    ``input_timestamp`` is read as UTC."""
    return _encode(*dead_letter_record(d))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def decode_dead_letter(buf: bytes) -> dict:
    """Inverse of :func:`encode_dead_letter` (round-trip testing / consumers);
    ``input_timestamp`` comes back as a naive UTC ``datetime``."""

    def rd_opt_str(pos):
        branch, pos = _read_long(buf, pos)
        if branch == 0:
            return None, pos
        n, pos = _read_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n

    def rd_opt_long(pos):
        branch, pos = _read_long(buf, pos)
        if branch == 0:
            return None, pos
        return _read_long(buf, pos)

    pos = 0
    out: dict[str, Any] = {}
    out["input_value"], pos = rd_opt_str(pos)
    out["topic"], pos = rd_opt_str(pos)
    out["partition"], pos = rd_opt_long(pos)
    out["offset"], pos = rd_opt_long(pos)
    n, pos = _read_long(buf, pos)
    out["description"] = buf[pos : pos + n].decode("utf-8")
    pos += n
    out["cause"] = cause = {}
    cause["error_class"], pos = rd_opt_str(pos)
    cause["message"], pos = rd_opt_str(pos)
    cause["stack_trace"], pos = rd_opt_str(pos)
    millis, pos = rd_opt_long(pos)
    out["input_timestamp"] = (
        None if millis is None else datetime(1970, 1, 1) + timedelta(milliseconds=millis)
    )
    return out


@probed_per_context
def jvm_avro_available(spark) -> bool:
    """True iff the spark-avro module is loaded in this session.

    ``from pyspark.sql.avro.functions import to_avro`` succeeds even
    without the jar (the column builds lazily and only analysis raises
    ``AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE``), so the probe forces a
    one-row analysis, once per SparkContext."""
    try:
        from pyspark.sql.avro.functions import to_avro as _probe_to_avro

        probe = spark.range(1).select(
            _probe_to_avro(F.struct(F.lit("x").alias("a")))
        )
        probe.schema  # eager analysis; raises if the avro source is absent
        return True
    except Exception:  # noqa: BLE001 - any failure means "use the fallback"
        return False


def _avsc_ordered(dead_letter: Column) -> Column:
    """Re-project the engine's dead-letter struct into exact .avsc field
    order (the engine struct leads with description/cause for readability;
    Avro binary encoding is positional)."""
    d = dead_letter
    return F.struct(
        d["input_value"].alias("input_value"),
        d["topic"].alias("topic"),
        d["partition"].alias("partition"),
        d["offset"].alias("offset"),
        d["description"].alias("description"),
        F.struct(
            d["cause"]["error_class"].alias("error_class"),
            d["cause"]["message"].alias("message"),
            d["cause"]["stack_trace"].alias("stack_trace"),
        ).alias("cause"),
        d["input_timestamp"].alias("input_timestamp"),
    )


def to_avro_dead_letter(dead_letter: Column, use_jvm: object = "auto") -> Column:
    """Column converter: dead-letter struct → Avro binary bytes
    (the ``AvroDeadLetterConverter`` analog, ``AvroDeadLetterConverter.java:34-49``).

    ``use_jvm``: ``"auto"`` (default) uses the built-in JVM ``to_avro``
    when the spark-avro module is loaded and the spec encoder's
    ``arrow_udf`` otherwise; ``True`` requires the JVM path (raises if unavailable);
    ``False`` forces the spec encoder (used by the cross-check test)."""
    if use_jvm is True or use_jvm == "auto":
        if jvm_avro_available():
            from pyspark.sql.avro.functions import to_avro as _jvm_to_avro

            return _jvm_to_avro(_avsc_ordered(dead_letter), DEAD_LETTER_AVSC)
        if use_jvm is True:
            raise RuntimeError(
                "use_jvm=True but the spark-avro module is not loaded "
                "(add org.apache.spark:spark-avro to spark.jars.packages)"
            )

    return dead_letter_encoder(_encode)(dead_letter)


# ---------------------------------------------------------------------------
# Generic flat-record codec (input-side serde): the reference's serde
# round-trip surface is records like TestValue.avsc — a flat record of
# nullable primitives (``TestValue.avsc:1-29``, three nullable strings).
# This builds spec encoder/decoder pairs for exactly that shape so the
# INPUT edge can decode real Avro payloads (and route decode failures to
# the error branch via sources.serde.from_avro_captured).
# ---------------------------------------------------------------------------

_FLAT_WRITERS = {
    "string": _opt_string,
    "int": _opt_long,  # Avro int/long share the varint encoding
    "long": _opt_long,
}


def avro_flat_codec(fields):
    """(encode, decode) for a flat record of nullable primitives.

    ``fields`` is a list of (name, type) with type in
    {"string", "int", "long"} — every field is the Avro union
    ``["null", type]`` (the TestValue shape).  The decoder raises
    ``ValueError`` on truncated buffers, bad union branches, and trailing
    bytes — the exact failures a serde surfaces as SerializationException.
    """
    for _, t in fields:
        if t not in _FLAT_WRITERS:
            raise ValueError(f"unsupported flat-record field type {t!r}")

    def encode(d: dict) -> bytes:
        return b"".join(_FLAT_WRITERS[t](d.get(n)) for n, t in fields)

    def decode(buf: bytes) -> dict:
        def rd_opt(pos, is_str):
            branch, pos = _read_long(buf, pos)
            if branch == 0:
                return None, pos
            if branch != 1:
                raise ValueError(f"bad union branch {branch} at {pos}")
            if not is_str:
                return _read_long(buf, pos)
            n, pos = _read_long(buf, pos)
            if n < 0 or pos + n > len(buf):
                raise ValueError("truncated string")
            return buf[pos : pos + n].decode("utf-8"), pos + n

        pos = 0
        out = {}
        try:
            for n, t in fields:
                out[n], pos = rd_opt(pos, t == "string")
        except IndexError as exc:
            raise ValueError("truncated record") from exc
        if pos != len(buf):
            raise ValueError(f"trailing bytes after record ({len(buf) - pos})")
        return out

    return encode, decode

"""Proto3 wire-format rendering of the dead-letter struct, byte-compatible
with the reference's ``ProtoDeadLetter``
(``error-handling-proto/src/main/proto/bakdata/kafka/proto/v1/deadletter.proto``):

    message ProtoDeadLetter {
        message Cause { StringValue message=1; StringValue stack_trace=2;
                        StringValue error_class=3; }
        string description = 1;  Cause cause = 2;
        StringValue input_value = 3;  StringValue topic = 4;
        Int32Value partition = 5;  Int64Value offset = 6;
        google.protobuf.Timestamp input_timestamp = 7;
    }

spark-protobuf does not ship with pyspark, so the fallback encodes the
*public* proto3 wire format directly (tag = field<<3 | wiretype;
LEN-prefixed submessages; wrapper types = one-field messages).
:func:`_encode` is the only proto encoder: the fallback calls it per dead
letter in one ``arrow_udf``
(:func:`..functions.dead_letter.dead_letter_encoder`), and
:func:`encode_proto_dead_letter` calls it on a dict.  Null handling mirrors
``ProtoDeadLetterConverter.java:41-78``: absent optional fields are simply
omitted (wrappers encode presence), the ``Cause`` submessage is written
whenever the struct's ``cause`` is not NULL, and a NULL struct encodes to
NULL; proto3 default-suppression means an empty string description is
zero bytes, matching any standard decoder.  ``input_timestamp`` is written
as the UTC instant (seconds and nanos from a floored ``divmod`` of its
microseconds) in any session time zone.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Optional

from pyspark.sql import Column

from ..functions.dead_letter import (
    dead_letter_encoder,
    dead_letter_record,
    probed_per_context,
)

__all__ = [
    "PROTO_DEAD_LETTER_SCHEMA",
    "encode_proto_dead_letter",
    "decode_proto_dead_letter",
    "to_proto_dead_letter",
    "jvm_protobuf_available",
]

# Canonical schema text — the registry registration payload (what a
# Confluent proto serde registers; reproduces the reference's
# ``deadletter.proto`` message layout for interop).
PROTO_DEAD_LETTER_SCHEMA = """\
syntax = "proto3";
package bakdata.kafka.proto.v1;
import "google/protobuf/wrappers.proto";
import "google/protobuf/timestamp.proto";
message ProtoDeadLetter {
  message Cause {
    google.protobuf.StringValue message = 1;
    google.protobuf.StringValue stack_trace = 2;
    google.protobuf.StringValue error_class = 3;
  }
  string description = 1;
  Cause cause = 2;
  google.protobuf.StringValue input_value = 3;
  google.protobuf.StringValue topic = 4;
  google.protobuf.Int32Value partition = 5;
  google.protobuf.Int64Value offset = 6;
  google.protobuf.Timestamp input_timestamp = 7;
}
"""


_ONE_BYTE = [bytes([b]) for b in range(128)]


def _varint(n: int) -> bytes:
    if 0 <= n < 128:  # most varints of a dead letter: tags, short lengths
        return _ONE_BYTE[n]
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _string_value(s: str) -> bytes:
    """google.protobuf.StringValue: field 1, string."""
    raw = s.encode("utf-8")
    return _len_field(1, raw) if raw else b""  # proto3 default suppression


def _varint_field(field: int, v: int) -> bytes:
    """A varint field (two's-complement 64-bit for negatives, per proto
    spec); proto3 suppresses 0."""
    return _tag(field, 0) + _varint(v & 0xFFFFFFFFFFFFFFFF) if v else b""


def _encode(
    description, input_value, topic, partition, offset,
    message, stack_trace, error_class, cause_is_null, input_us,
) -> bytes:
    """One flat dead-letter record → proto3 wire bytes, fields ascending."""
    out = b""
    desc = (description or "").encode("utf-8")
    if desc:
        out += _len_field(1, desc)
    if not cause_is_null:
        cause = b""
        if message is not None:
            cause += _len_field(1, _string_value(message))
        if stack_trace is not None:
            cause += _len_field(2, _string_value(stack_trace))
        if error_class is not None:
            cause += _len_field(3, _string_value(error_class))
        out += _len_field(2, cause)
    if input_value is not None:
        out += _len_field(3, _string_value(input_value))
    if topic is not None:
        out += _len_field(4, _string_value(topic))
    if partition is not None:
        out += _len_field(5, _varint_field(1, partition))  # Int32Value
    if offset is not None:
        out += _len_field(6, _varint_field(1, offset))  # Int64Value
    if input_us is not None:
        seconds, micros = divmod(input_us, 10**6)
        out += _len_field(7, _varint_field(1, seconds) + _varint_field(2, micros * 1000))
    return out


def encode_proto_dead_letter(d: dict) -> bytes:
    """dict (DEAD_LETTER_SCHEMA shape) → proto3 wire bytes; a naive
    ``input_timestamp`` is read as UTC."""
    return _encode(*dead_letter_record(d))


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7


def _decode_fields(buf: bytes) -> dict[int, list]:
    pos, out = 0, {}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
        elif wire == 2:
            n, pos = _read_varint(buf, pos)
            v = buf[pos : pos + n]
            pos += n
        else:  # pragma: no cover - no other wire types in this schema
            raise ValueError(f"unexpected wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _get_wrapper_str(fields: dict, n: int) -> Optional[str]:
    if n not in fields:
        return None
    return _decode_fields(fields[n][-1]).get(1, [b""])[-1].decode("utf-8")


def _get_wrapper_int(fields: dict, n: int) -> Optional[int]:
    if n not in fields:
        return None
    v = _decode_fields(fields[n][-1]).get(1, [0])[-1]
    return v - (1 << 64) if v >= 1 << 63 else v


def decode_proto_dead_letter(buf: bytes) -> dict:
    """Standard-decoder stand-in for round-trip tests; ``input_timestamp``
    comes back as a naive UTC ``datetime``."""
    f = _decode_fields(buf)
    out = {
        "description": f.get(1, [b""])[-1].decode("utf-8"),
        "input_value": _get_wrapper_str(f, 3),
        "topic": _get_wrapper_str(f, 4),
        "partition": _get_wrapper_int(f, 5),
        "offset": _get_wrapper_int(f, 6),
    }
    cause = {}
    if 2 in f:
        cf = _decode_fields(f[2][-1])
        cause = {
            "message": _get_wrapper_str(cf, 1),
            "stack_trace": _get_wrapper_str(cf, 2),
            "error_class": _get_wrapper_str(cf, 3),
        }
    out["cause"] = cause
    out["input_timestamp"] = None
    if 7 in f:
        tf = _decode_fields(f[7][-1])
        out["input_timestamp"] = datetime(1970, 1, 1) + timedelta(
            seconds=tf.get(1, [0])[-1], microseconds=tf.get(2, [0])[-1] // 1000
        )
    return out


@probed_per_context
def jvm_protobuf_available(spark) -> bool:
    """True iff the spark-protobuf module is loaded (probed once per
    SparkContext: the import succeeds without the jar; only analysis
    raises)."""
    try:
        from pyspark.sql.protobuf.functions import to_protobuf  # noqa: F401

        # no descriptor-free probe exists for protobuf; reflect on the JVM
        # class registry instead of building a throwaway descriptor file
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.CatalystDataToProtobuf"
        )
        return True
    except Exception:  # noqa: BLE001 - any failure means "use the fallback"
        return False


def to_proto_dead_letter(
    dead_letter: Column,
    desc_file_path: Optional[str] = None,
    message_name: str = "ProtoDeadLetter",
) -> Column:
    """Column converter (the ``ProtoDeadLetterConverter`` analog,
    ``ProtoDeadLetterConverter.java:40-78``).

    JVM dispatch: when ``desc_file_path`` (a protoc ``FileDescriptorSet``
    for the reference's ``deadletter.proto``) is supplied AND the
    spark-protobuf module is loaded, encodes via the built-in
    ``to_protobuf`` — no Python in the hot path.  Otherwise falls back to
    the spec encoder below (proto3 wire bytes are deterministic for this
    schema: fields ascend by number, wrappers suppress defaults — both
    encoders emit identical bytes)."""
    if desc_file_path is not None and jvm_protobuf_available():
        from pyspark.sql.protobuf.functions import to_protobuf

        return to_protobuf(dead_letter, message_name, desc_file_path)

    return dead_letter_encoder(_encode)(dead_letter)

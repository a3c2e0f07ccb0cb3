"""Wire-byte correctness gates for the two binary DLQ converters
(VERDICT r11 #3 — the only §2 components that had no CORRECTNESS row).

The gates render a deterministic dead-letter fixture matrix through the
ENGINE's converter columns (``to_avro_dead_letter`` /
``to_proto_dead_letter`` — the ``AvroDeadLetterConverter.java:34-49`` /
``ProtoDeadLetterConverter.java:40-78`` analogs) and compare the hex of
the produced bytes against a DuckDB oracle that derives the encoding
INDEPENDENTLY from the same fixture fields — the Avro binary spec
(zig-zag varint longs, length-prefixed UTF-8, union branch indices) and
the proto3 wire format (tag = field<<3|wiretype, LEN submessages,
wrapper/default suppression) are small enough to express as SQL blob
expressions, so the oracle never touches the Python encoders.  Together
with the pytest round-trips this triangulates three implementations:
the engine column path (struct plumbing + Arrow null sentinels + the
spec encoder), the SQL spec derivation, and the decoder.

Fixture matrix mirrors ``AvroDeadLetterConverterTest.java:39-82`` /
``ProtoDeadLetterConverterTest.java`` (all optional fields present; only
required fields) and extends it with the cases the reference tests skip:
a mixed present/absent row with an input_timestamp (pins the
timestamp-millis / Timestamp-submessage paths and multi-byte varints),
an all-empty-strings row (pins zero-length string encodes and proto3
wrapper default-suppression — StringValue('') is an EMPTY wrapper
payload, distinct from an absent wrapper), and a non-ASCII row (pins
UTF-8 BYTE lengths vs character counts).

Fixture constraint: numeric fields are non-negative (negative zig-zag /
two's-complement varints are covered by the pytest round-trips; keeping
the SQL varint non-negative keeps the oracle readable).

Timezone: the timestamp fixture is WALL-TIME-stable across session
timezones — Spark parses the string in the session TZ and the pandas
encoder receives the session-local wall time back (Arrow re-localizes),
so it encodes the same epoch the DuckDB oracle derives from the same
literal parsed as UTC.  Pinned empirically by the TZ=America/New_York
perturbation sweep (runs/sweeps.json `tz`), which runs both gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..regime import local_frame

__all__ = ["QUERIES"]

# (case_id, input_value, topic, partition, offset, description,
#  err_message, err_stack, err_class, ts_string)
_FIXTURES = [
    # AvroDeadLetterConverterTest.shouldConvertDeadLetterDescriptionWithOptionalFields
    (0, "inputValue", "topic", 1, 1, "description",
     "message", "stackTrace", "errorClass", None),
    # ...shouldConvertDeadLetterDescriptionWithoutOptionalFields
    (1, None, None, None, None, "description", None, None, None, None),
    # mixed presence + timestamp (multi-byte varint path)
    (2, None, "dlq.events", None, 42, "Cannot process",
     "boom: division by zero", None, "java.lang.ArithmeticException",
     "2024-01-15 10:30:00.123456"),
    # empty strings everywhere a string can sit
    (3, "", "", 0, 0, "", "", "", "", None),
    # UTF-8 byte length != character count
    (4, "größe ≠ size", None, None, None, "déscription ✓",
     "ünïcode", None, None, None),
]

_FIXTURE_SCHEMA = (
    "case_id int, input_value string, topic string, partition int, "
    "offset long, description string, err_message string, "
    "err_stack string, err_class string, ts_string string"
)


def _fixture_frame(spark: SparkSession) -> DataFrame:
    return local_frame(spark, _FIXTURES, _FIXTURE_SCHEMA)


def _dead_letter_col():
    """The engine's dead-letter struct (model.DEAD_LETTER_SCHEMA shape)
    built with per-row descriptions — the same field set
    ``functions.dead_letter.dead_letter_struct`` emits."""
    return F.struct(
        F.col("description").alias("description"),
        F.struct(
            F.col("err_message").alias("message"),
            F.col("err_stack").alias("stack_trace"),
            F.col("err_class").alias("error_class"),
        ).alias("cause"),
        F.col("input_value").alias("input_value"),
        F.col("topic").alias("topic"),
        F.col("partition").alias("partition"),
        F.col("offset").alias("offset"),
        F.col("ts_string").cast("timestamp").alias("input_timestamp"),
    )


def q_dlq_avro_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.avro_format import to_avro_dead_letter

    dl = _fixture_frame(spark).select(
        "case_id", _dead_letter_col().alias("dead_letter")
    )
    return dl.select(
        "case_id",
        F.upper(F.hex(to_avro_dead_letter(F.col("dead_letter")))).alias(
            "wire_hex"
        ),
    ).orderBy("case_id")


def q_dlq_proto_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats.proto_format import to_proto_dead_letter

    dl = _fixture_frame(spark).select(
        "case_id", _dead_letter_col().alias("dead_letter")
    )
    return dl.select(
        "case_id",
        F.upper(F.hex(to_proto_dead_letter(F.col("dead_letter")))).alias(
            "wire_hex"
        ),
    ).orderBy("case_id")


# ---------------------------------------------------------------------------
# DuckDB spec-encoding primitives (SQL blob expressions)
# ---------------------------------------------------------------------------


def _byte(expr: str) -> str:
    """One raw byte from a SQL integer expression in [0, 255]."""
    return f"unhex(format('{{:02x}}', {expr}))"


def _varint(expr: str) -> str:
    """Base-128 varint of a NON-NEGATIVE bigint expression (≤ 9 groups —
    covers anything below 2^63).  Group j carries bits [7j, 7j+7) with
    the continuation bit set on every group but the last."""
    branches = []
    for k in range(1, 10):
        parts = []
        for j in range(k):
            g = f"((({expr}) // {128 ** j}) % 128)"
            if j < k - 1:
                g = f"({g} + 128)"
            parts.append(_byte(g))
        branches.append(f"WHEN ({expr}) < {128 ** k} THEN " + " || ".join(parts))
    return "(CASE " + " ".join(branches) + " END)"


def _zz(expr: str) -> str:
    """Avro zig-zag of a non-negative value is simply 2n."""
    return f"(2 * ({expr}))"


# --- Avro binary: union branch index, then the branch payload ----------

_AVRO_NULL = "'\\x00'::BLOB"   # union branch 0 (null) = zigzag(0)
_AVRO_SOME = "'\\x02'::BLOB"   # union branch 1 = zigzag(1)


def _avro_str(col: str) -> str:
    """Required string: zigzag(byte length) varint + UTF-8 bytes."""
    return f"({_varint(_zz(f'strlen({col})'))} || encode({col}))"


def _avro_opt_str(col: str) -> str:
    return (
        f"(CASE WHEN {col} IS NULL THEN {_AVRO_NULL} "
        f"ELSE {_AVRO_SOME} || {_avro_str(col)} END)"
    )


def _avro_opt_long(expr: str) -> str:
    return (
        f"(CASE WHEN {expr} IS NULL THEN {_AVRO_NULL} "
        f"ELSE {_AVRO_SOME} || {_varint(_zz(expr))} END)"
    )


def _fixture_values() -> str:
    """The fixture matrix as a SQL VALUES body — ONE rendering shared by
    both oracles (r12 review: a NULL/quoting/TIMESTAMP fix must never
    land in one oracle and not the other).  Fixture strings contain no
    single quotes by construction; numerics are non-negative (see the
    module docstring's constraint note)."""

    def _s(v):
        if v is None:
            return "NULL"
        if "'" in v:  # not assert: -O must never strip the oracle guard
            raise ValueError(f"fixture string needs SQL escaping: {v!r}")
        return f"'{v}'"

    return ", ".join(
        "({}, {}, {}, {}, {}, {}, {}, {}, {}, {})".format(
            cid,
            _s(iv),
            _s(tp),
            "NULL" if pt is None else pt,
            "NULL" if of is None else of,
            _s(de),
            _s(em),
            _s(es),
            _s(ec),
            "NULL" if ts is None else f"TIMESTAMP '{ts}'",
        )
        for cid, iv, tp, pt, of, de, em, es, ec, ts in _FIXTURES
    )


def _sql_avro_wire() -> str:
    values = _fixture_values()
    # .avsc field order: input_value?, topic?, partition?, offset?,
    # description, cause{error_class?, message?, stack_trace?},
    # input_timestamp?(millis)
    wire = " || ".join(
        [
            _avro_opt_str("input_value"),
            _avro_opt_str("topic"),
            _avro_opt_long("partition"),
            _avro_opt_long('"offset"'),
            _avro_str("description"),
            _avro_opt_str("err_class"),
            _avro_opt_str("err_message"),
            _avro_opt_str("err_stack"),
            _avro_opt_long("CASE WHEN ts IS NULL THEN NULL ELSE epoch_ms(ts) END"),
        ]
    )
    return f"""
WITH fixtures(case_id, input_value, topic, partition, "offset",
              description, err_message, err_stack, err_class, ts) AS (
  VALUES {values}
)
SELECT case_id, upper(hex({wire})) AS wire_hex
FROM fixtures ORDER BY case_id
"""


# --- proto3 wire format -------------------------------------------------
#
# Nested LEN fields (tag + varint(len(payload)) + payload) would repeat
# each payload expression dozens of times if inlined (the varint CASE
# alone references its operand ~27×; three nesting levels measured a
# 44 MB SQL string that stalled DuckDB's planner) — so every payload is
# NAMED ONCE as a CTE column and deeper layers reference the column.


def _proto_len_field(tag_byte: int, payload_col: str) -> str:
    """tag(field, wiretype=2) byte + varint(payload length) + payload.
    ``payload_col`` MUST be a column reference (see module note above);
    field numbers here are ≤ 7, so every tag is a single byte."""
    return (
        f"({_byte(str(tag_byte))} || {_varint(f'octet_length({payload_col})')}"
        f" || {payload_col})"
    )


def _proto_string_value(col: str) -> str:
    """google.protobuf.StringValue payload: field 1 LEN, with proto3
    default suppression — an empty string is an EMPTY payload."""
    return (
        f"(CASE WHEN {col} = '' THEN ''::BLOB "
        f"ELSE {_byte(str(0x0A))} || {_varint(f'strlen({col})')}"
        f" || encode({col}) END)"
    )


def _proto_opt_wrapper(field_tag: int, guard_col: str, sv_col: str) -> str:
    """Absent wrapper (NULL source) = omitted; present = LEN field
    wrapping the (possibly empty) StringValue/IntValue payload column."""
    return (
        f"(CASE WHEN {guard_col} IS NULL THEN ''::BLOB "
        f"ELSE {_proto_len_field(field_tag, sv_col)} END)"
    )


def _sql_proto_wire() -> str:
    values = _fixture_values()
    # layer 1: leaf payloads (StringValue / Int32Value / Int64Value /
    # Timestamp submessage bodies), one column each
    secs = "(epoch_us(ts) // 1000000)"
    nanos = "((epoch_us(ts) % 1000000) * 1000)"
    l1 = ", ".join(
        [
            f"{_proto_string_value('err_message')} AS sv_msg",
            f"{_proto_string_value('err_stack')} AS sv_stack",
            f"{_proto_string_value('err_class')} AS sv_class",
            f"{_proto_string_value('input_value')} AS sv_iv",
            f"{_proto_string_value('topic')} AS sv_topic",
            # Int32Value/Int64Value payload: field 1 varint, 0 suppressed
            f"(CASE WHEN partition = 0 THEN ''::BLOB "
            f"ELSE {_byte(str(0x08))} || {_varint('partition')} END) AS iv_part",
            '(CASE WHEN "offset" = 0 THEN \'\'::BLOB '
            f"ELSE {_byte(str(0x08))} || {_varint(chr(34) + 'offset' + chr(34))}"
            " END) AS iv_off",
            # Timestamp payload: seconds=1 varint, nanos=2 varint, 0 suppressed
            f"((CASE WHEN {secs} = 0 THEN ''::BLOB "
            f"ELSE {_byte(str(0x08))} || {_varint(secs)} END)"
            f" || (CASE WHEN {nanos} = 0 THEN ''::BLOB "
            f"ELSE {_byte(str(0x10))} || {_varint(nanos)} END)) AS ts_payload",
        ]
    )
    # layer 2: the Cause submessage payload — wrappers message=1,
    # stack_trace=2, error_class=3 over the layer-1 columns
    causep = " || ".join(
        [
            _proto_opt_wrapper(0x0A, "err_message", "sv_msg"),
            _proto_opt_wrapper(0x12, "err_stack", "sv_stack"),
            _proto_opt_wrapper(0x1A, "err_class", "sv_class"),
        ]
    )
    # final: description (field 1 string, default-suppressed), cause
    # (field 2, ALWAYS emitted — the engine struct always carries a
    # cause, mirroring the converter), wrappers 3-6, timestamp 7
    desc = (
        "(CASE WHEN description = '' THEN ''::BLOB "
        f"ELSE {_byte(str(0x0A))} || {_varint('strlen(description)')}"
        " || encode(description) END)"
    )
    wire = " || ".join(
        [
            desc,
            _proto_len_field(0x12, "causep"),
            _proto_opt_wrapper(0x1A, "input_value", "sv_iv"),
            _proto_opt_wrapper(0x22, "topic", "sv_topic"),
            _proto_opt_wrapper(0x2A, "partition", "iv_part"),
            _proto_opt_wrapper(0x32, '"offset"', "iv_off"),
            _proto_opt_wrapper(0x3A, "ts", "ts_payload"),
        ]
    )
    return f"""
WITH fixtures(case_id, input_value, topic, partition, "offset",
              description, err_message, err_stack, err_class, ts) AS (
  VALUES {values}
), l1 AS (
  SELECT *, {l1} FROM fixtures
), l2 AS (
  SELECT *, ({causep}) AS causep FROM l1
)
SELECT case_id, upper(hex({wire})) AS wire_hex
FROM l2 ORDER BY case_id
"""


QUERIES = {
    "dlq_avro_wire": (q_dlq_avro_wire, _sql_avro_wire()),
    "dlq_proto_wire": (q_dlq_proto_wire, _sql_proto_wire()),
}

"""Serde-edge error capture: deserialization failures as captured errors.

SURVEY.md §3.3 maps the reference's runtime exception handler onto two
engine layers; this is the *source-level* one — Spark's PERMISSIVE parse
modes (``from_json`` / ``from_csv`` with ``columnNameOfCorruptRecord``)
rendered into the engine's standard processed frame
``struct<result, error>``, so malformed payloads flow through the SAME
``values()`` / ``errors()`` / ``dead_letters()`` split as user-function
failures (the Kafka serde edge of SURVEY.md §1.3).

Everything here is a pure column expression — the parse, the corrupt
check, and the error payload all stay inside whole-stage codegen; no
Python worker is involved, so the DLQ routing adds ~zero cost to the
scan stage at any scale.

The reference counterpart: a ``SerializationException`` in Kafka Streams
reaches the ``DeserializationExceptionHandler``; here the malformed raw
string lands in ``error.input_value`` exactly like
``ProcessingError.getValue`` (``ProcessingError.java:43-47``).
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.capture import ERROR_COL, RESULT_COL

__all__ = ["from_json_captured", "from_csv_captured", "from_avro_captured"]

_CORRUPT = "_corrupt_record"
_PARSED = "__keh_parsed"


def _with_corrupt(schema: Union[StructType, str]) -> Tuple[StructType, StructType]:
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if _CORRUPT in st.names:
        raise ValueError(f"schema must not already contain {_CORRUPT}")
    return StructType(list(st.fields) + [StructField(_CORRUPT, StringType(), True)]), st


def _captured_frame(
    df: DataFrame,
    parsed: Column,
    raw: Column,
    payload_fields: Sequence[str],
    error_class: str,
    processed_col: str,
) -> DataFrame:
    """(parsed-with-corrupt-field, raw) → df + ``struct<result, error>``.

    Success rows: ``result`` = parsed payload struct (corrupt field
    dropped), ``error`` NULL.  Corrupt rows: ``result`` NULL, ``error`` =
    standard payload with the raw string as ``input_value``.  NULL inputs
    stay NULL on both sides (a serde has no user fn to call on null;
    matches ``from_json`` null semantics).
    """
    if _PARSED in df.columns:
        raise ValueError(f"input must not already contain {_PARSED}")
    # the parse is bound in its own projection and referenced from there:
    # inline, the optimizer prunes one copy to a schema without the
    # corrupt field, subexpression elimination cannot share the two copies
    # and every row is parsed twice.  CollapseProject keeps the binding
    # because the parse is not cheap and is referenced more than once.
    df = df.withColumn(_PARSED, parsed)
    parsed = F.col(_PARSED)
    is_corrupt = parsed[_CORRUPT].isNotNull() | (raw.isNotNull() & parsed.isNull())
    clean = F.struct(*[parsed[f].alias(f) for f in payload_fields])
    result = F.when(~is_corrupt & raw.isNotNull(), clean)
    error = F.when(
        is_corrupt,
        F.struct(
            raw.cast("string").alias("input_value"),
            F.lit(error_class).alias("error_class"),
            F.concat(
                F.lit("malformed record: "), F.substring(raw.cast("string"), 1, 256)
            ).alias("message"),
            F.lit(None).cast("string").alias("stack_trace"),
        ),
    )
    r = F.struct(result.alias(RESULT_COL), error.alias(ERROR_COL))
    return df.withColumn(processed_col, r).drop(_PARSED)


def from_json_captured(
    df: DataFrame,
    value_col: str,
    schema: Union[StructType, str],
    options: Optional[Mapping[str, str]] = None,
    processed_col: str = "r",
) -> DataFrame:
    """Parse a JSON string column with capture semantics (malformed or
    type-mismatched records route to the error branch instead of failing
    the query or silently nulling)."""
    full, payload = _with_corrupt(schema)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}
    opts.update(options or {})
    raw = F.col(value_col)
    parsed = F.from_json(raw, full, opts)
    return _captured_frame(df, parsed, raw, payload.names, "JsonParseError", processed_col)


def from_csv_captured(
    df: DataFrame,
    value_col: str,
    schema: Union[StructType, str],
    options: Optional[Mapping[str, str]] = None,
    processed_col: str = "r",
) -> DataFrame:
    """CSV flavor of :func:`from_json_captured` (``F.from_csv`` takes a
    DDL string schema)."""
    full, payload = _with_corrupt(schema)
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT}
    opts.update(options or {})
    raw = F.col(value_col)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in full.fields)
    parsed = F.from_csv(raw, ddl, opts)
    return _captured_frame(df, parsed, raw, payload.names, "CsvParseError", processed_col)


def from_avro_captured(
    df: DataFrame,
    value_col: str,
    fields: Sequence[Tuple[str, str]],
    framed: bool = False,
    expected_schema_id: Optional[int] = None,
    processed_col: str = "r",
    error_filter=None,
) -> DataFrame:
    """Avro flavor of :func:`from_json_captured` for flat nullable-primitive
    records (the reference's ``TestValue.avsc`` shape): binary payloads are
    decoded by the spec decoder; truncated/garbage buffers, bad union
    branches, trailing bytes, wrong magic bytes, and schema-id mismatches
    all land on the error branch as ordinary captured rows instead of
    failing the query — the ``SerializationException`` edge of the
    reference mapped onto the capture sum type.

    ``framed=True`` expects Confluent wire framing (magic + schema id,
    ``formats.registry``); ``expected_schema_id`` additionally pins the id.
    Unlike the json/csv paths this runs a per-row Python decode (Avro's
    binary encoding is inherently sequential), Arrow-batched like every
    capture UDF."""
    from pyspark.sql.types import IntegerType, LongType

    from ..formats.avro_format import avro_flat_codec
    from ..formats.registry import unframe_confluent
    from ..operators.capture import capture_map_values

    _, dec = avro_flat_codec(list(fields))
    types = {"string": StringType(), "int": IntegerType(), "long": LongType()}
    result_type = StructType(
        [StructField(n, types[t], True) for n, t in fields]
    )

    def decode(b):
        if b is None:
            return None
        buf = bytes(b)
        if framed:
            sid, buf = unframe_confluent(buf)
            if expected_schema_id is not None and sid != expected_schema_id:
                raise ValueError(
                    f"schema id {sid} != expected {expected_schema_id}"
                )
        return dec(buf)

    return capture_map_values(
        df, decode, result_type, value_col=value_col,
        processed_col=processed_col, error_filter=error_filter,
    )

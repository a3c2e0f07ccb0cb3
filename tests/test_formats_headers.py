"""Serde round-trip tests per format (SURVEY.md §5 layer 3) + header tests.

Mirrors the reference's AvroDeadLetterConverterTest optional-field
present/absent matrix (``AvroDeadLetterConverterTest.java:39-82``) and
``ErrorHeaderProcessorTest`` semantics.
"""

from datetime import datetime, timedelta

import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import IntegerType, StringType, StructType

import kafka_error_handling_spark as keh
from kafka_error_handling_spark.formats.avro_format import (
    decode_dead_letter,
    encode_dead_letter,
    to_avro_dead_letter,
)
from kafka_error_handling_spark.formats.proto_format import (
    decode_proto_dead_letter,
    encode_proto_dead_letter,
    to_proto_dead_letter,
)
from kafka_error_handling_spark.functions import headers as H
from kafka_error_handling_spark.functions.dead_letter import DEAD_LETTER_SCHEMA

FULL = {
    "description": "step failed",
    "cause": {
        "message": "oops",
        "stack_trace": "Traceback ...",
        "error_class": "ValueError",
    },
    "input_value": "bad input",
    "topic": "in-topic",
    "partition": 3,
    "offset": 42,
    "input_timestamp": pd.Timestamp("2024-01-02 03:04:05.678"),
}

MINIMAL = {
    "description": "min",
    "cause": {"message": None, "stack_trace": None, "error_class": None},
    "input_value": None,
    "topic": None,
    "partition": None,
    "offset": None,
    "input_timestamp": None,
}


@pytest.mark.parametrize("rec", [FULL, MINIMAL], ids=["full", "minimal"])
def test_avro_round_trip(rec):
    buf = encode_dead_letter(rec)
    out = decode_dead_letter(buf)
    assert out["description"] == rec["description"]
    assert out["cause"] == rec["cause"]
    for k in ("input_value", "topic", "partition", "offset"):
        assert out[k] == rec[k]
    if rec["input_timestamp"] is None:
        assert out["input_timestamp"] is None
    else:  # millis precision by schema (timestamp-millis logical type)
        assert out["input_timestamp"] == rec["input_timestamp"]


@pytest.mark.parametrize("rec", [FULL, MINIMAL], ids=["full", "minimal"])
def test_proto_round_trip(rec):
    buf = encode_proto_dead_letter(rec)
    out = decode_proto_dead_letter(buf)
    assert out["description"] == rec["description"]
    assert out["cause"] == rec["cause"]
    for k in ("input_value", "topic", "partition", "offset"):
        assert out[k] == rec[k]
    if rec["input_timestamp"] is None:
        assert out["input_timestamp"] is None
    else:
        assert out["input_timestamp"] == rec["input_timestamp"]


def test_avro_known_bytes():
    # hand-checked encoding: union branch indices + zigzag + utf8 lengths
    buf = encode_dead_letter(MINIMAL)
    # input_value null(0), topic null(0), partition null(0), offset null(0),
    # "min" = len 3 + bytes, cause 3x null, ts null
    assert buf == bytes([0, 0, 0, 0, 6]) + b"min" + bytes([0, 0, 0, 0])


def test_proto_negative_int_varint():
    rec = dict(FULL, partition=-1, offset=-5)
    out = decode_proto_dead_letter(encode_proto_dead_letter(rec))
    assert out["partition"] == -1 and out["offset"] == -5


def test_avro_column_converter(spark):
    df = spark.createDataFrame([(1, "bad")], "key int, value string")
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    dlq = keh.dead_letters(keh.errors(p), "conv test", key_cols=["key"])
    out = dlq.select(
        "key", to_avro_dead_letter(F.col("dead_letter")).alias("avro")
    ).collect()
    decoded = decode_dead_letter(bytes(out[0].avro))
    assert decoded["description"] == "conv test"
    assert decoded["cause"]["error_class"] == "ValueError"
    assert decoded["input_value"] == "bad"
    # a NULL dead letter encodes to NULL in both formats
    null_dl = F.when(F.lit(False), keh.dead_letter_struct("conv test"))
    row = keh.errors(p).select(
        to_avro_dead_letter(null_dl, use_jvm=False).alias("avro"),
        to_proto_dead_letter(null_dl).alias("proto"),
    ).first()
    assert row.avro is None and row.proto is None


def test_fallbacks_write_the_utc_instant_in_any_session_zone(spark):
    """Both fallback encoders write ``input_timestamp`` as the UTC instant
    (``timestamp-millis`` / ``google.protobuf.Timestamp``), not the session
    wall-clock time read as UTC."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.sql(
            "SELECT 1 AS key, 'bad' AS value, TIMESTAMP'2024-01-02 03:04:05' AS ts"
        )
        p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
        dlq = keh.dead_letters(keh.errors(p), "tz", key_cols=["ts"], timestamp_col="ts")
        row = dlq.select(
            F.unix_millis("ts").alias("ms"),
            to_avro_dead_letter(F.col("dead_letter"), use_jvm=False).alias("avro"),
            to_proto_dead_letter(F.col("dead_letter")).alias("proto"),
        ).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert row.ms == 1704182645000
    want = datetime(1970, 1, 1) + timedelta(milliseconds=row.ms)
    assert decode_dead_letter(bytes(row.avro))["input_timestamp"] == want
    assert decode_proto_dead_letter(bytes(row.proto))["input_timestamp"] == want


def test_error_headers_attached_and_replaced(spark):
    df = spark.createDataFrame([(1, "x")], "key int, value string")
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    errs = keh.errors(p)
    # pre-existing colliding header must be replaced, foreign header kept
    errs = errs.withColumn(
        "headers",
        F.array(
            F.struct(
                F.lit(H.HEADER_DESCRIPTION).alias("key"),
                F.encode(F.lit("stale"), "UTF-8").alias("value"),
            ),
            F.struct(
                F.lit("user.header").alias("key"),
                F.encode(F.lit("keep"), "UTF-8").alias("value"),
            ),
        ),
    )
    out = H.with_error_headers(errs, "hdr test").collect()[0]
    hdrs = {h.key: (bytes(h.value).decode() if h.value else None) for h in out.headers}
    assert hdrs["user.header"] == "keep"
    assert hdrs[H.HEADER_DESCRIPTION] == "hdr test"  # replaced, not duplicated
    assert hdrs[H.HEADER_EXCEPTION_CLASS_NAME] == "ValueError"
    assert "invalid literal" in hdrs[H.HEADER_EXCEPTION_MESSAGE]
    assert "ValueError" in hdrs[H.HEADER_EXCEPTION_STACK_TRACE]
    n_desc = sum(1 for h in out.headers if h.key == H.HEADER_DESCRIPTION)
    assert n_desc == 1
    # original value forwarded unchanged (ErrorHeaderProcessor contract)
    assert out.value == "x"


# --- round-2 additions ----------------------------------------------------


def test_error_headers_always_all_seven(spark):
    """The reference always writes all seven __streams.errors.* keys, null
    metadata included (``ErrorHeaderProcessor.java:113-115`` via
    ``metadata.map(...).orElse(null)``) — so must we (ADVICE r1)."""
    df = spark.createDataFrame([(1, "x")], "key int, value string")
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    out = H.with_error_headers(keh.errors(p), "hdr test").collect()[0]
    hdrs = {h.key: (bytes(h.value).decode() if h.value is not None else None) for h in out.headers}
    assert set(hdrs) == {
        H.HEADER_TOPIC,
        H.HEADER_PARTITION,
        H.HEADER_OFFSET,
        H.HEADER_DESCRIPTION,
        H.HEADER_EXCEPTION_CLASS_NAME,
        H.HEADER_EXCEPTION_MESSAGE,
        H.HEADER_EXCEPTION_STACK_TRACE,
    }
    # metadata absent → null header values, exactly like the reference
    assert hdrs[H.HEADER_TOPIC] is None
    assert hdrs[H.HEADER_PARTITION] is None
    assert hdrs[H.HEADER_OFFSET] is None


def test_avro_jvm_dispatch(spark):
    """to_avro_dead_letter dispatches to the JVM to_avro when spark-avro is
    loaded, and to the spec encoder otherwise (VERDICT r1 #5).  In either
    mode the wire bytes must decode identically."""
    from kafka_error_handling_spark.formats import avro_format as AF

    df = spark.createDataFrame([(1, "bad")], "key int, value string")
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    dlq = keh.dead_letters(keh.errors(p), "jvm test", key_cols=["key"])

    spec = dlq.select(
        to_avro_dead_letter(F.col("dead_letter"), use_jvm=False).alias("b")
    ).collect()[0]
    auto = dlq.select(
        to_avro_dead_letter(F.col("dead_letter"), use_jvm="auto").alias("b")
    ).collect()[0]

    if AF.jvm_avro_available(spark):
        # both paths must emit IDENTICAL bytes (Avro binary is fully
        # determined by schema+value; the struct is re-projected to .avsc
        # field order for the JVM path)
        assert bytes(auto.b) == bytes(spec.b)
    else:
        # container has no spark-avro jar: auto == fallback
        assert bytes(auto.b) == bytes(spec.b)
    decoded = decode_dead_letter(bytes(auto.b))
    assert decoded["description"] == "jvm test"
    assert decoded["cause"]["error_class"] == "ValueError"


def test_jvm_probe_harmless(spark):
    """Availability probes never raise, whatever is (not) on the classpath."""
    from kafka_error_handling_spark.formats.avro_format import jvm_avro_available
    from kafka_error_handling_spark.formats.proto_format import (
        jvm_protobuf_available,
    )

    assert jvm_avro_available(spark) in (True, False)
    assert jvm_protobuf_available(spark) in (True, False)


def test_jvm_probe_waits_for_a_session(spark, monkeypatch):
    """A probe asked with no active session and no answer for the live
    SparkContext says False without recording it, so the next call with a
    session runs the probe; the answer is then kept for that SparkContext
    and probed again for another."""
    from kafka_error_handling_spark.formats.avro_format import jvm_avro_available
    from kafka_error_handling_spark.formats.proto_format import (
        jvm_protobuf_available,
    )
    from kafka_error_handling_spark.functions.dead_letter import probed_per_context
    from pyspark.sql import SparkSession

    calls = []
    available = probed_per_context(lambda s: calls.append(s.sparkContext) or True)
    with monkeypatch.context() as m:
        m.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
        assert available() is False
        assert jvm_avro_available() is False and jvm_protobuf_available() is False
    assert calls == []
    assert available() is True and calls == [spark.sparkContext]
    assert available(spark) is True and len(calls) == 1
    with monkeypatch.context() as m:  # a thread with no session, same context
        m.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
        assert available() is True and len(calls) == 1
    other = type("OtherSession", (), {"sparkContext": object()})()
    assert available(other) is True and len(calls) == 2


def test_avro_jvm_requires_flag_raises_without_jar(spark):
    from kafka_error_handling_spark.formats import avro_format as AF

    if AF.jvm_avro_available(spark):
        pytest.skip("spark-avro present: use_jvm=True is legitimate here")
    with pytest.raises(RuntimeError, match="spark-avro"):
        to_avro_dead_letter(F.col("dead_letter"), use_jvm=True)


# ---------------------------------------------------------------------------
# Confluent registry framing (VERDICT r2 missing #1 — the reference's serde
# round-trips run against a mock:// registry, AvroDeadLetterProcessorTest
# .java:61-120; a registry-aware consumer reads magic byte + schema id, not
# bare record bytes)
# ---------------------------------------------------------------------------


def _dlq_frame(spark):
    df = spark.createDataFrame([(1, "bad")], "key int, value string")
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    return keh.dead_letters(keh.errors(p), "framed test", key_cols=["key"])


def test_avro_registry_framed_round_trip(spark):
    from kafka_error_handling_spark.formats.avro_format import DEAD_LETTER_AVSC
    from kafka_error_handling_spark.formats.registry import (
        SchemaRegistryStub,
        to_avro_dead_letter_framed,
        unframe_confluent,
    )

    reg = SchemaRegistryStub()
    dlq = _dlq_frame(spark)
    out = dlq.select(
        to_avro_dead_letter_framed(F.col("dead_letter"), registry=reg).alias("b")
    ).collect()
    buf = bytes(out[0].b)
    assert buf[0] == 0x00  # magic byte on the wire
    sid, payload = unframe_confluent(buf)
    # the id resolves to the registered DeadLetter schema in the registry
    assert reg.get_by_id(sid) == DEAD_LETTER_AVSC
    decoded = decode_dead_letter(payload)
    assert decoded["description"] == "framed test"
    assert decoded["cause"]["error_class"] == "ValueError"
    assert decoded["input_value"] == "bad"


def test_proto_registry_framed_round_trip(spark):
    from kafka_error_handling_spark.formats.proto_format import (
        PROTO_DEAD_LETTER_SCHEMA,
    )
    from kafka_error_handling_spark.formats.registry import (
        SchemaRegistryStub,
        to_proto_dead_letter_framed,
        unframe_confluent,
    )

    reg = SchemaRegistryStub()
    dlq = _dlq_frame(spark)
    out = dlq.select(
        to_proto_dead_letter_framed(F.col("dead_letter"), registry=reg).alias("b")
    ).collect()
    buf = bytes(out[0].b)
    sid, payload = unframe_confluent(buf, message_indexes=True)
    assert reg.get_by_id(sid) == PROTO_DEAD_LETTER_SCHEMA
    decoded = decode_proto_dead_letter(payload)
    assert decoded["description"] == "framed test"
    assert decoded["cause"]["error_class"] == "ValueError"


def test_registry_framing_column_helpers(spark):
    """JVM-side consumer dispatch: schema id and payload recovered as pure
    column expressions from the framed bytes."""
    from kafka_error_handling_spark.formats.registry import (
        SchemaRegistryStub,
        payload_col,
        schema_id_col,
        to_avro_dead_letter_framed,
    )

    reg = SchemaRegistryStub()
    reg.register("other-subject", "{}")  # bump ids past 1
    dlq = _dlq_frame(spark)
    framed = dlq.select(
        to_avro_dead_letter_framed(F.col("dead_letter"), registry=reg).alias("b")
    )
    row = framed.select(
        schema_id_col(F.col("b")).alias("sid"),
        payload_col(F.col("b")).alias("p"),
    ).collect()[0]
    assert row.sid == 2
    assert decode_dead_letter(bytes(row.p))["description"] == "framed test"


def test_registry_stub_semantics():
    """Mock-registry contract: idempotent same-schema registration, new id
    per new schema, wrong-magic rejection on unframe."""
    import pytest

    from kafka_error_handling_spark.formats.registry import (
        SchemaRegistryStub,
        unframe_confluent,
    )

    reg = SchemaRegistryStub()
    a = reg.register("s", "schema-1")
    assert reg.register("s", "schema-1") == a
    b = reg.register("s", "schema-2")
    assert b != a
    assert reg.latest("s") == (b, "schema-2")
    with pytest.raises(ValueError, match="magic"):
        unframe_confluent(b"\x01garbage")


# ---------------------------------------------------------------------------
# Property round-trips (r12): the fixture-matrix wire gates pin exact
# bytes for non-negative, SQL-expressible cases; these hypothesis drives
# the codecs through everything the SQL oracle's constraints exclude —
# negative partitions/offsets (zig-zag / two's-complement varints),
# >63-byte strings (multi-byte length varints), arbitrary unicode, and
# empty-vs-absent distinctions — asserting decode(encode(x)) == x.
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_opt_text = st.one_of(st.none(), st.text(max_size=200))
_opt_int32 = st.one_of(
    st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1)
)
_opt_int64 = st.one_of(
    st.none(), st.integers(min_value=-(2**62), max_value=2**62 - 1)
)
_opt_ts = st.one_of(
    st.none(),
    st.integers(min_value=0, max_value=4_102_444_800_000).map(
        lambda ms: pd.Timestamp(ms, unit="ms")
    ),
)

_dead_letters = st.fixed_dictionaries(
    {
        "description": st.text(max_size=300),
        "cause": st.fixed_dictionaries(
            {
                "message": _opt_text,
                "stack_trace": _opt_text,
                "error_class": _opt_text,
            }
        ),
        "input_value": _opt_text,
        "topic": _opt_text,
        "partition": _opt_int32,
        "offset": _opt_int64,
        "input_timestamp": _opt_ts,
    }
)


@settings(max_examples=200, deadline=None)
@given(rec=_dead_letters)
def test_avro_round_trip_property(rec):
    out = decode_dead_letter(encode_dead_letter(rec))
    for k in ("description", "cause", "input_value", "topic", "partition",
              "offset", "input_timestamp"):
        assert out[k] == rec[k], k


@settings(max_examples=200, deadline=None)
@given(rec=_dead_letters)
def test_proto_round_trip_property(rec):
    out = decode_proto_dead_letter(encode_proto_dead_letter(rec))
    assert out["description"] == rec["description"]
    assert out["cause"] == rec["cause"]
    for k in ("input_value", "topic", "partition", "offset"):
        assert out[k] == rec[k], k
    assert out["input_timestamp"] == rec["input_timestamp"]


# Wider than the round-trip strategies: long strings (multi-byte length
# varints), the whole int64 range and microsecond timestamps before 1970
# (floored millis and seconds).  Characters are UTF-8 encodable: a Spark
# string cannot hold a lone surrogate, and Arrow rejects one.
_long_text = st.builds(
    lambda c, n: c * n, st.characters(codec="utf-8"), st.integers(64, 20_000)
)
_wide_text = st.one_of(_opt_text, _long_text)
_wide_dead_letters = st.fixed_dictionaries(
    {
        "description": st.one_of(st.text(max_size=300), _long_text),
        "cause": st.one_of(
            st.none(),
            st.fixed_dictionaries(
                {"message": _wide_text, "stack_trace": _wide_text, "error_class": _opt_text}
            ),
        ),
        "input_value": _wide_text,
        "topic": _opt_text,
        "partition": _opt_int32,
        "offset": st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        "input_timestamp": st.one_of(
            st.none(),
            st.datetimes(min_value=datetime(1900, 1, 1), max_value=datetime(2100, 1, 1)),
        ),
    }
)
# DEAD_LETTER_SCHEMA with every field nullable, so a NULL cause fits.
_DL_ARROW = to_arrow_type(
    StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                dict(f.jsonValue(), nullable=True) for f in DEAD_LETTER_SCHEMA.fields
            ],
        }
    )
)


@settings(max_examples=100, deadline=None)
@given(recs=st.lists(st.one_of(st.none(), _wide_dead_letters), max_size=20))
def test_fallback_udfs_match_the_per_record_encoders(spark, recs):
    """The spec fallbacks' ``arrow_udf``s write, row for row, the bytes of
    the per-record encoders (NULL for a NULL struct), in a UTC and in a New
    York session: the struct reaches the shared encoder as the same record
    that a dict does.  Naive timestamps are UTC instants on both sides."""
    df = spark.createDataFrame(pa.table({"dl": pa.array(recs, _DL_ARROW)}))
    want = [
        (None, None) if d is None else (encode_dead_letter(d), encode_proto_dead_letter(d))
        for d in recs
    ]
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            rows = df.select(
                to_avro_dead_letter(F.col("dl"), use_jvm=False).alias("avro"),
                to_proto_dead_letter(F.col("dl")).alias("proto"),
            ).collect()
            got = [tuple(None if b is None else bytes(b) for b in r) for r in rows]
            assert got == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def _plain_dead_letters(spark, description="plan"):
    """A dead-letter frame whose own plan runs no Python."""
    err = F.struct(*[F.lit(v).alias(k) for k, v in (
        ("error_class", "ValueError"), ("message", "m"), ("stack_trace", "t"),
        ("input_value", "v"),
    )])
    errs = spark.range(4).select(F.col("id").alias("key"), err.alias("error"))
    return keh.dead_letters(errs, description, key_cols=["key"], offset_col="key")


def test_fallback_encoders_plan_one_arrow_udf(spark):
    """The DLQ encode plan of each spec fallback holds exactly one
    ``ArrowEvalPython`` and no other Python node."""
    dlq = _plain_dead_letters(spark)
    for enc in (
        to_avro_dead_letter(F.col("dead_letter"), use_jvm=False),
        to_proto_dead_letter(F.col("dead_letter")),
    ):
        q = dlq.select("key", enc.alias("value"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan, plan
        assert len(q.collect()) == 4


def test_null_description(spark):
    """A NULL description fails the Avro task (the schema requires the
    string) and writes nothing in proto (proto3 omits an unset string)."""
    dlq = _plain_dead_letters(spark, description=None)
    row = dlq.select(to_proto_dead_letter(F.col("dead_letter")).alias("p")).first()
    assert decode_proto_dead_letter(bytes(row.p))["description"] == ""
    message = "DeadLetter.description must not be NULL"
    with pytest.raises(Exception, match=message):
        dlq.select(to_avro_dead_letter(F.col("dead_letter"), use_jvm=False)).collect()
    with pytest.raises(ValueError, match=message):
        encode_dead_letter(dict(MINIMAL, description=None))

"""Serde-edge capture: PERMISSIVE parse failures as standard error rows."""

from pyspark.sql import functions as F

from kafka_error_handling_spark.operators import errors, values
from kafka_error_handling_spark.sources.serde import (
    from_csv_captured,
    from_json_captured,
)


def test_from_json_captured_splits_good_bad_null(spark):
    df = spark.createDataFrame(
        [
            (1, '{"k": 5, "s": "ok"}'),
            (2, '{"k": oops'),          # malformed
            (3, None),                   # null input: null through, no error
            (4, '{"k": 7}'),             # missing field -> null field, success
        ],
        "id int, payload string",
    )
    p = from_json_captured(df, "payload", "k int, s string")
    ok = {r.id: r.result for r in values(p, result_alias="result").collect()}
    errs = {r.id: r.error for r in errors(p).collect()}

    assert ok[1].k == 5 and ok[1].s == "ok"
    assert ok[4].k == 7 and ok[4].s is None
    assert ok[3] is None  # null stays null on the success branch
    assert set(errs) == {2}
    assert errs[2].error_class == "JsonParseError"
    assert errs[2].input_value == '{"k": oops'
    assert errs[2].message.startswith("malformed record: ")


def test_from_json_captured_feeds_dead_letters(spark):
    from kafka_error_handling_spark.functions.dead_letter import dead_letters

    df = spark.createDataFrame([(1, "not json")], "id int, payload string")
    p = from_json_captured(df, "payload", "k int")
    dlq = dead_letters(errors(p), "serde edge", key_cols=["id"]).collect()
    assert len(dlq) == 1
    assert dlq[0].dead_letter.description == "serde edge"
    assert dlq[0].dead_letter.input_value == "not json"
    assert dlq[0].dead_letter.cause.error_class == "JsonParseError"


def test_from_csv_captured(spark):
    df = spark.createDataFrame(
        [(1, "5,1.5"), (2, "x,y"), (3, "7,2.5")],
        "id int, line string",
    )
    p = from_csv_captured(df, "line", "a int, b double")
    ok = {r.id: r.result for r in values(p, result_alias="result").collect()}
    errs = [r.id for r in errors(p).collect()]
    assert ok[1].a == 5 and ok[1].b == 1.5
    assert ok[3].a == 7
    assert errs == [2]


def test_serde_capture_stays_jvm_side(spark):
    """No Python stage: the serde capture plan must contain no
    ArrowEvalPython / BatchEvalPython node."""
    df = spark.createDataFrame([(1, '{"k": 1}')], "id int, payload string")
    p = from_json_captured(df, "payload", "k int")
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_serde_capture_parses_each_record_once(spark):
    """Each captured frame's executed plan holds exactly one parser node:
    the parse is bound once and the result and error branches read it,
    instead of Spark re-parsing per reference (5 ``from_json`` and 6
    ``from_csv`` nodes when the parse was handed over inline)."""
    js = spark.createDataFrame([(1, '{"k": 1}'), (2, "{")], "id int, payload string")
    csv = spark.createDataFrame([(1, "5,1.5"), (2, "x,y")], "id int, line string")
    for frame, parser in [
        (from_json_captured(js, "payload", "k int, s string"), "from_json("),
        (from_csv_captured(csv, "line", "a int, b double"), "from_csv("),
    ]:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert plan.count(parser) == 1, plan
        assert frame.columns == frame.drop("r").columns + ["r"]
        assert len(errors(frame).collect()) == 1


def test_from_json_captured_streaming_dual_sink(spark, tmp_path):
    """The serde edge composes with the streaming runner: corrupt payloads
    reach the DLQ sink, good ones the value sink, in one pass."""
    from kafka_error_handling_spark.streaming.runner import run_captured

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text('{"k": 5}\n{"k": broken\n{"k": 9}\n')
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .withColumnRenamed("value", "payload")
    )
    got = {"values": [], "errors": []}
    q = run_captured(
        stream,
        lambda df: from_json_captured(df, "payload", "k int"),
        write_values=lambda df, bid: got["values"].extend(df.collect()),
        write_errors=lambda df, bid: got["errors"].extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(r.result.k for r in got["values"]) == [5, 9]
    assert len(got["errors"]) == 1
    assert got["errors"][0].error.error_class == "JsonParseError"


def test_from_avro_captured_bare_and_corrupt(spark):
    """Real Avro payloads decode to the success branch; truncated and
    garbage buffers land on the error branch with the exception class —
    the SerializationException edge (TestValue.avsc shape: three nullable
    strings)."""
    from kafka_error_handling_spark.formats.avro_format import avro_flat_codec
    from kafka_error_handling_spark.sources.serde import from_avro_captured

    fields = [("content", "string"), ("note", "string"), ("tag", "string")]
    enc, _ = avro_flat_codec(fields)
    rows = [
        (1, enc({"content": "hello", "note": None, "tag": "t1"})),
        (2, enc({"content": "world", "note": "n", "tag": None})[:-2]),  # truncated
        (3, b"\xff\xff\xffgarbage"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    p = from_avro_captured(df, "payload", fields)
    ok = {r.id: r.result for r in values(p, result_alias="result").collect()}
    errs = {r.id: r.error for r in errors(p).collect()}

    assert ok[1].content == "hello" and ok[1].note is None and ok[1].tag == "t1"
    assert ok[4] is None  # null payload stays null, no error
    assert set(errs) == {2, 3}
    assert errs[2].error_class == "ValueError"
    assert errs[3].error_class == "ValueError"


def test_from_avro_captured_registry_framed(spark):
    """Framed payloads: good frame decodes; wrong schema id and missing
    magic byte are captured, not fatal."""
    from kafka_error_handling_spark.formats.avro_format import avro_flat_codec
    from kafka_error_handling_spark.formats.registry import (
        SchemaRegistryStub,
        _frame_prefix,
    )
    from kafka_error_handling_spark.sources.serde import from_avro_captured

    fields = [("content", "string")]
    enc, _ = avro_flat_codec(fields)
    reg = SchemaRegistryStub()
    sid = reg.register("test-value", "{}")
    good = _frame_prefix(sid) + enc({"content": "ok"})
    wrong_id = _frame_prefix(sid + 7) + enc({"content": "x"})
    bare = enc({"content": "bare"})  # missing frame entirely
    df = spark.createDataFrame(
        [(1, good), (2, wrong_id), (3, bare)], "id int, payload binary"
    )
    p = from_avro_captured(df, "payload", fields, framed=True, expected_schema_id=sid)
    ok = {r.id: r.result for r in values(p, result_alias="result").collect()}
    errs = {r.id: r.error for r in errors(p).collect()}

    assert ok[1].content == "ok"
    assert set(errs) == {2, 3}
    assert "schema id" in errs[2].message
    assert "magic" in errs[3].message

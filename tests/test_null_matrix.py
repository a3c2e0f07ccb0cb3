"""Null matrix + contract-edge tests, completing the reference's per-class
assertion coverage (SURVEY.md §5: null key/value inputs, null results,
error-on-null, null factory args → NPE analog)."""

import datetime
import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import kafka_error_handling_spark as keh
from kafka_error_handling_spark.model import render_value
from kafka_error_handling_spark.streaming.stateful import capture_stateful_process


def kv_df(spark, rows):
    return spark.createDataFrame(rows, "key int, value string")


def test_null_key_with_key_shapes(spark):
    df = kv_df(spark, [(None, "5")])
    p = keh.capture_map_values_with_key(
        df, lambda k, v: int(v) if k is None else -1, IntegerType()
    )
    ok = keh.values(p).collect()
    assert ok[0].result == 5  # null key reaches the fn as None


def test_flat_null_result_emits_nothing(spark):
    # reference: null iterable result -> no output records, no error
    df = kv_df(spark, [(1, "x")])
    p = keh.capture_flat_map_values(df, lambda v: None, StringType())
    assert keh.values(p).count() == 0
    assert keh.errors(p).count() == 0


def test_flat_empty_result_emits_nothing(spark):
    df = kv_df(spark, [(1, "x")])
    p = keh.capture_flat_map_values(df, lambda v: [], StringType())
    assert keh.values(p).count() == 0


def test_capture_map_null_kv_result(spark):
    # mapper returning None -> result struct is NULL (allowed; SuccessValue
    # null contract), not an error
    df = kv_df(spark, [(1, "a")])
    p = keh.capture_map(df, lambda k, v: None, IntegerType(), StringType())
    rows = keh.values(p).collect()
    assert rows[0].result is None
    assert keh.errors(p).count() == 0


def test_error_on_null_value(spark):
    df = kv_df(spark, [(1, None)])

    def f(v):
        return len(v)  # TypeError on None

    p = keh.capture_map_values(df, f, IntegerType())
    e = keh.errors(p).collect()[0]
    assert e.error.error_class == "TypeError"
    assert e.error.input_value is None


def test_non_callable_fn_raises_at_build_time(spark):
    # reference: null factory args -> NPE at build time
    # (ErrorCapturingKeyValueMapperTopologyTest.java:79-91); Python analog:
    # TypeError from the decorator factory, before any job runs
    df = kv_df(spark, [(1, "a")])
    with pytest.raises(TypeError, match="callable"):
        keh.capture_map_values(df, None, IntegerType())


def test_render_value_contract():
    assert render_value(None) is None
    assert render_value(5) == "5"
    assert render_value("abc") == "abc"
    # struct-ish values render via to_json at the column level; the plain
    # renderer falls back to str() like Objects.toString
    assert render_value({"a": 1}) == "{'a': 1}"


def test_struct_input_rendered_as_json_in_dlq(spark):
    """ErrorUtil.toString renders records as JSON (ErrorUtil.java:102-169):
    for struct-typed value columns, pre-render with to_json so the DLQ
    input_value is JSON."""
    df = spark.createDataFrame([(1, {"a": 7})], "key int, value map<string,int>")
    rendered = df.withColumn("value_json", F.to_json("value"))
    p = keh.capture_map_values(
        rendered, lambda v: (_ for _ in ()).throw(ValueError("no")), IntegerType(),
        value_col="value_json",
    )
    e = keh.errors(p).collect()[0]
    assert e.error.input_value == '{"a":7}'


# --- input contract: every family, both shapes, the same input ------------
#
# The reference hands null keys and values to the user function as
# themselves (SuccessValue.java:49-51).  Capture, log and describe, column
# and processor shapes, and stateful capture must all pass SQL NULL as None,
# NaN as nan, an integer as int, an array as a list, a struct as a dict, a
# map as a dict and a timestamp as a naive datetime in the session time
# zone, at any depth, and must accept a struct result
# as a dict (by name) or a tuple (by position).  Stateful capture alone
# hands a NaN double over as None: its groups arrive as pandas, which holds
# NULL and NaN alike.

_WALL = datetime.datetime(2024, 1, 2, 3, 4, 5)
_NESTED = StructType([
    StructField("t", TimestampType()), StructField("m", MapType(StringType(), IntegerType()))
])
_INPUTS = {
    "arr": (ArrayType(IntegerType()), [(1, [0, 1]), (None, None), (3, [2, 3])]),
    "d": (DoubleType(), [(1, 1.5), (None, None), (3, math.nan)]),
    "ts": (TimestampType(), [(1, _WALL), (None, None), (3, _WALL)]),
    "st": (_NESTED, [(1, {"t": _WALL, "m": {"a": 1}}), (None, None), (3, {"t": None, "m": None})]),
    "tss": (ArrayType(TimestampType()), [(1, [_WALL, None]), (None, None), (3, [])]),
}
_SHAPES = [
    (family, shape) for family in ["capture", "log", "describe"] for shape in ["column", "processor"]
] + [("capture", "stateful")]


@pytest.fixture
def new_york(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _stateful(df, fn, result_type, col, tmp_path):
    """``fn(key, value)`` through stateful capture over ``df`` replayed as
    a stream; a batch frame of ``id``, ``col`` and ``result``.  The sink is
    parquet: the memory sink cannot decode an ``array<timestamp>`` with a
    NULL element out of ``applyInPandasWithState`` ("Value at index is
    null")."""
    df.write.parquet(str(tmp_path / "src"))
    stream = df.sparkSession.readStream.schema(df.schema).parquet(str(tmp_path / "src"))
    q = (
        capture_stateful_process(
            stream, ["id", col], lambda key, rec, state: [fn(rec["key"], rec[col])],
            result_type, StructType([StructField("n", IntegerType())]),
        )
        .writeStream.format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.read.parquet(str(tmp_path / "out"))


def _through(family, shape, df, fn, result_type, col, tmp_path):
    """Run ``fn(key, value)`` over ``df`` through one family and shape;
    the frame's ``result`` column holds what it returned."""
    if shape == "stateful":
        return _stateful(df, fn, result_type, col, tmp_path)
    if shape == "column":
        if family == "capture":
            return keh.values(keh.capture_map_values_with_key(df, fn, result_type, value_col=col))
        if family == "log":
            return keh.log_map_values_with_key(df, fn, result_type, value_col=col, observe=False)
        return keh.describe_map_values_with_key(df, fn, result_type, value_col=col)

    def proc(rec):
        return [fn(rec["key"], rec[col])]

    if family == "capture":
        return keh.capture_process(df, proc, result_type).filter(F.col("error").isNull())
    if family == "log":
        return keh.log_process(df, proc, result_type)
    return keh.describe_process(df, proc, result_type)


@pytest.mark.parametrize("result_form", ["dict", "tuple"])
@pytest.mark.parametrize("col", sorted(_INPUTS))
@pytest.mark.parametrize("family, shape", _SHAPES)
def test_input_contract(new_york, family, shape, col, result_form, tmp_path):
    spark = new_york
    # the literal is New York wall-clock time, as the session reads it
    df = spark.sql(
        "SELECT id, key, CAST(d AS DOUBLE) AS d,"
        " IF(id = 1, NULL, TIMESTAMP'2024-01-02 03:04:05') AS ts,"
        " IF(id = 1, NULL, array(id, key)) AS arr,"
        " CASE id WHEN 0 THEN named_struct('t', TIMESTAMP'2024-01-02 03:04:05', 'm', map('a', 1))"
        "  WHEN 2 THEN named_struct('t', CAST(NULL AS TIMESTAMP), 'm', CAST(NULL AS MAP<STRING, INT>))"
        "  END AS st,"
        " CASE id WHEN 0 THEN array(TIMESTAMP'2024-01-02 03:04:05', NULL)"
        "  WHEN 2 THEN CAST(array() AS ARRAY<TIMESTAMP>) END AS tss"
        " FROM VALUES (0, 1, '1.5'), (1, NULL, NULL), (2, 3, 'NaN') AS t(id, key, d)"
    )
    value_type, expected = _INPUTS[col]
    same = F.col(col)
    if shape == "stateful" and col == "d":
        expected = [(k, None if v != v else v) for k, v in expected]  # NaN → None
        same = F.nanvl(same, F.lit(None))
    result_type = StructType(
        [StructField("seen", StringType()), StructField("echo", value_type)]
    )

    def fn(k, v):
        seen = repr((k, v))
        return (seen, v) if result_form == "tuple" else {"seen": seen, "echo": v}

    out = _through(family, shape, df, fn, result_type, col, tmp_path)
    echo = F.col("result.echo")
    if col == "st":  # a map is not comparable: compare the JSON
        echo, same = F.to_json(echo), F.to_json(same)
    rows = out.orderBy("id").select("result.seen", echo.eqNullSafe(same).alias("same")).collect()
    assert [r.seen for r in rows] == [repr(e) for e in expected]
    assert all(r.same for r in rows)


from hypothesis import given, settings, strategies as st  # noqa: E402
import pyarrow as pa  # noqa: E402

from kafka_error_handling_spark.operators.loop import py_columns  # noqa: E402

_ARROW_LISTS = st.one_of(
    st.tuples(st.just(pa.int64()), st.lists(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)))),
    st.tuples(st.just(pa.int32()), st.lists(st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)))),
    st.tuples(st.just(pa.float64()), st.lists(st.one_of(st.none(), st.floats(allow_nan=True)))),
    st.tuples(st.just(pa.string()), st.lists(st.one_of(st.none(), st.text()))),
    st.tuples(st.just(pa.large_string()), st.lists(st.one_of(st.none(), st.text()))),
    st.tuples(st.just(pa.bool_()), st.lists(st.one_of(st.none(), st.booleans()))),
)


@settings(max_examples=300, deadline=None)
@given(typed=_ARROW_LISTS, offset=st.integers(0, 3))
def test_py_columns_equals_to_pylist(typed, offset):
    """The numpy path of ``py_columns`` hands over what ``to_pylist`` does:
    NULL as ``None`` (for floats too), NaN as ``nan``, integers as ``int``
    (``repr`` tells ``1`` from ``1.0`` and ``-0.0`` from ``0.0``), also on
    a sliced array."""
    dtype, values = typed
    arr = pa.array(values, dtype).slice(offset)
    assert repr(py_columns([arr])[0]) == repr(arr.to_pylist())

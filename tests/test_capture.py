"""Capture decorator matrix tests — ports the reference's topology-test
assertion matrix (SURVEY.md §5; e.g.
``ErrorCapturingKeyValueMapperTopologyTest.java:127-256``):

- happy path routes to output; error routes to the error branch with full
  metadata
- recoverable exception is rethrown, nothing emitted
- non-Exception throwables are never captured
- null key/value inputs, null results, error-on-null
"""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

import kafka_error_handling_spark as keh


def kv_df(spark, rows):
    return spark.createDataFrame(rows, "key int, value string")


def test_capture_map_values_happy_and_error(spark):
    df = kv_df(spark, [(1, "10"), (2, "oops"), (3, None)])

    def parse(v):
        return int(v) if v is not None else None

    p = keh.capture_map_values(df, parse, IntegerType())
    ok = keh.values(p).orderBy("key").collect()
    errs = keh.errors(p).collect()

    assert [(r.key, r.result) for r in ok] == [(1, 10), (3, None)]
    assert len(errs) == 1
    e = errs[0]
    assert e.key == 2 and e.value == "oops"  # old columns survive
    assert e.error.error_class == "ValueError"
    assert "oops" in e.error.message
    assert e.error.input_value == "oops"
    assert "ValueError" in e.error.stack_trace  # traceback fidelity


def test_capture_map_old_key_preserved_new_key_null(spark):
    df = kv_df(spark, [(1, "a"), (2, "boom")])

    def mapper(k, v):
        if v == "boom":
            raise RuntimeError("broken")
        return (k * 100, v.upper())

    p = keh.capture_map(df, mapper, IntegerType(), StringType())
    ok = keh.values(p).collect()
    errs = keh.errors(p).collect()

    assert [(r.result.key, r.result.value) for r in ok] == [(100, "A")]
    # error: new key irrelevant, old key preserved (ErrorCapturingKeyValueMapper.java:103-105)
    assert errs[0].key == 2 and errs[0].value == "boom"
    assert errs[0].error.error_class == "RuntimeError"


def test_capture_flat_map_values_explodes_successes(spark):
    df = kv_df(spark, [(1, "a b"), (2, "x")])

    def split(v):
        if v == "x":
            raise ValueError("no")
        return v.split(" ")

    p = keh.capture_flat_map_values(df, split, StringType())
    ok = keh.values(p).orderBy("key", "result").collect()
    errs = keh.errors(p).collect()
    assert [(r.key, r.result) for r in ok] == [(1, "a"), (1, "b")]
    assert errs[0].key == 2


def test_capture_flat_map_multiple_kv_forwards(spark):
    df = kv_df(spark, [(5, "ab")])

    def fan(k, v):
        return [(k + i, c) for i, c in enumerate(v)]

    p = keh.capture_flat_map(df, fan, IntegerType(), StringType())
    ok = keh.values(p).orderBy("result.key").collect()
    assert [(r.result.key, r.result.value) for r in ok] == [(5, "a"), (6, "b")]


def test_recoverable_exception_rethrown(spark):
    df = kv_df(spark, [(1, "x")])

    def f(v):
        raise ConnectionError("transient")

    p = keh.capture_map_values(df, f, IntegerType())
    with pytest.raises(Exception) as ei:
        keh.values(p).collect()
    assert "transient" in str(ei.value)


def test_custom_error_filter(spark):
    df = kv_df(spark, [(1, "x")])

    def f(v):
        raise ValueError("custom-recoverable")

    p = keh.capture_map_values(
        df, f, IntegerType(), error_filter=lambda e: isinstance(e, ValueError)
    )
    with pytest.raises(Exception):
        keh.values(p).collect()


def test_non_exception_throwable_not_captured(spark):
    # Python analog of Error/Throwable: BaseException subclasses
    df = kv_df(spark, [(1, "x")])

    def f(v):
        raise KeyboardInterrupt()

    p = keh.capture_map_values(df, f, IntegerType())
    with pytest.raises(BaseException):
        keh.values(p).collect()


def test_null_value_input_and_error_on_null(spark):
    df = kv_df(spark, [(1, None)])

    def f(v):
        raise TypeError(f"bad {v}")

    p = keh.capture_map_values(df, f, IntegerType())
    errs = keh.errors(p).collect()
    assert errs[0].error.input_value is None  # null input renders as NULL field
    assert errs[0].error.error_class == "TypeError"


def test_with_key_shapes(spark):
    df = kv_df(spark, [(2, "3"), (0, "9")])

    def f(k, v):
        return int(v) // k

    p = keh.capture_map_values_with_key(df, f, IntegerType())
    ok = keh.values(p).collect()
    errs = keh.errors(p).collect()
    assert [(r.key, r.result) for r in ok] == [(2, 1)]
    assert errs[0].key == 0
    assert errs[0].error.error_class == "ZeroDivisionError"


def test_capture_process_multi_forward_and_error(spark):
    df = kv_df(spark, [(1, "ab"), (2, "z")])

    def proc(rec):
        if rec["value"] == "z":
            raise ValueError("bad z")
        return [{"out": c} for c in rec["value"]]

    from pyspark.sql.types import StructField, StructType

    p = keh.capture_process(df, proc, StructType([StructField("out", StringType())]))
    ok = p.filter(F.col("error").isNull()).orderBy("result.out").collect()
    errs = p.filter(F.col("error").isNotNull()).collect()
    assert [r.result.out for r in ok] == ["a", "b"]
    assert errs[0].key == 2 and errs[0].error.error_class == "ValueError"


def test_capture_process_values_scalar_result(spark):
    df = kv_df(spark, [(1, "xy")])

    def proc(rec):
        return [rec["value"].upper(), rec["value"] + "!"]

    p = keh.capture_process_values(df, proc, StringType())
    ok = p.filter(F.col("error").isNull()).orderBy("result").collect()
    assert [r.result for r in ok] == ["XY", "xy!"]
    assert all(r.key == 1 for r in ok)  # fixed key passes through


@pytest.mark.parametrize(
    "shape",
    ["capture_process", "capture_process_values", "log_process", "log_process_values",
     "describe_process"],
)
def test_processor_shapes_ride_one_arrow_udf(spark, shape):
    """Every processor shape calls the processor once per record in one
    ``arrow_udf`` and fans its forwards out in the JVM: a record that
    forwards nothing gives no row, one that forwards twice two, a failed
    one a single error row (capture) or none (log).  Describe rethrows, so
    its input has no failing record."""
    from pyspark.sql.types import StructField, StructType

    rows = [(1, "none"), (2, "two"), (3, "boom")]
    df = kv_df(spark, rows[:2] if shape == "describe_process" else rows)
    struct = not shape.endswith("_values")
    calls = spark.sparkContext.accumulator(0)

    def proc(rec):
        calls.add(1)
        if rec["value"] == "boom":
            raise ValueError("boom")
        if rec["value"] == "none":
            return []
        return [{"out": "a"}, {"out": "b"}] if struct else ["a", "b"]

    rt = StructType([StructField("out", StringType())]) if struct else StringType()
    out = getattr(keh, shape)(df, proc, rt)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "MapInArrow" not in plan, plan

    got = out.collect()
    assert calls.value == df.count()
    results = sorted(
        (r.key, r.result and (r.result.out if struct else r.result)) for r in got
    )
    if shape.startswith("capture"):
        assert results == [(2, "a"), (2, "b"), (3, None)]
        assert [r.error.error_class for r in got if r.error] == ["ValueError"]
        assert [r.error.input_value for r in got if r.error] == ["boom"]
    else:
        assert results == [(2, "a"), (2, "b")]
    assert out.columns[:2] == ["key", "value"] and "__keh_processed" not in out.columns


def test_processor_shapes_reject_the_bound_column(spark):
    df = spark.createDataFrame([(1, "x")], "key int, __keh_processed string")
    with pytest.raises(ValueError, match="__keh_processed"):
        keh.capture_process(df, lambda rec: [], StringType())


def test_dead_letters_projection(spark):
    df = kv_df(spark, [(1, "good"), (2, "bad")])

    def f(v):
        if v == "bad":
            raise ValueError("broken value")
        return v

    p = keh.capture_map_values(df, f, StringType())
    errs = keh.errors(p)
    dlq = keh.dead_letters(errs, "my pipeline step", key_cols=["key"]).collect()
    assert len(dlq) == 1
    d = dlq[0]
    assert d.key == 2
    assert d.dead_letter.description == "my pipeline step"
    assert d.dead_letter.cause.error_class == "ValueError"
    assert d.dead_letter.cause.message == "broken value"
    assert "ValueError" in d.dead_letter.cause.stack_trace
    assert d.dead_letter.input_value == "bad"
    assert d.dead_letter.topic is None and d.dead_letter.partition is None
    assert d.processing_timestamp is not None  # wall-clock re-stamp


def test_null_results_allowed(spark):
    # SuccessValue.java:49-51 "allow null values"
    df = kv_df(spark, [(1, "x")])
    p = keh.capture_map_values(df, lambda v: None, StringType())
    ok = keh.values(p).collect()
    assert ok[0].result is None

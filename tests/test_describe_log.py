"""Describe + logging decorator matrices — ports the reference's remaining
topology-test assertions (SURVEY.md §5):

- describe: rethrown ProcessingException carries the offending key/value in
  the message, cause preserved (ErrorDescribingKeyValueMapperTopologyTest)
- log: success routes through, failures dropped, recoverable rethrown
  (ErrorLoggingValueMapperTopologyTest et al.), drop counts observable
"""

import logging

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType

import kafka_error_handling_spark as keh
from kafka_error_handling_spark.model import ProcessingException


def kv_df(spark, rows):
    return spark.createDataFrame(rows, "key int, value string")


# --- describe family ------------------------------------------------------


def test_describe_plain_wrapper_message_contract():
    f = keh.describe_errors(lambda v: int(v))
    with pytest.raises(ProcessingException) as ei:
        f("xx")
    assert str(ei.value) == "Cannot process xx"
    assert isinstance(ei.value.__cause__, ValueError)

    g = keh.describe_errors_with_key(lambda k, v: int(v))
    with pytest.raises(ProcessingException) as ei:
        g(7, "yy")
    assert str(ei.value) == "Cannot process ('7', 'yy')"


def test_describe_map_values_happy_and_fail(spark):
    df = kv_df(spark, [(1, "10")])
    out = keh.describe_map_values(df, lambda v: int(v) + 1, IntegerType())
    assert out.collect()[0].result == 11

    bad = kv_df(spark, [(1, "zz")])
    out = keh.describe_map_values(bad, lambda v: int(v), IntegerType())
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "Cannot process zz" in str(ei.value)


def test_describe_map_with_key_message(spark):
    df = kv_df(spark, [(5, "boom")])
    out = keh.describe_map(df, lambda k, v: (k, int(v)), IntegerType())
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "Cannot process ('5', 'boom')" in str(ei.value)


def test_describe_type_transparent_flat(spark):
    # same describe wrapper serves flatMap shapes (type-transparent)
    df = kv_df(spark, [(1, "a b")])
    out = keh.describe_map_values(
        df, lambda v: v.split(" "), ArrayType(StringType())
    )
    row = out.select(F.explode("result").alias("t")).orderBy("t").collect()
    assert [r.t for r in row] == ["a", "b"]


def test_describe_process_multi_forward_and_enrich(spark):
    from pyspark.sql.types import StructField, StructType

    df = kv_df(spark, [(1, "ok"), (2, "bad")])

    def proc(rec):
        if rec["value"] == "bad":
            raise RuntimeError("inner")
        return [{"out": rec["value"].upper()}]

    out = keh.describe_process(
        df,
        proc,
        StructType([StructField("out", StringType())]),
        key_cols=["key"],
        value_col="value",
    )
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "Cannot process ('2', 'bad')" in str(ei.value)


# --- logging family -------------------------------------------------------


def test_log_errors_plain_wrapper_message_contract(caplog):
    """log_errors logs the describe family's message, then re-raises the
    original error; a recoverable error re-raises unlogged."""

    def parse(*args):
        if args[-1] == "infra":
            raise TimeoutError("transient")
        return int(args[-1])

    with caplog.at_level(logging.ERROR, logger="kafka_error_handling_spark"):
        with pytest.raises(ValueError):
            keh.log_errors(parse)("xx")
        with pytest.raises(ValueError):
            keh.log_errors(parse, with_key=True)(7, "yy")
        with pytest.raises(TimeoutError):
            keh.log_errors(parse)("infra")
        assert keh.log_errors(parse)("5") == 5
    assert [r.getMessage() for r in caplog.records] == [
        "Cannot process xx",
        "Cannot process ('7', 'yy')",
    ]


def test_log_map_values_drops_and_keeps(spark):
    df = kv_df(spark, [(1, "1"), (2, "x"), (3, "3")])
    out = keh.log_map_values(df, lambda v: int(v), IntegerType(), observe=False)
    assert sorted((r.key, r.result) for r in out.collect()) == [(1, 1), (3, 3)]


def test_log_map_recoverable_rethrown(spark):
    df = kv_df(spark, [(1, "1")])

    def f(v):
        raise TimeoutError("transient infra")

    out = keh.log_map_values(df, f, IntegerType(), observe=False)
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "transient infra" in str(ei.value)


def test_log_flat_map_drops_whole_record(spark):
    df = kv_df(spark, [(1, "a b"), (2, "x")])

    def f(v):
        if v == "x":
            raise ValueError("nope")
        return v.split(" ")

    out = keh.log_flat_map_values(df, f, StringType(), observe=False)
    assert sorted((r.key, r.result) for r in out.collect()) == [(1, "a"), (1, "b")]


def test_log_map_key_change_shape(spark):
    df = kv_df(spark, [(1, "5"), (2, "x")])
    out = keh.log_map(
        df, lambda k, v: (k * 10, int(v)), IntegerType(), IntegerType(), observe=False
    )
    rows = out.collect()
    assert [(r.result.key, r.result.value) for r in rows] == [(10, 5)]


def test_log_observe_metric_counts_drops(spark):
    from pyspark.sql import Observation

    df = kv_df(spark, [(1, "1"), (2, "x"), (3, "y")])
    p = keh.capture_map_values(df, lambda v: int(v), IntegerType())
    obs = Observation("drops")
    observed = p.observe(
        obs,
        F.count(F.when(F.col("r.error").isNotNull(), 1)).alias("dropped"),
        F.count(F.lit(1)).alias("total"),
    )
    kept = keh.values(observed, "r").collect()
    assert len(kept) == 1
    assert obs.get["dropped"] == 2 and obs.get["total"] == 3


def test_log_process_values(spark):
    df = kv_df(spark, [(1, "aa"), (2, "z")])

    def proc(rec):
        if rec["value"] == "z":
            raise ValueError("drop me")
        return [rec["value"].upper()]

    out = keh.log_process_values(df, proc, StringType())
    assert [(r.key, r.result) for r in out.collect()] == [(1, "AA")]


# --- round-2 additions ----------------------------------------------------


def test_describe_struct_result_happy_and_fail(spark):
    """ErrorDescribingKeyValueMapper parity shape: struct<key,value> results
    must work for every row, returned as tuples (ADVICE r1)."""
    from pyspark.sql.types import LongType, StructField, StructType

    kv_type = StructType(
        [StructField("key", LongType()), StructField("value", StringType())]
    )
    df = kv_df(spark, [(1, "a"), (2, "b")])
    out = keh.describe_map(df, lambda k, v: (k * 10, v.upper()), kv_type)
    rows = sorted((r.result.key, r.result.value) for r in out.collect())
    assert rows == [(10, "A"), (20, "B")]

    bad = kv_df(spark, [(3, "boom")])

    def fail(k, v):
        raise RuntimeError("inner")

    out = keh.describe_map(bad, fail, kv_type)
    with pytest.raises(Exception) as ei:
        out.collect()
    assert "Cannot process ('3', 'boom')" in str(ei.value)


def test_describe_struct_result_dict_and_none(spark):
    """dict-shaped results map by field name; a None result is a NULL
    struct, as in the capture and log families."""
    from pyspark.sql.types import LongType, StructField, StructType

    kv_type = StructType(
        [StructField("key", LongType()), StructField("value", StringType())]
    )
    df = kv_df(spark, [(1, "a"), (2, "skip")])
    out = keh.describe_map(
        df,
        lambda k, v: None if v == "skip" else {"key": k, "value": v},
        kv_type,
    )
    rows = {r.key: r.result for r in out.collect()}
    assert (rows[1].key, rows[1].value) == (1, "a")
    assert rows[2] is None


def test_processing_exception_renders_none_as_null():
    """Java renders null via Objects.toString → 'null'; the message contract
    must match even for null inputs (ADVICE r1)."""
    exc = ProcessingException.for_value(None, ValueError("x"))
    assert str(exc) == "Cannot process null"
    exc = ProcessingException.for_key_value(None, None, ValueError("x"))
    assert str(exc) == "Cannot process ('null', 'null')"


def test_log_process_matrix(spark):
    """ErrorLoggingProcessor assertion matrix
    (``ErrorLoggingProcessor.java:157-167``): happy forward, multi-forward
    fan-out, non-recoverable drop, recoverable rethrow (VERDICT r1 #6)."""
    from pyspark.sql.types import StructField, StructType

    rt = StructType([StructField("out", StringType())])

    def proc(rec):
        v = rec["value"]
        if v == "fan":
            return [{"out": "f1"}, {"out": "f2"}]
        if v == "bad":
            raise ValueError("drop me")
        if v == "infra":
            raise TimeoutError("transient")
        return [{"out": v.upper()}]

    # happy + multi-forward + drop
    df = kv_df(spark, [(1, "ok"), (2, "fan"), (3, "bad")])
    out = keh.log_process(df, proc, rt)
    got = sorted((r.key, r.result["out"]) for r in out.collect())
    assert got == [(1, "OK"), (2, "f1"), (2, "f2")]

    # recoverable → rethrown, batch dies (crash-and-retry contract)
    infra = kv_df(spark, [(1, "infra")])
    with pytest.raises(Exception) as ei:
        keh.log_process(infra, proc, rt).collect()
    assert "transient" in str(ei.value)


def test_log_process_attaches_observe_metric(spark):
    """Processor-shape drops are counted via observe like every other log_*
    transform (ADVICE r1): the plan must carry a CollectMetrics node with
    the keh_dropped prefix."""
    from pyspark.sql.types import StructField, StructType

    rt = StructType([StructField("out", StringType())])
    df = kv_df(spark, [(1, "ok"), (2, "bad")])

    def proc(rec):
        if rec["value"] == "bad":
            raise ValueError("x")
        return [{"out": rec["value"]}]

    for fn in (keh.log_process, keh.log_process_values):
        out = fn(df, proc, rt)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "keh_dropped" in plan, plan
        assert len(out.collect()) == 1

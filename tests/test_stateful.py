"""Stateful capture wrapper tests: user state must keep working under
decoration (the stores() pass-through contract,
``ErrorCapturingProcessor.java:140-143``)."""

import pytest

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_error_handling_spark.streaming.stateful import capture_stateful_process

RESULT_T = StructType(
    [
        StructField("value", StringType()),
        StructField("running_count", LongType()),
    ]
)
STATE_T = StructType([StructField("n", LongType())])


def test_stateful_capture_preserves_state_across_errors(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        '{"key": 1, "value": "a"}\n'
        '{"key": 1, "value": "POISON"}\n'
        '{"key": 1, "value": "b"}\n'
        '{"key": 2, "value": "c"}\n'
    )
    stream = spark.readStream.schema("key int, value string").json(str(src))

    def fn(key, rec, state):
        (n,) = state.get if state.exists else (0,)
        if rec["value"] == "POISON":
            raise ValueError("poison pill")
        n += 1
        state.update((n,))
        return [{"value": rec["value"], "running_count": n}]

    out = capture_stateful_process(
        stream,
        ["key"],
        fn,
        RESULT_T,
        STATE_T,
        input_value_col="value",
    )
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    ok = sorted(
        (r.key, r.result.value, r.result.running_count)
        for r in rows
        if r.error is None
    )
    errs = [(r.key, r.error.error_class) for r in rows if r.error is not None]
    # state advanced for a and b despite the poison row in between
    assert (1, "a", 1) in ok and (1, "b", 2) in ok
    assert (2, "c", 1) in ok
    assert errs == [(1, "ValueError")]
    assert all(
        r.error.input_value == "POISON" for r in rows if r.error is not None
    )


def test_stateful_running_totals_match_batch_across_microbatches(spark, tmp_path):
    """State must carry across MICRO-BATCHES, not just within one: a
    running (count, total) per user maintained in GroupState over two
    availableNow batches — with a poison row captured mid-stream — must
    end at exactly the per-user totals a batch groupBy computes over the
    same (good) rows."""
    import json

    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    batches = [
        [(1, 10), (1, 20), (2, 5)],
        [(1, 30), (2, -1), (2, 7)],  # -1 is the poison row
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for uid, amt in rows:
                f.write(json.dumps({"user_id": uid, "amount": amt}) + "\n")

    totals_t = StructType(
        [StructField("n", LongType()), StructField("total", LongType())]
    )

    def fn(key, rec, state):
        if rec["amount"] < 0:
            raise ValueError("negative amount")
        n, total = state.get if state.exists else (0, 0)
        n, total = n + 1, total + rec["amount"]
        state.update((n, total))
        return [{"n": n, "total": total}]

    stream = spark.readStream.schema("user_id long, amount long").json(str(src))
    out = capture_stateful_process(
        stream,
        ["user_id"],
        fn,
        result_type=totals_t,
        state_type=totals_t,
        input_value_col="amount",
    )
    sink = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sink.awaitTermination(120)
    rows = spark.sql("SELECT * FROM running_totals").collect()

    # last forwarded running totals per user == batch aggregate over good rows
    last = {}
    for r in rows:
        if r["result"] is not None:
            cur = last.get(r["user_id"])
            if cur is None or r["result"]["n"] > cur["n"]:
                last[r["user_id"]] = r["result"]
    good = [(u, a) for b in batches for u, a in b if a >= 0]
    import collections

    expect = collections.defaultdict(lambda: [0, 0])
    for u, a in good:
        expect[u][0] += 1
        expect[u][1] += a
    assert {u: (v["n"], v["total"]) for u, v in last.items()} == {
        u: tuple(v) for u, v in expect.items()
    }
    # the poison row surfaced as a captured error, not a crash
    errs = [r for r in rows if r["error"] is not None]
    assert len(errs) == 1 and errs[0]["user_id"] == 2
    assert errs[0]["error"]["error_class"] == "ValueError"


def _run_stateful(spark, tmp_path, lines, fn, **kwargs):
    """Drain ``lines`` (JSON, schema ``key int, value string``) through
    ``capture_stateful_process`` keyed by ``key``; the output rows."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text("".join(line + "\n" for line in lines))
    stream = spark.readStream.schema("key int, value string").json(str(src))
    out = capture_stateful_process(stream, ["key"], fn, RESULT_T, STATE_T, **kwargs)
    rows = []
    q = (
        out.writeStream.foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return rows


def test_stateful_recoverable_error_fails_the_query(spark, tmp_path):
    """The shared capture policy re-raises what ``is_recoverable`` accepts:
    the query fails instead of routing the record to the error column."""
    from pyspark.errors import StreamingQueryException

    def fn(key, rec, state):
        raise ConnectionError("broker gone")

    with pytest.raises(StreamingQueryException, match="ConnectionError"):
        _run_stateful(spark, tmp_path, ['{"key": 1, "value": "a"}'], fn)


def test_stateful_input_value_defaults_to_the_whole_row(spark, tmp_path):
    def fn(key, rec, state):
        raise ValueError("bad")

    rows = _run_stateful(spark, tmp_path, ['{"key": 7, "value": "POISON"}'], fn)
    assert len(rows) == 1 and rows[0].result is None
    rendered = rows[0].error.input_value
    assert "'key': 7" in rendered and "'value': 'POISON'" in rendered


def test_stateful_generator_failure_is_that_records_error(spark, tmp_path):
    """Forwards are listed inside the per-record loop: an exception raised
    while iterating a generator ``fn`` is captured for that record, and
    its partial forwards are dropped."""

    def fn(key, rec, state):
        yield {"value": rec["value"], "running_count": 1}
        if rec["value"] == "POISON":
            raise ValueError("mid-iteration")

    rows = _run_stateful(
        spark, tmp_path,
        ['{"key": 1, "value": "a"}', '{"key": 2, "value": "POISON"}'],
        fn, input_value_col="value",
    )
    ok = [(r.key, r.result.value) for r in rows if r.error is None]
    errs = [(r.key, r.error.error_class, r.error.input_value) for r in rows if r.error is not None]
    assert ok == [(1, "a")]
    assert errs == [(2, "ValueError", "POISON")]
    assert all(r.result is None for r in rows if r.error is not None)

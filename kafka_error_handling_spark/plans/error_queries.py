"""Correctness-gate queries exercising the error-handling decorator matrix.

Each query runs the real Arrow-batched capture path (one ``arrow_udf``
around the shared per-record loop) with a
*deterministically* failing user function, so a plain-SQL oracle can
predict exactly which rows land in the success branch vs the
dead-letter branch — this is how the engine's novel semantics (SURVEY.md
§2.1-2.4) get oracle-checked, not just unit-tested.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from ..operators import (
    capture_flat_map_values_with_key,
    capture_map_values,
    errors,
    log_map_values_with_key,
    values,
)
from ..functions.dead_letter import dead_letters


from ..sources.files import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _parse_rate(v: str) -> float:
    # fails with ZeroDivisionError when props.k == 0
    return 100.0 / json.loads(v)["k"]


def q_capture_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors success branch (ErrorCapturingValueMapper semantics)."""
    p = capture_map_values(_events(spark, sf_dir), _parse_rate, DoubleType(), value_col="props")
    return values(p).select(
        "event_id", F.round("result", 4).alias("rate")
    )


SQL_CAPTURE_SUCCESS = """
SELECT event_id, round(100.0 / CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT), 4) AS rate
FROM events
WHERE CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) <> 0
"""


def q_capture_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors dead-letter branch with DeadLetterProcessor formatting —
    deterministic DLQ fields only (stack traces / wall-clock are asserted in
    pytest, not hashable by an oracle)."""
    p = capture_map_values(_events(spark, sf_dir), _parse_rate, DoubleType(), value_col="props")
    dlq = dead_letters(
        errors(p),
        "rate pipeline",
        key_cols=["event_id"],
        timestamp_col="ts",
    )
    return dlq.select(
        "event_id",
        F.col("dead_letter.description").alias("description"),
        F.col("dead_letter.input_value").alias("input_value"),
        F.col("dead_letter.cause.error_class").alias("error_class"),
        F.col("dead_letter.cause.message").alias("message"),
        F.date_format("dead_letter.input_timestamp", "yyyy-MM-dd HH:mm:ss").alias("input_ts"),
    )


SQL_CAPTURE_DLQ = """
SELECT event_id,
       'rate pipeline' AS description,
       props AS input_value,
       'ZeroDivisionError' AS error_class,
       'float division by zero' AS message,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS input_ts
FROM events
WHERE CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) = 0
"""


def _tokenize_checked(doc_id: int, text: str):
    # deterministic failure: docs whose text length is divisible by 13
    if len(text) % 13 == 0:
        raise ValueError(f"unlucky length {len(text)}")
    return text.split(" ")


def q_capture_flat_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors over the flatMapValues shape: success tokens exploded,
    error docs routed out (ErrorCapturingFlatValueMapperWithKey semantics)."""
    p = capture_flat_map_values_with_key(
        _documents(spark, sf_dir),
        _tokenize_checked,
        StringType(),
        key_col="doc_id",
        value_col="text",
    )
    ok = values(p)
    return ok.groupBy("doc_id").agg(
        F.count("result").alias("n_tokens"),
        F.count(F.when(F.col("result") == "the", 1)).alias("n_the"),
    )


SQL_CAPTURE_FLAT_TOKENS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_filter(string_split(text, ' '), t -> t = 'the')) AS n_the
FROM documents
WHERE length(text) % 13 <> 0
"""


def q_capture_flat_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error branch of the flat shape: old key (doc_id) preserved."""
    p = capture_flat_map_values_with_key(
        _documents(spark, sf_dir),
        _tokenize_checked,
        StringType(),
        key_col="doc_id",
        value_col="text",
    )
    return errors(p).select(
        "doc_id",
        F.col("error.error_class").alias("error_class"),
        F.col("error.message").alias("message"),
    )


SQL_CAPTURE_FLAT_ERRORS = """
SELECT doc_id,
       'ValueError' AS error_class,
       concat('unlucky length ', CAST(length(text) AS VARCHAR)) AS message
FROM documents
WHERE length(text) % 13 = 0
"""


def _double_unless_error(event_type: str, value: float) -> float:
    if event_type == "error":
        raise RuntimeError("synthetic failure event")
    return value * 2.0


def q_log_and_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logErrors semantics: failing records logged and dropped; the output
    contains only successes (ErrorLoggingValueMapperWithKey)."""
    out = log_map_values_with_key(
        _events(spark, sf_dir),
        _double_unless_error,
        DoubleType(),
        key_col="event_type",
        value_col="value",
        observe=False,
    )
    return out.select("event_id", F.round("result", 4).alias("doubled"))


SQL_LOG_AND_DROP = """
SELECT event_id, round(value * 2.0, 4) AS doubled
FROM events
WHERE event_type <> 'error'
"""


QUERIES = {
    "capture_map_values_success": (q_capture_success, SQL_CAPTURE_SUCCESS),
    "capture_map_values_dlq": (q_capture_dlq, SQL_CAPTURE_DLQ),
    "capture_flat_map_tokens": (q_capture_flat_tokens, SQL_CAPTURE_FLAT_TOKENS),
    "capture_flat_map_errors": (q_capture_flat_errors, SQL_CAPTURE_FLAT_ERRORS),
    "log_errors_drop": (q_log_and_drop, SQL_LOG_AND_DROP),
}


def _rekey(user_id: int, value: float):
    # key-changing mapper: fails on negative-ish values (deterministic)
    if value < 1.0:
        raise ValueError("value too small")
    return (user_id % 10, value * 2.0)


def q_capture_map_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors over the key-changing map shape
    (ErrorCapturingKeyValueMapper): success rows carry the new key, error
    rows keep the old key with a NULL new key."""
    from pyspark.sql.types import DoubleType, IntegerType

    from ..operators import capture_map

    e = _events(spark, sf_dir)
    p = capture_map(
        e, _rekey, IntegerType(), DoubleType(), key_col="user_id", value_col="value"
    )
    ok = values(p).select(
        "event_id",
        F.col("result.key").alias("new_key"),
        F.round("result.value", 4).alias("new_value"),
    )
    errs = errors(p).select(
        "event_id",
        F.lit(None).cast("int").alias("new_key"),
        F.lit(None).cast("double").alias("new_value"),
    )
    return ok.unionByName(errs)


SQL_CAPTURE_MAP_REKEY = """
SELECT event_id,
       CASE WHEN value >= 1.0 THEN CAST(user_id % 10 AS INT) END AS new_key,
       CASE WHEN value >= 1.0 THEN round(value * 2.0, 4) END AS new_value
FROM events
"""


def _fanout_processor(rec: dict):
    # one forward per started 100-unit chunk of value (>=1), each numbered
    n = max(1, int(rec["value"] // 100) + 1)
    return [{"chunk": i, "event_id2": rec["event_id"]} for i in range(n)]


def q_capture_process_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors over the multi-forward process shape
    (ErrorCapturingProcessor; its forwards are exploded in the JVM): 1..n
    forwards per record."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..operators import capture_process

    e = _events(spark, sf_dir).select("event_id", "value")
    p = capture_process(
        e,
        _fanout_processor,
        StructType(
            [
                StructField("chunk", IntegerType()),
                StructField("event_id2", LongType()),
            ]
        ),
    )
    return (
        p.filter(F.col("error").isNull())
        .select("event_id", F.col("result.chunk").alias("chunk"))
    )


SQL_CAPTURE_PROCESS_FANOUT = """
SELECT event_id, CAST(unnest(range(greatest(1, CAST(floor(value / 100) AS BIGINT) + 1))) AS INT) AS chunk
FROM events
"""


QUERIES["capture_map_rekey"] = (q_capture_map_rekey, SQL_CAPTURE_MAP_REKEY)
QUERIES["capture_process_fanout"] = (q_capture_process_fanout, SQL_CAPTURE_PROCESS_FANOUT)


def _sqrt_value(v: float) -> float:
    return abs(v) ** 0.5


def q_describe_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describeErrors is type-transparent (SURVEY.md §2.3): on the success
    path the wrapped mapper's results flow through IDENTICALLY to an
    unwrapped map — this query pins that contract (the enriched-rethrow
    path is asserted in pytest; a crash cannot be oracle-hashed)."""
    from ..operators import describe_map_values

    e = _events(spark, sf_dir)
    out = describe_map_values(e, _sqrt_value, DoubleType(), value_col="value")
    return out.select("event_id", F.round("result", 4).alias("sqrt_value"))


SQL_DESCRIBE_PASSTHROUGH = """
SELECT event_id, round(sqrt(abs(value)), 4) AS sqrt_value
FROM events
"""


def _gated_forwarder(rec: dict):
    # processValues shape: 0..n value forwards per record; fails on 'error'
    if rec["event_type"] == "error":
        raise RuntimeError("bad event")
    if rec["value"] > 100.0:
        return [rec["value"] * 2.0, rec["value"] * 3.0]
    return []


def q_capture_process_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """captureErrors over the fixed-key processValues shape
    (ErrorCapturingValueProcessor): multi-forward successes + error rows
    with NULL result, key columns passed through unchanged."""
    from ..operators import capture_process_values

    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    p = capture_process_values(
        e,
        _gated_forwarder,
        DoubleType(),
        pass_through=["event_id"],
        input_value_col="value",
    )
    return p.select(
        "event_id",
        F.round(F.col("result"), 4).alias("forwarded"),
        F.col("error.error_class").alias("error_class"),
    )


SQL_CAPTURE_PROCESS_VALUES = """
SELECT event_id, round(f, 4) AS forwarded, NULL AS error_class
FROM (
  SELECT event_id, unnest([value * 2.0, value * 3.0]) AS f
  FROM events WHERE event_type <> 'error' AND value > 100.0
)
UNION ALL
SELECT event_id, NULL AS forwarded, 'RuntimeError' AS error_class
FROM events WHERE event_type = 'error'
"""


def _value_band(v: float):
    # struct-result mapper: the ErrorDescribingKeyValueMapper parity shape,
    # returned as a dict — gate-pinned here, not just pytest
    return {"lo": round(v * 0.9, 4), "hi": round(v * 1.1, 4)}


def q_describe_struct_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describeErrors with a struct<lo,hi> result type: the success path
    must emit the struct fields exactly (type-transparent contract over a
    composite result — the shared builder in `operators/loop.py` takes
    dict or tuple struct results)."""
    from pyspark.sql.types import StructField, StructType

    from ..operators import describe_map_values

    e = _events(spark, sf_dir)
    band = StructType(
        [StructField("lo", DoubleType()), StructField("hi", DoubleType())]
    )
    out = describe_map_values(e, _value_band, band, value_col="value")
    return out.select(
        "event_id",
        F.col("result.lo").alias("band_lo"),
        F.col("result.hi").alias("band_hi"),
    )


SQL_DESCRIBE_STRUCT = """
SELECT event_id,
       round(value * 0.9, 4) AS band_lo,
       round(value * 1.1, 4) AS band_hi
FROM events
"""


QUERIES["describe_passthrough"] = (q_describe_passthrough, SQL_DESCRIBE_PASSTHROUGH)
QUERIES["describe_struct_result"] = (q_describe_struct_result, SQL_DESCRIBE_STRUCT)
QUERIES["capture_process_values"] = (q_capture_process_values, SQL_CAPTURE_PROCESS_VALUES)


def q_serde_json_captured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level deserialization capture (SURVEY.md §3.3): every 7th
    props payload is truncated into invalid JSON; the PERMISSIVE parse
    routes those to the error branch while good rows parse — all inside
    whole-stage codegen (test_serde_capture.py pins the no-Python plan)."""
    from ..sources.serde import from_json_captured

    e = _events(spark, sf_dir).withColumn(
        "payload",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    p = from_json_captured(e, "payload", "k int")
    return p.select(
        "event_id",
        F.col("r.result.k").alias("k"),
        F.col("r.error.error_class").alias("error_class"),
    )


SQL_SERDE_JSON = """
SELECT event_id,
       CASE WHEN event_id % 7 <> 0
            THEN CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) END AS k,
       CASE WHEN event_id % 7 = 0 THEN 'JsonParseError' END AS error_class
FROM events
"""


QUERIES["serde_json_captured"] = (q_serde_json_captured, SQL_SERDE_JSON)


def q_error_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ErrorHeaderProcessor semantics (__streams.errors.* headers): the
    error branch gets the header array attached and exploded to
    (key, value) pairs — deterministic headers only (stack trace is
    asserted in pytest)."""
    from ..functions.headers import with_error_headers

    p = capture_map_values(
        _events(spark, sf_dir), _parse_rate, DoubleType(), value_col="props"
    )
    errs = errors(p)
    h = with_error_headers(errs, "rate pipeline")
    return (
        h.select("event_id", F.explode("headers").alias("hh"))
        .select(
            "event_id",
            F.col("hh.key").alias("header_key"),
            F.decode("hh.value", "UTF-8").alias("header_value"),
        )
        .filter(F.col("header_key") != "__streams.errors.exception.stack_trace")
    )


SQL_ERROR_HEADERS = """
SELECT event_id, h.k AS header_key, h.v AS header_value
FROM events,
     (SELECT * FROM (VALUES
        ('__streams.errors.topic', NULL),
        ('__streams.errors.partition', NULL),
        ('__streams.errors.offset', NULL),
        ('__streams.errors.description', 'rate pipeline'),
        ('__streams.errors.exception.class.name', 'ZeroDivisionError'),
        ('__streams.errors.exception.message', 'float division by zero')
     ) AS t(k, v)) h
WHERE CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) = 0
"""


QUERIES["error_headers"] = (q_error_headers, SQL_ERROR_HEADERS)


def _parse_rate_v1(v: str) -> float:
    # the "buggy deployment": crashes on k == 0 (ZeroDivisionError) AND
    # spuriously rejects multiples of 7 (the bug the v2 replay fixes)
    k = json.loads(v)["k"]
    if k != 0 and k % 7 == 0:
        raise ValueError(f"blocked k {k}")
    return 100.0 / k


def _parse_rate_v2(v: str) -> float:
    # the "fixed deployment" a DLQ consumer replays with: the k % 7
    # rejection is gone; k == 0 records are genuinely unprocessable
    return 100.0 / json.loads(v)["k"]


def q_dlq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter replay lifecycle: capture with a buggy v1, format the
    DLQ (DeadLetterProcessor), then reprocess each dead letter's
    ``input_value`` with the fixed v2 (``replay_dead_letters``).  The
    consumer is ONE sum-type projection — recovered rows carry the new
    result, still-dead rows a NULL — so the replay UDF runs exactly once
    per dead letter (no branch-split recompute)."""
    from ..functions.dead_letter import replay_dead_letters

    ev = _events(spark, sf_dir)
    p1 = capture_map_values(ev, _parse_rate_v1, DoubleType(), value_col="props")
    dlq = dead_letters(
        errors(p1), "rate pipeline v1", key_cols=["event_id"], timestamp_col="ts"
    )
    p2 = replay_dead_letters(dlq, _parse_rate_v2, DoubleType())
    r = F.col("r")
    return p2.select(
        "event_id",
        F.when(r["error"].isNull(), F.lit("recovered"))
        .otherwise(F.lit("dead"))
        .alias("replay_status"),
        F.round(r["result"], 4).alias("rate"),
    )


SQL_DLQ_REPLAY = """
SELECT event_id,
       CASE WHEN k = 0 THEN 'dead' ELSE 'recovered' END AS replay_status,
       CASE WHEN k <> 0 THEN round(100.0 / k, 4) END AS rate
FROM (SELECT event_id, CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) AS k
      FROM events)
WHERE k = 0 OR k % 7 = 0
"""


QUERIES["dlq_replay"] = (q_dlq_replay, SQL_DLQ_REPLAY)


def q_dlq_age_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ operational aging report — the dashboard a dead-letter topic's
    on-call reads: dead letters bucketed by exception class x age, with the
    id range for triage.  The reference leaves DLQ *consumption* to the
    operator (its processors only produce the topic,
    ``DeadLetterProcessor.java:77-111``); this is the first artifact any
    consumer builds.

    Age is measured against the newest event timestamp in the corpus (NOT
    wall clock — deterministic and replayable), in whole days via integer
    microsecond floor division (cross-engine exact; a double cast would
    round on one engine and truncate on the other, SURVEY round-4 notes).
    One aggregate over the error branch; the corpus max-ts scalar rides
    along as a broadcast 1-row frame.
    """
    ev = _events(spark, sf_dir)
    p1 = capture_map_values(ev, _parse_rate_v1, DoubleType(), value_col="props")
    dlq = dead_letters(
        errors(p1), "rate pipeline v1", key_cols=["event_id"], timestamp_col="ts"
    )
    mx = ev.select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    ).agg(F.max("us").alias("max_us"))
    aged = dlq.crossJoin(F.broadcast(mx)).select(
        F.col("dead_letter.cause.error_class").alias("error_class"),
        "event_id",
        F.expr(
            "(max_us - unix_micros(CAST(dead_letter.input_timestamp AS TIMESTAMP)))"
            " DIV 86400000000"
        ).alias("age_days"),
    )
    bucket = (
        F.when(F.col("age_days") < 7, F.lit("0-6d"))
        .when(F.col("age_days") < 30, F.lit("7-29d"))
        .otherwise(F.lit("30d+"))
    )
    return (
        aged.select("error_class", bucket.alias("age_bucket"), "event_id")
        .groupBy("error_class", "age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_dead"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


SQL_DLQ_AGE_REPORT = """
WITH dead AS (
  SELECT event_id, ts,
         CASE WHEN k = 0 THEN 'ZeroDivisionError' ELSE 'ValueError' END
           AS error_class,
         (epoch_us((SELECT max(ts) FROM events)) - epoch_us(ts))
           // 86400000000 AS age_days
  FROM (SELECT event_id, ts,
               CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) AS k
        FROM events)
  WHERE k = 0 OR (k <> 0 AND k % 7 = 0)
)
SELECT error_class,
       CASE WHEN age_days < 7 THEN '0-6d'
            WHEN age_days < 30 THEN '7-29d'
            ELSE '30d+' END AS age_bucket,
       count(*) AS n_dead,
       min(event_id) AS first_event_id,
       max(event_id) AS last_event_id
FROM dead
GROUP BY 1, 2
"""

QUERIES["dlq_age_report"] = (q_dlq_age_report, SQL_DLQ_AGE_REPORT)


def q_dlq_poison_causes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-cause leaderboard over the dead-letter stream — the triage
    view a DLQ consumer opens first: dead letters grouped by NORMALIZED
    cause (exception class + message with volatile numbers stripped), so
    ten thousand `blocked k 14`/`blocked k 21` rows collapse into one
    `blocked k <n>` cause with its blast radius (count, id range, share
    of the DLQ in integer ppm).  The normalization is a plain
    regexp_replace — codegen, and identical in both engines.
    """
    ev = _events(spark, sf_dir)
    p1 = capture_map_values(ev, _parse_rate_v1, DoubleType(), value_col="props")
    dlq = dead_letters(
        errors(p1), "rate pipeline v1", key_cols=["event_id"], timestamp_col="ts"
    )
    cause = F.concat(
        F.col("dead_letter.cause.error_class"),
        F.lit(": "),
        F.regexp_replace(
            F.col("dead_letter.cause.message"), "-?\\d+", "<n>"
        ),
    )
    counts = dlq.select(cause.alias("cause"), "event_id").groupBy("cause").agg(
        F.count(F.lit(1)).alias("n_dead"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )
    tot = counts.agg(F.sum("n_dead").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "cause",
        "n_dead",
        "first_event_id",
        "last_event_id",
        F.expr("(n_dead * 1000000) DIV total").alias("share_ppm"),
    )


SQL_DLQ_POISON_CAUSES = """
WITH dead AS (
  SELECT event_id,
         CASE WHEN k = 0 THEN 'ZeroDivisionError: float division by zero'
              ELSE 'ValueError: blocked k <n>' END AS cause
  FROM (SELECT event_id,
               CAST(regexp_extract(props, '(-?\\d+)', 1) AS INT) AS k
        FROM events)
  WHERE k = 0 OR (k <> 0 AND k % 7 = 0)
),
counts AS (
  SELECT cause, count(*) AS n_dead,
         min(event_id) AS first_event_id,
         max(event_id) AS last_event_id
  FROM dead GROUP BY cause
),
tot AS (SELECT CAST(sum(n_dead) AS BIGINT) AS total FROM counts)
SELECT cause, CAST(n_dead AS BIGINT) AS n_dead,
       first_event_id, last_event_id,
       (n_dead * 1000000) // total AS share_ppm
FROM counts CROSS JOIN tot
"""

QUERIES["dlq_poison_causes"] = (q_dlq_poison_causes, SQL_DLQ_POISON_CAUSES)

"""regime.local_frame / regime.forced_regime: driver results re-enter
Spark as Arrow local relations, and regime switches reject unknown
values."""

import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from kafka_error_handling_spark.plans.wire_formats import _FIXTURE_SCHEMA, _FIXTURES
from kafka_error_handling_spark.regime import forced_regime, local_frame

_CC_SCHEMA = StructType(
    [StructField("node", LongType(), False), StructField("comp_id", LongType(), False)]
)

# one (schema, rows) case per schema the package's call sites pass
_SITE_CASES = [
    ("round long, n_nodes long, n_edges long", [(1, 6, 15), (2, 6, 15)]),
    (_CC_SCHEMA, [(1, 1), (2, 1), (50, 50)]),
    ("doc_id long, mmr_rank int, mmr_score double", [(7, 1, 0.5), (3, 2, -0.25)]),
    ("doc_id long", [(3,), (7,)]),
    ("token string, w double", [("alpha", 1.0), ("größe", 1.0)]),
    ("qid int, vec_id long", [(0, 11), (1, 11)]),
    ("qid int, term_idx int, term string", [(0, 0, "a"), (0, 1, "b")]),
    ("predicate string, key string, lo long, hi long", [("date_range", "k2", 1, 9)]),
    (_FIXTURE_SCHEMA, _FIXTURES),
]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_same_frame(got, want):
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


@pytest.mark.parametrize("schema,rows", _SITE_CASES)
def test_local_frame_matches_create_dataframe(spark, schema, rows):
    _assert_same_frame(
        local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
    )


@pytest.mark.parametrize("schema,_rows", _SITE_CASES)
def test_local_frame_empty_input(spark, schema, _rows):
    _assert_same_frame(
        local_frame(spark, [], schema), spark.createDataFrame([], schema)
    )


def test_local_frame_none_values(spark):
    rows = [(1, None, "x"), (None, 2.5, None)]
    ddl = "a long, b double, c string"
    _assert_same_frame(local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl))


def test_local_frame_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="comp_id"):
        local_frame(spark, [(1, None)], _CC_SCHEMA)


def test_local_frame_rejects_non_struct_schema(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [(1,)], "long")


def test_local_frame_collected_rows(spark):
    """Row input from collect(), schema from the collected frame — the
    sampling sites' sketch shape (group key + long sums, one sum row
    unioned under a literal key)."""
    src = spark.createDataFrame(
        [(1, True), (1, False), (2, True), (3, None)], "bucket long, flag boolean"
    )
    sketch = src.groupBy("bucket").agg(
        F.sum(F.col("flag").cast("long")).alias("cnt_a"),
        F.sum((~F.col("flag")).cast("long")).alias("cnt_b"),
    )
    sketch = sketch.unionByName(
        src.agg(
            F.sum(F.col("flag").cast("long")).alias("cnt_a"),
            F.sum((~F.col("flag")).cast("long")).alias("cnt_b"),
        ).select(F.lit(-1).cast("long").alias("bucket"), "cnt_a", "cnt_b")
    )
    rows = sketch.collect()
    got = local_frame(spark, rows, sketch.schema)
    _assert_same_frame(got, spark.createDataFrame(rows, schema=sketch.schema))
    assert sorted(got.collect()) == sorted(rows)


def test_no_create_dataframe_outside_regime():
    """Every package site hands Python rows to Spark through local_frame;
    a raw createDataFrame would bring back the Python-worker identity map."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "kafka_error_handling_spark"
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "regime.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert offenders == []


@pytest.mark.parametrize(
    "raw,want", [("auto", None), (" TRUE ", True), ("False", False)]
)
def test_forced_regime_values(spark, raw, want):
    conf = "spark.keh.test.regime"
    spark.conf.set(conf, raw)
    try:
        assert forced_regime(spark, conf) is want
    finally:
        spark.conf.unset(conf)
    assert forced_regime(spark, conf) is None  # unset reads as auto


def test_kcore_driver_peel_rejects_unknown_value(spark):
    from kafka_error_handling_spark.plans import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    spark.conf.set(G.KCORE_DRIVER_CONF, "flase")
    try:
        with pytest.raises(ValueError, match=G.KCORE_DRIVER_CONF):
            G.kcore_rounds(edges)
    finally:
        spark.conf.unset(G.KCORE_DRIVER_CONF)


def test_minhash_broadcast_signatures_rejects_unknown_value(spark, sf_dir):
    from kafka_error_handling_spark.datapipe import dedup as D

    spark.conf.set(D.SIG_BROADCAST_CONF, "flase")
    try:
        with pytest.raises(ValueError, match=D.SIG_BROADCAST_CONF):
            D.q_dedup_minhash_lsh(spark, sf_dir)
    finally:
        spark.conf.unset(D.SIG_BROADCAST_CONF)


def test_cc_driver_union_find_rejects_unknown_value(spark):
    from kafka_error_handling_spark.plans import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    spark.conf.set(G.CC_DRIVER_UF_CONF, "flase")
    try:
        with pytest.raises(ValueError, match=G.CC_DRIVER_UF_CONF):
            G.connected_components(edges)
    finally:
        spark.conf.unset(G.CC_DRIVER_UF_CONF)

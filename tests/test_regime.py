"""regime.local_frame / regime.bounded_collect / regime.forced_regime:
driver regimes read small frames as Arrow tables through one bounded
probe, their results re-enter Spark as Arrow local relations, every
probe is logged, and regime switches reject unknown values."""

import inspect
import pathlib
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from kafka_error_handling_spark.plans.wire_formats import _FIXTURE_SCHEMA, _FIXTURES
from kafka_error_handling_spark import regime
from kafka_error_handling_spark.regime import bounded_collect, forced_regime, local_frame

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


@pytest.mark.parametrize("n", [0, 3])
def test_bounded_collect_budget_edge(spark, n):
    """``n`` rows fit a budget of ``n`` and ``n + 1`` rows do not;
    ``n=0`` is the empty frame."""

    def frame(rows):
        return spark.createDataFrame(
            [(i, -i) for i in range(rows)], "src long, dst long"
        )

    table = bounded_collect(frame(n), n, "test.edge")
    assert table.schema.names == ["src", "dst"]
    assert table.column("src").to_pylist() == list(range(n))
    assert bounded_collect(frame(n + 1), n, "test.edge") is None
    assert bounded_collect(frame(n), n + 5, "test.edge").num_rows == n


def _tasks_in_group(sc, group):
    """Tasks of every stage of the group's jobs, once the status store
    has seen all of them finish (it is fed asynchronously)."""
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j is not None and j.status == "SUCCEEDED" for j in jobs):
            break
        assert time.time() < deadline, f"jobs of {group} never finished: {jobs}"
        time.sleep(0.1)
    return len(jobs), sum(
        tracker.getStageInfo(s).numTasks for j in jobs for s in j.stageIds
    )


def test_bounded_collect_over_budget_runs_one_task(spark):
    """On a 200-partition frame the over-budget probe keeps take's
    incremental partition scale-up: one job of one task, where
    ``limit(n + 1).toArrow()`` would run all 200 partitions plus a
    single-partition shuffle.  Logging the decision adds no job."""
    sc = spark.sparkContext
    df = spark.range(0, 20_000, 1, 200).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    assert df.rdd.getNumPartitions() == 200
    sc.setJobGroup("test.bounded_collect.over", "over-budget probe")
    try:
        assert bounded_collect(df, 5, "test.over") is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _tasks_in_group(sc, "test.bounded_collect.over") == (1, 1)
    assert regime.DECISIONS[-1] == ("test.over", "distributed", 6, 5)


def test_graph_driver_regimes_log_their_decisions(spark, monkeypatch):
    """Both graph sites log (site, choice, rows_seen, budget): the driver
    choice under the default budget, the distributed one once the
    per-edge price leaves a 1-edge budget — with identical results."""
    from kafka_error_handling_spark.conf import driver_max_result_bytes
    from kafka_error_handling_spark.plans import graph as G

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    budget = driver_max_result_bytes(spark) // G.CC_BYTES_PER_EDGE

    def run():
        start = len(regime.DECISIONS)
        kc = sorted(map(tuple, G.kcore_rounds(edges).collect()))
        cc = sorted(map(tuple, G.connected_components(edges).collect()))
        return kc, cc, regime.DECISIONS[start:]

    kc, cc, log = run()
    assert log == [
        ("graph.kcore_rounds", "driver", 3, budget),
        ("graph.connected_components", "driver", 3, budget),
    ]
    monkeypatch.setattr(G, "CC_BYTES_PER_EDGE", driver_max_result_bytes(spark))
    kc_loop, cc_loop, log = run()
    assert log == [
        ("graph.kcore_rounds", "distributed", 2, 1),
        ("graph.connected_components", "distributed", 2, 1),
    ]
    assert (kc, cc) == (kc_loop, cc_loop)
    assert cc == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)]


@pytest.mark.parametrize("site", ["kcore_rounds", "connected_components"])
def test_graph_driver_regimes_reject_null_ids(spark, site):
    from kafka_error_handling_spark.plans import graph as G

    edges = spark.createDataFrame([(1, 2), (2, None)], "src long, dst long")
    with pytest.raises(ValueError, match="null node id"):
        getattr(G, site)(edges).collect()


def test_graph_driver_regimes_read_edges_only_through_arrow():
    """No pickled-row read is left in the two graph driver regimes: the
    probe is bounded_collect and the read is toArrow()."""
    from kafka_error_handling_spark.plans import graph as G

    funcs = [
        G.kcore_rounds,
        G.connected_components,
        G._driver_edges,
        G._edge_index,
        G._driver_kcore_rows,
        G._driver_components,
    ]
    offenders = [
        f.__name__
        for f in funcs
        if ".take(" in inspect.getsource(f) or ".collect()" in inspect.getsource(f)
    ]
    assert offenders == []


# ---------------------------------------------------------------------------
# Remembered reads: a memoized frame is read into the driver at most once per
# memo entry and budget
# ---------------------------------------------------------------------------


def test_remembered_follows_the_live_entry(tmp_path):
    """``memo.remembered`` computes once per live entry; a value no live
    entry holds (never memoized, stamp changed, cache cleared) computes
    on every call."""
    from kafka_error_handling_spark import memo

    stamp = tmp_path / "input.bin"
    stamp.write_bytes(b"a")
    cache, calls = {}, []

    def build():
        return object()

    def compute():
        calls.append(None)
        return len(calls)

    loose = object()
    assert memo.remembered(loose, "n", compute) == 1
    assert memo.remembered(loose, "n", compute) == 2
    value = memo.stamped_memo(cache, "k", str(stamp), build)
    assert memo.remembered(value, "n", compute) == 3
    assert memo.remembered(value, "n", compute) == 3
    assert memo.remembered(value, "m", compute) == 4  # another name
    stamp.write_bytes(b"bb")  # new stamp: the entry is rebuilt
    fresh = memo.stamped_memo(cache, "k", str(stamp), build)
    assert fresh is not value
    assert memo.remembered(value, "n", compute) == 5  # no longer live
    assert memo.remembered(fresh, "n", compute) == 6
    assert memo.remembered(fresh, "n", compute) == 6
    cache.clear()
    assert memo.remembered(fresh, "n", compute) == 7


def _write_lineitem(sf_dir, n_orders, seed):
    """A two-column lineitem: ``n_orders`` orders of 3-5 of 14 parts, so
    the support-2 co-purchase graph is small and non-empty."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    ok, pk = [], []
    for order in range(n_orders):
        for part in rng.sample(range(1, 15), rng.randint(3, 5)):
            ok.append(order)
            pk.append(part)
    pq.write_table(
        pa.table({"l_orderkey": pa.array(ok, pa.int64()), "l_partkey": pa.array(pk, pa.int64())}),
        f"{sf_dir}/lineitem.parquet",
    )


@pytest.fixture
def memo_edges(spark, tmp_path):
    """``get()`` → the memoized support-2 edge frame of a generated
    lineitem in ``tmp_path``; the memo entries are dropped afterwards."""
    from kafka_error_handling_spark.plans import graph as G

    sf_dir = str(tmp_path)
    _write_lineitem(sf_dir, 40, seed=1)
    yield sf_dir, lambda: G._sig_edges_for(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    G._WEIGHTED_CACHE.pop(key, None)
    G._SIG_EDGES_CACHE.pop(key, None)


def _in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _jobs_of(spark, group, fn):
    """``(fn(), Spark jobs fn ran)``.  The status store is fed in event
    order, so once a sentinel job run after ``fn`` shows in its own group,
    every job of ``fn`` shows in ``group``."""
    sc = spark.sparkContext
    out = _in_group(sc, group, fn)
    _in_group(sc, group + ".end", spark.range(1).count)
    _tasks_in_group(sc, group + ".end")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _loop_results(edges):
    from kafka_error_handling_spark.plans import graph as G

    return (
        _rows(G.kcore_rounds(edges, driver_peel=False)),
        _rows(G.connected_components(edges, broadcast_labels=True)),
    )


def _budget(spark):
    from kafka_error_handling_spark.conf import driver_max_result_bytes
    from kafka_error_handling_spark.plans import graph as G

    return driver_max_result_bytes(spark) // G.CC_BYTES_PER_EDGE


def test_memoized_edges_are_read_once(spark, memo_edges):
    """The first driver-regime read of the memoized edge frame probes and
    reads; every later one — the k-core and CC sites included — runs no
    job, logs one decision per call, and gives the forced loop's results."""
    from kafka_error_handling_spark.plans import graph as G

    _, get = memo_edges
    edges = get()
    assert get() is edges
    start = len(regime.DECISIONS)
    table, first = _jobs_of(spark, "test.remember.first", lambda: G._driver_edges(edges, None, "test.first"))
    assert first >= 2  # the probe and the Arrow read
    again, n_jobs = _jobs_of(spark, "test.remember.again", lambda: G._driver_edges(get(), None, "test.again"))
    assert again is table and n_jobs == 0
    (kc, cc), n_jobs = _jobs_of(
        spark,
        "test.remember.sites",
        lambda: (G.kcore_rounds(get()), G.connected_components(get())),
    )
    assert n_jobs == 0
    assert (_rows(kc), _rows(cc)) == _loop_results(edges)
    n, budget = table.num_rows, _budget(spark)
    assert n > 0
    assert regime.DECISIONS[start:] == [
        ("test.first", "driver", n, budget),
        ("test.again", "driver", n, budget),
        ("graph.kcore_rounds", "driver", n, budget),
        ("graph.connected_components", "driver", n, budget),
    ]


def test_over_budget_outcome_is_remembered(spark, memo_edges, monkeypatch):
    """Under a 1-edge budget the first call probes; the second runs no
    probe job and both sites take the loop, with the loop's results."""
    from kafka_error_handling_spark.conf import driver_max_result_bytes
    from kafka_error_handling_spark.plans import graph as G

    _, get = memo_edges
    want = _loop_results(get())
    monkeypatch.setattr(G, "CC_BYTES_PER_EDGE", driver_max_result_bytes(spark))
    out, first = _jobs_of(spark, "test.over.first", lambda: G._driver_edges(get(), None, "test.o1"))
    assert out is None and first >= 1
    out, again = _jobs_of(spark, "test.over.again", lambda: G._driver_edges(get(), None, "test.o2"))
    assert out is None and again == 0
    assert regime.DECISIONS[-1] == ("test.o2", "distributed", 2, 1)

    def _boom(*a, **k):
        raise AssertionError("driver regime entered over budget")

    monkeypatch.setattr(G, "_driver_kcore_rows", _boom)
    monkeypatch.setattr(G, "_driver_components", _boom)
    start = len(regime.DECISIONS)
    assert (_rows(G.kcore_rounds(get())), _rows(G.connected_components(get()))) == want
    assert regime.DECISIONS[start:] == [
        ("graph.kcore_rounds", "distributed", 2, 1),
        ("graph.connected_components", "distributed", 2, 1),
    ]


def test_a_different_budget_reprobes(spark, memo_edges, monkeypatch):
    from kafka_error_handling_spark.conf import driver_max_result_bytes
    from kafka_error_handling_spark.plans import graph as G

    _, get = memo_edges
    table = G._driver_edges(get(), None, "test.b1")
    n = table.num_rows
    # a budget of exactly n edges: still fits, but was never checked
    monkeypatch.setattr(G, "CC_BYTES_PER_EDGE", driver_max_result_bytes(spark) // n)
    assert _budget(spark) == n
    out, n_jobs = _jobs_of(spark, "test.budget.n", lambda: G._driver_edges(get(), None, "test.b2"))
    assert out.num_rows == n and n_jobs >= 2
    monkeypatch.undo()
    out, n_jobs = _jobs_of(spark, "test.budget.back", lambda: G._driver_edges(get(), None, "test.b3"))
    assert out is table and n_jobs == 0


def test_new_lineitem_stamp_rereads(spark, memo_edges):
    """Rewriting lineitem.parquet rebuilds the memo entry; the driver
    regimes read the new edges and their results follow the new data."""
    from kafka_error_handling_spark.plans import graph as G

    sf_dir, get = memo_edges
    old = get()
    old_results = (_rows(G.kcore_rounds(old)), _rows(G.connected_components(old)))
    old_n = G._driver_edges(old, None, "test.s1").num_rows
    _write_lineitem(sf_dir, 90, seed=2)
    new = get()
    assert new is not old
    table, n_jobs = _jobs_of(spark, "test.stamp.new", lambda: G._driver_edges(new, None, "test.s2"))
    assert n_jobs >= 2 and table.num_rows == new.count() != old_n
    got = (_rows(G.kcore_rounds(new)), _rows(G.connected_components(new)))
    assert got == _loop_results(new) != old_results


def test_forced_regimes_on_a_memoized_frame(spark, memo_edges):
    """Forced false never reads; forced true reads once, with no probe,
    and logs no budget."""
    from kafka_error_handling_spark.plans import graph as G

    _, get = memo_edges
    get()  # builds the memo entry
    start = len(regime.DECISIONS)
    out, n_jobs = _jobs_of(spark, "test.forced.false", lambda: G._driver_edges(get(), False, "test.f"))
    assert out is None and n_jobs == 0
    assert len(regime.DECISIONS) == start
    table, n_jobs = _jobs_of(spark, "test.forced.true", lambda: G._driver_edges(get(), True, "test.t1"))
    assert n_jobs == 1  # the Arrow read alone
    again, n_jobs = _jobs_of(spark, "test.forced.again", lambda: G._driver_edges(get(), True, "test.t2"))
    assert again is table and n_jobs == 0
    n = table.num_rows
    assert regime.DECISIONS[start:] == [("test.t1", "driver", n, None), ("test.t2", "driver", n, None)]
    for conf in (G.KCORE_DRIVER_CONF, G.CC_DRIVER_UF_CONF):
        spark.conf.set(conf, "false")
    try:
        got = (_rows(G.kcore_rounds(get())), _rows(G.connected_components(get())))
    finally:
        for conf in (G.KCORE_DRIVER_CONF, G.CC_DRIVER_UF_CONF):
            spark.conf.unset(conf)
    assert len(regime.DECISIONS) == start + 2
    assert got == _loop_results(get())

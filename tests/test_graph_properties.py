"""Property-based checks of the converged connected-components operator
against a brute-force union-find model, and of the bounded k-core peel
against a per-row peeling model (same one-job-per-example discipline as
test_capture_properties / test_round4_properties).

The operator is the round-7 headline: an iterated fixpoint with
pointer-jumping, a min-neighbor fused init, a broadcast-vs-shuffle
regime switch, and a label-sum convergence test — four moving parts
whose interactions a fixed gate graph cannot fully exercise.  Random
graphs (plus adversarial shapes: long paths for diameter stress, stars,
forests) checked in ALL THREE regimes (broadcast loop, shuffle loop,
numpy driver labeling) pin the full semantic contract: comp_id(v) ==
min node id of v's component, for every node that has at least one
edge.  Ids are drawn as ``int`` and ``long`` columns.
"""

import random

import pytest

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _uf_components(n_nodes, edges):
    """Union-find oracle: {node: min-id of its component} for nodes with
    at least one incident edge (isolated ids never enter the frame —
    the operator's documented domain)."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for a, b in edges:
        touched.add(a)
        touched.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in touched}


def _canonical(edges):
    """Canonical edge list: src < dst, deduped, no self-loops."""
    return sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})


def _kcore_model(edges):
    """Per-row peeling model: (round, n_nodes, n_edges) after each of
    KCORE_ROUNDS rounds of dropping edges with an endpoint of degree <
    KCORE_K."""
    from kafka_error_handling_spark.plans.graph import KCORE_K as k
    from kafka_error_handling_spark.plans.graph import KCORE_ROUNDS as rounds

    cur = list(edges)
    out = []
    for rnd in range(1, rounds + 1):
        deg = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        cur = [(a, b) for a, b in cur if deg[a] >= k and deg[b] >= k]
        out.append((rnd, len({v for e in cur for v in e}), len(cur)))
    return out


def _frame(spark, edges, id_type="long"):
    return spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")


def _run_cc(spark, edges, broadcast_labels, id_type="long"):
    from kafka_error_handling_spark.plans.graph import connected_components

    got = connected_components(
        _frame(spark, edges, id_type), broadcast_labels=broadcast_labels
    )
    return {r["node"]: r["comp_id"] for r in got.collect()}


def _run_kcore(spark, edges, driver_peel, id_type="long"):
    from kafka_error_handling_spark.plans.graph import kcore_rounds

    got = kcore_rounds(_frame(spark, edges, id_type), driver_peel=driver_peel)
    return sorted(map(tuple, got.collect()))


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=19),
        st.integers(min_value=0, max_value=19),
    ),
    min_size=1,
    max_size=40,
)


_id_types = st.sampled_from(["int", "long"])


@_SETTINGS
@given(raw=_edges, bcast=st.sampled_from([True, False, None]), id_type=_id_types)
def test_cc_matches_union_find(spark, raw, bcast, id_type):
    """``bcast=None`` is auto, which on graphs this small is the driver
    regime."""
    edges = _canonical(raw)
    if not edges:
        return  # all self-loops — empty canonical edge set, nothing to label
    want = _uf_components(20, edges)
    got = _run_cc(spark, edges, broadcast_labels=bcast, id_type=id_type)
    assert got == want


@_SETTINGS
@given(
    raw=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=45,
    ),
    driver_peel=st.sampled_from([None, False]),
    id_type=_id_types,
)
def test_kcore_matches_peeling_model(spark, raw, driver_peel, id_type):
    """Dense 10-node graphs, so some examples keep a 4-core; the empty
    graph is in the domain.  ``driver_peel=None`` is auto (the numpy
    driver regime here), ``False`` the distributed loop."""
    edges = _canonical(raw)
    assert _run_kcore(spark, edges, driver_peel, id_type) == _kcore_model(edges)


def test_driver_regimes_on_empty_graph(spark):
    assert _run_cc(spark, [], broadcast_labels=None) == {}
    assert _run_kcore(spark, [], driver_peel=None) == [(1, 0, 0), (2, 0, 0), (3, 0, 0)]


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_driver_regimes_on_long_shuffled_path(spark, id_type):
    """A 5000-node path whose ids are shuffled along it: a label moves
    one hop per round unless pointer jumping shortcuts it, so this is
    the many-rounds case for the driver labeling."""
    n = 5000
    ids = list(range(n))
    random.Random(11).shuffle(ids)
    edges = _canonical(zip(ids, ids[1:]))
    assert _run_cc(spark, edges, None, id_type) == _uf_components(n, edges)
    assert _run_kcore(spark, edges, None, id_type) == _kcore_model(edges)


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_cc_driver_regime_keeps_id_type(spark, id_type):
    from kafka_error_handling_spark.plans.graph import connected_components

    edges = _frame(spark, [(1, 2), (3, 4)], id_type)
    got = connected_components(edges)
    assert [f.dataType for f in got.schema] == [edges.schema["src"].dataType] * 2
    assert sorted(map(tuple, got.collect())) == [(1, 1), (2, 1), (3, 3), (4, 3)]


def test_cc_long_path_converges_in_log_rounds(spark):
    """A 64-node path is the diameter-stress case: plain propagation
    needs ~63 rounds, pointer-jumping O(log n).  max_rounds=16 both
    proves convergence happened via shortcutting AND that the budget
    raise is never hit on the worst natural shape."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _run_cc_bounded(spark, edges, max_rounds=16)
    assert got == {v: 0 for v in range(n)}


def test_cc_two_components_and_star(spark):
    # star centered at 5 (min is leaf 1) + disjoint triangle {10,11,12}
    edges = _canonical([(5, 1), (5, 7), (5, 9), (10, 11), (11, 12), (10, 12)])
    got = _run_cc(spark, edges, broadcast_labels=False)
    assert got == {1: 1, 5: 1, 7: 1, 9: 1, 10: 10, 11: 10, 12: 10}


def test_cc_regimes_agree_on_gate_graph(spark, sf_dir):
    """Broadcast and shuffle regimes must be result-identical on the real
    gate graph (the auto-select must be a pure performance decision)."""
    from kafka_error_handling_spark.plans.graph import (
        _sig_edges_for,
        connected_components,
    )

    e = _sig_edges_for(spark, sf_dir)
    a = connected_components(e, broadcast_labels=True)
    b = connected_components(e, broadcast_labels=False)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b


def _run_cc_bounded(spark, edges, max_rounds):
    from kafka_error_handling_spark.plans.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df, broadcast_labels=True, max_rounds=max_rounds)
    return {r["node"]: r["comp_id"] for r in got.collect()}


def test_cc_round_budget_raises_loudly(spark):
    """max_rounds exhaustion must raise, never return a wrong answer."""
    import pytest

    edges = [(i, i + 1) for i in range(31)]
    with pytest.raises(RuntimeError, match="no fixpoint"):
        _run_cc_bounded(spark, edges, max_rounds=2)

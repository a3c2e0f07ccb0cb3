"""Plan-hygiene gate: no CartesianProduct / row-at-a-time Python UDF.

``tools/plan_lint.py`` lints all 247 registry plans (artifact:
``artifacts/plan_lint.json``); this test keeps a fast cross-family subset in
the pytest loop so a regression (a join losing its broadcast wrap, a
``F.udf`` slipping into a hot path) fails CI before the full lint runs.
"""

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from plan_lint import lint_plan, plan_string  # noqa: E402

# registry-wide totals from the committed artifacts/plan_lint.json
# (sf0.001, dual-sweep lint).  33 Arrow-Python operators = the capture
# family + the two BLAS paths, exactly; 424 shuffle exchanges across 233
# plans (r9: +4 from search_rerank_cross — the reranker re-derives the
# RRF pool's two bounded rank windows + fusion join and adds its own
# ≤20-row rank window; every added exchange moves a candidate-pool-sized
# frame, not a corpus-sized one.  search_mmr_diversify adds 0: its
# corpus-side work runs eagerly inside the greedy rounds and the
# returned k-row frame is literal-backed).
# See test_registry_wide_lint_totals_are_pinned.
# r10: 424 -> 429 — the two semantic-decontamination gates add their
# per-doc argmax window and compare-join shuffles (5 total, all keyed on
# doc_id); arrow-python total unchanged (both are pure column plans).
# r10b: 429 -> 441 — search_query_expansion (8: feedback-term mining,
# per-doc-term tf, df, final per-doc aggregate — every exchange moves a
# bounded pool or a term-filtered stream keyed on doc_id) and
# sample_dsir_importance (4: bucket counts with map-side combine into a
# <=4096-row broadcast table, then the per-doc integer score aggregate);
# arrow-python unchanged (both pure column plans).
# r10c: 441 -> 447 — search_eval_ndcg (6: re-derives the bm25 stats
# aggregate + the hybrid ranker's bounded rank windows, then adds its
# own two ≤2k-row metric aggregates and the single-row IDCG exchange —
# every added exchange moves a bounded pool or a scalar, never the
# corpus); arrow-python unchanged (pure column plan).
# r12: 33 -> 35 — the two DLQ wire-byte gates run the spec encoders as
# Arrow-batched pandas UDFs over the 5-row fixture frame (per-row
# binary encoding is the one legitimately Python-shaped op; the frame
# is a literal, never corpus data).
# r14: 35 -> 43 on 247 plans — the optimization round's guide-§4.2
# conversions, each a deliberate dense-math BLAS batch op replacing an
# interpreted per-pair JVM fold: the semantic decontamination screen
# (+1 text_decontaminate_semantic, +1 _compare), the kNN matmul twin in
# the eval gates (+1 each search_eval_wide/macro/ndcg,
# embedding_label_purity), and the per-bucket near-dup gram matrix
# (+1 each embedding_neardup, embedding_threshold_sweep).  All are
# MapInPandas / grouped-map — no row-at-a-time Python anywhere.
# 43 -> 41 — the two DLQ wire-byte gates (dlq_avro_wire, dlq_proto_wire)
# lose their Arrow-Python node: the spec encoders became Catalyst
# expressions.
# 41 -> 43 — the two gates get their node back: each spec encoder is one
# arrow_udf again, calling the per-record encoder (a Python task costs no
# import-cache rebuild any more, and the Catalyst encoders took 2-5x
# longer to plan).
TOTAL_ARROW_PYTHON_PIN = 43
# r11: 447 -> 480 — search_eval_macro (+25: five topics × the audited
# single-query eval plan, each exchange a bounded pool / scalar, plus
# the 12-row per-query∪macro fold) and sample_quality_classifier
# (+8: the co-partitioned label join's two narrow id exchanges, the
# ≤4097-row sketch agg, the per-doc score agg, and the broadcast-topk
# label join — nothing corpus-wide beyond the per-doc groupBys);
# arrow-python unchanged (both are pure column plans).  +5 more when
# the one-shot barrier moved to localCheckpoint (the sketch/totals
# aggregates over the checkpointed frame plan as real exchanges where
# the collected-local-relation draft folded them) -> 485.
# r12: 485 -> 464 on 242 plans (VERDICT r11 #1/#2) — the batched eval
# engine collapses search_eval_macro 32 -> 10 (one fused scan,
# WindowGroupLimit pools, no subtree inlined twice; search_eval_ndcg
# now 9 as the |Q|=1 face of the same engine), the persist-barrier /
# collected-sketch one-shot selection modes leave
# sample_dsir_importance at 2 and sample_quality_classifier at 4
# (sketch/totals/weights replay a local relation), and the two new
# wire gates add 1 each (the 5-row fixture orderBy).
# r13: 464 -> 481 on 244 plans — corpus_media_funnel drops 2 (the
# full-text digest window became the narrow min-per-digest join-back),
# search_eval_wide adds 14 (the data-driven >50-topic engine: tf/pivot
# hash aggs, df table, pool windows/joins, macro fold — every exchange
# pool-sized or narrow, plan width constant in |topics|), and
# text_bm25_multi adds 5 (the same scorer's batch-labeling face).
TOTAL_SHUFFLES_PIN = 481

# one representative per family; membership frozen for comparability.
# Values = (max_shuffles, max_arrow_python) measured under the pytest
# session conf — a drift tripwire, not a target: a plan that grows a NEW
# shuffle exchange or a NEW Python operator fails here before the bench
# ever notices the slowdown.  A plan that improves (fewer) passes; move
# the pin down when that happens.
LINT_SUBSET = {
    "q3_top_revenue_orders": (1, 0),    # relational join+agg+topk
    "window_topk_orders": (1, 0),       # window functions
    "capture_map_values_dlq": (0, 1),   # error-capture (Arrow UDF path)
    "dedup_minhash_lsh": (2, 0),        # banded LSH join
    "embedding_knn_ivf": (2, 2),        # bucketed ANN
    "text_lm_score": (5, 0),            # bigram-LM token joins
    "graph_pagerank": (0, 0),           # iterative graph (broadcast ranks)
    "sample_stratified_exact": (1, 0),  # sampling windows
    "quality_split_leakage": (2, 0),    # governance join matrix
    "multimodal_ahash": (0, 1),         # binary-column pipeline
    "sketch_hll_estimate": (4, 0),      # sketch registers
    "asof_join_nearest": (1, 0),        # as-of join
    # r13: the data-driven wide-topic eval engine — 15 exchanges under
    # the pytest session conf (AQE's initial plan keeps the final
    # orderBy range exchange the static lint conf folds: 14 there),
    # every one pool-sized or narrow (the tf/pivot hash aggs, the
    # df-table aggregate, the pool windows/joins, the macro fold);
    # plan width constant in |topics|, no object aggs; r14: the dense
    # side scores via the matmul twin (_knn_scores_np) — exactly ONE
    # MapInPandas, shuffle count unchanged
    "search_eval_wide": (15, 1),
    # r13: the batch-labeling face of the same scorer — 5 exchanges
    # (occurrence agg, df x2, stats, top-k window), zero Python
    "text_bm25_multi": (5, 0),
    # r14: reference-LM perplexity tertiles — 6 exchanges under the
    # pytest session conf (uni/bi/vocab count aggs over the hash-split
    # reference slice, the two scoring joins' per-doc agg, the
    # per-language ntile window), zero Python
    "text_ccnet_buckets": (6, 0),
}


def test_lint_detects_red_nodes():
    fake = (
        "== Physical Plan ==\n"
        "(1) CartesianProduct\n\n"
        "(2) BatchEvalPython\n\n"
        "(3) Project [codegen id : 1]\n"
    )
    res = lint_plan(fake)
    assert res["red"] == ["BatchEvalPython", "CartesianProduct"]


def test_lint_clean_plan_counts():
    fake = (
        "== Physical Plan ==\n"
        "(1) Scan parquet \n"
        "Location: InMemoryFileIndex [file:/x]\n"
        "PushedFilters: [IsNotNull(a)]\n"
        "ReadSchema: struct<a:int>\n\n"
        "(2) Exchange\n\n"
        "(3) BroadcastExchange\n\n"
        "(4) ArrowEvalPython [codegen id : 2]\n"
    )
    res = lint_plan(fake)
    assert res["red"] == []
    assert res["shuffles"] == 1
    assert res["broadcasts"] == 1
    assert res["scans_pushed"] == 1
    assert res["arrow_python"] == 1


@pytest.mark.parametrize("name", sorted(LINT_SUBSET))
def test_registry_plan_is_clean(spark, sf_dir, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_dir)
    res = lint_plan(plan_string(df))
    assert res["red"] == [], f"{name}: {res['red']}"
    max_shuffles, max_arrow = LINT_SUBSET[name]
    assert res["shuffles"] <= max_shuffles, (
        f"{name}: plan grew a shuffle ({res['shuffles']} > {max_shuffles})"
    )
    assert res["arrow_python"] <= max_arrow, (
        f"{name}: plan grew a Python operator"
        f" ({res['arrow_python']} > {max_arrow})"
    )


def test_sweeps_closing_gate_covers_whole_registry():
    """VERDICT r9 #2: the registry-wide perturbation sweeps must run on
    the FINAL tree — r9's strategy sweeps ran at 232 queries before the
    last operator landed.  ``tools/run_sweeps.py`` records its counts in
    ``artifacts/sweeps.json``; this pin fails when any sweep is missing, red,
    or was run against a smaller registry than the live one (the same
    stale-artifact forcing function as plan_lint.json)."""
    import json

    import __spark_entry__ as entrymod
    from run_sweeps import SWEEPS

    path = os.path.join(_REPO, "artifacts", "sweeps.json")
    assert os.path.exists(path), "run tools/run_sweeps.py to generate the artifact"
    data = json.load(open(path))
    live_n = len(entrymod.queries())
    missing = sorted(set(SWEEPS) - set(data.get("sweeps", {})))
    assert not missing, f"sweeps never run: {missing}"
    for name, row in data["sweeps"].items():
        assert row["fail"] == 0, f"sweep {name} has {row['fail']} failures"
        assert row["ok"] == live_n, (
            f"sweep {name} covered {row['ok']} of {live_n} registry queries "
            "— re-run tools/run_sweeps.py on the final tree"
        )


def test_registry_wide_lint_totals_are_pinned():
    """VERDICT r6 item 5: the registry-WIDE lint totals, not just the
    12-query subset, gate CI.  Reads the committed ``artifacts/plan_lint.json``
    artifact; a new query that silently adds a CartesianProduct or a
    row-at-a-time Python eval changes these totals and fails here before
    the next manual sweep.  The artifact must match the CURRENT registry
    size — adding a query without re-running ``tools/plan_lint.py``
    fails loudly instead of pinning stale totals."""
    import json

    import __spark_entry__ as entrymod

    path = os.path.join(_REPO, "artifacts", "plan_lint.json")
    assert os.path.exists(path), "run tools/plan_lint.py to regenerate the artifact"
    data = json.load(open(path))
    s = data["summary"]
    assert s["queries"] == len(entrymod.queries()), (
        "plan_lint.json is stale: re-run tools/plan_lint.py "
        f"({s['queries']} linted vs {len(entrymod.queries())} registered)"
    )
    assert s["red_flagged"] == 0
    assert s["errors"] == 0
    assert s.get("red_nobcast_flagged", 0) == 0
    # Arrow-batched Python operators: EXACT pin — Python belongs only in
    # the capture family + the dense-math paths; a new one is a design
    # decision, not drift.  Move the pin consciously when that happens.
    assert s["total_arrow_python"] == TOTAL_ARROW_PYTHON_PIN, (
        f"arrow_python total moved: {s['total_arrow_python']} != "
        f"{TOTAL_ARROW_PYTHON_PIN} — a Python operator entered/left a plan"
    )
    # shuffle total: ±10% band — individual plans legitimately drift a
    # shuffle as stats change; a broad regression (or a registry-wide
    # improvement worth re-pinning) leaves the band.
    lo, hi = int(TOTAL_SHUFFLES_PIN * 0.9), int(TOTAL_SHUFFLES_PIN * 1.1)
    assert lo <= s["total_shuffles"] <= hi, (
        f"shuffle total {s['total_shuffles']} outside [{lo}, {hi}]"
    )

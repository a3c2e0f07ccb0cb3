"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Also measures the engine's self-defined baseline (BASELINE.md): capture-
wrapped transform vs identical unwrapped transform — the reference's whole
performance story is "decorator overhead ≈ 0"; ours is the wrapped/unwrapped
ratio at sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# FROZEN 30-query basket (VERDICT r3 #9): `value`/`headline_total` is the
# sum over exactly these, so the headline number stays comparable across
# rounds as the full sweep keeps growing.  Do NOT edit this list — new
# queries are timed automatically (the timed set is the whole registry,
# VERDICT r8 #2) and count toward `full_total` only.
HEADLINE_BASKET = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_revenue_by_nation",
    "window_topk_orders",
    "window_running_sum",
    "event_time_windows",
    "capture_map_values_success",
    "capture_map_values_dlq",
    "log_errors_drop",
    "capture_flat_map_tokens",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "corpus_curation",
    "text_quality",
    "embedding_knn",
    "embedding_knn_arrow",
    "embedding_knn_ivf",
    "serde_json_captured",
    "asof_join_last_purchase",
    "q14_promo_revenue",
    "q18_large_volume_orders",
    "salted_join_agg",
    "corpus_pipeline",
    "q2_min_cost_supplier",
    "text_bm25_topk",
    "embedding_knn_int8",
    "text_lm_score",
    "embedding_kmeans",
    "embedding_semdedup",
]


def timed_names(qs: dict) -> list[str]:
    """Timed set = the WHOLE registry (VERDICT r8 #2): the hand-maintained
    HEADLINE+EXTENDED lists silently stopped at 162 of 231 queries, so a
    perf regression in the other 69 had no tripwire.  Registry order; the
    frozen 30-query basket above stays the cross-round headline number.
    ``tests/test_bench_contract.py`` pins timed-set == registry."""
    return list(qs)


def _overhead_pair(spark, timings):
    """BASELINE.md metric: capture-wrapped transform vs identical unwrapped
    transform on events (the reference's whole perf story is 'decorator
    overhead ≈ 0'; ours is this ratio).

    The events table is replicated OVERHEAD_REP× (identically on both legs)
    so each leg runs multiple seconds even on the slower driver machine:
    with sub-second legs the ratio measured constant per-query costs (plan
    build, session overhead), not the capture loop — that is why the driver
    ratio sat at 1.73-1.79× across r2/r3 while local min-of-3 showed
    1.21-1.38× (VERDICT r3 #2).

    Each replica is prefixed with _rep spaces (JSON-whitespace, parse cost
    unchanged) so the replicated rows are a real function of the explode
    output: the capture udf is nondeterministic BY SPEC (no-recompute
    invariant) and must run post-explode, but a deterministic baseline udf
    over verbatim copies gets hoisted ABOVE the Generate by Catalyst and
    processes 8× fewer rows — which is exactly what the r2/r3 pair silently
    measured once the explode was added locally.  Distinct rows pin both
    legs to the same row count."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from kafka_error_handling_spark import capture_map_values, values
    from kafka_error_handling_spark.sources.files import load_table

    # REP=8 gave 1.5/1.8s legs on the r4 driver machine; the r4 verdict
    # asks for BOTH legs >2s so the ratio measures only the capture loop
    # (per-query constants amortize out) — 12 replicas ≈ 2.3/2.7s legs
    OVERHEAD_REP = 12

    def rate(v):
        return 100.0 / _json.loads(v)["k"]

    events = (
        load_table(spark, SF_DIR, "events")
        .select("props")
        .withColumn("_rep", F.explode(F.sequence(F.lit(1), F.lit(OVERHEAD_REP))))
        .select(
            F.concat(F.expr("repeat(' ', _rep)"), F.col("props")).alias("props")
        )
    )

    @pandas_udf(DoubleType())
    def plain_udf(s: pd.Series) -> pd.Series:
        # .tolist() iteration, same as the capture hot loop — the baseline
        # should differ only in the capture machinery, not loop style
        out = []
        for v in s.tolist():
            try:
                out.append(rate(v))
            except Exception:
                out.append(None)
        return pd.Series(out)

    def _min2(fn):
        # the wrapped/unwrapped ratio is the engine's headline overhead
        # number — warm once (python-worker + Arrow setup for THIS udf
        # instance is not the quantity under test) then min of three runs
        fn()
        best = None
        for _ in range(3):
            t0 = _time.time()
            fn()
            t = _time.time() - t0
            best = t if best is None else min(best, t)
        return round(best, 3)

    timings["events_transform_unwrapped"] = _min2(
        lambda: events.select(plain_udf(F.col("props")).alias("r"))
        .filter(F.col("r").isNotNull())
        .count()
    )
    timings["events_transform_capture_wrapped"] = _min2(
        lambda: values(
            capture_map_values(events, rate, DoubleType(), value_col="props")
        ).count()
    )


# the paths whose content determines micro-basket timing — the calibration
# fingerprint hashes exactly these (artifact-only commits like the driver's
# round stamp leave them unchanged, so the stamp commit and the final
# builder commit fingerprint identically)
_CODE_PATHS = ("kafka_error_handling_spark", "tools", "bench.py")


def _code_fingerprint(root: str, rev: str) -> str:
    """Joined git object ids of :data:`_CODE_PATHS` at ``rev`` — equal
    fingerprints ⇔ identical timing-relevant code, even across commits
    that only add artifacts (BENCH/VERDICT/CORRECTNESS files)."""
    import subprocess

    ids = []
    for p in _CODE_PATHS:
        out = subprocess.run(
            ["git", "rev-parse", f"{rev}:{p}"],
            cwd=root, capture_output=True, text=True, timeout=30,
        )
        ids.append(out.stdout.strip()[:12] if out.returncode == 0 else "missing")
    return "-".join(ids)


def _tree_fingerprint(root: str) -> str:
    """:func:`_code_fingerprint` of HEAD, suffixed ``+dirty`` when the
    working tree changes :data:`_CODE_PATHS` — the code a run measured."""
    import subprocess

    status = subprocess.run(
        ["git", "status", "--porcelain", "--"] + list(_CODE_PATHS),
        cwd=root, capture_output=True, text=True, timeout=30,
    ).stdout.strip()
    return _code_fingerprint(root, "HEAD") + ("+dirty" if status else "")


def _newest_matching_record(paths: list, prev_tree: str):
    """Scan BENCH_r*.json newest-first for a calibration record whose code
    fingerprint matches ``prev_tree``.

    Returns ``(record, skipped)`` where ``record`` is
    ``(basename, total_s, match_kind)`` or None, and ``skipped`` lists the
    newer records passed over because their fingerprint mismatched — a
    mismatching NEWER record is expected when an older commit is re-timed,
    so the scan continues to older files instead of giving up on the first
    mismatch (ADVICE r9).  A record with no fingerprint (bootstrap rounds
    ≤ r8) is accepted as ``assumed-legacy-record``."""
    skipped = []
    for path in paths:
        try:
            parsed = json.load(open(path)).get("parsed") or {}
            block = parsed.get("calibration") or {}
            rec = block.get("current_total_s")
        except Exception:
            continue
        if not rec:
            continue
        rec_tree = block.get("current_code_tree")
        if rec_tree is not None and rec_tree != prev_tree:
            skipped.append(f"{os.path.basename(path)}:{rec_tree[:20]}..")
            continue
        kind = (
            "code-tree-verified" if rec_tree is not None
            else "assumed-legacy-record"
        )
        return (os.path.basename(path), rec, kind), skipped
    return None, skipped


def _calibration() -> dict | None:
    """Cross-commit host-drift calibration (VERDICT r7 #6), automatic.

    Re-times the frozen 3-query micro-basket (tools/calib_basket.py)
    twice in fresh subprocess JVMs: once from the PREVIOUS round's commit
    (git worktree, detached) and once from the current tree.  Emits:

    - ``code_ratio`` = current / prev-commit, same host same hour — the
      pure code-speed movement this round (r7's was computed by hand to
      show the flat driver headline hid a 0.77× code speedup);
    - ``host_drift`` = prev-commit re-timed today / the total that
      commit's own round RECORDED (read from the newest BENCH_r*.json
      carrying a calibration block) — >1 means the host got slower.

    Never fails the bench: any error is embedded as ``error`` and the
    summary still prints.  Disable with SPARK_GRAFT_CALIBRATE=0.
    """
    if os.environ.get("SPARK_GRAFT_CALIBRATE", "1").lower() in ("0", "false"):
        return None
    import glob
    import re
    import subprocess
    import tempfile

    root = os.path.dirname(os.path.abspath(__file__))
    script = os.path.join(root, "tools", "calib_basket.py")
    from tools.calib_basket import CALIB_BASKET

    calib: dict = {"micro_basket": CALIB_BASKET}

    def _run_basket(repo: str) -> dict:
        p = subprocess.run(
            [sys.executable, script, repo, SF_DIR, CPUS],
            capture_output=True, text=True, timeout=900, cwd=repo,
        )
        if p.returncode != 0:
            raise RuntimeError(f"calib subprocess rc={p.returncode}: {p.stderr[-200:]}")
        return json.loads(p.stdout.strip().splitlines()[-1])

    try:
        # newest driver round-stamp commit = the previous round's code
        log = subprocess.run(
            ["git", "log", "--format=%H %s", "-300"],
            cwd=root, capture_output=True, text=True, timeout=30,
        ).stdout
        m = re.search(r"^([0-9a-f]{40}) (round \d+:.*)$", log, re.M)
        if not m:
            calib["error"] = "no prior round-stamp commit found"
            return calib
        sha = m.group(1)
        calib["prev_commit"] = sha[:12]
        calib["prev_commit_subject"] = m.group(2)[:60]

        wt = tempfile.mkdtemp(prefix="keh_calib_wt_")
        os.rmdir(wt)  # git worktree add wants to create it
        # a hard-killed prior run can leave a stale registration whose
        # directory is gone; prune so add never trips over it
        subprocess.run(
            ["git", "worktree", "prune"],
            cwd=root, capture_output=True, timeout=60,
        )
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, sha],
            cwd=root, check=True, capture_output=True, timeout=120,
        )
        try:
            prev = _run_basket(wt)
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=root, capture_output=True, timeout=60,
            )
        cur = _run_basket(root)
        calib["prev_total_s"] = prev["total_s"]
        calib["current_total_s"] = cur["total_s"]
        # the code fingerprint `current_total_s` was measured at, so a
        # FUTURE round can verify its re-timed commit is the same code
        # before dividing (ADVICE r8: a round whose bench failed to record
        # calibration would silently conflate code delta into host_drift)
        calib["current_code_tree"] = _tree_fingerprint(root)
        if prev["total_s"] > 0:
            calib["code_ratio"] = round(cur["total_s"] / prev["total_s"], 3)
        # host drift: what did the previous round's bench RECORD for this
        # same basket?  Newest by INTEGER round number (reverse-lex breaks
        # at r100 / unpadded legacy names — ADVICE r8), and only when the
        # recorded code fingerprint matches the commit re-timed above —
        # else the division would mix code movement into host_drift.
        prev_tree = _code_fingerprint(root, sha)
        by_round = sorted(
            glob.glob(os.path.join(root, "BENCH_r*.json")),
            key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
            reverse=True,
        )
        record, skipped = _newest_matching_record(by_round, prev_tree)
        if record is not None:
            basename, rec, kind = record
            calib["prev_recorded_total_s"] = rec
            calib["prev_recorded_in"] = basename
            calib["host_drift"] = round(prev["total_s"] / rec, 3)
            calib["host_drift_match"] = kind
        if skipped:
            calib["host_drift_note"] = (
                f"skipped {len(skipped)} record(s) whose code_tree does not "
                f"match re-timed commit {prev_tree[:20]}..: "
                + "; ".join(skipped[:3])
            )
    except Exception as e:  # calibration must never sink the bench line
        calib["error"] = f"{type(e).__name__}: {str(e)[:160]}"
    return calib


def main() -> None:
    import __spark_entry__ as entrymod
    from tools.session import build_session

    spark = build_session("keh-bench", CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = timed_names(qs)

    # Untimed warmup at the smallest SF: pays the one-time JVM/codegen/Arrow
    # startup cost so the per-query numbers reflect steady-state throughput
    # (the quantity that actually predicts cluster behavior), not the first
    # query eating ~5s of session bring-up.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in names:
            try:
                qs[name](spark, warm_dir).count()
            except Exception:
                pass
        spark.catalog.clearCache()

    # Reproducibility policy (measured: the heavy dedup queries swing 2-3x
    # run-to-run in a single JVM purely from GC pauses + gradual C2
    # compilation of generated code — 6.4s -> 2.5s over six identical runs):
    #   1. force a full JVM GC before every timed query so one query's
    #      garbage never lands as a pause inside the next one's timing;
    #   2. entries whose first run exceeds REBENCH_THRESHOLD get a second
    #      timed run and report the min — steady-state throughput is the
    #      quantity that predicts cluster behavior, and min-of-N is the
    #      standard steady-state estimator; sub-threshold entries stay
    #      single-run to keep total bench cost bounded.
    REBENCH_THRESHOLD = 1.5
    jvm_gc = spark.sparkContext._jvm.System.gc

    def _timed(fn) -> float:
        jvm_gc()
        t0 = time.time()
        fn(spark, SF_DIR).count()  # full materialization, no driver collect
        elapsed = time.time() - t0
        # queries may persist() intermediates (e.g. LSH shingle frames);
        # drop them so one query's cache never skews the next one's timing
        spark.catalog.clearCache()
        return elapsed

    # Machine-noise canary (VERDICT r6 item 2): the r6 driver bench read
    # ~1.2-1.5x slower than an identical-code clean-local run — a full
    # judge investigation to conclude "driver-machine contention".  The
    # artifact now carries its own verdict: one fixed cheap query timed
    # (min of 3) immediately before and after the basket, plus the host
    # load average at both points.  A canary delta > 20% flags the run as
    # noisy — its per-query numbers measure the machine, not the code.
    CANARY = "q1_pricing_summary"

    def _canary_time() -> float:
        return min(_timed(qs[CANARY]) for _ in range(3))

    canary_start = round(_canary_time(), 3)
    load_start = [round(x, 2) for x in os.getloadavg()]

    timings: dict[str, float] = {}
    for name in names:
        elapsed = _timed(qs[name])
        # in-suite runs drift 1.5-2x above isolated min-of-N purely from
        # GC/JIT pressure of the 150-query session (r4: text_lm_score
        # 2.48s in-suite vs 1.5s isolated); retry up to twice while the
        # reruns keep improving >10% so the recorded number approaches
        # steady state without unbounded bench cost
        reruns = 0
        while elapsed > REBENCH_THRESHOLD and reruns < 2:
            again = _timed(qs[name])
            reruns += 1
            if again > elapsed * 0.9:
                elapsed = min(elapsed, again)
                break
            elapsed = again
        timings[name] = round(elapsed, 3)

    canary_end = round(_canary_time(), 3)
    load_end = [round(x, 2) for x in os.getloadavg()]

    _overhead_pair(spark, timings)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # value = the FROZEN 30-query basket total (cross-round comparable);
    # full_total = everything timed this round incl. the overhead pair
    basket_total = round(
        sum(t for n, t in timings.items() if n in HEADLINE_BASKET), 3
    )
    wrapped = timings.get("events_transform_capture_wrapped")
    unwrapped = timings.get("events_transform_unwrapped")
    pair_ratio = (
        round(wrapped / unwrapped, 3) if wrapped and unwrapped else None
    )
    # Full per-query detail goes to a side file: BENCH_r04's `parsed` was
    # null because the 152-entry blob outgrew the driver's 2000-char tail
    # capture (VERDICT r4 #4).  stdout stays ONE compact JSON line that
    # always fits: headline total, pair ratio, full total, and the 10
    # slowest queries plus the overhead-pair legs.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", os.path.join("runs", "bench_detail.json")
    )
    slow10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    for leg in ("events_transform_unwrapped", "events_transform_capture_wrapped"):
        if leg in timings:
            slow10[leg] = timings[leg]
    canary_ratio = (
        round(canary_end / canary_start, 3) if canary_start > 0 else None
    )
    summary = {
        "metric": "headline_total",
        "value": basket_total,
        "unit": "sec",
        "queries": slow10,
        "full_total": round(sum(timings.values()), 3),
        "n_queries": len(timings),
        "pair_ratio": pair_ratio,
        "basket_size": sum(1 for n in timings if n in HEADLINE_BASKET),
        "canary": {
            "query": CANARY,
            "start_s": canary_start,
            "end_s": canary_end,
            "ratio": canary_ratio,
            "load_avg_start": load_start,
            "load_avg_end": load_end,
            # true => this run's numbers carry machine noise: the same
            # fixed query drifted >20% between basket start and end
            "noisy": bool(canary_ratio and abs(canary_ratio - 1.0) > 0.2),
        },
        "detail": detail_path,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # memoized-artifact observability (VERDICT r6 item 3): per-stamp-path
    # [hits, builds] in the detail file shows whether e.g. the Lloyd
    # centroid memo was reused or silently rebuilt inside a timed query;
    # the regime log shows what each bounded driver probe chose, and why
    from kafka_error_handling_spark import memo as _memo
    from kafka_error_handling_spark import regime as _regime

    memo_stats = dict(_memo.STATS)
    decisions = list(_regime.DECISIONS)
    spark.stop()
    # cross-commit calibration LAST, after the bench JVM is gone (its two
    # subprocess sessions should not compete with the main one for memory)
    calib = _calibration()
    if calib is not None:
        summary["calibration"] = calib
    try:
        os.makedirs(os.path.dirname(detail_path) or ".", exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(
                dict(summary, queries=timings, memo=memo_stats, regime=decisions), f
            )
    except OSError:
        pass
    print(json.dumps(summary))


if __name__ == "__main__":
    main()

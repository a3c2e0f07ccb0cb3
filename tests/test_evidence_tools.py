"""Pins for the evidence/stress tooling (no Spark session needed).

The evidence ledger is the hard signal the driver-budget priority is
derived from (VERDICT r5 items 1-2), so its green-row criterion and the
order-insensitive frame hash get the same pin treatment as query
semantics.  Covers the ADVICE-r5 fixes:

- a driver row with ``hash_match=false`` is a VALUE MISMATCH and must
  never be ledgered as verified (the r1/r2 artifacts really contain such
  rows);
- an unknown family argument to ``tools/stress.py`` must error out
  before Spark startup, never silently run every family.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_correctness import _canon, _driver_evidence, frame_hash  # noqa: E402

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_round(tmp_path, rnd: int, rows: dict) -> None:
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_driver_evidence_green_criterion(tmp_path):
    _write_round(
        tmp_path,
        1,
        {
            "hash_green": {"rows_match": True, "hash_match": True, "err": None},
            # equal row counts but value hash mismatched — NOT green
            "value_mismatch": {"rows_match": True, "hash_match": False, "err": None},
            # rows-only gate (no oracle SQL): green on rows_match + no err
            "rows_only_green": {"rows_match": True, "hash_match": None, "err": None},
            "rows_only_err": {"rows_match": True, "hash_match": None, "err": "boom"},
            "rows_only_miscount": {"rows_match": False, "hash_match": None, "err": None},
        },
    )
    ev = _driver_evidence(str(tmp_path))
    assert ev == {"hash_green": 1, "rows_only_green": 1}


def test_driver_evidence_newest_round_wins(tmp_path):
    _write_round(tmp_path, 1, {"q": {"rows_match": True, "hash_match": True, "err": None}})
    _write_round(tmp_path, 3, {"q": {"rows_match": True, "hash_match": True, "err": None}})
    # a later RED round does not erase earlier green evidence (the ledger
    # records the newest GREEN row; the driver artifact itself shows the red)
    _write_round(tmp_path, 4, {"q": {"rows_match": True, "hash_match": False, "err": None}})
    assert _driver_evidence(str(tmp_path)) == {"q": 3}


def test_driver_evidence_reads_real_artifacts():
    # the repo's own artifacts: every r5 row was green, so all 50 names
    # must appear with round >= 5
    ev = _driver_evidence(_REPO)
    r5 = json.load(open(os.path.join(_REPO, "CORRECTNESS_r05.json")))
    assert all(ev.get(name, 0) >= 5 for name in r5)


def test_frame_hash_is_column_and_row_order_insensitive():
    h1 = frame_hash(["a", "b"], [(1, "x"), (2, "y")])
    h2 = frame_hash(["b", "a"], [("y", 2), ("x", 1)])  # both orders permuted
    assert h1 == h2
    assert frame_hash(["a", "b"], [(1, "x"), (2, "z")]) != h1


def test_canon_type_faithful():
    # 3 vs 3.0 must NOT collapse (driver hash is type-sensitive)
    assert _canon(3) != _canon(3.0)
    assert _canon(float("nan")) == _canon(None) == "<NULL>"
    assert _canon(True) == "1"  # bool renders as int, not 'True'
    assert _canon(b"\x00\xff") == "00ff"
    assert _canon([1, None]) == "[1,<NULL>]"
    # float canon rounds at 1e-9 so engine ulp noise cannot flip the hash
    assert _canon(0.1 + 0.2) == _canon(0.3)


def test_stress_rejects_unknown_family_before_spark():
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "stress.py"), "10", "grpah"],
        capture_output=True,
        text=True,
        timeout=30,  # Spark startup alone exceeds this if the guard regresses
    )
    assert proc.returncode == 2
    assert "unknown family" in proc.stderr


def test_priority_head_is_the_stale_rows(tmp_path):
    # The r14 priority budget (VERDICT r12 #2 rotation rule, third
    # application; 0-based slices of _PRIORITY; the driver checks
    # [0:50]):
    #   * [0:3]  — the rows whose CODE is brand-new this round, none
    #     with any driver evidence: text_ccnet_buckets (CCNet-style
    #     per-language perplexity tertiles off a held-out reference
    #     LM), embedding_knn_mrl (Matryoshka first-16-dims retrieval),
    #     embedding_mrl_recall (its recall-vs-full-dims gate);
    #   * [3:8]  — the 5 r8 rows the r13 rotation parked at [50:55],
    #     the ledger's oldest evidence;
    #   * [8:50] — the first 42 of the 48 r9 rows (next-oldest block).
    # 3 + 5 + 42 = 50.  The 6 displaced r9 rows park at [50:56] and
    # roll to the r15 budget; from position 56 the tail is
    # evidence-age-ordered ascending (r10, r11, r12, then the
    # r13-checked rows).  Pinned against the r1-r13 artifacts only
    # (the evidence the rotation was derived FROM), so later driver
    # rounds cannot invalidate it.
    import shutil

    from kafka_error_handling_spark.plans.registry import _PRIORITY

    changed = [
        "text_ccnet_buckets",
        "embedding_knn_mrl",
        "embedding_mrl_recall",
    ]
    assert _PRIORITY[:3] == changed
    for rnd in range(1, 14):
        shutil.copy(
            os.path.join(_REPO, f"CORRECTNESS_r{rnd:02d}.json"), str(tmp_path)
        )
    ev = _driver_evidence(str(tmp_path))
    # the three head rows are brand-new: no driver evidence exists yet
    assert not any(n in ev for n in changed)
    # [3:8]: the parked r8 block, oldest evidence in the ledger
    assert all(ev.get(n) == 8 for n in _PRIORITY[3:8]), [
        (n, ev.get(n)) for n in _PRIORITY[3:8]
    ]
    # [8:50]: r9 rows only — the budget closes on the next-oldest block
    assert all(ev.get(n) == 9 for n in _PRIORITY[8:50]), [
        (n, ev.get(n)) for n in _PRIORITY[8:50] if ev.get(n) != 9
    ]
    # the 6 displaced r9 rows sit IMMEDIATELY past the cutoff; no row
    # with evidence <= 9 hides deeper in the tail
    assert all(ev.get(n) == 9 for n in _PRIORITY[50:56]), _PRIORITY[50:56]
    stragglers = [n for n in _PRIORITY[56:] if ev.get(n, 99) <= 9]
    assert not stragglers, stragglers
    ages = [ev[n] for n in _PRIORITY[56:] if n in ev]
    assert ages == sorted(ages), "tail past the rolled block must be age-ordered"


def test_evidence_only_cli_regenerates_without_spark():
    """`check_correctness.py --evidence-only` (VERDICT r12 #3) must
    rewrite EVIDENCE.md from the CORRECTNESS artifacts quickly and
    WITHOUT launching Spark — it is the round-start refresh step, so a
    JVM spin-up (or any gate run) here would defeat its purpose."""
    import time

    before = os.path.getmtime(os.path.join(_REPO, "EVIDENCE.md"))
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "check_correctness.py"),
         "--evidence-only"],
        capture_output=True, text=True, cwd=_REPO, timeout=120,
    )
    wall = time.time() - t0
    assert out.returncode == 0, out.stderr[-500:]
    assert "EVIDENCE.md regenerated" in out.stdout
    assert os.path.getmtime(os.path.join(_REPO, "EVIDENCE.md")) >= before
    # no-Spark bound: JVM startup alone is ~4-6 s; the refresh is pure
    # file I/O + registry import and must stay well under that
    assert wall < 60, f"--evidence-only took {wall:.1f}s — did it start Spark?"
    md = open(os.path.join(_REPO, "EVIDENCE.md")).read()
    # the r12-green wire gates must show their driver round (the exact
    # staleness VERDICT r12 #2-weak flagged)
    assert "| dlq_avro_wire | r12 |" in md


def test_evidence_only_cli_rejects_extra_arguments():
    """ADVICE r13: `--evidence-only some_query` looks like a gate run
    but would only re-render EVIDENCE.md — the CLI must refuse the
    combination instead of silently discarding the other arguments."""
    before = os.path.getmtime(os.path.join(_REPO, "EVIDENCE.md"))
    out = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "check_correctness.py"),
         "--evidence-only", "dedup_exact"],
        capture_output=True, text=True, cwd=_REPO, timeout=120,
    )
    assert out.returncode != 0
    assert "--evidence-only takes no other arguments" in (out.stderr + out.stdout)
    # and it must not have rewritten the ledger on the failing path
    assert os.path.getmtime(os.path.join(_REPO, "EVIDENCE.md")) == before


def test_ab_trees_output_name_is_filename_safe():
    """`.` (the working tree) used to yield `runs/ab_<rev>_vs_..txt`."""
    from ab_trees import _rev_slug

    assert _rev_slug(".") == "worktree"
    assert _rev_slug("HEAD~1") == "HEAD1"
    assert _rev_slug("origin/main") == "originmain"
    assert _rev_slug("9281479078ee78ebded12ae6") == "9281479078ee"
    assert _rev_slug("~^") == "rev"

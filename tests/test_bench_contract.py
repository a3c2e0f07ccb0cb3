"""Pins for the bench harness contract (no Spark session needed).

VERDICT r8 #2: the bench's hand-maintained HEADLINE+EXTENDED lists timed
162 of 231 registry queries, so a plan regression in the other 69 had no
perf tripwire.  The timed set is now derived from the registry itself;
this module pins that derivation so the gap can never silently reopen,
plus the frozen-basket and calibration-record invariants the cross-round
comparisons depend on.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_timed_set_is_the_whole_registry():
    qs = _registry()
    timed = bench.timed_names(qs)
    assert timed == list(qs), (
        f"bench times {len(timed)} of {len(qs)} registry queries — "
        "every registry query must have a perf tripwire (VERDICT r8 #2)"
    )


def test_headline_basket_is_frozen_and_timed():
    # the 30-query basket is the cross-round headline — frozen by VERDICT
    # r3 #9; every member must exist in the registry (a renamed query
    # would silently shrink `headline_total` and fake a speedup)
    qs = _registry()
    assert len(bench.HEADLINE_BASKET) == 30
    missing = [n for n in bench.HEADLINE_BASKET if n not in qs]
    assert not missing, f"frozen basket names missing from registry: {missing}"


def test_code_fingerprint_ignores_artifact_only_commits(tmp_path):
    """host_drift is only valid when the recorded bench belongs to the same
    CODE as the re-timed commit (ADVICE r8).  The fingerprint hashes the
    timing-relevant paths, so an artifact-only commit (the round stamp's
    BENCH/VERDICT/CORRECTNESS files) fingerprints identically to the code
    commit under it, and a code commit does not.  Pinned on a throwaway
    repository, so the test holds in an export without git history."""

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@example.com",
             "-c", "commit.gpgsign=false", *args],
            cwd=tmp_path, check=True, capture_output=True, timeout=30,
        )

    (tmp_path / "kafka_error_handling_spark").mkdir()
    (tmp_path / "kafka_error_handling_spark" / "op.py").write_text("x = 1\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "tool.py").write_text("y = 1\n")
    (tmp_path / "bench.py").write_text("z = 1\n")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-q", "-m", "code")
    code = bench._code_fingerprint(str(tmp_path), "HEAD")
    assert code.count("-") == len(bench._CODE_PATHS) - 1
    assert "missing" not in code

    (tmp_path / "BENCH_r99.json").write_text("{}\n")
    git("add", "-A")
    git("commit", "-q", "-m", "round 99: stamp")
    assert bench._code_fingerprint(str(tmp_path), "HEAD") == code
    assert bench._code_fingerprint(str(tmp_path), "HEAD~1") == code

    (tmp_path / "tools" / "tool.py").write_text("y = 2\n")
    git("commit", "-q", "-am", "tool change")
    changed = bench._code_fingerprint(str(tmp_path), "HEAD")
    assert changed != code and "missing" not in changed


def test_calibration_scan_skips_mismatched_newer_records(tmp_path):
    """ADVICE r9: when the newest BENCH record's fingerprint mismatches the
    re-timed commit (an older commit being re-timed after a newer round
    landed), the scan must continue to older records and use the first
    fingerprint-matched one — not give up on the first mismatch."""
    import json

    def _write(rnd, tree, total):
        p = tmp_path / f"BENCH_r{rnd:02d}.json"
        p.write_text(json.dumps({"parsed": {"calibration": {
            "current_total_s": total, "current_code_tree": tree}}}))
        return str(p)

    newest = _write(11, "tree-B", 10.0)
    matched = _write(10, "tree-A", 8.0)
    paths = [newest, matched]  # newest-first, as _calibration sorts them
    record, skipped = bench._newest_matching_record(paths, "tree-A")
    assert record == ("BENCH_r10.json", 8.0, "code-tree-verified")
    assert skipped == ["BENCH_r11.json:tree-B.."]
    # no match anywhere -> None, both skipped
    record, skipped = bench._newest_matching_record(paths, "tree-C")
    assert record is None and len(skipped) == 2
    # legacy record without fingerprint is accepted, flagged as assumed
    legacy = tmp_path / "BENCH_r09.json"
    legacy.write_text(json.dumps({"parsed": {"calibration": {
        "current_total_s": 7.0}}}))
    record, skipped = bench._newest_matching_record(
        [newest, str(legacy)], "tree-C"
    )
    assert record == ("BENCH_r09.json", 7.0, "assumed-legacy-record")


def test_bench_round_files_sort_by_integer_round(tmp_path):
    """ADVICE r8: reverse-lex sort picks BENCH_r09 over BENCH_r100 — the
    newest-record scan must order by the integer round."""
    import re

    names = ["BENCH_r09.json", "BENCH_r100.json", "BENCH_r2.json"]
    by_round = sorted(
        names,
        key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
        reverse=True,
    )
    assert by_round[0] == "BENCH_r100.json"
    assert sorted(names, reverse=True)[0] != "BENCH_r100.json"  # the old bug

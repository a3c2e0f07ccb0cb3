"""Same-host both-orders A/B of two git trees on named registry queries.

The r14 round ran this by hand (BASELINE.md "Round-14 same-harness A/B");
VERDICT r14 #1 asks for the same discipline on dedup_minhash_lsh, so the
template becomes a committed tool.  For each ORDER (A→B, then B→A) each
tree gets a FRESH bench-identical session (tools/profile_query.py in a
detached worktree — subprocess, so no JVM state leaks between legs), and
each leg is GC-first min-of-N after an untimed sf0.001 warmup.  Both
orders exist to cancel slow-host drift WITHIN the comparison: a code
regression shows up in both orders, load drift flips sign between them.

The current working tree is addressed as ``.`` (run in place, dirty state
included); any other rev gets ``git worktree add --detach``.  Trees that
predate tools/profile_query.py get the CURRENT profiler copied in — the
profiler only imports the tree's own ``__spark_entry__``, so the timed
code is still the target tree's.

Usage: python tools/ab_trees.py REV_A REV_B [--runs N] q1 [q2 ...]
Writes runs/ab_<A>_vs_<B>.txt (``.`` named ``worktree``, other revs cut to
their first 12 alphanumerics) and prints a summary table.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PROFILER = os.path.join("tools", "profile_query.py")


def _rev_slug(rev: str) -> str:
    """Filename-safe tag for a rev: ``.`` (the working tree) becomes
    ``worktree``; otherwise the rev's alphanumerics, first 12 kept."""
    if rev == ".":
        return "worktree"
    return "".join(c for c in rev if c.isalnum())[:12] or "rev"


def _leg(tree_dir: str, names: list[str], runs: int) -> dict[str, list[float]]:
    """One fresh-session profiling leg; returns {query: [runs...]}."""
    prof = os.path.join(tree_dir, _PROFILER)
    if not os.path.exists(prof):
        os.makedirs(os.path.dirname(prof), exist_ok=True)
        shutil.copy(os.path.join(_ROOT, _PROFILER), prof)
    p = subprocess.run(
        [sys.executable, _PROFILER, "--runs", str(runs), *names],
        cwd=tree_dir, capture_output=True, text=True, timeout=3600,
        env=dict(os.environ),
    )
    if p.returncode != 0:
        raise RuntimeError(f"leg rc={p.returncode}: {p.stderr[-500:]}")
    out: dict[str, list[float]] = {}
    for line in p.stdout.splitlines():
        if ": min=" in line and "runs=[" in line:
            name = line.split(":", 1)[0].strip()
            out[name] = json.loads(line.split("runs=", 1)[1])
    missing = [n for n in names if n not in out]
    if missing:
        raise RuntimeError(f"leg produced no timing for {missing}")
    return out


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    if len(args) < 3:
        raise SystemExit(__doc__)
    rev_a, rev_b, names = args[0], args[1], args[2:]

    trees: dict[str, str] = {}
    cleanup: list[str] = []
    try:
        for rev in (rev_a, rev_b):
            if rev in trees:
                continue
            if rev == ".":
                trees[rev] = _ROOT
                continue
            wt = tempfile.mkdtemp(prefix=f"keh_ab_{rev[:8]}_")
            os.rmdir(wt)
            subprocess.run(
                ["git", "worktree", "prune"], cwd=_ROOT,
                capture_output=True, timeout=60,
            )
            subprocess.run(
                ["git", "worktree", "add", "--detach", wt, rev],
                cwd=_ROOT, check=True, capture_output=True, timeout=120,
            )
            trees[rev] = wt
            cleanup.append(wt)

        results: list[tuple[str, str, dict]] = []  # (order, rev, timings)
        for order, seq in (("A_first", (rev_a, rev_b)), ("B_first", (rev_b, rev_a))):
            for rev in seq:
                t = _leg(trees[rev], names, runs)
                results.append((order, rev, t))
                line = ", ".join(f"{n}={min(v)}" for n, v in t.items())
                print(f"[{order}] {rev}: {line}", flush=True)
    finally:
        for wt in cleanup:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=_ROOT, capture_output=True, timeout=60,
            )

    # summary: per query, min per (rev, order)
    summary: dict[str, dict[str, dict[str, float]]] = {}
    for order, rev, t in results:
        for n, v in t.items():
            summary.setdefault(n, {}).setdefault(rev, {})[order] = min(v)
    out_path = os.path.join(
        _ROOT, "runs", f"ab_{_rev_slug(rev_a)}_vs_{_rev_slug(rev_b)}.txt"
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(
            {"rev_a": rev_a, "rev_b": rev_b, "runs_per_leg": runs,
             "legs": [
                 {"order": o, "rev": r, "timings": t} for o, r, t in results
             ],
             "summary": summary},
            f, indent=1,
        )
    print("== A/B summary (min per leg) ==")
    for n, per_rev in summary.items():
        parts = [
            f"{rev}: " + "/".join(f"{per_rev[rev][o]:.3f}" for o in sorted(per_rev[rev]))
            for rev in (rev_a, rev_b)
        ]
        print(f"{n}:  {'  vs  '.join(parts)}")
    print(f"written {out_path}")


if __name__ == "__main__":
    main()

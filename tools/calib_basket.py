"""Time the frozen 3-query calibration micro-basket for bench.py's
cross-commit host-drift calibration (VERDICT r7 #6).

Subprocess-isolated on purpose: the previous round's commit (checked out
as a git worktree) and the current tree are measured under identical
fresh-JVM conditions, so their ratio is a pure code-speed ratio on
today's host — and re-timing the previous commit today vs the number it
RECORDED at its own bench time isolates host drift (the r7 judge did
this by hand to resolve the driver-vs-local contradiction; this script
makes the bench stamp it automatically).

Usage:  python tools/calib_basket.py <repo_root> <sf_dir> <cpus>
Prints ONE JSON line: {"total_s": N, "queries": {...}}.

The basket is FROZEN (like HEADLINE_BASKET): three cheap, long-stable,
cross-family queries that exist in every round's registry since r1/r2.
Do not edit — comparability across rounds is the whole point.
"""

from __future__ import annotations

import json
import sys
import time

CALIB_BASKET = ["q1_pricing_summary", "window_topk_orders", "dedup_exact"]


def main() -> None:
    repo, sf_dir, cpus = sys.argv[1], sys.argv[2], sys.argv[3]
    # this script's own tools/ is sys.path[0]; session.py never imports
    # the package, so the one imported below is the target tree's
    from session import build_session

    sys.path.insert(0, repo)
    import __spark_entry__ as entrymod

    spark = build_session("keh-calib", cpus, driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    jvm_gc = spark.sparkContext._jvm.System.gc
    out: dict[str, float] = {}
    for name in CALIB_BASKET:
        fn = qs[name]
        fn(spark, sf_dir).count()  # untimed warmup (JVM/codegen/Arrow)
        spark.catalog.clearCache()
        best = None
        for _ in range(2):  # min-of-2, GC-first — the bench policy
            jvm_gc()
            t0 = time.time()
            fn(spark, sf_dir).count()
            t = time.time() - t0
            spark.catalog.clearCache()
            best = t if best is None else min(best, t)
        out[name] = round(best, 3)
    print(json.dumps({"total_s": round(sum(out.values()), 3), "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()

"""Per-query isolation profiler for the optimization rounds (guide §1).

Times registry queries in the bench session (tools/session.py:
local[$SPARK_GRAFT_CPUS], shuffle=CPUS, AQE on, 16g driver, UI off), with
the bench's own policy: untimed sf0.001 warmup, System.gc() before every
timed run, min-of-N.  The timed action is the bench's ``.count()`` by
default; ``--noop`` times the noop sink instead (guide §1.4 — computes
every column, no optimizer pruning).

``--explain DIR`` executes each query's OWN adaptive plan once and writes
``DIR/<query>.txt``: the FINAL plan, with runtime exchange/stage reuse
resolved (pre-execution explain shows the unreused tree).  It prints one
summary line per query (scans / exchanges / reused nodes);
``artifacts/final_plans.txt`` holds those lines for the whole registry at
sf0.01, taken with ``--runs 0``, which skips the warmup and the timing.
(The per-query dumps of round 14, cited as ``plans/r14/...``, resolve at
``git show 1e8569a:<path>``.)

``--root TREE`` times the registry of another checkout with THIS
profiler (tools/ab_trees.py's legs); the default is this profiler's tree.

Usage: python tools/profile_query.py [--noop] [--runs N] [--explain DIR]
                                     [--root TREE] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

from session import build_session

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the counts of a final-plan summary line, in print order
_SUMMARY_NODES = {
    "scans": r"Scan parquet",
    "exchanges": r"\) Exchange",
    "reused": r"ReusedExchange|ReusedSubquery|table cache",
    "aqe_reads": r"AQEShuffleRead",
}


def final_plan_summary(spark, df, name: str, out_dir: str) -> str:
    """Execute ``df``'s own adaptive plan (a noop write would wrap it in a
    fresh QueryExecution and leave this one unexecuted), write the final
    formatted plan to ``out_dir/<name>.txt`` and return its summary line."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
        f.write(plan)
    counts = " ".join(
        f"{k}={len(re.findall(p, plan))}" for k, p in _SUMMARY_NODES.items()
    )
    return f"{name}: final={'isFinalPlan=true' in plan} {counts}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--noop", action="store_true", help="time the noop sink")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per query")
    ap.add_argument("--explain", metavar="DIR", help="write final plans here")
    ap.add_argument("--root", default=_ROOT, metavar="TREE",
                    help="checkout whose registry is timed")
    args = ap.parse_intermixed_args()

    # only the timed tree goes on sys.path: session.py never imports the
    # package, so the registry below is TREE's, not this profiler's
    sys.path.insert(0, os.path.abspath(args.root))
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = build_session("keh-profile", CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_gc = spark.sparkContext._jvm.System.gc

    def action(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    warm_dir = "/root/testdata/sf0.001"
    for name in args.names if args.runs > 0 else []:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        try:
            action(qs[name](spark, warm_dir))
        except Exception as e:
            print(f"warmup {name}: {type(e).__name__}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    results = {}
    for name in args.names:
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            print(final_plan_summary(spark, df, name, args.explain), flush=True)
            spark.catalog.clearCache()
        ts = []
        for r in range(args.runs):
            jvm_gc()
            spark.sparkContext.setJobDescription(f"timed:{name}:{r}")
            t0 = time.time()
            action(qs[name](spark, SF_DIR))
            ts.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        if ts:
            results[name] = ts
            print(f"{name}: min={min(ts)} runs={ts}", flush=True)

    if results:
        print("== summary ==")
        for name, ts in results.items():
            print(f"{min(ts):8.3f}  {name}")
    spark.stop()


if __name__ == "__main__":
    main()

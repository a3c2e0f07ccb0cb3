"""Registry-wide physical-plan lint: the automated half of the plan audit.

Builds every ``__spark_entry__.queries()`` DataFrame and scans the
formatted physical plan for the two scale red flags this repo promises
are absent:

  * ``CartesianProduct`` — an unbounded all-pairs blowup.  The accepted
    bounded form is ``BroadcastNestedLoopJoin`` over a broadcast-wrapped
    scalar/tiny frame (every crossJoin site in the tree is one).
  * ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan.  All
    Python execution here must ride Arrow batches (``ArrowEvalPython``,
    ``MapInArrow``, ``MapInPandas``, ``FlatMapGroupsInPandas*``) or stay
    JVM-side.

Each query is planned TWICE (ADVICE r6 medium): once under the default
``autoBroadcastJoinThreshold`` — the stats/drift sweep, comparable with
prior rounds — and once with implicit broadcast DISABLED (threshold -1).
The second sweep is the real cartesian detector: an unhinted crossJoin
between two frames that happen to be small at lint scale plans as
BroadcastNestedLoopJoin and lints clean under the default, but degrades
to CartesianProduct the moment neither side fits the threshold at real
scale.  Explicit ``F.broadcast`` hints are still honored at -1, so the
accepted broadcast-scalar pattern stays BNLJ while any size-dependent
cartesian surfaces at every test scale.  ``red_nobcast`` records it.

No result is collected, but plan CONSTRUCTION may execute bounded scalar
jobs: checkpointed derived artifacts (co-purchase edges, verified pair
streams) materialize on first build, and auto-regime probes (PageRank's
``deg.count()``) run one count over a one-row-per-node frame.  Nothing
row-count-shaped is collected.

Everything else is recorded as per-plan statistics so plan drift is
visible round-over-round: shuffle-exchange count, broadcast-exchange
count, parquet scans split by pushed-filter presence, whole-stage-codegen
span count, and Arrow-batched Python operator count.

Usage:  python tools/plan_lint.py [sf_dir] [query ...]
Writes ``artifacts/plan_lint.json`` (one entry per query) and exits nonzero if
any red flag is found in either sweep.  Mirrors the driver-checker
session shape (``tools/check_correctness.py``) so linted plans match
gated plans.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from session import build_session, check_conf  # noqa: E402

RED_NODES = ("CartesianProduct", "BatchEvalPython")
ARROW_NODES = (
    "ArrowEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)

_NODE_RE = re.compile(r"^\(\d+\)\s+(\S+)", re.MULTILINE)
_CODEGEN_RE = re.compile(r"\[codegen id : (\d+)\]")


def plan_string(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def lint_plan(plan: str) -> dict:
    """Node-level stats + red flags for one formatted physical plan."""
    nodes = _NODE_RE.findall(plan)
    red = sorted({n for n in nodes for bad in RED_NODES if n.startswith(bad)})
    # a Scan block ends at the next blank line; pushed-filter presence is
    # per-scan, so split blocks rather than grepping the whole plan
    scans_pushed = scans_unpushed = 0
    for block in plan.split("\n\n"):
        if "Scan parquet" in block and "Location:" in block:
            if re.search(r"PushedFilters: \[.+\]", block):
                scans_pushed += 1
            elif "PushedFilters: []" in block:
                scans_unpushed += 1
            else:  # scan block without a PushedFilters line (e.g. no filters at all)
                scans_unpushed += 1
    return {
        "red": red,
        "shuffles": sum(1 for n in nodes if n == "Exchange"),
        "broadcasts": sum(1 for n in nodes if n == "BroadcastExchange"),
        "scans_pushed": scans_pushed,
        "scans_unpushed": scans_unpushed,
        "codegen_spans": len(set(_CODEGEN_RE.findall(plan))),
        "arrow_python": sum(
            1 for n in nodes if any(n.startswith(a) for a in ARROW_NODES)
        ),
        "nodes": len(nodes),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = {a for a in args if not os.path.isdir(a)}
    # a mistyped path must not silently fall back to the default dir, and
    # a mistyped query name must not produce a queries:0 "clean" summary
    # (ADVICE r6): both are hard errors before Spark starts
    pathlike = [a for a in only if os.sep in a or a.startswith(".")]
    if pathlike:
        raise SystemExit(f"not a directory: {pathlike}")
    # KEH_CHECK_CONF (the correctness gate's "key=value;key=value"
    # overlay, parsed before Spark starts) lints an auto-regime operator
    # in its non-default regime without a code change, e.g.
    #   KEH_CHECK_CONF=spark.keh.minhash.broadcastSignatures=false
    overlay = check_conf()

    import __spark_entry__ as entrymod

    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        raise SystemExit(f"unknown query names: {unknown}")

    # lint the STATIC plan: with AQE on, explain shows the initial
    # AdaptiveSparkPlan, which carries no codegen-id annotations and
    # re-plans at runtime; AQE only ever improves on what is linted here
    spark = build_session(
        "keh-plan-lint", 8, driver_memory="8g",
        conf={"spark.sql.adaptive.enabled": "false", **overlay},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the default threshold of THIS session — restored between queries so
    # the stats sweep stays comparable with prior rounds' drift records
    default_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    results: dict[str, dict] = {}
    n_red = n_err = 0
    t_start = time.time()
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", default_bcast)
            res = lint_plan(plan_string(fn(spark, sf_dir)))
            # second planning pass with implicit broadcast off: the frame
            # must be REBUILT (queryExecution is cached per DataFrame) so
            # the size-independent cartesian check sees a fresh plan
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            res["red_nobcast"] = lint_plan(plan_string(fn(spark, sf_dir)))["red"]
        except Exception as e:  # a plan that cannot even build is a finding
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
            results[name] = {"err": f"{type(e).__name__}: {str(e)[:200]}"}
            n_err += 1
            continue
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", default_bcast)
        results[name] = res
        if res["red"] or res["red_nobcast"]:
            n_red += 1
            flags = ", ".join(res["red"]) or "-"
            print(f"RED  {name}: {flags}; nobcast: {', '.join(res['red_nobcast']) or '-'}")
        else:
            print(
                f"ok   {name}: shuffles={res['shuffles']} bcast={res['broadcasts']}"
                f" scans={res['scans_pushed']}+{res['scans_unpushed']}p"
                f" codegen={res['codegen_spans']} arrow_py={res['arrow_python']}"
            )

    summary = {
        "queries": len(results),
        "red_flagged": n_red,
        "errors": n_err,
        "total_shuffles": sum(r.get("shuffles", 0) for r in results.values()),
        "total_arrow_python": sum(r.get("arrow_python", 0) for r in results.values()),
        "red_nobcast_flagged": sum(
            1 for r in results.values() if r.get("red_nobcast")
        ),
        "sf_dir": os.path.basename(os.path.normpath(sf_dir)),
        "wall_s": round(time.time() - t_start, 1),
    }
    os.makedirs(os.path.join(_ROOT, "artifacts"), exist_ok=True)
    with open(os.path.join(_ROOT, "artifacts", "plan_lint.json"), "w") as f:
        json.dump({"summary": summary, "plans": results}, f, indent=0, sort_keys=True)
    print(f"\n{json.dumps(summary)}")
    spark.stop()
    sys.exit(1 if (n_red or n_err) else 0)


if __name__ == "__main__":
    main()

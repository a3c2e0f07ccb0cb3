"""Registry-wide perturbation sweeps as ONE closing gate.

VERDICT r9 #2: the r9 strategy sweeps ran at 232 queries before the last
operator landed, so "final tree" and "registry-wide sweep" diverged.  This
tool runs every invariance perturbation over the FULL current registry and
records the counts plus the code fingerprint they were measured at in
``artifacts/sweeps.json``; ``tests/test_plan_lint.py`` pins that artifact
against the live registry size (the same stale-artifact forcing function
as ``plan_lint.json`` — adding a query without re-running the sweeps fails
CI loudly).

Sweeps (results must be INVARIANT to all of them — only the physical
strategy / row layout may change):

- ``aqe_off``        spark.sql.adaptive.enabled=false
- ``nobcast``        spark.sql.autoBroadcastJoinThreshold=-1
- ``nocodegen``      spark.sql.codegen.wholeStage=false
- ``layout``         spark.master=local[3] + spark.sql.shuffle.partitions=5
                     (vs the default local[8]/8)
- ``permutation``    every table rewritten in seeded-random row order
- ``tz``             TZ=America/New_York (host-timezone independence)
- ``splits``         spark.sql.files.maxPartitionBytes=64k + openCostInBytes=0
                     (every scan fractured into many input splits — the
                     split-boundary shape a real multi-file 100 TB table has;
                     catches anything that silently assumes one scan task or
                     leans on within-scan row contiguity)
- ``arrowbatch``     spark.sql.execution.arrow.maxRecordsPerBatch=7 (every
                     Arrow-batched Python op re-batched at 7 rows — batch-
                     boundary correctness for the capture/multimodal UDF
                     surface, where a real corpus delivers arbitrary batching)

Usage: python tools/run_sweeps.py [sf_dir] [sweep ...]
       (default sf_dir /root/testdata/sf0.01; default = all sweeps)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CHECK = os.path.join(_ROOT, "tools", "check_correctness.py")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

SWEEPS: dict[str, dict] = {
    "aqe_off": {"env": {"KEH_CHECK_CONF": "spark.sql.adaptive.enabled=false"}},
    "nobcast": {
        "env": {"KEH_CHECK_CONF": "spark.sql.autoBroadcastJoinThreshold=-1"}
    },
    "nocodegen": {
        "env": {"KEH_CHECK_CONF": "spark.sql.codegen.wholeStage=false"}
    },
    "layout": {"env": {"KEH_CHECK_CONF": "spark.master=local[3]"
                                         ";spark.sql.shuffle.partitions=5"}},
    "permutation": {"env": {}, "permute": True},
    "tz": {"env": {"TZ": "America/New_York"}},
    "splits": {
        "env": {
            "KEH_CHECK_CONF": (
                "spark.sql.files.maxPartitionBytes=65536"
                ";spark.sql.files.openCostInBytes=0"
            )
        }
    },
    "arrowbatch": {
        "env": {
            "KEH_CHECK_CONF": "spark.sql.execution.arrow.maxRecordsPerBatch=7"
        }
    },
}


def _permuted_copy(sf_dir: str, dest: str) -> None:
    """Rewrite every table with a seeded-random row order (DuckDB setseed
    + ORDER BY random()) — any query whose result depends on the on-disk
    row order (first-in-group, unordered ties) fails its oracle hash."""
    import duckdb

    con = duckdb.connect()
    con.execute("SELECT setseed(0.42)")
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}') ORDER BY random())"
            f" TO '{os.path.join(dest, t + '.parquet')}' (FORMAT PARQUET)"
        )


def _run_check(sf_dir: str, env_extra: dict) -> tuple[int, int, str]:
    """Run the full-registry correctness gate; return (n_ok, n_fail) and
    the session layout line it printed."""
    env = dict(os.environ, **env_extra)
    p = subprocess.run(
        [sys.executable, _CHECK, sf_dir],
        capture_output=True, text=True, env=env, cwd=_ROOT, timeout=3600,
    )
    tail = (p.stdout or "").strip().splitlines()
    m = None
    for line in reversed(tail[-5:]):
        m = re.match(r"(\d+) ok, (\d+) fail", line.strip())
        if m:
            break
    if not m:
        raise RuntimeError(
            f"no count line in check output (rc={p.returncode}): "
            f"{(p.stderr or '')[-300:]}"
        )
    session = next((l for l in tail if l.startswith("session ")), "")
    return int(m.group(1)), int(m.group(2)), session[len("session "):]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)]
    unknown = sorted(set(only) - set(SWEEPS))
    if unknown:
        raise SystemExit(f"unknown sweep names: {unknown} (have {sorted(SWEEPS)})")
    selected = only or list(SWEEPS)

    sys.path.insert(0, _ROOT)
    import bench
    import __spark_entry__ as entrymod

    registry_n = len(entrymod.queries())
    out_path = os.path.join(_ROOT, "artifacts", "sweeps.json")
    try:
        results = json.load(open(out_path)).get("sweeps", {})
    except Exception:
        results = {}

    for name in selected:
        spec = SWEEPS[name]
        t0 = time.time()
        if spec.get("permute"):
            with tempfile.TemporaryDirectory(prefix="keh_perm_") as tmp:
                _permuted_copy(sf_dir, tmp)
                ok, fail, session = _run_check(tmp, spec["env"])
        else:
            ok, fail, session = _run_check(sf_dir, spec["env"])
        results[name] = {
            "ok": ok,
            "fail": fail,
            "registry_n": registry_n,
            "session": session,
            "wall_s": round(time.time() - t0, 1),
        }
        print(f"{name}: {ok} ok, {fail} fail ({results[name]['wall_s']}s; {session})")

    artifact = {
        "sf_dir": os.path.basename(os.path.normpath(sf_dir)),
        "registry_n": registry_n,
        "code_tree": bench._tree_fingerprint(_ROOT),
        "date": time.strftime("%Y-%m-%d"),
        "sweeps": results,
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    json.dump(artifact, open(out_path, "w"), indent=1)
    print(json.dumps({k: (v["ok"], v["fail"]) for k, v in results.items()}))
    bad = [k for k, v in results.items() if v["fail"] or v["ok"] != registry_n]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

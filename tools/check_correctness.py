"""Local stand-in for the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive value hash (columns
sorted by name, values stringified row-wise, rows sorted).

Usage:  python tools/check_correctness.py [sf_dir] [query ...]
        python tools/check_correctness.py --lint   (type-lint all oracles, no Spark)
        python tools/check_correctness.py --evidence-only
            (regenerate EVIDENCE.md from CORRECTNESS_r*.json, no Spark —
             run at round start once the driver writes its artifact, and
             as a closing step; VERDICT r12 #3)

The driver's hash is TYPE-faithful: DuckDB HUGEINT (the default result of
``sum(<integer>)``) vs Spark BIGINT diverges even when values are equal
(VERDICT r2 #1 — this bug class shipped twice).  Two defenses here:
  * ``--lint``: DESCRIBE every oracle SQL and flag any HUGEINT / UHUGEINT /
    DECIMAL output column — those need an explicit CAST in the SQL.
  * the main run compares coarse type classes (int/float/decimal/str/...)
    between the DuckDB relation and the Spark schema per column, so a type
    mismatch FAILs locally even though fetchall() collapses the values.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from session import build_session, check_conf

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Oracles run with fewer DuckDB threads than the default.  The peak of
# ``dedup_exact_substring``'s oracle (every document's 15-gram strings
# materialized by ``list_transform``) lies outside DuckDB's buffer manager,
# so ``memory_limit`` does not bound it, and it grows with threads: alone at
# sf0.1 it peaks at 11,050 MiB RSS with 4 threads and 6,301 MiB with 1.
ORACLE_THREADS = {"dedup_exact_substring": 1}


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if v != v:
            return "<NULL>"
        # type-faithful: a whole float stays float-rendered (the driver's
        # hash is type-sensitive — 3 vs 3.0 must NOT collapse, VERDICT r1 #2)
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _duck_type_class(t: str) -> str:
    t = str(t).upper()
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "list"
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    if t in ("HUGEINT", "UHUGEINT"):
        return "hugeint"  # no Spark equivalent — always a driver hash risk
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t == "BLOB":
        return "bytes"
    return t.lower()


def _spark_type_class(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    return type(dt).__name__.lower()


def type_mismatches(sdf_schema, scols, rel):
    """Coarse per-column type-class diff between Spark result and oracle."""
    duck = {c: _duck_type_class(t) for c, t in zip(rel.columns, rel.types)}
    spark = {f.name: _spark_type_class(f.dataType) for f in sdf_schema.fields}
    out = []
    for c in scols:
        if c in duck and c in spark and duck[c] != spark[c]:
            out.append(f"{c}: spark={spark[c]} duck={duck[c]}")
    return out


def lint_oracles(con, oracles) -> int:
    """Flag oracle SQLs whose output schema contains HUGEINT/DECIMAL."""
    n_bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql(sql)
            bad = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, rel.types)
                if _duck_type_class(t) in ("hugeint", "decimal")
            ]
        except Exception as e:
            print(f"LINT-ERR {name}: {type(e).__name__}: {str(e)[:200]}")
            n_bad += 1
            continue
        if bad:
            print(f"LINT {name}: {', '.join(bad)} — CAST to BIGINT/DOUBLE in the SQL")
            n_bad += 1
    print(f"\nlint: {n_bad} flagged of {len(oracles)}")
    return n_bad


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()[:16]


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_evidence(root: str = _ROOT) -> dict:
    """query -> newest round with a green driver row (CORRECTNESS_r*.json)."""
    import glob
    import json
    import re

    latest = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            # green ONLY when the value hash matched, or when the row is a
            # rows-only gate (hash_match is None: no oracle SQL) that
            # matched row counts cleanly.  A hash_match=False row with
            # equal counts is a VALUE MISMATCH and must never be ledgered
            # as verified (ADVICE r5 medium — r1/r2 contain such rows).
            ok = row.get("hash_match") is True or (
                row.get("hash_match") is None
                and row.get("rows_match")
                and not row.get("err")
            )
            if ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def update_evidence(passed_names, sf_label: str) -> None:
    """Record a green local run per (query, sf) and regenerate EVIDENCE.md.

    The staleness ledger the r4 verdict asked for: one line per registry
    row mapping it to its newest green DRIVER round (the hard signal,
    from CORRECTNESS_r*.json) and its newest green LOCAL sweep date per
    SF (the soft signal, accumulated here across runs in EVIDENCE.json).
    Regenerated on every check_correctness run so it is build-fresh.
    """
    import json

    import __spark_entry__ as entrymod

    ledger_path = os.path.join(_ROOT, "EVIDENCE.json")
    try:
        ledger = json.load(open(ledger_path))
    except Exception:
        ledger = {}
    # only the canonical SFs are ledgered — a run against a temp/bench dir
    # must not accumulate invisible entries the MD never renders (ADVICE r5)
    if sf_label in ("sf0.001", "sf0.01", "sf0.1"):
        today = time.strftime("%Y-%m-%d")
        for name in passed_names:
            ledger.setdefault(name, {})[sf_label] = today
        json.dump(ledger, open(ledger_path, "w"), indent=0, sort_keys=True)

    driver = _driver_evidence()
    names = list(entrymod.queries().keys())
    lines = [
        "# Evidence ledger",
        "",
        "Generated by `tools/check_correctness.py` after every local run.",
        "`driver` = newest round with a green driver row in"
        " `CORRECTNESS_r*.json` (the hard signal; `-` = never"
        " driver-checked).  `local sf*` = date of the newest green local"
        " oracle sweep at that scale factor.  Rows in registry order ="
        " driver-budget priority order.",
        "",
        "| # | query | driver | local sf0.001 | local sf0.01 | local sf0.1 |",
        "|---|---|---|---|---|---|",
    ]
    for i, name in enumerate(names, 1):
        loc = ledger.get(name, {})
        lines.append(
            f"| {i} | {name} | "
            f"{('r%d' % driver[name]) if name in driver else '-'} | "
            f"{loc.get('sf0.001', '-')} | {loc.get('sf0.01', '-')} | "
            f"{loc.get('sf0.1', '-')} |"
        )
    never = sum(1 for n in names if n not in driver)
    lines.append("")
    lines.append(
        f"Registry: {len(names)} rows; {len(names) - never} with >=1 green"
        f" driver row, {never} never driver-checked."
    )
    with open(os.path.join(_ROOT, "EVIDENCE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main():
    if "--evidence-only" in sys.argv[1:]:
        # --evidence-only must be the SOLE argument (ADVICE r13): a call
        # like `check_correctness.py --evidence-only some_query` LOOKS
        # like a gate run but would only re-render the MD — error out
        # instead of silently discarding the extra arguments.
        extra = [a for a in sys.argv[1:] if a != "--evidence-only"]
        if extra:
            raise SystemExit(
                f"--evidence-only takes no other arguments (got {extra}): "
                "it only re-renders EVIDENCE.md and runs no queries"
            )
        # regenerate EVIDENCE.md from the current CORRECTNESS_r*.json set
        # WITHOUT running anything (VERDICT r12 #3: the driver writes its
        # artifact after the round's last local sweep, so the ledger must
        # be refreshable at the next round's start — and as a closing
        # step — or the rotation reads a stale driver column).  No Spark
        # session, no ledger-date changes: "refresh" is not a canonical
        # SF label, so only the MD is re-rendered.
        update_evidence([], "refresh")
        print("EVIDENCE.md regenerated from CORRECTNESS_r*.json")
        return
    args = [a for a in sys.argv[1:] if a != "--lint"]
    lint_only = "--lint" in sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))
    # a mistyped path must not silently fall back to the default dir and
    # then "pass" zero queries (ADVICE r6): anything path-shaped that is
    # not a directory is an error, as is an unknown query name (validated
    # below once the registry is imported)
    pathlike = [a for a in only if os.sep in a or a.startswith(".")]
    if pathlike:
        raise SystemExit(f"not a directory: {pathlike}")
    # KEH_CHECK_CONF ("k=v;k=v", parsed before Spark starts) perturbs the
    # session layout (spark.master, shuffle partitions) or strategy (AQE
    # off, ...).  Results must be invariant to all of them: one that moves
    # with partition count (top-k ties, any_value, first-in-group) is
    # nondeterministic at cluster scale even when it matches the oracle.
    overlay = check_conf()

    import __spark_entry__ as entrymod

    unknown = sorted(only - set(entrymod.queries()))
    if unknown and not lint_only:
        raise SystemExit(f"unknown query names: {unknown}")

    if lint_only:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        sys.exit(1 if lint_oracles(con, entrymod.oracle_sql()) else 0)

    spark = build_session("keh-correctness", 8, driver_memory="8g", conf=overlay)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    print(f"session {spark.sparkContext.master} shuffle.partitions={shuffle}")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    passed_names = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"okR  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            passed_names.append(name)
            continue
        threads = ORACLE_THREADS.get(name)
        try:
            if threads:
                con.execute(f"SET threads = {threads}")
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        finally:
            if threads:
                con.execute("RESET threads")
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            tmis = type_mismatches(sdf.schema, scols, rel)
            if tmis:
                problems.append("type-class " + "; ".join(tmis))
        if not problems:
            hs, hd = frame_hash(scols, srows), frame_hash(dcols, drows)
            if hs != hd:
                problems.append(f"hash {hs} != {hd}")
                ss = set("\x1f".join(_canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
                ds = set("\x1f".join(_canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows)
                diff_s = list(ss - ds)[:3]
                diff_d = list(ds - ss)[:3]
                if diff_s:
                    problems.append(f"spark-only: {diff_s}")
                if diff_d:
                    problems.append(f"duck-only: {diff_d}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"ok   {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            passed_names.append(name)
    update_evidence(passed_names, os.path.basename(os.path.normpath(sf_dir)))
    print(f"\n{n_pass} ok, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

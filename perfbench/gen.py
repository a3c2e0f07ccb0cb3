"""Seeded input generator for the perfbench workloads.

Writes one workload's inputs and a ``manifest.json`` of the outcomes the
benchmark must observe (success count, malformed count, count per
``error_class``) into a directory.  The same seed gives the same bytes.
The program under test only ever sees these files.

    python3 perfbench/gen.py --workload stream_captured --seed 7 --out DIR

``--open-loop`` is the stream_captured load generator: a separate process
that writes JSON-lines files into a watched directory on a wall-clock
schedule that never slows down for the consumer, stamping each record with
the time it was due.  It writes its own manifest when the schedule ends.

    python3 perfbench/gen.py --open-loop --seed 7 --out DIR

For registry_regimes the manifest holds each query's expected rows, computed
by the query's DuckDB oracle (``oracle_sql()`` of the repository entry
point) over the generated tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are set so per-record work, not per-job fixed cost, fills most of a
# drain or pass, and a run with its warm-up fits the time budget in
# perfbench/README.md.
STREAM_BACKLOG_FILES = 4
STREAM_RECORDS_PER_FILE = 25_000
STREAM_FAIL_RATE = 0.01
STREAM_MALFORMED_RATE = 0.002  # truncated JSON values: from_json_captured's error branch
STREAM_WARMUP_FILES = 1
# Open loop: about a third of what the drain phase sustains on a 4-core
# host, so the backlog stays flat and latency measures per-batch cost.
STREAM_OPEN_RATE = 20_000.0  # records/s
STREAM_OPEN_S = 8.0
STREAM_TICK_S = 0.25  # one file per tick
OPEN_LOOP_FIRST_OFFSET = 10_000_000  # above every pre-generated offset
TOPIC = "events"
PARTITIONS = 4


def _write_manifest(out: str, manifest: dict) -> None:
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


def _stream_lines(rng: np.random.Generator, first_offset: int, n: int, created_ms) -> tuple:
    """JSON-lines text for n stream records, their failure count and their
    malformed count."""
    amounts = np.round(rng.uniform(1.0, 5000.0, n), 2)
    u = rng.random(n)
    poison = u < STREAM_FAIL_RATE
    malformed = (u >= STREAM_FAIL_RATE) & (u < STREAM_FAIL_RATE + STREAM_MALFORMED_RATE)
    amounts[poison] = -amounts[poison]
    lines = []
    for i in range(n):
        off = first_offset + i
        value = '{"id": %d, "amount": %.2f}' % (off, amounts[i])
        if malformed[i]:
            value = value[:-4]  # drop the decimals and the closing brace
        lines.append(json.dumps({
            "key": "user-%05d" % (off % 50_000), "value": value, "topic": TOPIC,
            "partition": off % PARTITIONS, "offset": off,
            "created_ms": float(created_ms[i]),
        }))
    return "\n".join(lines) + "\n", int(poison.sum()), int(malformed.sum())


def _stream_manifest(n: int, fails: int, malformed: int) -> dict:
    return {
        "records": n, "success": n - fails - malformed, "dead_letters": fails + malformed,
        "malformed": malformed,
        "error_class": {"ValueError": fails, "JsonParseError": malformed},
    }


def _write_atomically(directory: str, name: str, text: str) -> None:
    # the file source skips names that start with "." — rename makes the
    # file appear whole
    tmp = os.path.join(directory, "." + name)
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(directory, name))


def gen_stream_captured(seed: int, out: str) -> dict:
    """The drain backlog (fixed, pre-generated) and a warm-up file the
    open-loop query processes before the generator starts.  Their
    created_ms is 0: neither is part of the latency sample."""
    rng = np.random.default_rng(seed)
    manifest = {}
    for phase, files in (("warmup", STREAM_WARMUP_FILES), ("backlog", STREAM_BACKLOG_FILES)):
        d = os.path.join(out, phase)
        os.makedirs(d, exist_ok=True)
        fails = malformed = 0
        for f in range(files):
            first = f * STREAM_RECORDS_PER_FILE
            text, n_fail, n_bad = _stream_lines(
                rng, first, STREAM_RECORDS_PER_FILE, np.zeros(STREAM_RECORDS_PER_FILE)
            )
            _write_atomically(d, "part-%05d.json" % f, text)
            fails += n_fail
            malformed += n_bad
        manifest[phase] = _stream_manifest(files * STREAM_RECORDS_PER_FILE, fails, malformed)
    return manifest


def open_loop(seed: int, out: str) -> dict:
    """Write STREAM_OPEN_RATE records/s into ``out`` for STREAM_OPEN_S, one
    file per STREAM_TICK_S.  Each record's created_ms is the moment it was
    due; a file is due when its last record is.  Never waits for the
    consumer."""
    rng = np.random.default_rng(seed + 1_000_003)
    rate, tick = STREAM_OPEN_RATE, STREAM_TICK_S
    per_tick = int(round(rate * tick))
    ticks = int(round(STREAM_OPEN_S / tick))
    start = time.time() + 0.05
    lags = []
    fails = malformed = 0
    for t in range(ticks):
        due = start + (t + 1) * tick
        created = (start + t * tick + (np.arange(per_tick) + 1) / rate) * 1000.0
        text, n_fail, n_bad = _stream_lines(
            rng, OPEN_LOOP_FIRST_OFFSET + t * per_tick, per_tick, created)
        fails += n_fail
        malformed += n_bad
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        _write_atomically(out, "tick-%06d.json" % t, text)
        lags.append((time.time() - due) * 1000.0)
    return dict(_stream_manifest(ticks * per_tick, fails, malformed), lag_ms=lags)


# registry_regimes: a TPC-H-shaped lineitem table at about scale factor
# 0.005 (the repository's test tables at sf0.001 / sf0.01 bracket it),
# enough for the co-purchase graph to hold support-2 edges between a
# thousand parts.
REG_ORDERS = 30_000
REG_PARTS = 1_000
REG_SUPPLIERS = 50
# The registry queries the workload runs: the driver-budget regimes of the
# basket (see perfbench/README.md).  Both read the memoized co-purchase
# edges.
REG_QUERIES = ("graph_kcore", "graph_connected_components")


def _lineitem(rng: np.random.Generator) -> pa.Table:
    no = REG_ORDERS
    lines = 1 + rng.binomial(12, 0.25, no)
    n = int(lines.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    day0 = pd.Timestamp("1995-01-01").value // 1000
    return pa.table({
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, REG_PARTS, n),
        "l_suppkey": rng.integers(0, REG_SUPPLIERS, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(day0 + rng.integers(0, 2_500, n) * 86_400_000_000,
                               pa.timestamp("us")),
    })


def gen_registry_regimes(seed: int, out: str) -> dict:
    """The lineitem table, the seeded query order, and each query's
    expected rows from its DuckDB oracle."""
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__

    rng = np.random.default_rng(seed)
    path = os.path.join(out, "lineitem.parquet")
    lineitem = _lineitem(rng)
    pq.write_table(lineitem, path)
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    expected = {}
    for q in REG_QUERIES:
        rel = con.sql(oracles[q])
        expected[q] = {"columns": rel.columns, "rows": [list(r) for r in rel.fetchall()]}
    con.close()
    order = list(REG_QUERIES)
    rng.shuffle(order)
    return {"queries": order, "expected": expected, "records": lineitem.num_rows}


GENERATORS = {
    "stream_captured": gen_stream_captured,
    "registry_regimes": gen_registry_regimes,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--open-loop", action="store_true")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    if args.open_loop:
        manifest = open_loop(args.seed, args.out)
        with open(os.path.join(args.out, ".manifest.json"), "w") as f:
            json.dump(manifest, f)
        return
    if args.workload is None:
        ap.error("--workload is required without --open-loop")
    manifest = GENERATORS[args.workload](args.seed, args.out)
    manifest.update(workload=args.workload, seed=args.seed)
    _write_manifest(args.out, manifest)


if __name__ == "__main__":
    main()

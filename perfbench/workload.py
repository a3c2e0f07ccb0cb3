"""Spark side of perfbench: runs one workload over generated inputs, checks
its outputs and writes a result JSON.  ``run.py`` starts it; see
``perfbench/README.md`` for the workloads, the metrics and the layers.

    python3 perfbench/workload.py --workload W --data DIR --work DIR \
        --seed N --seconds S --trace 0|1 --result FILE

The package is driven only through its public functions.  Timed regions
contain the pipeline and nothing else; output checks run after them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = float(os.environ.get("PERFBENCH_T0", time.time()))
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

import __spark_entry__  # noqa: E402
from kafka_error_handling_spark import memo, model  # noqa: E402
from kafka_error_handling_spark.formats.avro_format import (  # noqa: E402
    decode_dead_letter,
    encode_dead_letter,
    to_avro_dead_letter,
)
from kafka_error_handling_spark.functions.dead_letter import dead_letters  # noqa: E402
from kafka_error_handling_spark.functions.headers import (  # noqa: E402
    HEADER_EXCEPTION_CLASS_NAME,
    with_error_headers,
)
from kafka_error_handling_spark.operators.capture import (  # noqa: E402
    capture_map_values,
    errors,
)
from kafka_error_handling_spark.sources.files import load_table  # noqa: E402
from kafka_error_handling_spark.sources.serde import from_json_captured  # noqa: E402
from kafka_error_handling_spark.streaming.runner import run_captured  # noqa: E402
from perfbench import probe, userfns  # noqa: E402

DESCRIPTION = "perfbench dead letter"
STREAM_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("created_ms", T.DoubleType()),
])
STREAM_VALUE_SCHEMA = "id LONG, amount DOUBLE"
STREAM_MAX_FILES = 4  # fixed maximum batch size of the drain phase (files)
PREFIX_REPS = 3
MIN_PASSES = 2  # timed passes per run, whatever --seconds allows


def spark_cores() -> int:
    """Half the CPUs run Spark tasks; the JVM's own threads (GC, JIT, the
    stream execution thread), the Python workers feeding on those tasks and
    the driver take the rest.  With a task thread on every CPU the same
    drain took 10-15% more CPU time and varied more between runs."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def new_session(work: str) -> SparkSession:
    n = spark_cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def full_gc(sc) -> None:
    """A full JVM GC before a timed pass, so one pass's garbage is not
    collected inside the next one's time."""
    sc._jvm.System.gc()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(values, q):
    """q-th percentile of values; falls back to the highest percentile with
    at least ten samples beyond it.  Returns (value, percentile used)."""
    values = sorted(values)
    n = len(values)
    q_eff = min(q, 100.0 * (1 - 10.0 / n)) if n > 10 else 50.0
    return values[min(n - 1, max(0, math.ceil(n * q_eff / 100.0) - 1))], q_eff


# ---------------------------------------------------------------------------
# Shared pipeline pieces
# ---------------------------------------------------------------------------


def dlq_tail(errs, keep=()):
    """errors -> error headers -> dead letters -> Avro value (DLQ records).
    ``keep`` names extra input columns carried next to the record."""
    h = with_error_headers(
        errs, DESCRIPTION, topic_col="topic", partition_col="partition", offset_col="offset"
    )
    cols = ["key", "headers", *keep]
    d = dead_letters(
        h, DESCRIPTION, key_cols=cols, topic_col="topic",
        partition_col="partition", offset_col="offset",
        timestamp_col="timestamp" if "timestamp" in errs.columns else None,
    )
    return d.select(*cols, to_avro_dead_letter(F.col("dead_letter")).alias("value"))


def dlq_class_counts(dlq) -> dict:
    cls = F.filter("headers", lambda h: h["key"] == HEADER_EXCEPTION_CLASS_NAME)[0]["value"]
    rows = dlq.groupBy(F.decode(cls, "UTF-8").alias("c")).count().collect()
    return {r["c"]: r["count"] for r in rows}


def check_avro_sample(dlq, classes, n=20) -> list:
    """Decode a sample of DLQ values with the package's own decoder."""
    problems = []
    for row in dlq.select("value").limit(n).collect():
        d = decode_dead_letter(bytes(row["value"]))
        if d["description"] != DESCRIPTION:
            problems.append("avro description")
        if d["cause"]["error_class"] not in classes:
            problems.append(f"avro error_class {d['cause']['error_class']}")
        if d["input_value"] is None:
            problems.append("avro input_value missing")
        if d["topic"] != "events" or d["offset"] is None:
            problems.append("avro metadata")
    return problems


def measure_prefix(sc, spans, layer, build):
    """Median time, stage totals and Python-node metrics of PREFIX_REPS
    runs of one prefix of a pipeline, each tagged with its own job group."""
    reps, st = [], []
    for r in range(PREFIX_REPS):
        group = f"prefix.{layer}.{r}"
        sc.setJobGroup(group, group)
        with spans.span(f"prefix.{layer}"):
            t = time.perf_counter()
            pm = probe.python_node_metrics(build())
            reps.append(time.perf_counter() - t)
        st.append(probe.stage_totals(sc, probe.group_jobs(sc, group)))
    return median(reps), {k: median([s[k] for s in st]) for k in st[0]}, pm


def layer_steps(m, chain):
    """(self seconds, self stage totals) per layer: each layer's prefix
    over the prefix before it.  ``chain`` maps layer -> base (None for
    the first prefix)."""
    out = {}
    for layer, base in chain.items():
        t, st, _ = m[layer]
        bt, bst, _ = m[base] if base else (0.0, {k: 0 for k in st}, None)
        out[layer] = (t - bt, {k: st[k] - bst[k] for k in st})
    return out


def add_stage_totals(per, steps):
    """Sum each layer's stage totals into <package layer>.<metric>."""
    for layer, (_, st) in steps.items():
        group = layer.split(".")[0]
        for k, v in st.items():
            if k != "stages":
                per[f"{group}.{k}"] = per.get(f"{group}.{k}", 0.0) + v


class Check:
    """Counts checked outcomes: attempted and failed units."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list = []

    def records(self, expected: int, observed: int, what: str) -> None:
        self.attempted += expected
        if observed != expected:
            self.failed += max(1, abs(observed - expected))
            self.problems.append(f"{what}: expected {expected}, got {observed}")

    def classes(self, expected: dict, observed: dict, what: str) -> None:
        for cls in set(expected) | set(observed):
            e, o = expected.get(cls, 0), observed.get(cls, 0)
            if e != o:
                self.failed += max(1, abs(o - e))
                self.problems.append(f"{what} {cls}: expected {e}, got {o}")

    def flag(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


# ---------------------------------------------------------------------------
# stream_captured
# ---------------------------------------------------------------------------


def parse_and_enrich(batch, fn):
    """from_json_captured on the value, then capture_map_values on its
    amount.  A record that does not parse keeps its parse error; the user
    function still sees it (with a null amount), so it runs once per
    record."""
    parsed = from_json_captured(batch, "value", STREAM_VALUE_SCHEMA, processed_col="p")
    enriched = capture_map_values(
        parsed.withColumn("amount", F.col("p.result.amount")),
        fn, T.DoubleType(), value_col="amount", processed_col="c",
    )
    bad = F.struct(F.lit(None).cast("double").alias("result"), F.col("p.error").alias("error"))
    r = F.when(F.col("p.error").isNotNull(), bad).otherwise(F.col("c"))
    return enriched.withColumn("r", r).drop("p", "c")


class Stream:
    """Open-loop phase for latency, drain phase for records/s."""


    def __init__(self, spark, data, work, manifest, seed):
        self.spark, self.data, self.work, self.m, self.seed = spark, data, work, manifest, seed
        self.sc = spark.sparkContext
        self.calls = self.sc.accumulator(0)
        self.n_runs = 0

    def backlog(self):
        return self.spark.read.schema(STREAM_SCHEMA).json(os.path.join(self.data, "backlog"))

    def read_inputs(self) -> None:
        self.backlog().count()

    def _transform(self, batch):
        return parse_and_enrich(batch, userfns.make_enrich(self.calls))

    def _query(self, source_dir, trigger, max_files=None):
        """Start run_captured over a file source; returns (query, paths,
        per-batch commit times)."""
        self.n_runs += 1
        base = os.path.join(self.work, "stream", f"q{self.n_runs}")
        ok_dir, dlq_dir = os.path.join(base, "ok"), os.path.join(base, "dlq")
        commits = {}
        reader = self.spark.readStream.schema(STREAM_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        src = reader.json(source_dir)

        def write_ok(df, batch_id):
            (df.select("offset", "created_ms", F.lit(batch_id).alias("batch_id"), "result")
             .write.mode("append").parquet(ok_dir))

        def write_dlq(df, batch_id):
            (dlq_tail(df, keep=["created_ms"]).withColumn("batch_id", F.lit(batch_id))
             .write.mode("append").parquet(dlq_dir))
            commits[batch_id] = time.time() * 1000.0

        q = run_captured(src, self._transform, write_ok, write_dlq,
                         checkpoint=os.path.join(base, "checkpoint"), trigger=trigger,
                         query_name=f"perfbench_{self.n_runs}")
        return q, ok_dir, dlq_dir, commits

    def warm_up_passes(self):
        """Untimed drains before timing (JIT, Python workers, Arrow buffers,
        code generation).  A fresh JVM runs its first drain about three
        times as slow as the next, so the first one drains the smaller
        warm-up file."""
        return [lambda: self.drain(os.path.join(self.data, "warmup")), self.drain, self.drain]

    def drain(self, source=None):
        """Drain the fixed backlog (or ``source``) with availableNow; ends
        by exhausting it."""
        t = time.perf_counter()
        q, ok_dir, dlq_dir, _ = self._query(
            source or os.path.join(self.data, "backlog"), {"availableNow": True},
            STREAM_MAX_FILES)
        q.awaitTermination()
        elapsed = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return elapsed, q, ok_dir, dlq_dir

    def open_loop(self):
        """Run the open-loop generator against a running query, then drain
        what it wrote and stop between batches.

        The query first processes the warm-up backlog, so its start-up cost
        lands in a batch of its own before the generator's clock starts."""
        src_dir = os.path.join(self.work, "stream", "open")
        os.makedirs(src_dir, exist_ok=True)
        warm = os.path.join(self.data, "warmup")
        for name in os.listdir(warm):
            shutil.copy(os.path.join(warm, name), src_dir)
        q, ok_dir, dlq_dir, commits = self._query(src_dir, None)
        q.processAllAvailable()
        gen = subprocess.Popen([
            sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), "--open-loop",
            "--seed", str(self.seed), "--out", src_dir,
        ])
        if gen.wait() != 0:
            q.stop()
            raise RuntimeError("open-loop generator failed")
        q.processAllAvailable()
        q.stop()
        with open(os.path.join(src_dir, ".manifest.json")) as f:
            gen_manifest = json.load(f)
        return q, ok_dir, dlq_dir, commits, gen_manifest

    def check_sinks(self, chk, m, ok_dir, dlq_dir, full):
        ok = self.spark.read.parquet(ok_dir)
        dlq = self.spark.read.parquet(dlq_dir)
        n_ok, n_dlq = ok.count(), dlq.count()
        chk.records(m["success"], n_ok, "stream success")
        chk.records(m["dead_letters"], n_dlq, "stream dead letters")
        chk.records(m["records"], ok.select("offset").distinct().count() + n_dlq, "stream landed")
        if full:
            chk.classes(m["error_class"], dlq_class_counts(dlq), "stream error_class")
            for p in check_avro_sample(dlq, set(m["error_class"])):
                chk.flag(False, p)
        return ok, dlq

    def unwrapped(self):
        """Same input and function without capture: plain from_json and a
        plain pandas UDF that returns null where the function raises."""
        fn = userfns.make_enrich(self.sc.accumulator(0))

        @pandas_udf("double")
        def plain(amounts: pd.Series) -> pd.Series:
            out = []
            for a in amounts.tolist():
                try:
                    out.append(fn(None if a != a else a))
                except ValueError:  # the unwrapped leg drops failures
                    out.append(None)
            return pd.Series(out, dtype="float64")

        parsed = self.backlog().withColumn("p", F.from_json("value", STREAM_VALUE_SCHEMA))
        return parsed.withColumn("result", plain(F.col("p.amount")))

    def prefixes(self, spans):
        """Layer times of one micro-batch's work over the backlog read as a
        batch: scan, + from_json_captured, + capture_map_values; then, from
        the cached processed frame as a micro-batch has it, the error
        branch, + with_error_headers and dead_letters, + to_avro_dead_letter.
        The unwrapped leg runs the same function with neither capture."""
        fresh = lambda: parse_and_enrich(  # noqa: E731
            self.backlog(), userfns.make_enrich(self.sc.accumulator(0)))
        chain = {
            "sources.scan": self.backlog,
            "sources.parse": lambda: from_json_captured(
                self.backlog(), "value", STREAM_VALUE_SCHEMA, processed_col="p"),
            "operators.capture": fresh,
            "operators.unwrapped": self.unwrapped,
        }
        m = {}
        with spans.span("trace.prefixes"):
            for layer, build in chain.items():
                m[layer] = measure_prefix(self.sc, spans, layer, build)
            cached = fresh().persist()
            cached.write.format("noop").mode("overwrite").save()
            errs = errors(cached, "r")
            tail = {
                "dlq.cached": lambda: errs,
                "functions.dead_letter": lambda: dead_letters(
                    with_error_headers(errs, DESCRIPTION, topic_col="topic",
                                       partition_col="partition", offset_col="offset"),
                    DESCRIPTION, key_cols=["key", "headers"], topic_col="topic",
                    partition_col="partition", offset_col="offset"),
                "formats.avro": lambda: dlq_tail(errs, keep=["created_ms"]),
            }
            for layer, build in tail.items():
                m[layer] = measure_prefix(self.sc, spans, layer, build)
            cached.unpersist()
        steps = layer_steps(m, {
            "sources.scan": None,
            "sources.parse": "sources.scan",
            "operators.capture": "sources.parse",
            "functions.dead_letter": "dlq.cached",
            "formats.avro": "functions.dead_letter",
        })
        malformed = chain["sources.parse"]().filter(F.col("p.error").isNotNull()).count()
        cap_py = m["operators.capture"][2]
        payload_us, trace_bytes = self._payload_cost()
        per = {
            "sources.scan_s": steps["sources.scan"][0],
            "sources.parse_s": steps["sources.parse"][0],
            "sources.malformed": malformed,
            "operators.capture_s": steps["operators.capture"][0],
            # the unwrapped leg's parse and function, over the bare scan
            "operators.unwrapped_s": m["operators.unwrapped"][0] - m["sources.scan"][0],
            "operators.overhead_ratio": m["operators.capture"][0] / m["operators.unwrapped"][0],
            "operators.arrow_rows_in": cap_py["python_rows"],
            "operators.arrow_bytes_sent": cap_py["bytes_sent"],
            "operators.arrow_bytes_received": cap_py["bytes_received"],
            "model.error_payload_us": payload_us,
            "model.stack_trace_bytes": trace_bytes,
            "functions.dead_letter_s": steps["functions.dead_letter"][0],
            "formats.avro_s": steps["formats.avro"][0],
        }
        add_stage_totals(per, steps)
        return per, {"prefix_s": {k: v[0] for k, v in m.items()},
                     "prefix_stages": {k: v[1] for k, v in m.items()},
                     "python_nodes": {k: v[2] for k, v in m.items()}}

    def _payload_cost(self):
        """Per-call time of model.error_payload on this workload's failing
        records, timed in the driver, and the stack-trace bytes it renders."""
        enrich = userfns.make_enrich(_Counter())
        rows = self.backlog().select(
            F.get_json_object("value", "$.amount").cast("double").alias("a")
        ).filter("a < 0").collect()
        excs = []
        for r in rows:
            try:
                enrich(r["a"])
            except ValueError as exc:
                excs.append((r["a"], exc))
        t = time.perf_counter()
        payloads = [model.error_payload(v, e) for v, e in excs]
        per_call_us = (time.perf_counter() - t) / max(1, len(excs)) * 1e6
        return per_call_us, sum(len(p["stack_trace"] or "") for p in payloads)

    def encode_cost(self, dlq_dir):
        """Per-record time of encode_dead_letter in the driver over a
        drain's dead letters, and that DLQ's total Avro bytes."""
        dlq = self.spark.read.parquet(dlq_dir)
        total = dlq.agg(F.sum(F.length("value"))).first()[0] or 0
        letters = [decode_dead_letter(bytes(r["value"]))
                   for r in dlq.select("value").limit(5_000).collect()]
        t = time.perf_counter()
        for d in letters:
            encode_dead_letter(d)
        return (time.perf_counter() - t) / max(1, len(letters)) * 1e6, int(total)


class _Counter:
    """Stands in for a Spark accumulator when a user function runs in the
    driver."""

    def add(self, n):
        pass


def progress_stats(q) -> dict:
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    dur = lambda key: [p.durationMs.get(key, 0) for p in batches]  # noqa: E731
    pct = lambda xs, p: float(statistics.quantiles(xs, n=100)[p - 1]) if len(xs) > 1 else float(xs[0]) if xs else 0.0  # noqa: E731
    return {
        "batches": len(batches),
        "batch_ms_p50": median(dur("triggerExecution")),
        "batch_ms_p95": pct(dur("triggerExecution"), 95),
        "add_batch_ms_p50": median(dur("addBatch")),
        "planning_ms_p50": median(dur("queryPlanning")),
        "commit_ms_p50": median(dur("commitOffsets")),
        "rows_per_batch_p50": median([p.numInputRows for p in batches]),
    }


# ---------------------------------------------------------------------------
# registry_regimes
# ---------------------------------------------------------------------------


def same_rows(columns, got, want) -> bool:
    """Order-insensitive equality of Spark rows and oracle rows; numbers
    compare with a relative tolerance of 1e-9."""
    def key(row):
        return tuple("%.6g" % v if isinstance(v, float) else str(v) for v in row)

    def close(a, b):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        return a == b

    g = sorted((tuple(r[c] for c in columns) for r in got), key=key)
    w = sorted((tuple(r) for r in want), key=key)
    return len(g) == len(w) and all(
        close(a, b) for rg, rw in zip(g, w) for a, b in zip(rg, rw))


class Registry:
    """One pass = every basket query in the seeded order, each result
    collected to the driver."""

    def __init__(self, spark, data, work, manifest, seed):
        self.spark, self.data, self.m = spark, data, manifest
        self.sc = spark.sparkContext
        self.qs = __spark_entry__.queries()
        self.results = {}

    def read_inputs(self) -> None:
        load_table(self.spark, self.data, "lineitem").count()

    def warm_up_passes(self):
        """Untimed passes before timing: a fresh JVM runs its first pass
        about six times as slow as the next, which is within a few percent
        of the timed ones."""
        return [self.run_pass] * 2

    def _run(self, q):
        rows = self.qs[q](self.spark, self.data).collect()
        # queries may persist intermediates; drop them so one query's
        # cache never lands in the next one's time
        self.spark.catalog.clearCache()
        return rows

    def run_pass(self) -> float:
        t = time.perf_counter()
        for q in self.m["queries"]:
            self.results[q] = self._run(q)
        return time.perf_counter() - t

    def check_pass(self, chk: Check) -> None:
        """Results of the last pass against each query's DuckDB oracle."""
        for q, want in self.m["expected"].items():
            got = self.results[q]
            chk.records(len(want["rows"]), len(got), f"{q} rows")
            chk.flag(same_rows(want["columns"], got, want["rows"]), f"{q} differs from its oracle")

    def trace(self, spans, untraced_wall):
        """Per-query times, jobs, stages and eager-checkpoint jobs of
        PREFIX_REPS passes, each query's jobs in their own job group, and
        the memo's hits and builds over those passes."""
        sc = self.sc
        before = {k: list(v) for k, v in memo.STATS.items()}
        per_q = {q: [] for q in self.m["queries"]}
        jobs, traced = [], []
        for r in range(PREFIX_REPS):
            full_gc(sc)
            with spans.span("pass"):
                t = time.perf_counter()
                for q in self.m["queries"]:
                    group = f"plans.{q}.{r}"
                    sc.setJobGroup(group, group)
                    with spans.span(f"plans.{q}"):
                        tq = time.perf_counter()
                        self._run(q)
                        per_q[q].append(time.perf_counter() - tq)
                    jobs.extend(probe.group_jobs(sc, group))
                traced.append(time.perf_counter() - t)

        def memo_delta(i):
            return sum(v[i] - before.get(k, [0, 0])[i] for k, v in memo.STATS.items())

        st = probe.stage_totals(sc, jobs)
        names = probe.job_names(sc, jobs)
        per = {f"plans.{q}.s": median(v) for q, v in per_q.items()}
        per.update({
            "plans.jobs": len(jobs) / PREFIX_REPS,
            "plans.stages": st["stages"] / PREFIX_REPS,
            "plans.checkpoint_jobs": sum("localCheckpoint" in n for n in names) / PREFIX_REPS,
            "memo.hits": memo_delta(0) / PREFIX_REPS,
            "memo.builds": memo_delta(1) / PREFIX_REPS,
            "trace.wall_s": median(traced),
            "trace.overhead_s": median(traced) - untraced_wall,
        })
        for k, v in st.items():
            if k != "stages":
                per[f"plans.{k}"] = v / PREFIX_REPS
        return per, {"plans_s": per_q, "traced_passes_s": traced,
                     "job_names": sorted(set(names))}


# ---------------------------------------------------------------------------
# Driver
# ---------------------------------------------------------------------------

WORKLOADS = {"stream_captured": Stream, "registry_regimes": Registry}


def set_up(args, manifest):
    """The workload object, and the set-up time from process start:
    imports, JVM, SparkSession and reading the generated input."""
    spark = new_session(args.work)
    wl = WORKLOADS[args.workload](spark, args.data, args.work, manifest, args.seed)
    wl.read_inputs()
    return wl, time.time() - T_START


def warm_up(wl, result) -> None:
    result["warmup_s"] = []
    for run_once in wl.warm_up_passes():
        t = time.perf_counter()
        run_once()
        result["warmup_s"].append(time.perf_counter() - t)


def pass_metrics(records, walls, cpu) -> dict:
    """Figures of the timed passes: medians over the passes.  ``cpu_s`` is
    the end-to-end one; wall-clock pass times moved with the load on the
    host (by 30% when it stole 1-5% of the CPUs' time, while CPU time moved
    by 10%), so they are reported by the traced run."""
    return {"wall_s": median(walls), "records_per_s": records / median(walls),
            "cpu_s": median(cpu)}


def run_registry(wl, args, result, spans):
    """Passes of the query basket for ``--seconds``; traced: also the
    per-query split."""
    warm_up(wl, result)
    chk = Check()
    walls, cpu = [], []
    deadline = time.perf_counter() + args.seconds
    # at least MIN_PASSES; then stop before a pass that would end past the deadline
    while len(walls) < MIN_PASSES or time.perf_counter() + median(walls) < deadline:
        full_gc(wl.sc)
        c = probe.cpu_sample(os.getpid())
        walls.append(wl.run_pass())
        cpu.append(probe.cpu_s_between(c, probe.cpu_sample(os.getpid())))
    wl.check_pass(chk)
    result["passes_s"], result["passes_cpu_s"] = walls, cpu
    wall = median(walls)
    result["metrics"] = pass_metrics(wl.m["records"], walls, cpu)
    if spans is not None:
        result["per_layer"], result["trace_detail"] = wl.trace(spans, wall)
    return chk


def run_stream(wl, args, result, spans):
    """Untraced: drains of the fixed backlog for ``--seconds``.  Traced:
    also the layer prefixes over the backlog and the open-loop phase,
    which gives per-record latency."""
    chk = Check()
    m = wl.m
    warm_up(wl, result)
    drains, cpu, drain_q, sinks = [], [], None, []
    calls0 = wl.calls.value
    deadline = time.perf_counter() + args.seconds
    while len(drains) < MIN_PASSES or time.perf_counter() + median(drains) < deadline:
        full_gc(wl.sc)
        before = wl.calls.value
        c = probe.cpu_sample(os.getpid())
        elapsed, drain_q, d_ok, d_dlq = wl.drain()
        cpu.append(probe.cpu_s_between(c, probe.cpu_sample(os.getpid())))
        drains.append(elapsed)
        sinks.append((d_ok, d_dlq))
        calls = wl.calls.value - before
        chk.flag(calls == m["backlog"]["records"], f"drain fn calls {calls}")
    for i, (d_ok, d_dlq) in enumerate(sinks):
        wl.check_sinks(chk, m["backlog"], d_ok, d_dlq, full=i == 0)
    calls_per_record = (wl.calls.value - calls0) / (m["backlog"]["records"] * len(drains))
    wall = median(drains)
    result["passes_s"], result["passes_cpu_s"] = drains, cpu
    result["metrics"] = pass_metrics(m["backlog"]["records"], drains, cpu)
    if spans is None:
        return chk

    sc = wl.sc
    jobs = probe.group_jobs(sc, str(drain_q.runId))
    st = probe.stage_totals(sc, jobs)
    dprog = progress_stats(drain_q)
    per, detail = wl.prefixes(spans)
    with spans.span("open_loop"):
        q, ok_dir, dlq_dir, commits, gm = wl.open_loop()
    warm = m["warmup"]
    expected = {k: gm[k] + warm[k] for k in ("records", "success", "dead_letters")}
    expected["error_class"] = {c: gm["error_class"][c] + warm["error_class"][c]
                               for c in gm["error_class"]}
    ok, dlq = wl.check_sinks(chk, expected, ok_dir, dlq_dir, full=True)
    stamps = ok.select("batch_id", "created_ms").union(dlq.select("batch_id", "created_ms"))
    # warm-up records carry created_ms 0; the latency sample is the generator's
    lat = [commits[r["batch_id"]] - r["created_ms"]
           for r in stamps.filter("created_ms > 0").collect()]
    p99, q99 = percentile(lat, 99)
    open_progress = progress_stats(q)
    per.update({f"streaming.{k}": v for k, v in open_progress.items() if k != "batches"})
    per["streaming.latency_p50_ms"] = percentile(lat, 50)[0]
    per["streaming.latency_p99_ms"] = p99
    per["streaming.jobs_per_batch"] = len(jobs) / max(1, dprog["batches"])
    per["streaming.backlog_rows"] = m["backlog"]["records"]
    per["streaming.drain_batch_ms_p50"] = dprog["batch_ms_p50"]
    per["generator.lag_ms"] = median(gm["lag_ms"])
    per["operators.fn_calls_per_record"] = calls_per_record
    per["formats.encode_us"], per["formats.dlq_bytes"] = wl.encode_cost(sinks[-1][1])
    for k, v in st.items():
        if k != "stages":
            per[f"streaming.{k}"] = v
    traced = []
    for _ in range(PREFIX_REPS):
        with spans.span("drain"):
            traced.append(wl.drain()[0])
    per["trace.wall_s"] = median(traced)
    per["trace.overhead_s"] = median(traced) - wall
    result["per_layer"] = per
    result["trace_detail"] = dict(
        detail, open_progress=open_progress, drain_progress=dprog,
        generator_lag_ms_max=max(gm["lag_ms"]),
        latency_samples=len(lat), latency_percentile_used=q99,
    )
    return chk


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    with open(os.path.join(args.data, "manifest.json")) as f:
        manifest = json.load(f)
    wl, setup = set_up(args, manifest)
    result = {}
    spans = probe.Spans() if args.trace else None
    runner = run_stream if args.workload == "stream_captured" else run_registry
    chk = runner(wl, args, result, spans)
    result["metrics"]["setup_s"] = setup
    if spans is not None:
        # wall-clock figures of the timed passes, untraced
        for k in ("wall_s", "records_per_s"):
            result["per_layer"][f"pass.{k}"] = result["metrics"][k]
    result.update(attempted=chk.attempted, failed=chk.failed, problems=chk.problems[:20])
    if spans is not None:
        result["span_self_s"] = spans.self_times()
        result["spans"] = spans.record()
    wl.spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    shutil.rmtree(os.path.join(args.work, "out"), ignore_errors=True)


if __name__ == "__main__":
    main()

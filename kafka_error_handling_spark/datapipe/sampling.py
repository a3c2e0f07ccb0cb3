"""Deterministic sampling & split assignment for training-data pipelines.

``df.sample()`` / ``sampleBy()`` draw from Spark's per-partition RNG: the
selected rows change with partitioning, retries, and engine version — all
three change constantly on a real cluster, which is how training sets
silently drift.  These operators derive the decision from a **content
hash of a key column** instead:

- fully reproducible across runs, engines, partitionings, and retries;
- no coordination, no shuffle — a pure projection/filter that fuses into
  the scan stage (predicate evaluated before anything wide happens);
- consistent across tables: every table sharing the key column samples
  the SAME entities, so joins between sampled tables stay complete
  (the property RNG sampling fundamentally cannot give you).

Hash = md5-derived 60-bit int mod ``DENOM`` (engine-portable, same trick
as dedup.py; uniform to ~2^-40 — far below any statistical noise floor at
training scale).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..regime import local_frame
from ..sources.files import load_table

__all__ = [
    "hash_bucket",
    "hash_sample",
    "assign_split",
    "pack_sequences",
    "mix_sources",
    "take_per_group",
    "stratified_exact",
]

# bucket machinery lives in the leaf module bucket_sql (text.py needs it
# at module-import time too, and sampling's own module-level oracle
# builders import text attributes — a direct text -> sampling import
# would make the cycle's resolvability depend on statement order);
# re-exported here so existing call sites keep their import path
from .bucket_sql import (  # noqa: F401
    DENOM,
    DUCK_BUCKET,
    DUCK_SALTED_BUCKET,
    hash_bucket,
)


def _unpersist_on_gc(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie cached frames' lifetime to the RETURNED frame (ADVICE r10's
    leak discipline without a lineage cut): a weakref finalizer
    unpersists each cache when the caller drops ``result`` — so the
    one-shot convenience modes never strand cache-manager entries in a
    long-lived session, while the cache keeps FULL lineage (unlike
    localCheckpoint — a lost executor recomputes, never kills the job;
    docs/SCALE.md on the barrier contract).

    Lifetime contract (r12 review): the anchor is the returned PYTHON
    wrapper, so act on the returned frame directly
    (``collect``/``write``/``toPandas``).  Chaining further
    transformations (``result.filter(...).collect()``) drops the
    wrapper before the action runs and releases the caches early —
    results stay CORRECT (persist keeps lineage; Spark recomputes the
    fan-out), only the one-shot speed advantage is lost.  Callers that
    need to transform downstream should use the two-stage
    ``bucket_counts=``/``counts=`` paths (which cache nothing), or —
    for internal plan builders — move the anchor onto the frame they
    actually return: the caches and a DETACHABLE finalizer are recorded
    on the wrapper (``_keh_caches`` / ``_keh_finalizer``, the re-anchor
    protocol ``ranking._reanchor_caches`` rides; r13 review made this
    helper the single source for both modules)."""
    if cached:
        import weakref

        jdfs = [c._jdf for c in cached]

        def _release(jdfs=jdfs):
            for j in jdfs:
                try:
                    j.unpersist(False)
                except Exception:  # noqa: BLE001 — session may be gone
                    pass

        result._keh_caches = list(cached)
        result._keh_finalizer = weakref.finalize(result, _release)
    return result


def hash_sample(df: DataFrame, key_col: str, rate: float) -> DataFrame:
    """Keep a deterministic ``rate`` fraction of rows by key hash."""
    return df.filter(hash_bucket(F.col(key_col)) < int(rate * DENOM))


def assign_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Label every row train/val/test (any names) by hash-bucket ranges.

    ``weights`` maps split name → fraction; fractions must sum to ≤ 1
    (any remainder is labeled NULL — an explicit holdout).  Iteration
    order of ``weights`` fixes the bucket layout, so pass an ordered
    mapping.
    """
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split weights sum to {total} > 1")
    # SALTED bucket ('split|' prefix, same pattern as the curriculum's
    # 'qb|'): upstream keep/sample decisions use the unsalted
    # hash_bucket(key), and an unsalted split would be fully correlated
    # with them — e.g. a temperature-damped source (keep iff bucket <
    # thr_ppm) would land its survivors 100% in 'train' and contribute
    # nothing to val/test (found by round-4 code review)
    b = hash_bucket(F.concat(F.lit("split|"), F.col(key_col).cast("string")))
    expr = F.lit(None).cast("string")
    hi = 0
    cases = []
    for name, w in weights.items():
        lo, hi = hi, hi + int(w * DENOM)
        cases.append((name, lo, hi))
    for name, lo, hi in reversed(cases):
        expr = F.when((b >= lo) & (b < hi), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


# ---------------------------------------------------------------------------
# correctness-gate queries
# ---------------------------------------------------------------------------

_DUCK_BUCKET = DUCK_BUCKET

# salted bucket template: one source of truth for every salted md5 ppm
# bucket in the oracles (the salt must include its trailing separator)
_DUCK_SALTED_BUCKET = DUCK_SALTED_BUCKET

# the salted split-assignment bucket (mirrors assign_split)
_DUCK_SPLIT_BUCKET = _DUCK_SALTED_BUCKET.replace("<SALT>", "split|")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic sample of events by event_id — same rows in any
    engine, any partitioning."""
    e = load_table(spark, sf_dir, "events")
    return hash_sample(e, "event_id", 0.10).select("event_id", "event_type")


SQL_HASH_SAMPLE = f"""
SELECT event_id, event_type
FROM events
WHERE {_DUCK_BUCKET.format(k='event_id')} < {int(0.10 * DENOM)}
"""


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/5 train/val/test split of documents (5% holdout) — the gate
    checks the exact per-split membership counts."""
    d = load_table(spark, sf_dir, "documents")
    s = assign_split(
        d, "doc_id", {"train": 0.80, "val": 0.10, "test": 0.05}
    )
    return s.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


def _sql_split_counts() -> str:
    b = _DUCK_SPLIT_BUCKET.format(k="doc_id")
    t, v, te = int(0.80 * DENOM), int(0.90 * DENOM), int(0.95 * DENOM)
    return f"""
SELECT CASE WHEN {b} < {t} THEN 'train'
            WHEN {b} < {v} THEN 'val'
            WHEN {b} < {te} THEN 'test' END AS split,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


QUERIES = {
    "sample_hash_10pct": (q_hash_sample, SQL_HASH_SAMPLE),
    "sample_split_assignment": (q_split_counts, _sql_split_counts()),
}


# ---------------------------------------------------------------------------
# sequence packing: documents → fixed token-budget training sequences
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign each document to a training sequence of ≤ ``budget`` tokens
    (whitespace tokens here; swap in any token-count column).

    Greedy in-id-order budget bucketing via one window cumulative sum —
    ``seq_id = floor((cumsum - tokens) / budget)`` puts a doc in the
    sequence its *predecessors* filled up to, which matches greedy
    first-fit in order except that a doc straddling a boundary starts
    inside the previous bucket (bounded overflow ≤ one doc; exact
    first-fit needs per-row recursion — not a window function).

    Scale: the window partitions by ``group_col`` (shard/source), so no
    global sort and no single-reducer bottleneck; packing is only ever
    meaningful within a shard anyway.  Docs longer than ``budget`` span
    ceil(tokens/budget) sequences' worth of budget and simply consume it.
    """
    from .text import token_count

    t = docs.select(
        F.col(group_col), F.col(id_col), token_count(F.col(text_col)).alias("n_tok")
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return t.select(
        group_col,
        id_col,
        "n_tok",
        F.floor((cum - F.col("n_tok")) / budget).cast("long").alias("seq_id"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token sequences per source; the gate checks
    every doc's sequence assignment plus per-sequence fill levels."""
    d = load_table(spark, sf_dir, "documents")
    p = pack_sequences(d, budget=512)
    return p.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


SQL_PACK_SEQUENCES = """
WITH t AS (
  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / 512) AS BIGINT) AS seq_id
  FROM t
)
SELECT source, seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc
FROM c GROUP BY source, seq_id
"""


QUERIES["sample_pack_sequences"] = (q_pack_sequences, SQL_PACK_SEQUENCES)


def mix_sources(
    df: DataFrame,
    rates: Mapping[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted source mixing: keep a per-group deterministic fraction —
    the standard training-mixture op ("2 epochs of wiki, 0.3 of crawl")
    expressed as one scan-fused filter.  Groups absent from ``rates``
    are dropped; rates > 1 mean up-sampling is needed upstream (this op
    only down-samples, deterministically)."""
    b = hash_bucket(F.col(key_col))
    keep = F.lit(False)
    for name, rate in rates.items():
        keep = keep | (
            (F.col(group_col) == name) & (b < int(min(rate, 1.0) * DENOM))
        )
    return df.filter(keep)


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = mix_sources(d, {"src0": 0.5, "src1": 1.0, "src2": 0.25})
    return m.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def _sql_mix_sources() -> str:
    b = _DUCK_BUCKET.format(k="doc_id")
    return f"""
SELECT source, count(*) AS n_docs
FROM documents
WHERE (source = 'src0' AND {b} < {int(0.5 * DENOM)})
   OR (source = 'src1')
   OR (source = 'src2' AND {b} < {int(0.25 * DENOM)})
GROUP BY source
"""


QUERIES["sample_mix_sources"] = (q_mix_sources, _sql_mix_sources())


def take_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Deterministic per-group cap: keep the ``k`` rows with the smallest
    key hash per group (ties broken by the key itself) — the reproducible
    replacement for per-group reservoir sampling.  One shuffle on the
    group key; at scale this is the standard "at most K docs per domain"
    curation step, and rerunning it on any partitioning selects the SAME
    rows."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def q_take_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return take_per_group(d, "source", "doc_id", 50).select(
        "doc_id", "source"
    )


def _sql_take_per_group() -> str:
    b = _DUCK_BUCKET.format(k="doc_id")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {b}, doc_id) AS rn
  FROM documents
) WHERE rn <= 50
"""


QUERIES["sample_take_per_group"] = (q_take_per_group, _sql_take_per_group())


def stratified_exact(
    df: DataFrame, group_col: str, key_col: str, frac: float
) -> DataFrame:
    """Exact-fraction stratified sample: EXACTLY ``ceil(frac * n_g)`` rows
    from every stratum ``g``, chosen as the smallest key-hashes per group.

    ``hash_sample``/``mix_sources`` threshold each row independently, so a
    stratum's realized rate has binomial jitter (±sqrt(n) rows) — fine for
    corpora, wrong for per-class evaluation sets where class balance IS
    the contract.  Here the per-stratum count is exact by construction:
    rank rows within the stratum by key hash (ties by key) and keep ranks
    up to the quota computed from the same window's total count.

    Scale: one shuffle on ``group_col`` (both window functions share the
    single sort); selection stays deterministic under any partitioning,
    retry, or engine — same contract as every op in this module.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col)), F.col(key_col)
    )
    wg = Window.partitionBy(group_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_quota", F.ceil(F.count(F.lit(1)).over(wg) * frac))
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% per (source) stratum of documents; the gate checks the
    selected membership itself, not just counts."""
    d = load_table(spark, sf_dir, "documents")
    return stratified_exact(d, "source", "doc_id", 0.10).select(
        "doc_id", "source"
    )


def _sql_stratified_sample() -> str:
    b = _DUCK_BUCKET.format(k="doc_id")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {b}, doc_id) AS rn,
         ceil(count(*) OVER (PARTITION BY source) * 0.10) AS quota
  FROM documents
) WHERE rn <= quota
"""


QUERIES["sample_stratified_exact"] = (q_stratified_sample, _sql_stratified_sample())


# ---------------------------------------------------------------------------
# Quality-binned curriculum mixture
# ---------------------------------------------------------------------------

N_QUALITY_BINS = 10


def quality_bins(docs: DataFrame, score, id_col: str = "doc_id") -> DataFrame:
    """Assign each doc a quality decile WITHOUT a global sort.

    ``ntile`` over a global ORDER BY is a single-partition window — a
    non-starter at 100 TB.  Instead: one scalar aggregate computes the 9
    decile boundaries, a broadcast (1-row) cross join ships them to every
    task, and the bin is a pure arithmetic fold over the boundary array
    (`1 + Σ score > bᵢ`), which fuses into the scan stage.  At the full
    scale the exact percentile swaps for ``approx_percentile`` with no
    other change (gate uses exact so the oracle hashes).

    Boundaries are DISCRETE percentiles (``percentile_disc``): each is an
    actual data value, bit-identical between Spark and DuckDB —
    continuous interpolation between neighbors is FP-noise-sensitive
    exactly at the bin edges (observed flipping assignments at sf0.001).
    """
    qs = [i / N_QUALITY_BINS for i in range(1, N_QUALITY_BINS)]
    scored = docs.select(F.col(id_col), score.alias("quality"))
    bounds = scored.agg(
        F.array(
            *[
                F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY quality)")
                for p in qs
            ]
        ).alias("bs")
    )
    binned = scored.crossJoin(F.broadcast(bounds))
    return binned.select(
        id_col,
        "quality",
        (
            F.lit(1)
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc + F.when(F.col("quality") > b, 1).otherwise(0),
            )
        ).alias("bin"),
    )


def curriculum_keep(binned: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality-weighted mixture: bin b keeps b/N of its docs,
    decided by the same engine-portable md5 hash as ``hash_sample`` — the
    static data-mixture reweighting (DoReMi-style, fixed weights) with
    zero RNG drift."""
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qb|"), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    return binned.withColumn(
        "keep", frac < (F.col("bin") * (1000 // N_QUALITY_BINS))
    )


def q_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import quality_score

    d = load_table(spark, sf_dir, "documents")
    binned = quality_bins(d, quality_score(F.col("text")))
    kept = curriculum_keep(binned)
    return kept.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.round(F.min("quality"), 4).alias("min_q"),
        F.round(F.max("quality"), 4).alias("max_q"),
    )


def _sql_quality_curriculum() -> str:
    from .text import SQL_TEXT_QUALITY

    qs = [i / N_QUALITY_BINS for i in range(1, N_QUALITY_BINS)]
    bin_expr = "1 + " + " + ".join(
        f"(CASE WHEN quality > bs[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(len(qs))
    )
    return f"""
WITH q AS ({SQL_TEXT_QUALITY}),
b AS (SELECT quantile_disc(quality, [{", ".join(map(str, qs))}]) AS bs FROM q),
binned AS (
  SELECT doc_id, quality, {bin_expr} AS bin FROM q, b
),
kept AS (
  SELECT *,
         (('0x' || substring(md5('qb|' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000)
           < bin * {1000 // N_QUALITY_BINS} AS keep
  FROM binned
)
SELECT bin, count(*) AS n_docs, CAST(sum(keep::INT) AS BIGINT) AS n_kept,
       round(min(quality), 4) AS min_q, round(max(quality), 4) AS max_q
FROM kept
GROUP BY bin
"""


QUERIES["sample_quality_curriculum"] = (
    q_quality_curriculum,
    None,  # resolved lazily below — avoids import cycle at module load
)


def _late_bind_curriculum_sql() -> None:
    QUERIES["sample_quality_curriculum"] = (
        q_quality_curriculum,
        _sql_quality_curriculum(),
    )


_late_bind_curriculum_sql()


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
# each row draws a deterministic uniform u from its key's md5 and gets
# priority -ln(u)/w; the N smallest priorities ARE a weighted sample
# without replacement.  Fully distributed: the only cross-partition step
# is the top-N (TakeOrdered — per-partition heaps + driver merge of N
# rows), no global sort, no RNG state.  Higher-quality documents are
# proportionally more likely to survive — the standard corpus
# down-sampling step when the token budget is smaller than the corpus.
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_N = 200


def weighted_sample(
    df: DataFrame,
    weight: Column,
    n: int = WEIGHTED_SAMPLE_N,
    key_col: str = "doc_id",
) -> DataFrame:
    """Top-``n`` weighted-without-replacement sample: (key, weight, rows...).

    ``weight`` must be strictly positive; ties on identical (u, w) break
    on the key for cross-engine determinism."""
    u = (hash_bucket(F.col(key_col)) + 0.5) / float(DENOM)  # uniform in (0,1)
    prio = -F.log(u) / weight
    return (
        df.withColumn("w", weight)
        .withColumn("prio", prio)
        .orderBy(F.asc("prio"), F.asc(key_col))
        .limit(n)
        .drop("prio")
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import quality_score

    d = load_table(spark, sf_dir, "documents")
    out = weighted_sample(
        d.select("doc_id", "source", quality_score(F.col("text")).alias("q")),
        weight=F.col("q") + F.lit(0.01),
    )
    return out.select("doc_id", "source", F.round("w", 4).alias("w"))


def _sql_weighted_sample() -> str:
    # the quality weight and the uniform draw REUSE the shared oracle
    # fragments (text.SQL_TEXT_QUALITY, _DUCK_BUCKET) — an inline copy
    # would silently diverge from the Spark side when either definition
    # moves (same drift class the shared fragments exist to prevent)
    from .text import SQL_TEXT_QUALITY

    u = f"({_DUCK_BUCKET.format(k='doc_id')} + 0.5) / {DENOM}.0"
    return f"""
WITH q AS ({SQL_TEXT_QUALITY}),
scored AS (
  SELECT d.doc_id, d.source, q.quality AS w_raw
  FROM documents d JOIN q USING (doc_id)
), keyed AS (
  SELECT doc_id, source, w_raw + 0.01 AS w,
         -ln({u}) / (w_raw + 0.01) AS prio
  FROM scored
)
SELECT doc_id, source, round(w, 4) AS w
FROM keyed
ORDER BY prio ASC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_N}
"""


QUERIES["sample_weighted_quality"] = (q_weighted_sample, _sql_weighted_sample())


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing: the multilingual/multi-source rebalance
# (XLM-R / mT5 style).  Per-source keep rate r_s = (n_min / n_s)^(1-alpha)
# — the rarest source keeps everything, heavy sources are damped toward a
# flatter p_s ∝ n_s^alpha distribution.  Unlike ``mix_sources`` the rates
# are COMPUTED from corpus counts, not supplied: one tiny groupBy(source)
# count → broadcast thresholds → scan-fused deterministic hash filter.
# The per-source threshold is materialized as an integer ppm so the keep
# decision is an exact integer compare in both engines.
# ---------------------------------------------------------------------------

TEMP_ALPHA = 0.7


def temperature_rates(
    df: DataFrame, group_col: str = "source", alpha: float = TEMP_ALPHA
) -> DataFrame:
    """(group, n_docs, thr_ppm): thr_ppm = floor(DENOM * (n_min/n)^(1-alpha))."""
    from pyspark.sql.window import Window

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = F.min("n_docs").over(Window.partitionBy())
    return counts.select(
        group_col,
        "n_docs",
        F.floor(
            F.lit(float(DENOM))
            * F.pow(n_min / F.col("n_docs"), F.lit(1.0 - alpha))
        ).alias("thr_ppm"),
    )


def temperature_sample(
    df: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = TEMP_ALPHA,
) -> DataFrame:
    rates = temperature_rates(df, group_col, alpha)
    return df.join(F.broadcast(rates), group_col).filter(
        hash_bucket(F.col(key_col)) < F.col("thr_ppm")
    )


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(d)
    return kept.groupBy("source").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("thr_ppm").alias("thr_ppm"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def _sql_temperature_sample() -> str:
    b = _DUCK_BUCKET.format(k="doc_id")
    return f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), rates AS (
  SELECT source, n_docs,
         CAST(floor({DENOM}.0 * pow((min(n_docs) OVER ()) * 1.0 / n_docs,
                                    {1.0 - TEMP_ALPHA})) AS BIGINT) AS thr_ppm
  FROM counts
)
SELECT d.source,
       min(r.n_docs) AS n_docs,
       min(r.thr_ppm) AS thr_ppm,
       count(*) AS n_kept
FROM documents d JOIN rates r USING (source)
WHERE {b} < r.thr_ppm
GROUP BY d.source
"""


QUERIES["sample_temperature"] = (q_temperature_sample, _sql_temperature_sample())


# ---------------------------------------------------------------------------
# Deterministic global training-order shuffle + sharding.  Training wants
# every epoch's read order decorrelated from ingest order; at 100 TB the
# scalable form is hash sharding + an md5 sort WITHIN each shard (one
# hash exchange + per-partition sort — never a single global total sort).
# Rows land in shard pmod(bucket, n_shards); pos is the row's rank in its
# shard's md5 order.  Fully deterministic: same corpus → same shards,
# same order, any cluster size.
# ---------------------------------------------------------------------------

N_SHARDS = 8


def global_shuffle(
    df: DataFrame, key_col: str = "doc_id", n_shards: int = N_SHARDS
) -> DataFrame:
    from pyspark.sql.window import Window

    h = F.md5(F.col(key_col).cast("string"))
    shard = hash_bucket(F.col(key_col)) % n_shards
    w = Window.partitionBy("shard").orderBy("h")
    return (
        df.withColumn("h", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w) - 1)
    )


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return global_shuffle(d).select("doc_id", "shard", "pos")


def _sql_global_shuffle() -> str:
    b = _DUCK_BUCKET.format(k="doc_id")
    return f"""
SELECT doc_id,
       ({b}) % {N_SHARDS} AS shard,
       row_number() OVER (
         PARTITION BY ({b}) % {N_SHARDS}
         ORDER BY md5(CAST(doc_id AS VARCHAR))
       ) - 1 AS pos
FROM documents
"""


QUERIES["sample_global_shuffle"] = (q_global_shuffle, _sql_global_shuffle())


# ---------------------------------------------------------------------------
# Deterministic up-sampling: the other half of source mixing
# (``mix_sources`` documents that rates > 1 need an upstream up-sampler —
# this is it).  rate = 2.3 means every row appears twice and a
# deterministic 30% of rows a third time: explode ceil(rate) copy
# indices, keep copy i < floor(rate) always, the single fractional copy
# iff the 'up|'-salted key bucket clears the remainder (the copy index
# itself is not hashed — there is at most ONE fractional copy).  Scan-fused explode,
# no shuffle; copy_idx is emitted so downstream epoch interleaving
# (global_shuffle over (key, copy_idx)) stays deterministic.
# ---------------------------------------------------------------------------


def upsample(
    df: DataFrame, rate: float, key_col: str = "doc_id",
    copy_col: str = "copy_idx",
) -> DataFrame:
    if rate < 1:
        raise ValueError(
            f"rate {rate} < 1 is down-sampling — use hash_sample"
        )
    whole = int(rate)
    frac_ppm = int(round((rate - whole) * DENOM))
    n_copies = whole + (1 if frac_ppm else 0)
    copies = F.explode(F.array(*[F.lit(i) for i in range(n_copies)]))
    out = df.withColumn(copy_col, copies)
    frac_bucket = hash_bucket(
        F.concat(F.lit("up|"), F.col(key_col).cast("string"))
    )
    return out.filter(
        (F.col(copy_col) < whole) | (frac_bucket < frac_ppm)
    )


def q_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = upsample(d.filter(F.col("source") == "src0"), 2.3)
    return u.groupBy("copy_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("doc_id").alias("n_distinct"),
    )


def _sql_upsample() -> str:
    b = _DUCK_SALTED_BUCKET.replace("<SALT>", "up|").format(k="doc_id")
    frac = int(round(0.3 * DENOM))
    return f"""
SELECT copy_idx, count(*) AS n_docs, count(DISTINCT doc_id) AS n_distinct
FROM (
  SELECT doc_id, unnest(range(0, 3)) AS copy_idx
  FROM documents WHERE source = 'src0'
)
WHERE copy_idx < 2 OR {b} < {frac}
GROUP BY copy_idx
"""


QUERIES["sample_upsample"] = (q_upsample, _sql_upsample())


# ---------------------------------------------------------------------------
# Token-budget water-filling: exact per-source allocation under a cap
# ---------------------------------------------------------------------------

BUDGET_FRACTION_PPM = 500_000  # allocate half the corpus' tokens


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer WATER-FILLING of a token budget across sources — the
    allocation step of a pretraining mix: given budget B (here 50% of
    corpus tokens), small sources keep everything they have, large sources
    are clamped to a common waterline L chosen so the total exactly fits:
    alloc_s = min(tok_s, L), L = max integer with sum(alloc) <= B.

    Solved in CLOSED FORM, no iteration: sort sources ascending by token
    count; source i (1-based, of n) is fully satisfied iff
    ``prefix(i-1) + tok_i * (n - i + 1) <= B`` (its own count times the
    remaining slots still fits) — satisfaction is monotone in i, so one
    prefix-sum window decides every source, and the waterline is
    ``(B - prefix(k)) DIV (n - k)`` over the k satisfied sources.  All
    floor-division integer arithmetic: cross-engine exact, no float.

    The per-source token totals shuffle map-combined on source; the
    water-fill itself runs on the #sources-row frame (bounded — a corpus
    has dozens of sources, not millions), where the single-partition
    window is free.  Tokens are the module-standard deterministic BPE-ish
    estimate (``text.bpe_ish_token_count``).
    """
    from pyspark.sql.window import Window

    from .text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    per_src = (
        d.filter(F.col("text").isNotNull())
        .select("source", bpe_ish_token_count(F.col("text")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("tok"))
    )
    totals = per_src.agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum("tok").alias("tok_total"),
    )
    w_ord = Window.orderBy("tok", "source")
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("budget", F.expr(f"(tok_total * {BUDGET_FRACTION_PPM}) DIV 1000000"))
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn("pfx", F.sum("tok").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn(
            "satisfied",
            (F.col("pfx") - F.col("tok"))
            + F.col("tok") * (F.col("n_src") - F.col("rn") + 1)
            <= F.col("budget"),
        )
    )
    k = F.sum(F.col("satisfied").cast("long")).over(w_all)
    pk = F.sum(F.when(F.col("satisfied"), F.col("tok")).otherwise(0)).over(w_all)
    line = F.when(
        k < F.col("n_src"),
        F.expr("(budget - __pk) DIV (n_src - __k)"),
    )
    final = (
        staged.withColumn("__k", k)
        .withColumn("__pk", pk)
        .withColumn("waterline", line)
    )
    return final.select(
        "source",
        F.col("tok").alias("tokens_available"),
        F.when(F.col("satisfied"), F.col("tok"))
        .otherwise(F.col("waterline"))
        .alias("tokens_allocated"),
        "satisfied",
        "waterline",
    )


SQL_TOKEN_BUDGET = f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(list_sum(list_transform(string_split(text, ' '),
                  t -> CAST(ceil(length(t) / 4.0) AS INT)))) AS BIGINT) AS tok
  FROM documents WHERE text IS NOT NULL
  GROUP BY source
),
tot AS (
  SELECT count(*) AS n_src, CAST(sum(tok) AS BIGINT) AS tok_total FROM per_src
),
staged AS (
  SELECT source, tok, n_src,
         (tok_total * {BUDGET_FRACTION_PPM}) // 1000000 AS budget,
         row_number() OVER (ORDER BY tok, source) AS rn,
         CAST(sum(tok) OVER (ORDER BY tok, source
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pfx
  FROM per_src CROSS JOIN tot
),
flagged AS (
  SELECT *,
         ((pfx - tok) + tok * (n_src - rn + 1)) <= budget AS satisfied
  FROM staged
),
scal AS (
  SELECT *,
         CAST(sum(CASE WHEN satisfied THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
         CAST(sum(CASE WHEN satisfied THEN tok ELSE 0 END) OVER () AS BIGINT) AS pk
  FROM flagged
)
SELECT source,
       tok AS tokens_available,
       CASE WHEN satisfied THEN tok
            ELSE (budget - pk) // (n_src - k) END AS tokens_allocated,
       satisfied,
       CASE WHEN k < n_src THEN (budget - pk) // (n_src - k) END AS waterline
FROM scal
"""

QUERIES["corpus_token_budget"] = (q_token_budget, SQL_TOKEN_BUDGET)


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap: error bars on corpus statistics
# ---------------------------------------------------------------------------

BOOT_REPLICATES = 20
# truncated Poisson(1) in ppm: P(0)=e^-1, P(1)=e^-1, tail mass on 2
_BOOT_P0_PPM = 367_879
_BOOT_P1_PPM = 735_759


def q_bootstrap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the per-source mean token count —
    the ERROR BARS a corpus-stats dashboard needs before anyone compares
    two sources: each of ``BOOT_REPLICATES`` resamples draws every doc
    0/1/2 times (truncated Poisson(1) — the streaming-friendly bootstrap
    used at web scale, where true multinomial resampling would need a
    global count), the replicate means spread into min/max/variance.

    Everything is INTEGER: the per-doc weight comes from the module's
    salted md5 ppm bucket ('boot|b|doc'), replicate means are micro-token
    integers via floor division, and the variance uses the exact identity
    (B·Σm² − (Σm)²) DIV (B·(B−1)) — no float ever enters the gate hash.
    Plan: one explode (docs × B), two map-combined aggregates; exchange
    keys (source, b) then source.
    """
    from .text import token_count

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    B = BOOT_REPLICATES
    reps = d.select(
        "doc_id",
        "source",
        token_count(F.col("text")).cast("long").alias("tok"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
    )
    u = hash_bucket(
        F.concat(
            F.lit("boot|"),
            F.col("b").cast("string"),
            F.lit("|"),
            F.col("doc_id").cast("string"),
        )
    )
    w = (
        F.when(u < _BOOT_P0_PPM, 0)
        .when(u < _BOOT_P1_PPM, 1)
        .otherwise(2)
        .cast("long")
    )
    per_rep = (
        reps.select("source", "b", (w * F.col("tok")).alias("wt"), w.alias("w"))
        .groupBy("source", "b")
        .agg(F.sum("wt").alias("tokens_b"), F.sum("w").alias("docs_b"))
        .select(
            "source",
            F.expr("(tokens_b * 1000000) DIV docs_b").alias("m"),
        )
    )
    # Variance via CENTERED deviations, not the raw identity
    # (B·Σm² − (Σm)²): m is micro-tokens, so Σm² overflows int64 once a
    # source's mean token count passes ~150 — any real web corpus.  The
    # deviation from the floored mean is bootstrap noise (tiny), and the
    # clamp bounds Σdev² ≤ B·(6e8)² < 2^63 even adversarially; a source
    # whose replicate means spread >600 tokens saturates the clamp
    # IDENTICALLY on both engines (deterministic, documented).  The
    # window + final agg both key on source — the frame is sources×B
    # rows, so the extra pass is free.
    from pyspark.sql.window import Window

    w_src = Window.partitionBy("source")
    centered = per_rep.withColumn(
        "mu", F.expr(f"sum(m) OVER (PARTITION BY source) DIV {B}")
    ).withColumn(
        "dev", F.expr("greatest(least(m - mu, 600000000), -600000000)")
    )
    return centered.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.expr(f"sum(m) DIV {B}").alias("mean_of_means_uptok"),
        F.expr(f"sum(dev * dev) DIV {B - 1}").alias("var_uptok2"),
        F.min("m").alias("min_uptok"),
        F.max("m").alias("max_uptok"),
    )


_SQL_BOOTSTRAP = f"""
WITH reps AS (
  SELECT d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok,
         t.b,
         CAST(concat('0x', substr(md5(
           'boot|' || CAST(t.b AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR)
         ), 1, 15)) AS BIGINT) % {DENOM} AS u
  FROM documents d CROSS JOIN range(0, {BOOT_REPLICATES}) t(b)
  WHERE d.text IS NOT NULL
),
weighted AS (
  SELECT source, b,
         CASE WHEN u < {_BOOT_P0_PPM} THEN 0
              WHEN u < {_BOOT_P1_PPM} THEN 1 ELSE 2 END AS w,
         tok
  FROM reps
),
per_rep AS (
  SELECT source, b,
         (CAST(sum(w * tok) AS BIGINT) * 1000000)
           // CAST(sum(w) AS BIGINT) AS m
  FROM weighted GROUP BY source, b
),
centered AS (
  SELECT source, m,
         greatest(least(
           m - (CAST(sum(m) OVER (PARTITION BY source) AS BIGINT)
                  // {BOOT_REPLICATES}),
           600000000), -600000000) AS dev
  FROM per_rep
)
SELECT source,
       count(*) AS n_replicates,
       CAST(sum(m) AS BIGINT) // {BOOT_REPLICATES} AS mean_of_means_uptok,
       CAST(sum(dev * dev) AS BIGINT) // {BOOT_REPLICATES - 1} AS var_uptok2,
       min(m) AS min_uptok,
       max(m) AS max_uptok
FROM centered
GROUP BY source
"""

QUERIES["sample_bootstrap_tokens"] = (q_bootstrap_tokens, _SQL_BOOTSTRAP)


# ---------------------------------------------------------------------------
# K-fold cross-validation assignment
# ---------------------------------------------------------------------------

KFOLD_K = 5


def kfold_assign(
    df: DataFrame, key_col: str, k: int = KFOLD_K, fold_col: str = "fold"
) -> DataFrame:
    """Deterministic fold id in [0, k) per key — the eval-protocol
    counterpart of :func:`assign_split`.  Salted ('fold|') for the same
    reason the split bucket is: an unsalted hash would correlate the fold
    with every upstream keep/sample decision sharing hash_bucket(key).
    Modulo over the ppm bucket keeps the layout stable if k changes from
    a divisor of DENOM to not (k=5 here divides it exactly)."""
    b = hash_bucket(F.concat(F.lit("fold|"), F.col(key_col).cast("string")))
    return df.withColumn(fold_col, (b % k).cast("bigint"))


def q_sample_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: 5-fold assignment balance over documents — (source, fold,
    n_docs, n_tokens).  The artifact an eval harness publishes before
    training k models: folds must be balanced WITHIN each source, not
    just globally (a source-correlated fold leaks domain signal into the
    held-out estimate)."""
    from .text import token_count

    d = load_table(spark, sf_dir, "documents")
    f = kfold_assign(d, "doc_id")
    return f.groupBy("source", "fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )


_SQL_KFOLD = f"""
SELECT source,
       (CAST(concat('0x', substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % {DENOM}) % {KFOLD_K} AS fold,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
"""

QUERIES["sample_kfold"] = (q_sample_kfold, _SQL_KFOLD)


# ---------------------------------------------------------------------------
# Effective sample size of the quality weighting
# ---------------------------------------------------------------------------


_ESS_EXPR = (
    "CAST(floor(CAST(sum_w_ppm AS DOUBLE) * CAST(sum_w_ppm AS DOUBLE)"
    " / CAST(sum_w2 AS DOUBLE)) AS BIGINT)"
)


def q_weighting_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source effective sample size of the quality weighting:
    ESS = (Σw)² / Σw² — the diagnostic that says how many UNIFORM
    samples the weighted corpus is worth (ESS ≪ n means a few heavy
    documents dominate and the weighted estimates are noisy).  Weights
    are the same quality score the weighted sampler uses, fixed to
    integer ppm so both SUMS are exact int64 (a float Σw would be
    summation-order dependent and unhashable).  The final ratio squares
    Σw through DOUBLES with the same op order on both engines — an int64
    (Σw)² overflows at ~3k docs/source (round-4 review, against the
    suite's own 100× stress tier), while the double square is exact to
    2^53 and IEEE-identical cross-engine.  Σw² itself overflows int64 at
    ~9M docs/source; past that the accumulator becomes DECIMAL(38),
    formula unchanged."""
    from .text import quality_score

    d = load_table(spark, sf_dir, "documents")
    w_ppm = F.expr(
        "CAST(floor((q + 0.01) * 1000000) AS BIGINT)"
    )
    base = d.select(
        "source", quality_score(F.col("text")).alias("q")
    ).select("source", w_ppm.alias("w"))
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("sum_w_ppm"),
            F.sum(F.expr("w * w")).alias("sum_w2"),
        )
        .select(
            "source",
            "n_docs",
            "sum_w_ppm",
            F.expr(_ESS_EXPR).alias("ess"),
            F.expr(f"({_ESS_EXPR} * 1000000) DIV n_docs").alias("ess_ratio_ppm"),
        )
    )


def _sql_weighting_ess() -> str:
    from .text import SQL_TEXT_QUALITY

    return f"""
WITH q AS ({SQL_TEXT_QUALITY}),
base AS (
  SELECT d.source,
         CAST(floor((q.quality + 0.01) * 1000000) AS BIGINT) AS w
  FROM documents d JOIN q USING (doc_id)
),
agg AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(w) AS BIGINT) AS sum_w_ppm,
         CAST(sum(w * w) AS BIGINT) AS sum_w2
  FROM base GROUP BY source
)
SELECT source, n_docs, sum_w_ppm,
       CAST(floor(CAST(sum_w_ppm AS DOUBLE) * CAST(sum_w_ppm AS DOUBLE)
                  / CAST(sum_w2 AS DOUBLE)) AS BIGINT) AS ess,
       (CAST(floor(CAST(sum_w_ppm AS DOUBLE) * CAST(sum_w_ppm AS DOUBLE)
                   / CAST(sum_w2 AS DOUBLE)) AS BIGINT) * 1000000) // n_docs
         AS ess_ratio_ppm
FROM agg
"""


QUERIES["sample_weighting_ess"] = (q_weighting_ess, _sql_weighting_ess())


# ---------------------------------------------------------------------------
# DSIR-style importance selection (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023): hashed
# n-gram features, per-bucket log(p_target / p_pool) with +1 smoothing,
# per-document importance = Σ bucket log-ratios over the doc's features.
# Reference parity note: the reference engine has no data-selection
# surface; this extends the sampling family the way a pretraining
# pipeline uses it (pick pool docs that look like the target domain).
#
# 100-TB shape: features are hashed to a FIXED bucket space (4096), so
# the distribution table is bounded and broadcast; the corpus is scanned
# twice (once to build bucket counts, once to score the pool), both
# explode→groupBy legs get map-side combine (≤ buckets×partitions rows
# on the first, one row per pool doc on the second).  Nothing all-pairs,
# nothing driver-side beyond the bounded bucket frame.
#
# Float discipline (SURVEY.md §8): the log-ratio is computed ONCE per
# bucket from exact integer counts (identical expression shape on both
# engines), floor-scaled to micro units (×1e6) as int64, and the
# per-document sum is an INTEGER sum — summation order can never change
# the result.  int64 overflow headroom: |lr_micro| < ~2e7, so a doc
# would need ~4e11 features to overflow.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096
_DSIR_TARGET_SOURCE = "src0"
_DSIR_N_SELECT = 50


def _dsir_features(text_col: str = "text") -> Column:
    """Unigrams + bigrams of the whitespace-tokenized text, one array."""
    toks = F.split(F.col(text_col), " ")
    bigrams = F.when(
        F.size(toks) > 1,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.get(toks, i), F.get(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _dsir_bucket(feat: Column) -> Column:
    """Salted md5 bucket in [0, _DSIR_BUCKETS) — engine-portable."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dsir|"), feat)), 1, 15), 16, 10
    ).cast("long")
    return h % _DSIR_BUCKETS


def _feature_rows(
    src: DataFrame, text_col: str, *cols: Column
) -> DataFrame:
    """``cols + (feat,)`` rows — the unigram+bigram fan-out as a UNION of
    two plain explodes instead of ``explode(_dsir_features(...))``.

    Building the concatenated per-doc feature ARRAY runs the bigram
    ``transform`` lambda interpreted per element and allocates the
    ~2×tokens array per document; exploding positions and emitting each
    bigram with codegen'd ``element_at`` measured 0.5 s vs 3.0-4.8 s for
    the sf0.1 fan-out (r14, guide §4.1: prefer codegen expressions over
    higher-order lambdas on the hot path).  The emitted (cols, feat)
    multiset is identical — only generation order changes, and every
    consumer aggregates."""
    toks = F.split(F.col(text_col), " ")
    base = src.select(*cols, toks.alias("__tk"))
    names = base.columns[:-1]  # the caller's columns, post-alias
    uni = base.select(*names, F.explode("__tk").alias("feat"))
    bi = (
        base.filter(F.size("__tk") > 1)
        .select(
            *names,
            "__tk",
            F.explode(F.sequence(F.lit(1), F.size("__tk") - 1)).alias("__i"),
        )
        .select(
            *names,
            F.concat_ws(
                " ",
                F.element_at("__tk", F.col("__i")),
                F.element_at("__tk", F.col("__i") + 1),
            ).alias("feat"),
        )
    )
    return uni.unionByName(bi)


def _dsir_feature_frame(
    docs: DataFrame,
    target_source: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, source, is_tgt, bucket) — one row per hashed feature.

    Hash-repartition the NARROW doc rows on ``id_col`` before the
    explode (the minhash shingle-stage pattern, ``dedup.py:82``): the
    shuffle moves one row per doc, the tokenize+md5 fan-out spreads
    over whatever width AQE picks for the exchange even off a single
    parquet file, and the pool-scoring ``groupBy(id_col)`` downstream
    aggregates without a second corpus-sized shuffle."""
    return _feature_rows(
        docs.repartition(F.col(id_col)),
        text_col,
        F.col(id_col),
        F.col("source"),
        (F.col("source") == target_source).alias("is_tgt"),
    ).select(
        id_col, "source", "is_tgt", _dsir_bucket(F.col("feat")).alias("bucket")
    )


def dsir_bucket_counts(
    docs: DataFrame,
    target_source: str = _DSIR_TARGET_SOURCE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DSIR distribution sketch: per-bucket target/pool feature
    counts.  Plain integer sums, hence MERGEABLE — per-micro-batch
    counts re-aggregated with ``groupBy(bucket).sum()`` equal the
    one-shot corpus counts for any batch boundaries (the same
    accumulate-then-merge contract as the CMS/HLL/KMV sketches)."""
    return (
        _dsir_feature_frame(docs, target_source, text_col, id_col)
        .groupBy("bucket")
        .agg(
            F.sum(F.col("is_tgt").cast("long")).alias("cnt_tgt"),
            F.sum((~F.col("is_tgt")).cast("long")).alias("cnt_pool"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target_source: str = _DSIR_TARGET_SOURCE,
    n_select: int = _DSIR_N_SELECT,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """Top ``n_select`` pool documents by hashed-n-gram importance weight
    log(p_target/p_pool) — the DSIR data-selection objective with
    deterministic top-n in place of Gumbel resampling (same estimator,
    reproducible under any partition layout).

    Pass ``bucket_counts`` (a frame shaped like
    :func:`dsir_bucket_counts`) to score against a pre-accumulated
    distribution — the incremental/streaming regime: bucket counts are
    plain integer sums, so per-micro-batch counts appended to a store
    and re-summed equal the one-shot distribution for any batch
    boundaries (pinned by the foreachBatch parity test)."""
    cached: list[DataFrame] = []
    feats = _dsir_feature_frame(docs, target_source, text_col, id_col)
    if bucket_counts is None:
        # One-shot convenience mode (VERDICT r11 #2 — the barrier
        # contract).  r11 localCheckpointed the hashed-feature fan-out:
        # a full fan-out write to executor-local storage with NO lineage
        # to recompute a lost block (localCheckpoint truncates lineage —
        # one dead executor kills the job; docs/SCALE.md).  Now:
        #   * the fan-out is ``persist()``-ed, NOT checkpointed — the
        #     cache keeps full lineage (a lost block recomputes from the
        #     parquet scan) and spills only what memory can't hold,
        #     instead of force-writing the whole stream;
        #   * the leak discipline (ADVICE r10) moves to a weakref
        #     finalizer: the cache unpersists when the caller drops the
        #     RETURNED frame (:func:`_unpersist_on_gc`) — no
        #     cache-manager entry survives the result's lifetime;
        #   * the ≤4096-row sketch is COLLECTED to a local relation (the
        #     Lloyd-centroid/PQ-codebook discipline), so the totals + lr
        #     references replay a literal — the collect also warms the
        #     cache, leaving the pool-scoring pass a pure cache read.
        # At corpus scale still prefer the two-stage path: accumulate
        # :func:`dsir_bucket_counts` (a mergeable sketch, zero caching,
        # one uncached corpus pass per stage) and pass it as
        # ``bucket_counts``.
        spark = docs.sparkSession
        feats = feats.persist()
        cached.append(feats)
        sketch = feats.groupBy("bucket").agg(
            F.sum(F.col("is_tgt").cast("long")).alias("cnt_tgt"),
            F.sum((~F.col("is_tgt")).cast("long")).alias("cnt_pool"),
        )
        buckets = local_frame(spark, sketch.collect(), sketch.schema)
    else:
        buckets = bucket_counts
    totals = buckets.agg(
        F.sum("cnt_tgt").alias("tot_tgt"), F.sum("cnt_pool").alias("tot_pool")
    )
    smooth = float(_DSIR_BUCKETS)
    lr = buckets.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("cnt_tgt") + 1.0) / (F.col("tot_tgt") + smooth))
                - F.log((F.col("cnt_pool") + 1.0) / (F.col("tot_pool") + smooth))
            )
            * 1000000.0
        )
        .cast("long")
        .alias("lr_micro"),
    )

    pool = feats.filter(~F.col("is_tgt"))
    scored = (
        pool.join(F.broadcast(lr), "bucket")
        .groupBy(id_col, "source")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("lr_micro").alias("imp_micro"),
        )
    )
    out = scored.orderBy(F.desc("imp_micro"), F.asc(id_col)).limit(n_select)
    return _unpersist_on_gc(out, *cached)


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dsir_importance(d)


def _sql_dsir_importance() -> str:
    bucket = (
        "CAST(concat('0x', substr(md5('dsir|' || f), 1, 15)) AS BIGINT)"
        f" % {_DSIR_BUCKETS}"
    )
    return f"""
WITH feats AS (
  SELECT doc_id, source, is_tgt, {bucket} AS bucket
  FROM (
    SELECT doc_id, source, source = '{_DSIR_TARGET_SOURCE}' AS is_tgt,
           unnest(list_concat(t, CASE WHEN len(t) > 1
             THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             ELSE []::VARCHAR[] END)) AS f
    FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)
  )
),
buckets AS (
  SELECT bucket,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS cnt_tgt,
         sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS cnt_pool
  FROM feats GROUP BY bucket
),
totals AS (
  SELECT sum(cnt_tgt) AS tot_tgt, sum(cnt_pool) AS tot_pool FROM buckets
),
lr AS (
  SELECT bucket,
         CAST(floor((ln((cnt_tgt + 1.0) / (tot_tgt + {_DSIR_BUCKETS}.0))
                   - ln((cnt_pool + 1.0) / (tot_pool + {_DSIR_BUCKETS}.0)))
                    * 1000000.0) AS BIGINT) AS lr_micro
  FROM buckets CROSS JOIN totals
)
SELECT doc_id, source, count(*) AS n_feats,
       CAST(sum(lr_micro) AS BIGINT) AS imp_micro
FROM feats JOIN lr USING (bucket)
WHERE NOT is_tgt
GROUP BY doc_id, source
ORDER BY imp_micro DESC, doc_id ASC
LIMIT {_DSIR_N_SELECT}
"""


QUERIES["sample_dsir_importance"] = (q_dsir_importance, _sql_dsir_importance())


# ---------------------------------------------------------------------------
# Trained quality-classifier selection (VERDICT r10 #5) — the second half
# of the data-selection pair the literature uses: DSIR above matches a
# TARGET DISTRIBUTION; this op ranks by a TRAINED SCORER, the
# fasttext-style hashed-feature linear classifier every public pretrain
# recipe (GPT-3, LLaMA, CCNet descendants) runs for quality filtering.
# No model ships in this engine: the classifier IS the engine's own
# arithmetic — a multinomial Naive Bayes over the SAME hashed unigram+
# bigram feature space as DSIR (``_dsir_features``/``_dsir_bucket``),
# trained corpus-side on weak labels (the Gopher rule audit: pass =
# violates no rule), applied as one broadcast-weights scan.  NB's
# per-bucket log-odds are exactly a linear model's weights, so swapping
# in externally trained fasttext weights = replacing the counts frame;
# nothing else in the plan changes.
#
# 100-TB shape (the DSIR substrate, same discipline): the training
# "sketch" is per-bucket class counts — ≤ _DSIR_BUCKETS+1 rows of plain
# integer sums, MERGEABLE across micro-batches/partitions like
# ``dsir_bucket_counts`` (the bucket −1 row carries per-class document
# counts for the prior, merged by the same groupBy-sum).  Weights derive
# from the sketch over the full 4096-bucket domain (a range-frame left
# join — unseen buckets get the uniform-smoothing weight instead of
# silently dropping features at scoring time) and BROADCAST into ONE
# corpus scoring scan; per-doc scores are integer micro-unit sums.
# Corpus cost: two linear feature scans (train sketch + score), zero
# caching, nothing all-pairs, nothing driver-side beyond the bounded
# sketch (the dsir/PQ-codebook precedent).
#
# Float discipline: log-odds are computed ONCE per bucket from exact
# integer counts with +1/-bucket-space Laplace smoothing, floor-scaled to
# int64 micro units; the per-document sum and the prior addition are
# integer — summation order can never flip the hash.
# ---------------------------------------------------------------------------

_QNB_N_SELECT = 50


def _weak_pass(text_col: str = "text") -> Column:
    """Gopher-audit weak label: True = document violates NO rule —
    the O(n log n) ``gopher_pass`` form (pinned equal to the
    ``gopher_rules`` audit), since this label runs once per corpus
    document on every training/scoring scan."""
    from .text import gopher_pass

    return gopher_pass(F.col(text_col))


def _qnb_feature_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_by_id: bool = False,
) -> DataFrame:
    """(id, source, bucket) — one row per hashed feature, the DSIR
    fan-out shape.  Deliberately LABEL-FREE: an expression projected
    alongside an ``explode`` can be collapsed ABOVE the Generate by the
    optimizer, re-evaluating it once per feature row instead of once per
    document — for the Gopher weak label (an O(tokens × distinct) HOF)
    that measured 95 s vs 1.1 s at sf0.1.  Labels ride in via
    :func:`_qnb_labels` and a per-doc join instead.

    ``repartition_by_id`` pre-hashes the NARROW doc rows so the sketch's
    per-doc label join is co-partitioned — only the TRAINING path wants
    it (ADVICE r11: the pre-trained scoring scan was paying a needless
    corpus-wide text exchange; its own groupBy moves one slim aggregate
    row per doc, strictly cheaper than shuffling text upfront)."""
    base = docs.repartition(F.col(id_col)) if repartition_by_id else docs
    return _feature_rows(
        base, text_col, F.col(id_col), F.col("source")
    ).select(id_col, "source", _dsir_bucket(F.col("feat")).alias("bucket"))


def _qnb_labels(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, weak_pass) — the weak label evaluated exactly once per
    document, unpartitioned: training-path CALLERS repartition it to
    match the feature fan-out before :func:`_qnb_sketch`, and the
    scoring path's broadcast-topk probe needs no exchange at all."""
    return docs.select(F.col(id_col), _weak_pass(text_col).alias("weak_pass"))


def quality_nb_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The classifier's training sketch: (bucket, cnt_pass, cnt_fail).

    Buckets ≥ 0 hold hashed-feature occurrence counts per class; the
    bucket −1 row holds per-class DOCUMENT counts (the NB prior's
    evidence).  All columns are plain integer sums, hence MERGEABLE:
    per-micro-batch sketches appended to a store and re-aggregated with
    ``groupBy(bucket).sum()`` equal the one-shot corpus sketch for any
    batch boundaries — the dsir_bucket_counts contract."""
    labels = _qnb_labels(docs, text_col, id_col).repartition(F.col(id_col))
    feats = _qnb_feature_frame(docs, text_col, id_col, repartition_by_id=True)
    return _qnb_sketch(feats, labels, id_col)


def _qnb_sketch(
    feats: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """The sketch body shared by :func:`quality_nb_counts` and the
    one-shot path in :func:`quality_nb_select`: per-doc labels join onto
    the feature fan-out — CALLERS align the partitioning (both paths
    explicitly id-repartition the two sides; the one-shot path
    additionally persist()s them, so re-repartitioning here would add a
    pointless exchange) — and never a
    label expression crossing the explode (see _qnb_feature_frame).
    Output: per-bucket class sums, plus the bucket −1 document-count row
    the prior reads."""
    labeled = feats.join(labels, id_col)
    feature_counts = labeled.groupBy("bucket").agg(
        F.sum(F.col("weak_pass").cast("long")).alias("cnt_pass"),
        F.sum((~F.col("weak_pass")).cast("long")).alias("cnt_fail"),
    )
    doc_counts = labels.agg(
        F.sum(F.col("weak_pass").cast("long")).alias("cnt_pass"),
        F.sum((~F.col("weak_pass")).cast("long")).alias("cnt_fail"),
    ).select(F.lit(-1).cast("long").alias("bucket"), "cnt_pass", "cnt_fail")
    return feature_counts.unionByName(doc_counts)


def quality_nb_select(
    docs: DataFrame,
    n_select: int = _QNB_N_SELECT,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts: DataFrame | None = None,
    validate: bool = True,
) -> DataFrame:
    """Top ``n_select`` documents by trained-NB quality score:
    (doc_id, source, weak_pass, n_feats, nb_micro).

    Pass ``counts`` (a frame shaped like :func:`quality_nb_counts`,
    e.g. merged from micro-batch sketches) to score against a
    pre-accumulated training distribution — then this function scans
    the corpus only to featurize/score (no training pass, no shuffle
    before the per-doc aggregate).  ``validate=False`` skips the eager
    sketch-shape probe on that path (one bounded Spark job per call —
    skip it when replaying an already-validated sketch in a loop).  Without it, the feature fan-out and
    the label frame are persist()-ed with full lineage and released by
    a weakref finalizer on the returned frame, and the sketch collapses
    to a collected local relation (the DSIR one-shot barrier
    discipline, VERDICT r11 #2; docs/SCALE.md).

    Emitting ``weak_pass`` alongside the score keeps the gate
    self-auditing: the reader sees directly how often the scorer's
    top-n disagrees with its own training labels (label noise the
    selection literature expects — the scorer generalizes, the rule
    audit memorizes)."""
    spark = docs.sparkSession
    cached: list[DataFrame] = []
    if counts is None:
        # One-shot mode (VERDICT r11 #2 — the barrier contract, same as
        # dsir_importance): the feature fan-out and the per-doc label
        # frame are ``persist()``-ed, never lineage-cut — a lost block
        # recomputes from the scan instead of killing the job, and the
        # weakref finalizer on the returned frame unpersists both when
        # the caller is done (no cache-manager leak; docs/SCALE.md).
        # The ≤4097-row sketch COLLECTS to a local relation — the
        # collect warms both caches, so the scoring scan and the audit
        # join are pure cache reads, and weights/prior/totals replay a
        # literal instead of re-aggregating.
        feats = _qnb_feature_frame(
            docs, text_col, id_col, repartition_by_id=True
        ).persist()
        labels = (
            _qnb_labels(docs, text_col, id_col)
            .repartition(F.col(id_col))
            .persist()
        )
        cached += [feats, labels]
        sketch = _qnb_sketch(feats, labels, id_col)
        counts = local_frame(spark, sketch.collect(), sketch.schema)
    else:
        # pre-trained scoring path: NO corpus repartition (ADVICE r11 —
        # the broadcast-weights join + per-doc groupBy moves one slim
        # aggregate row per doc; shuffling text upfront paid more)
        feats = _qnb_feature_frame(docs, text_col, id_col)
        labels = _qnb_labels(docs, text_col, id_col)
        # a malformed merged sketch must fail LOUDLY (ADVICE r11 + r12
        # review): a missing bucket −1 prior row makes the prior frame
        # empty and the crossJoin silently annihilates the selection; a
        # union-merged sketch (rows appended instead of the documented
        # groupBy(bucket).sum() re-aggregation) carries DUPLICATE bucket
        # rows that double-match the scoring join and duplicate the
        # prior.  One bounded probe job catches both: `counts` is a
        # ≤4097-row sketch by contract, so the aggregate is cheap —
        # but it IS an eager Spark job at plan-build time, so callers
        # replaying a validated sketch in a loop (e.g. per foreachBatch
        # micro-batch) may pass validate=False to keep this builder
        # fully lazy (ADVICE r12).
        if validate:
            probe = (
                counts.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter((F.col("bucket") == -1) | (F.col("n") > 1))
                .collect()
            )
            n_prior = sum(r["n"] for r in probe if r["bucket"] == -1)
            dup_buckets = [r["bucket"] for r in probe if r["n"] > 1]
            if n_prior != 1 or dup_buckets:
                raise ValueError(
                    "quality_nb_select: `counts` is not a "
                    "quality_nb_counts-shaped sketch "
                    f"(bucket == -1 prior rows: {n_prior}, expected exactly 1; "
                    f"duplicated buckets: {sorted(dup_buckets)[:5]} — merge "
                    "micro-batch sketches with groupBy(bucket).sum(), not union)"
                )
    feature_counts = counts.filter(F.col("bucket") >= 0)
    doc_counts = counts.filter(F.col("bucket") == -1)

    smooth = float(_DSIR_BUCKETS)
    totals = feature_counts.agg(
        F.sum("cnt_pass").alias("tot_pass"), F.sum("cnt_fail").alias("tot_fail")
    )
    # full-domain weight table: unseen buckets keep the uniform-smoothing
    # log-odds instead of vanishing from the scoring join
    weights = (
        spark.range(_DSIR_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(feature_counts), "bucket", "left")
        .fillna(0, subset=["cnt_pass", "cnt_fail"])
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.floor(
                (
                    F.log((F.col("cnt_pass") + 1.0) / (F.col("tot_pass") + smooth))
                    - F.log((F.col("cnt_fail") + 1.0) / (F.col("tot_fail") + smooth))
                )
                * 1000000.0
            )
            .cast("long")
            .alias("w_micro"),
        )
    )
    prior = doc_counts.select(
        F.floor(
            (
                F.log(
                    (F.col("cnt_pass") + 1.0)
                    / (F.col("cnt_pass") + F.col("cnt_fail") + 2.0)
                )
                - F.log(
                    (F.col("cnt_fail") + 1.0)
                    / (F.col("cnt_pass") + F.col("cnt_fail") + 2.0)
                )
            )
            * 1000000.0
        )
        .cast("long")
        .alias("prior_micro")
    )

    topk = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col, "source")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w_micro").alias("sum_w"),
        )
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            "source",
            "n_feats",
            (F.col("sum_w") + F.col("prior_micro")).alias("nb_micro"),
        )
        .orderBy(F.desc("nb_micro"), F.asc(id_col))
        .limit(n_select)
    )
    # the audit label joins onto the BOUNDED top-n only: broadcast the
    # ≤n_select winners into the per-doc label frame — the weak-label
    # HOF runs once per corpus doc on a narrow projection, never per
    # feature (and in one-shot mode not even once more: the cached
    # labels frame serves sketch, prior, and this audit join)
    out = (
        labels.join(F.broadcast(topk), id_col)
        .select(id_col, "source", "weak_pass", "n_feats", "nb_micro")
        .orderBy(F.desc("nb_micro"), F.asc(id_col))
    )
    return _unpersist_on_gc(out, *cached)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return quality_nb_select(d)


def _sql_quality_classifier() -> str:
    from .text import _sql_gopher_flags

    g = _sql_gopher_flags()
    bucket = (
        "CAST(concat('0x', substr(md5('dsir|' || f), 1, 15)) AS BIGINT)"
        f" % {_DSIR_BUCKETS}"
    )
    b = _DSIR_BUCKETS
    return f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n, length(text) AS n_chars
  FROM documents
), lab AS (
  SELECT doc_id, source, toks,
         NOT ({g["v_wc"]}) AND NOT ({g["v_ml"]})
         AND NOT ({g["v_sw"]}) AND NOT ({g["v_rep"]}) AS weak_pass
  FROM t
), feats AS (
  SELECT doc_id, source, weak_pass, {bucket} AS bucket
  FROM (
    SELECT doc_id, source, weak_pass,
           unnest(list_concat(toks, CASE WHEN len(toks) > 1
             THEN list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])
             ELSE []::VARCHAR[] END)) AS f
    FROM lab
  )
), counts AS (
  SELECT bucket,
         sum(CASE WHEN weak_pass THEN 1 ELSE 0 END) AS cnt_pass,
         sum(CASE WHEN weak_pass THEN 0 ELSE 1 END) AS cnt_fail
  FROM feats GROUP BY bucket
), docc AS (
  SELECT sum(CASE WHEN weak_pass THEN 1 ELSE 0 END) AS n_pass,
         sum(CASE WHEN weak_pass THEN 0 ELSE 1 END) AS n_fail
  FROM lab
), tots AS (
  SELECT sum(cnt_pass) AS tot_pass, sum(cnt_fail) AS tot_fail FROM counts
), w AS (
  SELECT r.range AS bucket,
         CAST(floor((ln((coalesce(c.cnt_pass, 0) + 1.0) / (t.tot_pass + {b}.0))
                   - ln((coalesce(c.cnt_fail, 0) + 1.0) / (t.tot_fail + {b}.0)))
                    * 1000000.0) AS BIGINT) AS w_micro
  FROM range({b}) r LEFT JOIN counts c ON c.bucket = r.range CROSS JOIN tots t
), prior AS (
  SELECT CAST(floor((ln((n_pass + 1.0) / (n_pass + n_fail + 2.0))
                   - ln((n_fail + 1.0) / (n_pass + n_fail + 2.0)))
                    * 1000000.0) AS BIGINT) AS prior_micro
  FROM docc
)
SELECT doc_id, source, weak_pass, count(*) AS n_feats,
       CAST(sum(w.w_micro) + max(p.prior_micro) AS BIGINT) AS nb_micro
FROM feats JOIN w USING (bucket) CROSS JOIN prior p
GROUP BY doc_id, source, weak_pass
ORDER BY nb_micro DESC, doc_id ASC
LIMIT {_QNB_N_SELECT}
"""


QUERIES["sample_quality_classifier"] = (
    q_quality_classifier,
    _sql_quality_classifier(),
)

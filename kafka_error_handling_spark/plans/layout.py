"""Data-layout engineering: Z-order clustering and its pruning payoff.

At 100 TB the single highest-leverage performance decision is not a
query plan — it is the FILE LAYOUT: parquet min/max footer stats prune
whole files, but only for predicates aligned with the sort order.  A
date-sorted table answers date-range scans with a handful of files and
customer-range scans with a full scan.  Z-ordering (bit-interleaving the
two clustering keys, then ranging over the interleaved value) trades a
little locality on each dimension for usable locality on BOTH — the
standard lakehouse `OPTIMIZE ... ZORDER BY` story, built here from
scratch with pure integer arithmetic.

The gate materializes the decision artifact a table-maintenance job
would publish: for each (layout, predicate) pair, how many files a
min/max-pruning scan must touch and how many rows those files hold.
Everything is exact integers — the bit interleave is generated as a
DIV/mod polynomial (the same source text for Spark and DuckDB), no
floats, no hashing.

Scale shape: one pass computes per-row (k1, k2, zval, file ids); one
aggregate per layout builds the per-file min/max footer table (files ×
4 ints — this IS the parquet footer index, tiny); the pruning report
joins predicates against that footer table.  Nothing here grows with
row count except the first aggregate, which is map-combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..regime import local_frame
from ..sources.files import load_table as _t

# 8-bit keys -> 16-bit z-value; 256 files per layout (top 8 z bits =
# a 16x16 tile of (k1, k2) space per file)
_ZBITS = 8
_FILE_SHIFT = 8
# date bucket: days since 1992-01-01 DIV 10 spans 0..255 over TPC-H's
# 1992-06-30 (wrap-free by construction, unlike a modulo)
_DATE_EPOCH = "1992-01-01"
_DATE_DIV = 10

# predicates: a 20-bucket date range and a 16-bucket customer range
_P_DATE = (100, 119)
_P_CUST = (64, 79)


def _interleave_sql(k1: str, k2: str, div: str) -> str:
    """Bit-interleave polynomial: k1's bit i lands at position 2i+1, k2's
    at 2i.  Pure DIV/mod/multiply arithmetic so the SAME text (modulo the
    integer-division spelling) runs on Spark and DuckDB — both truncate
    non-negative division identically."""
    terms = []
    for i in range(_ZBITS):
        terms.append(f"((({k1}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((({k2}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def layout_pruning_report(orders: DataFrame) -> DataFrame:
    """(layout, predicate, n_files, files_hit, rows_in_hit_files,
    rows_matching) for layouts {date_sorted, zorder} x predicates
    {date_range, cust_range}.

    `files_hit` counts files whose per-file [min, max] of the predicate
    key overlaps the range — exactly parquet footer pruning.  The
    date-sorted layout assigns file = date bucket (perfect date
    clustering, zero customer clustering); the z-order layout assigns
    file = top 8 interleaved bits (16x16 tiles, partial clustering on
    BOTH keys).  `rows_matching` is layout-independent and rides along
    as the denominator a scan-efficiency dashboard needs."""
    spark = orders.sparkSession
    k1 = "o_custkey % 256"
    k2 = f"datediff(o_orderdate, '{_DATE_EPOCH}') DIV {_DATE_DIV}"
    z = _interleave_sql("k1", "k2", "DIV")
    keyed = orders.select(
        F.expr(k1).cast("long").alias("k1"),
        F.expr(k2).cast("long").alias("k2"),
    ).select("k1", "k2", F.expr(f"({z}) DIV {1 << _FILE_SHIFT}").alias("zfile"))

    footers = []
    for layout, file_col in (("date_sorted", "k2"), ("zorder", "zfile")):
        footers.append(
            keyed.groupBy(F.col(file_col).alias("file_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("k1").alias("min_k1"),
                F.max("k1").alias("max_k1"),
                F.min("k2").alias("min_k2"),
                F.max("k2").alias("max_k2"),
            )
            .withColumn("layout", F.lit(layout))
        )
    footer = footers[0].unionByName(footers[1])

    d_lo, d_hi = _P_DATE
    c_lo, c_hi = _P_CUST
    preds = local_frame(
        spark,
        [("date_range", "k2", d_lo, d_hi), ("cust_range", "k1", c_lo, c_hi)],
        "predicate string, key string, lo long, hi long",
    )
    hit = F.when(
        F.col("key") == "k1",
        (F.col("max_k1") >= F.col("lo")) & (F.col("min_k1") <= F.col("hi")),
    ).otherwise((F.col("max_k2") >= F.col("lo")) & (F.col("min_k2") <= F.col("hi")))
    report = (
        footer.crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(hit.cast("long")).alias("files_hit"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0))).alias(
                "rows_in_hit_files"
            ),
        )
    )
    matching = keyed.agg(
        F.sum(((F.col("k2") >= d_lo) & (F.col("k2") <= d_hi)).cast("long")).alias(
            "date_range"
        ),
        F.sum(((F.col("k1") >= c_lo) & (F.col("k1") <= c_hi)).cast("long")).alias(
            "cust_range"
        ),
    )
    m = matching.selectExpr(
        "stack(2, 'date_range', date_range, 'cust_range', cust_range)"
        " AS (predicate, rows_matching)"
    )
    return report.join(F.broadcast(m), "predicate").select(
        "layout",
        "predicate",
        "n_files",
        "files_hit",
        "rows_in_hit_files",
        "rows_matching",
    )


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_pruning_report(_t(spark, sf_dir, "orders"))


def _sql_layout() -> str:
    k1 = "o_custkey % 256"
    k2 = f"date_diff('day', DATE '{_DATE_EPOCH}', o_orderdate) // {_DATE_DIV}"
    z = _interleave_sql("k1", "k2", "//")
    d_lo, d_hi = _P_DATE
    c_lo, c_hi = _P_CUST
    return f"""
WITH keyed AS MATERIALIZED (
  SELECT k1, k2, ({z}) // {1 << _FILE_SHIFT} AS zfile
  FROM (SELECT {k1} AS k1, {k2} AS k2 FROM orders)
),
footer AS (
  SELECT 'date_sorted' AS layout, k2 AS file_id, count(*) AS n_rows,
         min(k1) AS min_k1, max(k1) AS max_k1,
         min(k2) AS min_k2, max(k2) AS max_k2
  FROM keyed GROUP BY k2
  UNION ALL
  SELECT 'zorder', zfile, count(*),
         min(k1), max(k1), min(k2), max(k2)
  FROM keyed GROUP BY zfile
),
preds AS (
  SELECT 'date_range' AS predicate, 'k2' AS key, {d_lo} AS lo, {d_hi} AS hi
  UNION ALL
  SELECT 'cust_range', 'k1', {c_lo}, {c_hi}
),
hits AS (
  SELECT layout, predicate,
         CASE WHEN key = 'k1' THEN max_k1 >= lo AND min_k1 <= hi
              ELSE max_k2 >= lo AND min_k2 <= hi END AS hit,
         n_rows
  FROM footer CROSS JOIN preds
),
report AS (
  SELECT layout, predicate, count(*) AS n_files,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
         CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_in_hit_files
  FROM hits GROUP BY layout, predicate
),
matching AS (
  SELECT 'date_range' AS predicate,
         CAST(sum(CASE WHEN k2 BETWEEN {d_lo} AND {d_hi} THEN 1 ELSE 0 END)
              AS BIGINT) AS rows_matching
  FROM keyed
  UNION ALL
  SELECT 'cust_range',
         CAST(sum(CASE WHEN k1 BETWEEN {c_lo} AND {c_hi} THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM keyed
)
SELECT layout, predicate, n_files, files_hit, rows_in_hit_files, rows_matching
FROM report JOIN matching USING (predicate)
"""


QUERIES = {
    "layout_zorder_pruning": (q_layout_zorder, _sql_layout()),
}


# ---------------------------------------------------------------------------
# Small-file compaction planning
# ---------------------------------------------------------------------------

_COMPACT_TARGET_ROWS = 1024


def q_layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE/compaction plan a table-maintenance job would emit
    for the z-ordered layout: walk the 256 z-files in z order,
    bin-packing consecutive files into output groups of ~4096 rows
    (greedy prefix-sum binning: group = exclusive-cumsum DIV target —
    deterministic, one window over a 256-row frame).  Packing
    CONSECUTIVE z-files preserves the clustering the layout bought;
    hash-packing would destroy it.  Output: per compacted group, the
    input-file span and row count — the artifact the rewrite job
    executes and the audit trail reviews.  Nothing here scales with row
    count: the input is the per-file footer table."""
    orders = _t(spark, sf_dir, "orders")
    k1 = "o_custkey % 256"
    k2 = f"datediff(o_orderdate, '{_DATE_EPOCH}') DIV {_DATE_DIV}"
    z = _interleave_sql("k1", "k2", "DIV")
    files = (
        orders.select(
            F.expr(k1).cast("long").alias("k1"), F.expr(k2).cast("long").alias("k2")
        )
        .select(F.expr(f"({z}) DIV {1 << _FILE_SHIFT}").alias("zfile"))
        .groupBy("zfile")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("zfile").rowsBetween(Window.unboundedPreceding, -1)
    planned = files.withColumn(
        "grp",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)) / F.lit(_COMPACT_TARGET_ROWS),
    ).withColumn("grp", F.floor("grp").cast("long"))
    return planned.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_input_files"),
        F.min("zfile").alias("first_file"),
        F.max("zfile").alias("last_file"),
        F.sum("n_rows").alias("n_rows"),
    )


def _sql_compaction() -> str:
    k1 = "o_custkey % 256"
    k2 = f"date_diff('day', DATE '{_DATE_EPOCH}', o_orderdate) // {_DATE_DIV}"
    z = _interleave_sql("k1", "k2", "//")
    return f"""
WITH files AS (
  SELECT zfile, count(*) AS n_rows FROM (
    SELECT ({z}) // {1 << _FILE_SHIFT} AS zfile
    FROM (SELECT {k1} AS k1, {k2} AS k2 FROM orders)
  ) GROUP BY zfile
),
planned AS (
  SELECT zfile, n_rows,
         CAST(coalesce(sum(n_rows) OVER (ORDER BY zfile
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {_COMPACT_TARGET_ROWS} AS BIGINT) AS grp
  FROM files
)
SELECT grp, count(*) AS n_input_files,
       min(zfile) AS first_file, max(zfile) AS last_file,
       CAST(sum(n_rows) AS BIGINT) AS n_rows
FROM planned GROUP BY grp
"""


QUERIES["layout_compaction_plan"] = (q_layout_compaction_plan, _sql_compaction())


# ---------------------------------------------------------------------------
# Column-encoding advisor
# ---------------------------------------------------------------------------

_ENC_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice", "o_orderkey"]
_ENC_DICT_THRESHOLD_PPM = 100_000  # dictionary-encode below 10% distinct


def q_layout_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column encoding decision for the orders table: distinct ratio
    (ppm) and average rendered width decide dictionary vs plain encoding
    — the choice parquet writers make per row group, surfaced as a
    table-level advisory the way a 100 TB layout review actually
    consumes it.  One pass per column over a pruned scan (count +
    count distinct + avg length are map-combinable); the output is five
    rows, the input never leaves the executors."""
    o = _t(spark, sf_dir, "orders")
    parts = []
    for c in _ENC_COLS:
        parts.append(
            o.select(F.col(c).cast("string").alias("v")).agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("v").alias("n_distinct"),
                F.expr("(count(DISTINCT v) * 1000000) DIV count(*)").alias(
                    "distinct_ppm"
                ),
                F.expr("sum(length(v)) DIV count(*)").alias("avg_len"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn(
        "recommend_dict", F.col("distinct_ppm") < _ENC_DICT_THRESHOLD_PPM
    )


def _sql_encoding() -> str:
    arms = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
         count(DISTINCT CAST({c} AS VARCHAR)) AS n_distinct,
         (count(DISTINCT CAST({c} AS VARCHAR)) * 1000000) // count(*)
           AS distinct_ppm,
         CAST(sum(length(CAST({c} AS VARCHAR))) AS BIGINT) // count(*)
           AS avg_len
  FROM orders"""
        for c in _ENC_COLS
    )
    return f"""
SELECT column_name, n_rows, n_distinct, distinct_ppm, avg_len,
       distinct_ppm < {_ENC_DICT_THRESHOLD_PPM} AS recommend_dict
FROM ({arms})
"""


QUERIES["layout_encoding_advisor"] = (q_layout_encoding_advisor, _sql_encoding())

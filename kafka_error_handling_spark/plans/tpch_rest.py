"""The remaining classic TPC-H planner shapes — completes the 22-query matrix.

With these seven, every TPC-H query shape is pinned by a gate query
(q1/q3/q4/q5/q14/q17/q18 in relational.py + subqueries.py; q7/q8/q9/q10/
q13/q16/q19/q22 in tpch_more.py; q2/q6/q11/q12/q15/q20/q21 here).  The
reference library has no relational layer of its own (SURVEY.md §2.7), so
this is the engine's stock-Spark planner coverage, adapted to the driver
schema (no partsupp table, no l_shipmode/l_commitdate/l_receiptdate
columns — each docstring states the substitution; the *plan shape* is the
point, and each oracle is the same SQL shape in DuckDB).

Shapes covered here:
- **Q2 min-cost supplier**: two-level aggregate with a correlated-min
  joinback over a region-filtered join tree.
- **Q6 forecast revenue**: the pure scan-filter-agg (predicate pushdown
  showcase — no join at all).
- **Q11 important parts**: HAVING against a global scalar aggregate of
  the same derived view.
- **Q12 priority by category**: fact⨝fact join with conditional
  (CASE-based) aggregation per category.
- **Q15 top supplier**: scalar-max subquery over a derived revenue view,
  joined back by equality.
- **Q20 nested semi-join**: IN (GROUP BY ... HAVING > scalar avg) — a
  semi-join whose right side is itself an aggregate with a scalar
  subquery threshold.
- **Q21 exists/not-exists self-joins**: the multi-correlated shape —
  semi + anti self-joins on the fact table with a non-equi conjunct.

Float discipline (SURVEY.md §8): any value that feeds an EQUALITY
comparison across engines (q15's max-revenue match, q11's threshold) is
computed in integer cents via ``floor(x * 100)`` so double summation
order cannot flip the comparison; displayed sums are rounded to 2
decimals only for hashing.  ``l_quantity`` is integral (verified) so its
sums are exact in double.

At 100 TB: every dim side (part/supplier/nation/region, and the per-
supplier and per-part aggregates, which are bounded by the dim
cardinality) is broadcast; the only shuffles are on the fact tables'
natural keys (l_orderkey for q21, l_partkey/l_suppkey for the two-level
aggs) — the same keys downstream consumers reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..sources.files import load_table as _t


def _cents(col: str, factor=None) -> F.Column:
    """Exact integer cents: floor before the cast (DuckDB casts round,
    Spark casts truncate — floor agrees everywhere; SURVEY.md §8)."""
    x = F.col(col) * factor if factor is not None else F.col(col)
    return F.floor(x * 100).cast("long")


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each widget part, the ASIA supplier(s) with the
    minimum unit cost — correlated-min subquery joined back by equality.
    (No partsupp table: supply cost := min(l_extendedprice/l_quantity)
    observed per (part, supplier) over lineitem; min is order-independent
    so the double compares exactly across engines.)"""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%") & (F.col("p_size") <= 25)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost_ps = (
        l.join(broadcast(p.select("p_partkey", "p_name")), l.l_partkey == p.p_partkey)
        .join(broadcast(asia_supp), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    min_p = cost_ps.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    return (
        cost_ps.join(
            broadcast(min_p),
            (F.col("p_partkey") == F.col("mp_partkey"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            # floor, not round: the divided unit cost can land exactly on a
            # .xxxx5 tie, where Spark (HALF_UP) and DuckDB disagree; floor
            # of identical doubles is identical everywhere (hit at sf0.1)
            (F.floor(F.col("supply_cost") * 10000) / 10000.0).alias("supply_cost"),
        )
    )


SQL_Q2 = """
WITH asia_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
), cost_ps AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
       AND p_name LIKE '%widget%' AND p_size <= 25
  JOIN asia_supp ON l_suppkey = s_suppkey
  GROUP BY ALL
)
SELECT p_partkey, p_name, s_name, n_name,
       round(s_acctbal, 2) AS s_acctbal,
       floor(supply_cost * 10000) / 10000.0 AS supply_cost
FROM cost_ps c
WHERE supply_cost = (SELECT min(supply_cost) FROM cost_ps m
                     WHERE m.p_partkey = c.p_partkey)
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan → pushed filter → global agg query.
    All three predicates reach the parquet scan (plan-tested class in
    tests/test_plans.py); there is no join and no shuffle beyond the
    final single-row agg."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value from EUROPE suppliers, keeping
    parts whose value exceeds the average per-part value — HAVING against
    a broadcast scalar aggregate of the same view.  (No partsupp: value
    := shipped extendedprice, in exact integer cents so the threshold
    comparison cannot be flipped by double summation order.)"""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    per_part = (
        l.join(broadcast(eu_supp), l.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(_cents("l_extendedprice")).alias("value_cents"))
    )
    avg_val = per_part.agg(F.avg("value_cents").alias("avg_cents"))
    return (
        per_part.crossJoin(broadcast(avg_val))
        .filter(F.col("value_cents") > F.col("avg_cents"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
    )


SQL_Q11 = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS value_cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE')
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey,
       round(value_cents / 100.0, 2) AS part_value
FROM per_part
WHERE value_cents > (SELECT avg(value_cents) FROM per_part)
"""


def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact⨝fact join + conditional CASE aggregation per
    category.  (No l_shipmode column: l_returnflag is the category; the
    high/low split on o_orderpriority is verbatim Q12.)"""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum quarterly
    revenue — a scalar-max subquery over a derived view, joined back by
    equality.  Revenue is exact integer cents so the max-equality match
    is immune to double summation order."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
        # explicit so BOTH consumers of `revenue` carry it: the supplier
        # join-back infers isnotnull(l_suppkey) on the main branch only,
        # which breaks subtree canonicalization and made the max branch
        # re-scan + re-aggregate lineitem (r14, measured: ShuffleQueryStage
        # 0/1 both executed).  l_suppkey is a TPC-H key, never null, so the
        # revenue view is unchanged; with the predicate on both branches
        # the exchange is built once and the max branch reuses it.
        & F.col("l_suppkey").isNotNull()
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = l.groupBy("l_suppkey").agg(
        F.sum(_cents("l_extendedprice", 1 - F.col("l_discount"))).alias("rev_cents")
    )
    max_rev = revenue.agg(F.max("rev_cents").alias("max_cents"))
    return (
        revenue.crossJoin(broadcast(max_rev))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents") / 100.0, 2).alias("total_revenue"),
        )
    )


SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(rev_cents / 100.0, 2) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM revenue)
"""


def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers IN (a grouped-HAVING subquery whose
    threshold is itself a scalar subquery) — nested semi-join.  (No
    partsupp/availqty: the inner aggregate is total widget-part quantity
    shipped per supplier, thresholded at the per-supplier average;
    l_quantity is integral so sums are exact.)"""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    qty = (
        l.join(broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("widget_qty"))
    )
    avg_qty = qty.agg(F.avg("widget_qty").alias("avg_qty"))
    heavy = qty.crossJoin(broadcast(avg_qty)).filter(
        F.col("widget_qty") > F.col("avg_qty")
    )
    return (
        s.join(broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "inner")
        .select(
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.col("widget_qty").cast("double").alias("widget_qty"),
        )
    )


SQL_Q20 = """
WITH qty AS (
  SELECT l_suppkey, sum(l_quantity) AS widget_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
  GROUP BY l_suppkey
)
SELECT s_name, round(s_acctbal, 2) AS s_acctbal, widget_qty
FROM supplier
JOIN qty ON s_suppkey = l_suppkey
WHERE widget_qty > (SELECT avg(widget_qty) FROM qty)
"""


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS self-joins on the fact table
    with a non-equi conjunct (other supplier in the same order).  (No
    l_receiptdate/l_commitdate: "late" := l_returnflag = 'R'; the
    correlated semi/anti self-join pair on (same order, different
    supplier) is verbatim Q21.)  numwait counts distinct orders."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    # eager localCheckpoint (r15, VERDICT r14 #7): all three legs derive
    # from this one distinct, but column pruning specializes each
    # reference (l2 re-distincts without returnflag, l1/l3 filter on it)
    # so the subtrees never canonicalize and the final plan scanned +
    # re-distincted LINEITEM three times.  The cut materializes the
    # narrow (orderkey, suppkey, returnflag) pair set once — 3 fact
    # scans → 1 — while the correlated semi/anti self-join pair below
    # (the planner shape this gate exists to pin) is untouched.
    #
    # Cost at the 100 TB design point (TPC-H SF 100,000: ~600 billion
    # lineitem rows, nearly every (order, supplier) pair distinct): the
    # cut is one extra eager job that stores ~600 billion 3-column rows,
    # ~40 bytes each as UnsafeRows, so ~24 TB across the executors'
    # block managers (memory and local disk).  It is not size-gated:
    # without it each leg scans the fact table again and shuffles the
    # same ~600 billion rows through its own distinct, so the cut's
    # share shrinks as the data grows (at sf0.1 it costs ~0.3 s, at
    # scale it saves two fact scans and two such shuffles).  What it
    # gives up is recovery: a local checkpoint keeps no lineage, so
    # losing an executor that holds pair blocks fails the query instead
    # of recomputing them; a deployment that cannot accept that swaps in
    # a reliable checkpoint() (the same bytes, written once to
    # replicated storage).
    pairs = (
        l.select("l_orderkey", "l_suppkey", "l_returnflag")
        .distinct()
        .localCheckpoint(eager=True)
    )
    l1 = (
        pairs.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(o.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = pairs.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    ).distinct()
    l3 = (
        pairs.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3"))
        .distinct()
    )
    waiting = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("ok2")) & (F.col("l_suppkey") != F.col("sk2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("ok3")) & (F.col("l_suppkey") != F.col("sk3")),
        "left_anti",
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name", "numwait")
    )


SQL_Q21 = """
SELECT s_name, n_name, count(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name, n_name
"""


QUERIES = {
    "q2_min_cost_supplier": (q2_min_cost_supplier, SQL_Q2),
    "q6_forecast_revenue": (q6_forecast_revenue, SQL_Q6),
    "q11_important_parts": (q11_important_parts, SQL_Q11),
    "q12_priority_by_returnflag": (q12_priority_by_returnflag, SQL_Q12),
    "q15_top_supplier": (q15_top_supplier, SQL_Q15),
    "q20_excess_shipments": (q20_excess_shipments, SQL_Q20),
    "q21_waiting_supplier": (q21_waiting_supplier, SQL_Q21),
}

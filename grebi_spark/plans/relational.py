"""Generic relational operator coverage (SURVEY.md §2.2/§2.3/§2.6) on the
harness star schema, each with an ANSI-SQL DuckDB oracle.

Every query aliases computed columns identically to the oracle; numeric
aggregates are rounded/cast so FP and integer-width differences between
engines cannot flip the value hash.

Scale notes are per-query docstrings: what shuffles, what broadcasts,
what pushes down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, (name,))[name]


# --- Q3-analog aggregation (J2's groupBy-agg is the same physical op) ----

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side partial agg → single shuffle on a 2-key group; filter is
    pushed to the parquet scan (PushedFilters in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                              AS sum_qty,
       round(sum(l_extendedprice), 2)                         AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
       round(avg(l_quantity), 4)                              AS avg_qty,
       round(avg(l_discount), 4)                              AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k. customer is the small side → Catalyst
    broadcasts it; orders⋈lineitem shuffles on the order key. Top-k is a
    TakeOrderedAndProject — no global sort."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


ORACLE_Q3 = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d')                      AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2)      AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join through two dimension chains (region→nation→{customer,
    supplier}); all dims broadcast, one shuffle for the final group."""
    t = load_tables(spark, sf_dir)
    li, o, c, s, n, r = (
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"]
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "REGION_0")
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


ORACLE_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'REGION_0'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- semi/anti joins (J5's existence probe; N7's group-level drop) -------

def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): parts that were ever shipped, per brand.
    The probe side is the big table; Spark builds the hash table on the
    distinct part keys — same shape as edge materialisation's existence
    check (J5)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


ORACLE_SEMI = """
SELECT p_brand, count(*) AS n_parts
FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
ORDER BY p_brand
"""


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers who never ordered — the same
    group-level elimination shape as untyped-node removal (N7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


ORACLE_ANTI = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- top-k / distinct / set ops ------------------------------------------

def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT over an aggregate (Q3 semantics in SURVEY §2.5)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count("*").alias("n_orders"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select(F.col("c_name"), "total_spent", "n_orders")
        .orderBy(F.desc("total_spent"), "c_name")
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_name,
       round(sum(o_totalprice), 2) AS total_spent,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY total_spent DESC, c_name
LIMIT 10
"""


def union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + distinct: nation keys present in either customers or
    suppliers (multi-datasource unionByName in the pipeline, §2.6)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        c.union(s).distinct().orderBy("nationkey")
        .select(F.col("nationkey").cast("int").alias("nationkey"))
    )


ORACLE_UNION_DISTINCT = """
SELECT DISTINCT nationkey::int AS nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey FROM supplier
) ORDER BY nationkey
"""


# --- the merge / provenance aggregation shape (J2) ------------------------

def group_collect_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge operator's core: group by key, collect the sorted distinct
    value set with its provenance — rendered as a join-string so the hash
    comparison is array-representation-agnostic (J2,
    03_merge/grebi_merge/src/main.rs:214-218,287-371)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
                "priorities"
            ),
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias(
                "statuses"
            ),
            F.count("*").alias("n_orders"),
        )
        .select(F.col("o_custkey").cast("long").alias("custkey"), "priorities", "statuses", "n_orders")
        .orderBy("custkey")
    )


ORACLE_GROUP_COLLECT = """
SELECT o_custkey::bigint AS custkey,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       string_agg(DISTINCT o_orderstatus,  ',' ORDER BY o_orderstatus)  AS statuses,
       count(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY custkey
"""


# --- the edge-summary cube shape (J8) --------------------------------------

def edge_summary_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed multi-key hash aggregate (J8's 4-key nested count,
    05_materialise/grebi_materialise/src/main.rs:70-82)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            "l_returnflag",
            "l_linestatus",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.count("*").alias("n_edges"))
        .orderBy("l_returnflag", "l_linestatus", "ship_year")
    )


ORACLE_EDGE_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       year(l_shipdate)::int AS ship_year,
       count(*) AS n_edges
FROM lineitem
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --- argmin display-type (J7) ----------------------------------------------

def rarest_segment_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7's displayType semantics: per nation, the customer segment that is
    *globally rarest* (argmin by (global count, name)) — min_by over a
    broadcast count table."""
    c = _t(spark, sf_dir, "customer")
    seg_counts = c.groupBy("c_mktsegment").agg(F.count("*").alias("n_global"))
    return (
        c.join(F.broadcast(seg_counts), "c_mktsegment")
        .groupBy("c_nationkey")
        .agg(
            F.min_by(
                "c_mktsegment", F.struct(F.col("n_global"), F.col("c_mktsegment"))
            ).alias("display_segment")
        )
        .select(F.col("c_nationkey").cast("int").alias("nationkey"), "display_segment")
        .orderBy("nationkey")
    )


ORACLE_RAREST = """
WITH seg_counts AS (
  SELECT c_mktsegment, count(*) AS n_global FROM customer GROUP BY 1
), ranked AS (
  SELECT c_nationkey, c.c_mktsegment,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY n_global, c.c_mktsegment) AS rn
  FROM customer c JOIN seg_counts s ON c.c_mktsegment = s.c_mktsegment
)
SELECT c_nationkey::int AS nationkey, c_mktsegment AS display_segment
FROM ranked WHERE rn = 1 ORDER BY nationkey
"""


# --- id resolution lookup (Q5 in §2.5) -------------------------------------

def id_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias → entity lookup: resolve supplier keys through the supplier
    table and hydrate (the resolver-service semantics, RocksDB multiGet →
    broadcast hash join)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    wanted = li.filter(F.col("l_orderkey") < 100).select("l_suppkey").distinct()
    return (
        wanted.join(F.broadcast(s), wanted.l_suppkey == s.s_suppkey)
        .select(F.col("s_suppkey").cast("long").alias("suppkey"), "s_name",
                F.col("s_nationkey").cast("int").alias("nationkey"))
        .orderBy("suppkey")
    )


ORACLE_ID_RESOLUTION = """
SELECT DISTINCT s_suppkey::bigint AS suppkey, s_name, s_nationkey::int AS nationkey
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE l_orderkey < 100
ORDER BY suppkey
"""


# --- JSON prop extraction + cast-at-query-time (Q2 semantics) --------------

def json_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference stores everything as strings and casts at query time
    (toFloat(o.`otar:score`[0]) — §2.6 numeric row). Here: JSON prop
    extraction, cast, filter, aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_FILTER = """
SELECT event_type,
       count(*) AS n_events,
       round(avg(value), 4) AS avg_value,
       max(json_extract_string(props, '$.k')::int) AS max_k
FROM events
WHERE json_extract_string(props, '$.k')::int >= 50
GROUP BY event_type
ORDER BY event_type
"""


# --- EXISTS per-group count (Q4 shape: semi-join feeding an aggregate) ------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority counts over orders that have at least one returned line —
    EXISTS (left-semi) feeding a group-count. The semi-join keeps the
    probe side narrow (orderkey only on the build side), so the shuffle
    moves keys, not payloads."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- pure filter + global agg (Q6 shape: the pushdown showcase) -------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-side query: every predicate reaches the parquet reader
    (PushedFilters), only three columns are read, and the aggregate is a
    two-phase partial/final sum — at 100 TB this is IO-bound with zero
    shuffle beyond one row per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- conditional aggregation (Q12 shape: CASE inside the agg) ---------------

def q12_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One join + one group, with the priority split computed as CASE
    expressions inside the aggregate (no second pass over the data)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --- ratio-of-conditional-sums (Q14 shape) ----------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage of revenue from promo parts: broadcast the part dim,
    compute both sums in one aggregate, divide at the end (single row)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


ORACLE_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-07-01'
"""


# --- correlated-average subquery (Q17 shape) --------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lines below half their part's average quantity. The correlated
    subquery decorrelates to a per-part aggregate joined back on the part
    key — both sides shuffle on l_partkey once; no per-row re-aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_Q17 = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem WHERE l_partkey = l.l_partkey)
"""


# --- HAVING over a grouped subquery (Q18 shape) -----------------------------

def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300: aggregate-then-filter
    (HAVING), then hydrate through orders and customer. The heavy group
    runs first so the joins see only qualifying keys."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "orderkey")
    )


ORACLE_Q18 = """
SELECT c_name,
       o_orderkey::bigint AS orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS totalprice,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 300
ORDER BY sum_qty DESC, orderkey
"""


# --- disjunctive multi-attribute predicate (Q19 shape) ----------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate across both join sides. Catalyst extracts the
    common l_partkey = p_partkey conjunct so this stays a hash join (not a
    filtered cartesian), with the residual disjunction evaluated post-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    branch1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    branch2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch1 | branch2)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
"""


# --- windowed rank per group ------------------------------------------------

def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by revenue: aggregate once, then a rank()
    window partitioned by brand. The window re-uses the aggregate's
    hash-partitioning on a prefix-compatible key set, and ranking on the
    *rounded* revenue (ties broken by part key) keeps the order identical
    across engines regardless of FP summation order."""
    from pyspark.sql.window import Window as W

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = W.partitionBy("p_brand").orderBy(F.desc("revenue"), F.col("p_partkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "p_brand",
            F.col("p_partkey").cast("long").alias("partkey"),
            "revenue",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("p_brand", "rank")
    )


ORACLE_TOP_PARTS = """
WITH rev AS (
  SELECT p_brand, p_partkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
)
SELECT p_brand, p_partkey::bigint AS partkey, revenue,
       rank::int AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY p_brand
                               ORDER BY revenue DESC, p_partkey) AS rank
  FROM rev
)
WHERE rank <= 3
ORDER BY p_brand, rank
"""


# --- rollup (multi-level aggregation in one pass) ---------------------------

def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): detail rows, per-flag
    subtotals, and the grand total computed in ONE aggregation pass —
    Spark expands the grouping sets map-side, so the input is still read
    once and shuffled once."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_lines",
        )
        .orderBy("returnflag", "linestatus")
    )


ORACLE_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_extendedprice), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), (status)) — the
    general form rollup/cube are shorthands for, still ONE aggregation
    pass (Expand duplicates rows per set map-side, partial-aggregates
    before the single shuffle). grouping_id() disambiguates subtotal
    rows whose key collides with a real value — the portable marker
    both engines compute identically."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               round(sum(l_extendedprice), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus))
        ORDER BY gid, returnflag, linestatus
        """
    )


ORACLE_GROUPING_SETS = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
       round(sum(l_extendedprice), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus))
ORDER BY gid, returnflag, linestatus
"""


def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation across two INDEPENDENT fact
    streams: per-key order counts vs per-key event counts, keeping keys
    present on EITHER side — the ledger-reconciliation shape (which
    entities ordered but never emitted events, emitted events but never
    ordered, or both). Distinct Catalyst path from left/semi/anti: full
    outer cannot broadcast either side, so it exercises the
    shuffle-both-sides hash join."""
    o = _t(spark, sf_dir, "orders")
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    order_counts = o.groupBy(F.col("o_custkey").cast("long").alias("k")).agg(
        F.count("*").alias("n_orders")
    )
    event_counts = ev.groupBy(F.col("user_id").cast("long").alias("k")).agg(
        F.count("*").alias("n_events")
    )
    j = order_counts.join(event_counts, "k", "full_outer")
    return (
        j.groupBy()
        .agg(
            F.count("*").alias("n_keys"),
            F.sum(F.col("n_events").isNull().cast("long")).alias("n_orders_only"),
            F.sum(F.col("n_orders").isNull().cast("long")).alias("n_events_only"),
            F.sum(F.coalesce("n_orders", F.lit(0))).alias("total_orders"),
            F.sum(F.coalesce("n_events", F.lit(0))).alias("total_events"),
        )
    )


ORACLE_FULL_OUTER = """
WITH order_counts AS (
  SELECT o_custkey::bigint AS k, count(*) AS n_orders
  FROM orders GROUP BY o_custkey
), event_counts AS (
  SELECT user_id::bigint AS k, count(*) AS n_events
  FROM events GROUP BY user_id
), j AS (
  SELECT a.n_orders, b.n_events
  FROM order_counts a FULL OUTER JOIN event_counts b USING (k)
)
SELECT count(*) AS n_keys,
       sum(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END)::bigint AS n_orders_only,
       sum(CASE WHEN n_orders IS NULL THEN 1 ELSE 0 END)::bigint AS n_events_only,
       coalesce(sum(n_orders), 0)::bigint AS total_orders,
       coalesce(sum(n_events), 0)::bigint AS total_events
FROM j
"""


# --- exact percentiles ------------------------------------------------------

def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type. Exact
    (not approx_percentile) so an independent engine computes the same
    numbers; at 100 TB the approx sketch is the drop-in alternative —
    same plan shape, mergeable partial state."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


ORACLE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4)  AS p50,
       round(quantile_cont(value, 0.9), 4)  AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --- salted skew-join, oracle-checked against the plain join ----------------

def salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-mitigation path as a first-class query: orders⋈customer
    through `scale.salted_join` (big side salted, small side exploded
    across the salt range), aggregated per segment. The oracle is the
    PLAIN join's SQL — passing proves salting is result-invariant, which
    is the property that lets it be dropped into any hot-key join."""
    from ..scale import salted_join

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = _t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    return (
        salted_join(o, c, "custkey", salt_buckets=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_SALTED = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- graph analytics: triangle counting -------------------------------------

def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-purchase projection graph (parts that
    appear in the same order are connected). The classic compact-forward
    shape: orient every edge low→high part key so each triangle is
    enumerated exactly once by the wedge join e1(u,v)⋈e2(v,w) closed by
    e3(u,w).

    Scale shape: the projection is one self-join on the order key (never
    all-pairs across orders); the edge set is persisted and reused by all
    three legs; the wedge join shuffles on a single vertex key each time.
    At 100 TB the standard refinement is degree-ordering the orientation
    so hot vertices bound their wedge fan-out — count-identical, so the
    id-ordering here keeps the oracle exact."""
    from .graph_analytics import copurchase_half_edges, max_part_key

    # the oriented projection is the session-shared graph artifact
    # (graph_analytics.weighted_half_edges) — built once, read by all three legs
    pairs = copurchase_half_edges(spark, sf_dir)
    e1, e2 = pairs.alias("e1"), pairs.alias("e2")
    # explicit broadcasts: the edge set is ~20 MB here, so both legs build
    # a hash map once and the wedge stream pipelines through both probes
    # with no wedge shuffle; at scale AQE would pick shuffle joins instead
    wedges = e1.join(F.broadcast(e2), F.col("e1.v") == F.col("e2.u"))
    if max_part_key(spark, sf_dir) < (1 << 31):
        # close the wedge with a SINGLE-LONG key: the composite
        # (u, v) equi-join builds a generic UnsafeHashedRelation whose
        # two-column row hash dominated the whole query (the wedge
        # stream is ~40× the edge count); packing both vertex ids into
        # one long switches the probe to LongHashedRelation (guide §2.3
        # narrower keys — measured 7.7 s → 2.2 s at sf0.1, count
        # identical). Exact while ids fit 31 bits (u*2^32 + v is then
        # collision-free and overflow-free in int64); wider id spaces
        # take the composite-key branch below.
        packed = pairs.select(
            (F.col("u") * F.lit(1 << 32) + F.col("v")).alias("uv")
        )
        tri = (
            wedges.select(
                (F.col("e1.u") * F.lit(1 << 32) + F.col("e2.v")).alias("uv")
            )
            .join(F.broadcast(packed), "uv")
            .agg(F.count("*").alias("n_triangles"))
        )
    else:
        e3 = pairs.alias("e3")
        tri = wedges.join(
            F.broadcast(e3),
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        ).agg(F.count("*").alias("n_triangles"))
    return pairs.agg(F.count("*").alias("n_edges")).crossJoin(tri)


ORACLE_TRIANGLES = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT count(*)
        FROM pairs e1
        JOIN pairs e2 ON e1.v = e2.u
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


# --- sketched aggregates with an oracle-checked error bound -----------------

def approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for J4's distinct-counting index aggregates:
    HyperLogLog++ (`approx_count_distinct`, mergeable partial state, no
    giant exact-distinct shuffle) next to the exact count, emitting
    whether the sketch landed within its configured 2% relative error.

    The oracle can't reproduce HLL internals, so the check is inverted:
    the oracle returns the exact count plus literal TRUE, and this query
    hash-matches only if every sketch estimate is inside the bound —
    the error bound itself is the hash-checked contract."""
    li = _t(spark, sf_dir, "lineitem")
    # separate aggregates joined on the 3-row group key: combining
    # countDistinct with another aggregate plans an Expand (every row
    # duplicated per aggregate family), which at rsd=0.005 measured 5-8x
    # slower than two narrow scans; rsd=0.01 keeps the estimate well
    # inside the 2% contract (measured 0.67% at sf0.1) at 1/4 the sketch
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts_exact")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx")
    )
    return (
        exact.join(approx, "l_returnflag")
        .select(
            "l_returnflag",
            "n_parts_exact",
            (
                F.abs(F.col("approx") - F.col("n_parts_exact"))
                / F.col("n_parts_exact")
                <= 0.02
            ).alias("approx_within_2pct"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_APPROX_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts_exact,
       TRUE AS approx_within_2pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


_CMS_EPS = 0.0001
_CMS_TOPK = 10


def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters — the streaming/100 TB path for
    'top keys by frequency' when the key space is too large for an
    exact groupBy: the sketch is a fixed-size mergeable summary built
    in one distributed pass (`DataFrame.stat.countMinSketch`, map-side
    partials merged like any aggregate), and point-estimates cost O(1).

    Same inverted contract as approx_distinct_check (relational.py:851):
    the oracle returns the exact top-10 counts plus literal TRUE; this
    query emits whether each CMS estimate respects the sketch's
    guarantee (never undercounts; overcounts by at most eps*N). A
    hash-match proves the error contract held, not just that code ran.
    The exact side doubles as the verification oracle the way a real
    pipeline would spot-check its sketches."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("l_partkey")
    )
    # one distributed pass: top-k, total, and the sketch; the sketch agg
    # is mergeable partial state exactly like sum/count
    top = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "l_partkey")
        .limit(_CMS_TOPK)
        .collect()
    )
    agg = li.agg(
        F.count("*").alias("total"),
        F.count_min_sketch("l_partkey", F.lit(_CMS_EPS), F.lit(0.99), F.lit(42)).alias(
            "sketch"
        ),
    ).collect()[0]
    # deserialize through Spark's public sketch API (the estimate side
    # of the same class the aggregate serialized)
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["sketch"])
    )
    slack = _CMS_EPS * agg["total"]
    rows = []
    for r in top:
        est = jcms.estimateCount(int(r["l_partkey"]))
        rows.append(
            (
                int(r["l_partkey"]),
                int(r["n_exact"]),
                bool(r["n_exact"] <= est <= r["n_exact"] + slack),
            )
        )
    return spark.createDataFrame(
        rows, "l_partkey bigint, n_exact bigint, cms_within_bound boolean"
    ).orderBy(F.desc("n_exact"), "l_partkey")


ORACLE_HEAVY_HITTERS = f"""
SELECT l_partkey::bigint AS l_partkey,
       count(*) AS n_exact,
       TRUE AS cms_within_bound
FROM lineitem
GROUP BY l_partkey
ORDER BY n_exact DESC, l_partkey
LIMIT {_CMS_TOPK}
"""


# One SQL text, two engines: the engine's SQL surface is dialect-
# compatible ANSI for the relational core, so user queries written
# against the registered views run UNCHANGED — this string is both the
# Spark query and, verbatim, its DuckDB oracle.
ANSI_PASSTHROUGH_SQL = """
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       min(c.c_acctbal) AS min_acctbal
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING count(*) > 10
ORDER BY nation
"""


def ansi_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect-portability proof: one ANSI SQL string over the
    registered views executes on Spark AND serves verbatim as its own
    DuckDB oracle — the 'bring your SQL unchanged' contract of the
    batch-query surface (GrEBI's stage-08 users write Cypher against
    Neo4j; this engine's users write SQL against the same tables).
    Catalyst still gets full rein: broadcast dims, partial aggregates,
    pushdown — the text being portable costs no plan quality."""
    load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(ANSI_PASSTHROUGH_SQL)
_KLL_QUANTILES = (0.5, 0.9, 0.99)
_KLL_RANK_TOL = 0.02


def quantile_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch — the 100 TB path for percentiles
    (value_percentiles' exact interpolation needs a global sort; the
    KLL sketch is one mergeable pass with ~1% rank error at default k).

    Inverted contract like approx_distinct_check: estimate p50/p90/p99
    of l_extendedprice from the sketch, then measure each estimate's
    EXACT rank in a second scan; hash-matches the oracle's literal TRUE
    rows only if every estimated quantile's true rank is within ±2% of
    its target — the DataSketches rank-error guarantee, checked."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_extendedprice").alias("v"))
    est = li.agg(
        F.expr(
            f"kll_sketch_get_quantile_double(kll_sketch_agg_double(v), "
            f"array({', '.join(str(q) for q in _KLL_QUANTILES)}))"
        ).alias("est")
    ).collect()[0]["est"]
    checks = [
        (
            (F.sum((F.col("v") <= F.lit(float(e))).cast("long")) / F.count("*"))
            .between(q - _KLL_RANK_TOL, q + _KLL_RANK_TOL)
        ).alias(f"ok_{i}")
        for i, (q, e) in enumerate(zip(_KLL_QUANTILES, est))
    ]
    row = li.agg(*checks).collect()[0]
    return spark.createDataFrame(
        [(q, bool(row[f"ok_{i}"])) for i, q in enumerate(_KLL_QUANTILES)],
        "quantile double, rank_within_2pct boolean",
    ).orderBy("quantile")


ORACLE_QUANTILE_SKETCH = """
SELECT CAST(quantile AS DOUBLE) AS quantile, rank_within_2pct
FROM (VALUES (0.5, TRUE), (0.9, TRUE), (0.99, TRUE))
  AS t(quantile, rank_within_2pct)
ORDER BY quantile
"""


# --- graph stats (Q9) -------------------------------------------------------

def stats_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total node/edge counts (stats.cypher)."""
    t = load_tables(spark, sf_dir)
    rows = [
        t["customer"].select(F.lit("customer").alias("entity"), F.count("*").alias("n")),
        t["orders"].select(F.lit("orders").alias("entity"), F.count("*").alias("n")),
        t["lineitem"].select(F.lit("lineitem").alias("entity"), F.count("*").alias("n")),
        t["part"].select(F.lit("part").alias("entity"), F.count("*").alias("n")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.orderBy("entity")


ORACLE_STATS = """
SELECT * FROM (
  SELECT 'customer' AS entity, count(*) AS n FROM customer
  UNION ALL SELECT 'orders',   count(*) FROM orders
  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
  UNION ALL SELECT 'part',     count(*) FROM part
) ORDER BY entity
"""


# --- double-correlated exists / not-exists (Q21 shape) ----------------------

def q21_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose line was the strictly-latest shipment in a
    multi-supplier order: EXISTS (another supplier in the order) AND NOT
    EXISTS (any later-shipping line by another supplier) — the Q21
    double-correlation, as one semi- and one anti-join against the same
    lineitem table, both hash-keyed on l_orderkey (the inequality rides
    as a join residual, never a nested loop)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    other_supplier = (
        F.col("l2.l_orderkey") == F.col("l1.l_orderkey")
    ) & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey"))
    later_by_other = (
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate"))
    )
    kept = (
        l1.join(l2, other_supplier, "left_semi")
        .join(l3, later_by_other, "left_anti")
    )
    return (
        kept.groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count("*").alias("n_latest_lines"))
        .orderBy(F.desc("n_latest_lines"), "s_suppkey")
        .limit(10)
    )


ORACLE_Q21 = """
SELECT l1.l_suppkey AS s_suppkey, count(*) AS n_latest_lines
FROM lineitem l1
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
      AND l3.l_shipdate > l1.l_shipdate
  )
GROUP BY l1.l_suppkey
ORDER BY n_latest_lines DESC, s_suppkey
LIMIT 10
"""


# --- scalar-subquery threshold + anti-join (Q22 shape) ----------------------

def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers with no recent orders: acctbal above the
    positive-balance average (a broadcast one-row scalar), anti-joined
    against 1996+ orders, aggregated per segment — the Q22 shape with
    the segment standing in for the phone prefix."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_Q22 = """
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def intersect_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators — the remaining ANSI set surface
    next to ``union_distinct_nations``: nation keys reached by customers
    vs by suppliers, tagged 'both' (INTERSECT), 'customer_only' and
    'supplier_only' (EXCEPT each way).

    Scale shape: each side is first reduced to its distinct key set
    (dimension-key-sized, map-side partial distinct), so the three set
    ops run over tiny inputs regardless of fact cardinality; Spark plans
    intersect/subtract as hash joins on those reduced sets."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey")).distinct()
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nationkey")  # noqa: E731
    return (
        tag(c.intersect(s), "both")
        .unionByName(tag(c.subtract(s), "customer_only"))
        .unionByName(tag(s.subtract(c), "supplier_only"))
        .orderBy("op", "nationkey")
    )


ORACLE_INTERSECT_EXCEPT = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT 'both' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT 'customer_only' AS op, nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
UNION ALL
SELECT 'supplier_only' AS op, nationkey FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
ORDER BY op, nationkey
"""



def hll_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGEABILITY proven end-to-end (the property the whole
    100 TB sketch story rests on): per-event-type user sketches built
    with ``hll_sketch_agg`` are combined with ``hll_union_agg``, and the
    merged estimate must EQUAL the estimate of one direct global sketch
    — HLL union is register-wise max, so sketch(A ∪ B) ≡ union(sketch A,
    sketch B) exactly, not approximately. This is what lets 1000
    executors each sketch their shard and a single reduce produce the
    global distinct count with no key shuffle (and what makes sketches
    storable per partition-file and re-aggregatable at query time).

    Inverted-contract oracle (approx_distinct_check's pattern): DuckDB
    returns the exact distinct plus literal TRUEs; the query hash-matches
    only if merged == direct (exact sketch identity) AND the estimate is
    within 5% of the truth."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = per_type.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_merged")
    )
    direct = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est_direct"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    return direct.crossJoin(merged).select(
        "n_users_exact",
        (F.col("est_merged") == F.col("est_direct")).alias("merge_is_exact"),
        (
            F.abs(F.col("est_direct") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= 0.05
        ).alias("estimate_within_5pct"),
    )


ORACLE_HLL_MERGE = """
SELECT count(DISTINCT user_id) AS n_users_exact,
       TRUE AS merge_is_exact,
       TRUE AS estimate_within_5pct
FROM events
"""



GROUP_BY_ALL_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


def group_by_all_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics dialect
    both Spark 4 and DuckDB adopted (grouping keys inferred from the
    non-aggregate select list): one SQL text runs verbatim on both
    engines and serves as its own oracle, extending
    ansi_sql_passthrough's bring-your-SQL-unchanged contract to the
    modern shorthand."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(GROUP_BY_ALL_SQL)



_HIST_WIDTH = 25.0
_HIST_MAX_BUCKET = 19


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (20 buckets of 25, top
    bucket open) — the distribution profile next to value_percentiles'
    quantiles: percentiles answer "what value is at rank p", the
    histogram answers "how is mass shaped" (bimodality, outlier tails),
    and it is the one-pass, fixed-size, mergeable aggregate dashboards
    bin on. Bucketing is floor(value / width) capped — floor of an IEEE
    division, bit-identical across engines; per-bucket sums are exact
    integer cents.

    Scale shape: one map-side partial aggregate into <= 20 groups —
    effectively a reduce of constant width no matter the input size
    (the same contract as a sketch, with exact counts)."""
    e = _t(spark, sf_dir, "events")
    bucket = F.least(
        F.floor(F.col("value") / _HIST_WIDTH).cast("int"),
        F.lit(_HIST_MAX_BUCKET),
    )
    return (
        e.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("sum_cents"),
        )
        .orderBy("bucket")
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(least(floor(value / {_HIST_WIDTH}), {_HIST_MAX_BUCKET}) AS INTEGER)
         AS bucket,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY bucket
ORDER BY bucket
"""


QUERIES = {
    "hll_merge_check": hll_merge_check,
    "events_value_histogram": events_value_histogram,
    "q1_pricing_summary": q1_pricing_summary,
    "intersect_except_nations": intersect_except_nations,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "semi_join_parts": semi_join_parts,
    "anti_join_customers": anti_join_customers,
    "top_customers": top_customers,
    "union_distinct_nations": union_distinct_nations,
    "group_collect_merge": group_collect_merge,
    "edge_summary_cube": edge_summary_cube,
    "rarest_segment_per_nation": rarest_segment_per_nation,
    "id_resolution": id_resolution,
    "json_filter_events": json_filter_events,
    "stats_counts": stats_counts,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q12_priority_split": q12_priority_split,
    "q14_promo_revenue": q14_promo_revenue,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "top_parts_per_brand": top_parts_per_brand,
    "rollup_revenue": rollup_revenue,
    "value_percentiles": value_percentiles,
    "salted_join_orders": salted_join_orders,
    "copurchase_triangles": copurchase_triangles,
    "approx_distinct_check": approx_distinct_check,
    "heavy_hitters_sketch": heavy_hitters_sketch,
    "quantile_sketch_check": quantile_sketch_check,
    "ansi_sql_passthrough": ansi_sql_passthrough,
    "group_by_all_passthrough": group_by_all_passthrough,
    "grouping_sets_revenue": grouping_sets_revenue,
    "full_outer_reconcile": full_outer_reconcile,
    "q21_late_shippers": q21_late_shippers,
    "q22_idle_customers": q22_idle_customers,
}

ORACLES = {
    "hll_merge_check": ORACLE_HLL_MERGE,
    "events_value_histogram": ORACLE_HISTOGRAM,
    "q1_pricing_summary": ORACLE_Q1,
    "intersect_except_nations": ORACLE_INTERSECT_EXCEPT,
    "q3_shipping_priority": ORACLE_Q3,
    "q5_local_supplier_volume": ORACLE_Q5,
    "semi_join_parts": ORACLE_SEMI,
    "anti_join_customers": ORACLE_ANTI,
    "top_customers": ORACLE_TOP_CUSTOMERS,
    "union_distinct_nations": ORACLE_UNION_DISTINCT,
    "group_collect_merge": ORACLE_GROUP_COLLECT,
    "edge_summary_cube": ORACLE_EDGE_SUMMARY,
    "rarest_segment_per_nation": ORACLE_RAREST,
    "id_resolution": ORACLE_ID_RESOLUTION,
    "json_filter_events": ORACLE_JSON_FILTER,
    "stats_counts": ORACLE_STATS,
    "q4_order_priority": ORACLE_Q4,
    "q6_forecast_revenue": ORACLE_Q6,
    "q12_priority_split": ORACLE_Q12,
    "q14_promo_revenue": ORACLE_Q14,
    "q17_small_quantity_revenue": ORACLE_Q17,
    "q18_large_volume_customers": ORACLE_Q18,
    "q19_disjunctive_revenue": ORACLE_Q19,
    "top_parts_per_brand": ORACLE_TOP_PARTS,
    "rollup_revenue": ORACLE_ROLLUP,
    "value_percentiles": ORACLE_PERCENTILES,
    "salted_join_orders": ORACLE_SALTED,
    "copurchase_triangles": ORACLE_TRIANGLES,
    "approx_distinct_check": ORACLE_APPROX_DISTINCT,
    "heavy_hitters_sketch": ORACLE_HEAVY_HITTERS,
    "quantile_sketch_check": ORACLE_QUANTILE_SKETCH,
    "ansi_sql_passthrough": ANSI_PASSTHROUGH_SQL,
    "group_by_all_passthrough": GROUP_BY_ALL_SQL,
    "grouping_sets_revenue": ORACLE_GROUPING_SETS,
    "full_outer_reconcile": ORACLE_FULL_OUTER,
    "q21_late_shippers": ORACLE_Q21,
    "q22_idle_customers": ORACLE_Q22,
}

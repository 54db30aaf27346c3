"""Second tranche of relational operator coverage: the remaining TPC-H
query *shapes* (Q2/Q7/Q8/Q9/Q10/Q11/Q13/Q15/Q16/Q20) adapted to the
harness star schema (which has no partsupp table — lineitem stands in as
the part×supplier offer relation where needed).

These widen SURVEY.md §2.5's query-surface coverage with shapes the
first tranche lacks: correlated-min election (Q2), ratio-of-sums per
group (Q8), left-outer count distribution (Q13), scalar-subquery-vs-
aggregated-view equality (Q15), count-distinct with NOT IN (Q16), and
nested HAVING semi-join (Q20).  Reference parity target: the batch
Cypher surface of 08_run_queries/run_queries.py + queries/*.cypher is
joins + aggregates + ranking; these are the same physical operators.

Hash-safety conventions follow plans/relational.py: every computed
column is aliased identically in Spark and SQL; sums are rounded before
any division or equality comparison so FP accumulation order cannot
flip the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..session import load_tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir, (name,))[name]


# --- Q2 shape: correlated-min supplier election -----------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest offer per part, elected via a window min — the Q2
    correlated-subquery shape without a second scan of the offer table.

    `offers` (min line price per part×supplier) is one shuffle on the
    composite key; the per-part min rides a Window over l_partkey, which
    AQE coalesces into the same exchange when partitioning is compatible.
    Equality is on raw stored doubles (min picks an existing value, no
    arithmetic), so the filter is hash-safe.  Dimension joins broadcast.
    At 100 TB the offers aggregate is the only large shuffle; the window
    reuses its partitioning instead of a second self-join scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn("part_min", F.min("min_price").over(w)).filter(
        F.col("min_price") == F.col("part_min")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("min_price", 2).alias("offer_price"),
            "n_name",
        )
        .orderBy("p_partkey", "s_suppkey")
        .limit(50)
    )


ORACLE_Q2 = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_name, s_suppkey, s_name,
       round(min_price, 2) AS offer_price, n_name
FROM offers
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_size = 15
  AND min_price = (SELECT min(min_price) FROM offers o2
                   WHERE o2.l_partkey = offers.l_partkey)
ORDER BY p_partkey, s_suppkey
LIMIT 50
"""


# --- Q7 shape: bidirectional nation-pair volume -----------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue between two nations by shipping year, in both directions.

    lineitem⋈orders shuffles on the order key; supplier, customer and
    both nation legs broadcast.  The pair filter is a residual on the
    two broadcast-joined name columns, so no extra shuffle.  The final
    3-key group is map-side partial then one exchange."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- Q8 shape: market-share ratio of sums -----------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of EUROPE-customer PROMO volume supplied by NATION_3, per
    order year — the conditional-sum / total-sum ratio.

    Both sums are rounded to cents BEFORE the division so the quotient
    is identical across engines regardless of accumulation order.  All
    five dimension legs broadcast; the only exchanges are
    lineitem⋈orders and the year group."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.round(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)),
                    2,
                )
                / F.round(F.sum(vol), 2),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       round(round(sum(CASE WHEN n2.n_name = 'NATION_3'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END), 2)
             / round(sum(l_extendedprice * (1 - l_discount)), 2), 6) AS mkt_share
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN part      ON l_partkey = p_partkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY o_year
ORDER BY o_year
"""


# --- Q9 shape: profit by supplier nation and year ---------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation / per-year profit over a part-name subset.  The harness
    schema has no partsupp, so p_retailprice×quantity stands in for the
    supply cost (same join tree, same agg shape as TPC-H Q9).

    part is filtered on a non-indexable LIKE then broadcast; the big
    fact⋈orders join shuffles once; supplier→nation broadcast.

    The profit terms partially cancel (revenue minus cost), so a double
    sum sits near half-cent boundaries at scale; both sides therefore
    round each row to integer cents (identical per-row doubles → an
    identical bigint) and sum exactly, dividing back at output."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%r%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    amount_cents = F.round(amount * 100, 0).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg((F.sum(amount_cents) / 100.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       sum(CAST(round((l_extendedprice * (1 - l_discount)
                       - p_retailprice * l_quantity) * 100, 0) AS BIGINT))
         / 100.0 AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%r%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""


# --- Q10 shape: returned-item ranking ---------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by revenue lost to returns in one quarter.  orders
    is date-pruned at the scan; lineitem filters on returnflag at the
    scan; customer+nation broadcast; TakeOrderedAndProject for the
    top-20 (no global sort)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "c_mktsegment",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment"
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name, c_mktsegment
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- Q11 shape: global-threshold important parts ----------------------------

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose inventory value exceeds a global fraction — the
    aggregate-vs-scalar-of-the-same-aggregate shape.  The per-part agg
    is computed once and persisted; its grand total is a one-row
    broadcast, so the threshold filter costs no second scan.  Value is
    rounded to cents before the total, and the cutoff itself is rounded
    to cents too — the threshold comparison is between two identically
    quantized numbers, so engine summation order cannot flip it."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    partval = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias(
                "value"
            )
        )
        .persist()
    )
    threshold = partval.agg(
        F.round(F.sum("value") * F.lit(0.001), 2).alias("cutoff")
    )
    out = (
        partval.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("cutoff"))
        .select("p_partkey", "value")
        .orderBy(F.desc("value"), "p_partkey")
        .limit(100)
    )
    return out


ORACLE_Q11 = """
WITH partval AS (
  SELECT l_partkey AS p_partkey,
         round(sum(l_extendedprice * l_quantity), 2) AS value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l_partkey
)
SELECT p_partkey, value
FROM partval
WHERE value > (SELECT round(sum(value) * 0.001, 2) FROM partval)
ORDER BY value DESC, p_partkey
LIMIT 100
"""


# --- Q13 shape: left-outer count distribution -------------------------------

def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer including zero-order customers:
    LEFT OUTER join with a residual on the join (not a WHERE, which
    would drop the null-extended rows), two cascaded counts.

    customer⋈orders shuffles on custkey (customer could broadcast at
    this sf, but outer-preserving the probe side requires customer as
    the left/stream side — Catalyst picks broadcast-hash-left-outer
    with orders built when small enough).  The second group is on the
    tiny count domain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q15 shape: top supplier vs aggregated view -----------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) whose quarterly revenue equals the maximum over the
    aggregated revenue view.  The view is computed once and persisted;
    its max is a one-row broadcast; equality is on the cent-rounded
    revenue so ties resolve identically in both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
        .persist()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --- Q16 shape: count-distinct with NOT IN ----------------------------------

def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) over an offer
    subset, excluding a supplier denylist — NOT IN as a broadcast
    anti-join (the denylist is provably non-null, so NOT IN ≡ anti).

    The count-distinct is the only wide exchange: Spark plans it as a
    two-phase partial-distinct then count, which scales linearly."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(40)
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
"""


# --- Q20 shape: nested-HAVING semi-join -------------------------------------

def q20_excess_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped an unusually large total of some matching
    part in 1997: inner agg with HAVING, then a semi-join into the
    supplier dimension (IN ≡ left-semi on the distinct inner keys).

    The inner agg shuffles on (suppkey, partkey); the HAVING cuts it to
    a handful of rows, which then broadcast-semi-join into supplier."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%r%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 55.0)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%r%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 55.0
)
ORDER BY s_suppkey
"""


# --- range-frame window: 7-day moving average -------------------------------

def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue per event type — a RANGE
    window frame (value-based, gap-aware: a missing day still ages out
    of the frame), distinct from the ROWS frames elsewhere.

    One shuffle for the daily aggregate; the window reuses the
    event_type partitioning. The frame sums ≤7 cent-rounded daily
    values in window order — identical sequence on both engines."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.round(F.sum("value"), 2).alias("rev"))
        .withColumn("day_num", F.datediff("d", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            "day_num",
            "rev",
            F.round(F.avg("rev").over(w), 4).alias("ma7"),
        )
        .orderBy("event_type", "day_num")
    )


ORACLE_MOVING_AVG = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         round(sum(value), 2) AS rev
  FROM events GROUP BY event_type, d
)
SELECT event_type,
       CAST(datediff('day', DATE '1970-01-01', d) AS INTEGER) AS day_num,
       rev,
       round(avg(rev) OVER (
         PARTITION BY event_type
         ORDER BY datediff('day', DATE '1970-01-01', d)
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
ORDER BY event_type, day_num
"""


# --- native PIVOT ------------------------------------------------------------

PIVOT_STATUSES = ("F", "O", "P")


def orders_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per market segment pivoted by order status — the
    relational PIVOT operator (one pass: partial aggregation per
    (segment, status), then the pivot projection; no per-column scan).
    Status values are pinned so the output schema is static — at scale
    an unpinned pivot would need a distinct-values pre-pass."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    piv = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "c_mktsegment",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}")
            for s in PIVOT_STATUSES
        ],
    ).orderBy("c_mktsegment")


ORACLE_ORDERS_PIVOT = """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- bucketed co-located join ------------------------------------------------

@artifact
def _bucketed_db(spark: SparkSession, sf_dir: str) -> str:
    import uuid

    db = f"grebi_bucketed_{uuid.uuid4().hex[:12]}"
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    (
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice")
        .write.format("parquet")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(f"{db}.lineitem_b")
    )
    (
        t["orders"]
        .select("o_orderkey", "o_orderpriority")
        .write.format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable(f"{db}.orders_b")
    )
    return db


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority computed over BUCKETED tables:
    lineitem and orders are written once per session as
    bucketBy(orderkey)+sortBy managed tables, and the join then plans
    ZERO exchanges on either side — the write-time layout buys back the
    join shuffle, exactly the bucketed graph store's contract
    (sinks/bucketed.py:26, plan-gated in tests/test_bucketed.py).

    This is the signature 100 TB technique for repeatedly-joined fact
    tables: pay one clustered write, then every orderkey join is
    co-located forever. The oracle computes the same aggregate from the
    raw tables — a hash-match proves the bucketed layout is lossless."""
    db = _bucketed_db(spark, sf_dir)
    li = spark.table(f"{db}.lineitem_b")
    o = spark.table(f"{db}.orders_b")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_BUCKETED_JOIN = """
SELECT o_orderpriority,
       round(sum(l_extendedprice), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4): props
    parses ONCE into the binary shredded form, and every extraction is
    a typed `variant_get` over that parse — versus
    ``json_filter_events``'s `get_json_object`, which re-parses the
    JSON string per access. At 100 TB with tens of keys per document
    the parse-once contract is the difference between one scan-side
    decode and K of them.

    Decile histogram of the `k` prop: one map-side parse + bucket, one
    bucket-count shuffle."""
    e = _t(spark, sf_dir, "events")
    v = e.select(F.parse_json("props").alias("vp"), "event_type")
    k = F.expr("variant_get(vp, '$.k', 'int')")
    return (
        v.select(
            (F.floor(k / 10) * 10).cast("long").alias("k_bucket"),
            k.alias("k"),
            "event_type",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("k").alias("max_k"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("k_bucket")
    )


ORACLE_VARIANT_PROPS = """
WITH v AS (
  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, event_type
  FROM events
)
SELECT CAST((k // 10) * 10 AS BIGINT) AS k_bucket,
       count(*) AS n_events,
       max(k) AS max_k,
       count(DISTINCT event_type) AS n_types
FROM v GROUP BY 1 ORDER BY 1
"""


# the same text runs on both engines — LATERAL is ANSI
LATERAL_TOP_ORDERS_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    top-N-per-key shape written the way an analyst writes it, left to
    the optimizer to decorrelate (Catalyst rewrites the lateral
    correlated limit into a window/DomainJoin plan rather than
    re-executing the subquery per customer row; compare
    ``top_parts_per_brand``, which hand-writes the same shape as a
    rank() window). The identical text is the DuckDB oracle — LATERAL
    is ANSI."""
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(LATERAL_TOP_ORDERS_SQL)


def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — the full 2^k grouping-set
    lattice completing the rollup/grouping-sets family: detail cells,
    both one-dimension margins, and the grand total in ONE aggregation
    pass (Expand replicates rows map-side, partial-aggregates before
    the single shuffle). `grouping_id` disambiguates a real NULL key
    from a margin row — the reason hash comparison is safe."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


ORACLE_CUBE = """
SELECT grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       l_returnflag, l_linestatus,
       count(*) AS n_lines,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""



def merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the CDC upsert) applied as a batch
    operator: the customer dimension is the target, the latest event
    per user is the change feed — WHEN MATCHED the balance is adjusted
    by the event value, WHEN NOT MATCHED the user is inserted into a
    synthetic 'NEW' segment. Spark's native MERGE needs a v2/lakehouse
    table; this is the same semantics over plain tables — one FULL
    OUTER join + coalesce projection — reported per post-merge segment
    with updated/inserted breakdowns.

    Exactness: balances and deltas are integer cents
    (round(x*100) as bigint), so the post-merge sum is exact. The
    change feed dedupes to latest-per-key with max_by over a
    (ts, event_id) ordering — deterministic under ties.

    Scale shape: the change-feed dedup is one shuffle on user_id; the
    merge join shuffles both sides on the key (a real lakehouse MERGE
    does exactly this, plus file rewrite); the rollup is 3-4 groups.
    At 100 TB the target side prunes to only the files containing
    matched keys when bucketed by key — scale.write_graph's layout.
    """
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("key"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
        F.col("c_mktsegment").alias("segment"),
    )
    ev = _t(spark, sf_dir, "events")
    changes = (
        ev.groupBy(F.col("user_id").cast("long").alias("key"))
        .agg(
            F.expr(
                "max_by(CAST(round(value * 100) AS BIGINT),"
                " struct(ts, event_id))"
            ).alias("delta_cents")
        )
    )
    merged = (
        cust.join(changes, "key", "full_outer")
        .select(
            F.coalesce("segment", F.lit("NEW")).alias("segment"),
            (
                F.coalesce("bal_cents", F.lit(0))
                + F.coalesce("delta_cents", F.lit(0))
            ).alias("new_bal_cents"),
            (F.col("delta_cents").isNotNull() & F.col("bal_cents").isNotNull())
            .cast("long")
            .alias("is_update"),
            F.col("bal_cents").isNull().cast("long").alias("is_insert"),
        )
    )
    return (
        merged.groupBy("segment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("is_update").alias("n_updated"),
            F.sum("is_insert").alias("n_inserted"),
            F.sum("new_bal_cents").alias("sum_bal_cents"),
        )
        .orderBy("segment")
    )


ORACLE_MERGE_UPSERT = """
WITH cust AS (
  SELECT c_custkey::BIGINT AS key,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         c_mktsegment AS segment
  FROM customer
), ranked AS (
  SELECT user_id::BIGINT AS key,
         CAST(round(value * 100) AS BIGINT) AS delta_cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), changes AS (
  SELECT key, delta_cents FROM ranked WHERE rn = 1
), merged AS (
  SELECT coalesce(c.segment, 'NEW') AS segment,
         coalesce(c.bal_cents, 0) + coalesce(ch.delta_cents, 0)
           AS new_bal_cents,
         CASE WHEN ch.key IS NOT NULL AND c.key IS NOT NULL
              THEN 1 ELSE 0 END AS is_update,
         CASE WHEN c.key IS NULL THEN 1 ELSE 0 END AS is_insert
  FROM cust c FULL OUTER JOIN changes ch ON c.key = ch.key
)
SELECT segment,
       count(*) AS n_rows,
       CAST(sum(is_update) AS BIGINT) AS n_updated,
       CAST(sum(is_insert) AS BIGINT) AS n_inserted,
       CAST(sum(new_bal_cents) AS BIGINT) AS sum_bal_cents
FROM merged GROUP BY segment ORDER BY segment
"""



def listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via ANSI ``LISTAGG ... WITHIN GROUP``
    (new in Spark 4) — the CSV-cell rendering the reference hand-rolls
    for its Neo4j export (multi-values joined with 0x1F,
    grebi_make_neo_csv/src/main.rs:362-388; K1): per region, the
    sorted, comma-joined nation list. WITHIN GROUP's mandated ordering
    is what makes the concatenation deterministic — the same reason the
    reference sorts before joining.

    One broadcast join + one grouped aggregate; the sort is per-group
    over tiny lists, inside the aggregate."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    j.createOrReplaceTempView("_nr_listagg")
    return spark.sql(
        """
        SELECT r_name AS region,
               count(*) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM _nr_listagg GROUP BY r_name ORDER BY region
        """
    )


ORACLE_LISTAGG = """
SELECT r.r_name AS region,
       count(*) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY region
"""


def approx_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``approx_top_k`` sketch (Spark 4.1) over the event-type
    stream, exploded to (item, cnt) rows — the one-expression form of
    the heavy-hitters path (heavy_hitters_sketch builds the same answer
    from a Count-Min sketch). With tracked slots >= distinct items the
    sketch is exact, so the batch GROUP BY is the oracle; at 100 TB the
    sketch is a fixed-size mergeable state per partition — no key
    shuffle, the same scale contract as approx_count_distinct."""
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("_ev_topk")
    return spark.sql(
        """
        SELECT t.item, t.count AS cnt
        FROM (SELECT approx_top_k(event_type, 5) AS a FROM _ev_topk)
        LATERAL VIEW explode(a) t AS t
        ORDER BY cnt DESC, item
        """
    )


ORACLE_APPROX_TOPK = """
SELECT event_type AS item, count(*) AS cnt
FROM events GROUP BY event_type
ORDER BY cnt DESC, item
LIMIT 5
"""


QUERIES = {
    "merge_upsert_apply": merge_upsert_apply,
    "listagg_nations": listagg_nations,
    "approx_topk_events": approx_topk_events,
    "bucketed_join_revenue": bucketed_join_revenue,
    "events_variant_props": events_variant_props,
    "lateral_top_orders": lateral_top_orders,
    "cube_revenue": cube_revenue,
    "events_moving_avg": events_moving_avg,
    "orders_pivot": orders_pivot,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_parts": q11_important_parts,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_counts": q16_supplier_counts,
    "q20_excess_shipments": q20_excess_shipments,
}

ORACLES = {
    "merge_upsert_apply": ORACLE_MERGE_UPSERT,
    "listagg_nations": ORACLE_LISTAGG,
    "approx_topk_events": ORACLE_APPROX_TOPK,
    "bucketed_join_revenue": ORACLE_BUCKETED_JOIN,
    "events_variant_props": ORACLE_VARIANT_PROPS,
    "lateral_top_orders": LATERAL_TOP_ORDERS_SQL,
    "cube_revenue": ORACLE_CUBE,
    "events_moving_avg": ORACLE_MOVING_AVG,
    "orders_pivot": ORACLE_ORDERS_PIVOT,
    "q2_min_cost_supplier": ORACLE_Q2,
    "q7_volume_shipping": ORACLE_Q7,
    "q8_market_share": ORACLE_Q8,
    "q9_product_profit": ORACLE_Q9,
    "q10_returned_items": ORACLE_Q10,
    "q11_important_parts": ORACLE_Q11,
    "q13_order_distribution": ORACLE_Q13,
    "q15_top_supplier": ORACLE_Q15,
    "q16_supplier_counts": ORACLE_Q16,
    "q20_excess_shipments": ORACLE_Q20,
}

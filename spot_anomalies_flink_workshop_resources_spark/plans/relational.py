"""Batch relational query surface (SURVEY.md §2.2, §2.4, §2.5).

The reference delegates its only SQL to Athena (notebook cell 7) and has
no joins of its own (SURVEY.md §2.3); this module supplies the full
relational operator surface on the harness star schema — scans,
projection/filter, multi-way joins (broadcast for dims), hash aggregates,
window functions, sort/limit, set ops, semi joins, distinct aggregates —
all declarative DataFrame code so Catalyst does pushdown/pruning/reorder.

Float determinism: the DuckDB oracle and Spark sum doubles in different
orders, so money/quantity aggregates are computed in EXACT decimal
arithmetic (cast→sum→cast back to double — bit-identical both sides);
intrinsically-float results are rounded to 4 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table
from ..functions.timeutil import ts_seconds


def _dec(col, scale: int = 4):
    """Exact-arithmetic staging type for double columns with ≤2-decimal data."""
    return col.cast(f"decimal(18,{scale})")


def _d2d(col):
    """Decimal -> double via string: both Spark and DuckDB parse decimal
    strings with correct rounding, while their direct decimal->double
    conversions can differ by 1 ulp (DuckDB scales int128 in float space)."""
    return col.cast("string").cast("double")


def _dsum(col):
    """Order-independent sum of a money-ish double column, returned as double."""
    return _d2d(F.sum(_dec(col)))


def _davg(col):
    # double division of an exact decimal sum: IEEE-identical in Spark and
    # DuckDB (decimal/decimal division differs in scale rules — avoid it)
    return _d2d(F.sum(_dec(col))) / F.count(col)


# ---------------------------------------------------------------------------
# q1: pricing summary report (TPC-H Q1 shape) — scan + filter + hash agg
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    charge = disc_price * (1 + _dec(F.col("l_tax")))
    return (
        l.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _d2d(F.sum(disc_price)).alias("sum_disc_price"),
            _d2d(F.sum(charge)).alias("sum_charge"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))
                * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q3: shipping priority (TPC-H Q3 shape) — 3-way join + agg + top-k
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_d2d(F.sum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q5: local supplier volume (TPC-H Q5 shape) — 6-way join, dims broadcast
# ---------------------------------------------------------------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_d2d(F.sum(revenue)).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q6: forecast revenue change (TPC-H Q6 shape) — pushdown-friendly scan agg
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _d2d(F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount"))))
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q6_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q10: returned items (TPC-H Q10 shape) — join + agg + top-k by revenue
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_d2d(F.sum(revenue)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q4-like: order priority with EXISTS — left-semi join
# ---------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    # EXISTS predicate: orders with at least one returned lineitem
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# window functions: top-3 orders per customer by totalprice
# ---------------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# sort + limit: most expensive lineitems
# ---------------------------------------------------------------------------

def top_expensive_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(100)
    )


TOP_LINEITEMS_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# distinct aggregates per group
# ---------------------------------------------------------------------------

def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


DISTINCT_PARTS_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# set op: nations present among customers UNION suppliers (distinct union)
# ---------------------------------------------------------------------------

def active_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


ACTIVE_NATIONS_SQL = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# events: daily rollup — date_trunc + agg (streaming-table batch view)
# ---------------------------------------------------------------------------

def events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("sum_value"),
            F.countDistinct("user_id").alias("active_users"),
        )
    )


EVENTS_DAILY_SQL = """
SELECT date_trunc('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS active_users
FROM events
GROUP BY date_trunc('day', ts), event_type
"""


# ---------------------------------------------------------------------------
# events: sessionization — gap>1h starts a new session (lag + cumsum)
# ---------------------------------------------------------------------------

def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_sec = ts_seconds(F.col("ts"))  # NTZ-safe epoch
    gap = ts_sec - F.lag(ts_sec).over(w)
    sessions = (
        e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 3600), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_session").over(w).cast("long"))
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


EVENTS_SESSIONS_SQL = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         EXTRACT(EPOCH FROM ts) - LAG(EXTRACT(EPOCH FROM ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
sessions AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN gap IS NULL OR gap > 3600 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM lagged
)
SELECT user_id, MAX(session_id) AS n_sessions, COUNT(*) AS n_events
FROM sessions
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# q12-like: shipmode priority classification — CASE-conditional aggregation
# ---------------------------------------------------------------------------

def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    urgent = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(urgent).cast("long").alias("high_line_count"),
            F.sum(1 - urgent).cast("long").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# q14-like: promo revenue share — conditional numerator over one agg pass
# ---------------------------------------------------------------------------

def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            _d2d(F.sum(promo)).alias("promo_revenue"),
            _d2d(F.sum(revenue)).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            (F.col("promo_revenue") / F.col("total_revenue") * 100.0).alias(
                "promo_pct"
            ),
        )
    )


Q14_SQL = """
WITH agg AS (
  SELECT
    CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        THEN CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
      AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
)
SELECT promo_revenue, total_revenue,
       promo_revenue / total_revenue * 100.0 AS promo_pct
FROM agg
"""


# ---------------------------------------------------------------------------
# q18-like: large-volume orders — HAVING subquery + semi join
# ---------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
               AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) > 150
     ) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50
"""


# ---------------------------------------------------------------------------
# q19-like: OR-of-ANDs predicate — disjunctive pushdown exercise
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
        & (F.col("p_size") <= 10)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30)
        & (F.col("p_size") <= 20)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            _d2d(F.sum(revenue)).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q19_SQL = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 30 AND p_size <= 20)
"""




# ---------------------------------------------------------------------------
# q7-like: two-nation trade volume by ship year — 6-way join where BOTH
# sides of a nation pair must match (disjunctive join predicate), then a
# three-key rollup. Dims broadcast; one fact shuffle.
# ---------------------------------------------------------------------------

def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1_name, n2_name = "NATION_3", "NATION_7"
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    volume = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    pair_ok = (
        (F.col("supp_nation") == n1_name) & (F.col("cust_nation") == n2_name)
    ) | ((F.col("supp_nation") == n2_name) & (F.col("cust_nation") == n1_name))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_d2d(F.sum(volume)).alias("revenue"))
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# q8-like: market share — a conditional-numerator ratio of two decimal
# sums per year (share of NATION_3 suppliers in REGION_1 customers'
# spend). Ratio computed in double AFTER exact decimal sums.
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    volume = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    target = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (_d2d(F.sum(target)) / _d2d(F.sum(volume))).alias("mkt_share"),
            _d2d(F.sum(volume)).alias("total_volume"),
        )
    )


Q8_SQL = """
SELECT o_year,
       CAST(CAST(SUM(target) AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share,
       CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS total_volume
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
         CASE WHEN sn.n_name = 'NATION_3'
              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
              ELSE CAST(0 AS DECIMAL(18,4)) END AS target
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'EUROPE'
)
GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# JSON column surface: events.props carries a JSON payload; the engine
# path is from_json with an explicit schema (typed struct, codegen'd
# Jackson parse — the same shape serde.py uses for the Kafka value
# contract), then ordinary typed aggregation. Oracle: DuckDB
# json_extract_string + cast.
# ---------------------------------------------------------------------------

def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") >= 50, 1)).alias("n_high"),
        )
    )


EVENTS_PROPS_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                  THEN 1 END) AS n_high
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q9-like: product-type profit by supplier nation and order year — a
# contains-LIKE part filter plus a 5-way join. Part/supplier/nation are
# dims (broadcast); the only shuffle is lineitem⨝orders + final agg.
# ---------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    profit = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_d2d(F.sum(profit)).alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


# ---------------------------------------------------------------------------
# q15-like: top supplier by quarterly revenue — an aggregated "view"
# consumed twice (argmax via scalar subquery). The rev frame is tiny
# (one row per supplier) so both the max and the supplier dim broadcast;
# revenue equality is safe because both engines derive the double through
# the same exact-decimal path.
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    rev = l.groupBy("l_suppkey").agg(_d2d(F.sum(revenue)).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# q17-like: small-quantity revenue — correlated per-part average. Spark
# phrasing: semi-restrict lineitem to the brand's parts FIRST (broadcast),
# then a per-part window average over the restricted rows — no full-table
# aggregate, no self-join, one shuffle on l_partkey.
# ---------------------------------------------------------------------------

def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    avg_qty = _d2d(F.sum(_dec(F.col("l_quantity"))).over(w)) / F.count(
        F.lit(1)
    ).over(w)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .withColumn("avg_qty", avg_qty)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (_d2d(F.sum(_dec(F.col("l_extendedprice")))) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q17_SQL = """
WITH cand AS (
  SELECT l_extendedprice, l_quantity,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
                  OVER (PARTITION BY l_partkey) AS VARCHAR) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#3'
)
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         / 7.0 AS avg_yearly,
       COUNT(*) AS n_rows
FROM cand
WHERE l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# Navigation + distribution window functions: lag/lead/ntile/percent_rank
# over a per-user event timeline. The (ts, event_id) order key is unique,
# so every function is deterministic; percent_rank's (rank-1)/(n-1) is a
# double both engines compute identically.
# ---------------------------------------------------------------------------

def events_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("time_pct_rank"),
    )


EVENTS_LEAD_LAG_SQL = """
SELECT event_id, user_id, value,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       PERCENT_RANK() OVER w AS time_pct_rank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Time-RANGE window frame: trailing-hour moving aggregate per user — the
# frame is defined by a VALUE range over event time (peers included),
# not a row count; exact decimal sum keeps it oracle-hashable.
# ---------------------------------------------------------------------------

def events_hourly_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    epoch = ts_seconds(F.col("ts"))  # NTZ-safe epoch
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        epoch.alias("ts_epoch"),
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        (_d2d(F.sum(_dec(F.col("value"))).over(w)) / F.count(F.lit(1)).over(w)).alias(
            "avg_value_trailing_hour"
        ),
    )


EVENTS_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       EXTRACT(EPOCH FROM ts) AS ts_epoch,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_hour,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE)
         / COUNT(*) OVER w AS avg_value_trailing_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY EXTRACT(EPOCH FROM ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""



def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event day) — the
    lakehouse OPTIMIZE/ZORDER layout primitive as an engine operator
    (operators.zorder); the range-bucket column is what a
    repartitionByRange layout write would partition on."""
    from ..operators.zorder import zorder_events

    return zorder_events(load_table(spark, sf_dir, "events"))


def _events_zorder_sql() -> str:
    from ..operators.zorder import zorder_events_sql

    return zorder_events_sql()


def events_zorder_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-normalized Z-order key (equal-width bucket per dimension
    before interleave) — the production layout form; measured file
    pruning for BOTH a user and a day predicate in
    tests/test_zorder.py."""
    from ..operators.zorder import zorder_events_balanced

    return zorder_events_balanced(load_table(spark, sf_dir, "events"))


def _events_zorder_balanced_sql() -> str:
    from ..operators.zorder import zorder_events_balanced_sql

    return zorder_events_balanced_sql()


CDC_LOG_ARGS = dict(key_cols=["user_id"], order_cols=["ts", "event_id"], op_col="op")
CDC_SNAPSHOT_COLS = ["user_id", "event_id", "ts", "event_type", "value"]


def events_cdc_log(events: DataFrame) -> DataFrame:
    """The events table viewed as a CDC change log: 'error' events act
    as deletes, everything else upserts. Shared by the batch compaction
    and its complete-mode streaming twin (harness.stream_cdc_snapshot)
    so the delete-marker rule lives in exactly one place."""
    from pyspark.sql import functions as F

    return events.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )


def events_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction (operators.cdc.compact_log): treat the events
    stream as a change log per user (events_cdc_log) and compute the
    last-writer-wins snapshot (the Delta/Hudi MERGE-compaction
    primitive)."""
    from ..operators.cdc import compact_log

    log = events_cdc_log(load_table(spark, sf_dir, "events"))
    return compact_log(log, **CDC_LOG_ARGS).select(*CDC_SNAPSHOT_COLS)


def _events_cdc_snapshot_sql() -> str:
    from ..operators.cdc import compact_log_sql

    return compact_log_sql(
        table="events",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_expr="CASE WHEN event_type = 'error' THEN 'delete' "
                "ELSE 'upsert' END",
        select_cols=["user_id", "event_id", "ts", "event_type", "value"],
    )


def events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter profile of the events grouping key (user_id) — the
    diagnostic run before choosing plain vs salted vs split execution
    (operators.skew.skew_profile)."""
    from ..operators.skew import skew_profile

    return skew_profile(load_table(spark, sf_dir, "events"), ["user_id"])


def _events_skew_profile_sql() -> str:
    from ..operators.skew import skew_profile_sql

    return skew_profile_sql("events", ["user_id"])


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics over the events table
    (operators.skew.table_profile): null counts, exact NDVs, min/max —
    one aggregation pass. Doubles are excluded from the profiled set
    because Spark and DuckDB render them to string differently
    (scientific vs positional); ints/strings/timestamps agree."""
    from ..operators.skew import table_profile

    return table_profile(
        load_table(spark, sf_dir, "events"),
        ["event_id", "user_id", "event_type", "ts"],
    )


def _events_column_profile_sql() -> str:
    from ..operators.skew import table_profile_sql

    return table_profile_sql("events", ["event_id", "user_id", "event_type", "ts"])


def events_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the CDC log: the snapshot as of 2024-01-15
    (lakehouse VERSION AS OF semantics) — identical compaction, log
    truncated at the cutoff. The cutoff predicate pushes to the scan,
    so historical snapshots read only the prefix of the log."""
    from pyspark.sql import functions as F

    from ..operators.cdc import compact_log

    events = load_table(spark, sf_dir, "events").where(
        F.col("ts") < "2024-01-15"
    )
    log = events_cdc_log(events)
    return compact_log(log, **CDC_LOG_ARGS).select(*CDC_SNAPSHOT_COLS)


def _events_cdc_snapshot_asof_sql() -> str:
    from ..operators.cdc import compact_log_sql

    return compact_log_sql(
        table="(SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15')",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_expr="CASE WHEN event_type = 'error' THEN 'delete' "
                "ELSE 'upsert' END",
        select_cols=["user_id", "event_id", "ts", "event_type", "value"],
    )


def events_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-type aggregate maintained from the CDC change
    log via retraction algebra (operators/cdc.changelog_agg): must
    equal aggregating the compacted snapshot — which is exactly what
    the oracle computes — without ever materializing it."""
    from ..operators.cdc import changelog_agg

    log = events_cdc_log(load_table(spark, sf_dir, "events"))
    return changelog_agg(
        log,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_col="op",
        group_col="event_type",
        value_col="value",
    )


def _events_cdc_incremental_agg_sql() -> str:
    from ..operators.cdc import compact_log_sql

    snap = compact_log_sql(
        table="events",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_expr="CASE WHEN event_type = 'error' THEN 'delete' "
                "ELSE 'upsert' END",
        select_cols=["user_id", "event_id", "ts", "event_type", "value"],
    )
    return f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         AS sum_live
FROM ({snap})
GROUP BY event_type
"""


def events_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build over the CDC change log
    (operators/cdc.scd2_history): every upsert becomes a version row
    valid [its ts, next change's ts); deletes close the current
    version; the open-ended row is flagged current. Same one
    key-partitioned window exchange as the snapshot compaction — the
    full validity history costs no more than the latest-row view."""
    from ..operators.cdc import scd2_history

    log = events_cdc_log(load_table(spark, sf_dir, "events"))
    return scd2_history(log, **CDC_LOG_ARGS).select(
        *CDC_SNAPSHOT_COLS, "valid_to", "is_current"
    )


def _events_cdc_scd2_sql() -> str:
    from ..operators.cdc import scd2_history_sql

    return scd2_history_sql(
        table="events",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        op_expr="CASE WHEN event_type = 'error' THEN 'delete' "
                "ELSE 'upsert' END",
        select_cols=["user_id", "event_id", "ts", "event_type", "value"],
    )


def events_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of ``value`` as a detector score for the 'error'
    class — the Mann-Whitney rank form with full tie handling, the
    eval primitive behind every anomaly-score / quality-classifier
    threshold decision.

    Histogram-AUC at scale: scores collapse to integer cents (the
    domain grid both engines compute identically), so the pairwise
    statistic 2U = sum_v np(v)*(2*NN_below(v) + nn(v)) is pure int64
    over the BOUNDED bucket frame — one map-side-combinable hash agg
    over events, then a single-partition cumulative window over
    |domain| rows (the events_equidepth pattern), never an O(N log N)
    global rank or an N^2 pair join. The one float is the final
    division of exact int64s — correctly rounded, identical operands
    cross-engine. Ties contribute 1/2 exactly (the +nn(v) term), so
    AUC is deterministic on any data."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("pos"),
    )
    b = e.groupBy("cents").agg(
        F.sum("pos").cast("long").alias("np_"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn_"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = b.withColumn(
        "below", F.coalesce(F.sum("nn_").over(w), F.lit(0)).cast("long")
    )
    return cum.agg(
        F.sum("np_").cast("long").alias("n_pos"),
        F.sum("nn_").cast("long").alias("n_neg"),
        F.sum(F.col("np_") * (2 * F.col("below") + F.col("nn_")))
        .cast("long")
        .alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


EVENTS_SCORE_AUC_SQL = """
WITH b AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS np_,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)
              AS BIGINT) AS nn_
  FROM events GROUP BY 1
),
cum AS (
  SELECT np_, nn_,
         CAST(COALESCE(SUM(nn_) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM b
),
tot AS (
  SELECT CAST(SUM(np_) AS BIGINT) AS n_pos,
         CAST(SUM(nn_) AS BIGINT) AS n_neg,
         CAST(SUM(np_ * (2 * below + nn_)) AS BIGINT) AS u2
  FROM cum
)
SELECT n_pos, n_neg, u2,
       CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
FROM tot
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FREQUENT co-purchase graph shared by the graph-analytics
    queries: parts appearing together in >= 2 distinct orders. Pair
    generation is per-order (fan-out bounded by order width, ~21 pairs
    max) and the support threshold bounds graph density the way
    production co-occurrence graphs always do.

    Shared-pass cached (VERDICT r7 #5): eleven registered graph queries
    (triangles, kcore, recs, linkpred, assortativity, clustering,
    pagerank, degree_dist, communities, modularity, reach) derive from
    this exact (x, y, n_orders) frame — the distinct-scan + self-join +
    support agg now runs once per (session, corpus) via the session
    memo store (same live-block validation / eviction-unpersist
    hygiene as the shingle index). At 100 TB this becomes a written
    staging table; the memoized eager checkpoint is the local-mode
    equivalent."""
    def build() -> DataFrame:
        # Pair generation via per-order SORTED ARRAYS (round 8): one
        # order-keyed agg collects each basket, then combinations are
        # enumerated narrowly (transform over the array with slice) —
        # ONE data-sized shuffle instead of the distinct+self-join
        # form's two (the distinct output had to re-shuffle by order
        # key for the join). array_sort makes x < y structural. Basket
        # width bounds both the array (max 7 parts/order here; baskets
        # are width-bounded in any co-occurrence workload) and the
        # per-row fan-out. Result identical to the self-join form
        # (prototype-verified row-for-row).
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk")
        )
        per_order = li.groupBy("o").agg(
            F.array_sort(F.collect_set("pk")).alias("pks")
        )
        pairs = per_order.select(
            F.explode(
                F.expr(
                    "flatten(transform(pks, (x, i) -> "
                    "transform(slice(pks, i + 2, size(pks) - 1 - i), "
                    "y -> struct(x, y))))"
                )
            ).alias("p")
        ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        return (
            pairs.groupBy("x", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
            .where(F.col("n_orders") >= 2)
        )

    return memo.checkpoint(spark, (sf_dir, "copurchase_edges"), build)


_COPURCHASE_EDGES_CTE = """WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
),
pair_support AS MATERIALIZED (
  SELECT a.pk AS x, b.pk AS y, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk
  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
),
edges AS MATERIALIZED (SELECT x, y FROM pair_support)"""


def sql_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the CRM workhorse: per customer
    recency (last order date vs fixed cut dates), frequency (order
    count bands), monetary (lifetime revenue bands), rolled up to
    segment cells with population and exact-decimal revenue. Fixed
    thresholds keep the segmentation deterministic and the whole plan
    two hash aggs (customer rollup -> segment rollup); the quantile
    twin of the thresholds is events_quantile_transform's grid trick
    if data-driven bands are ever needed."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_dec(F.col("o_totalprice"))).alias("revenue_dec"),
    )
    r_seg = (
        F.when(F.col("last_order") >= "1999-07-01", "active")
        .when(F.col("last_order") >= "1997-01-01", "warm")
        .otherwise("lapsed")
    )
    f_seg = (
        F.when(F.col("n_orders") > 15, "frequent")
        .when(F.col("n_orders") > 5, "regular")
        .otherwise("rare")
    )
    m_seg = (
        F.when(F.col("revenue_dec") > 3000000, "high")
        .when(F.col("revenue_dec") > 1500000, "mid")
        .otherwise("low")
    )
    return (
        cust.select(
            r_seg.alias("recency"),
            f_seg.alias("frequency"),
            m_seg.alias("monetary"),
            "revenue_dec",
        )
        .groupBy("recency", "frequency", "monetary")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            _d2d(F.sum("revenue_dec")).alias("revenue"),
        )
    )


SQL_RFM_SEGMENTS_SQL = """
WITH cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS revenue_dec
  FROM orders GROUP BY o_custkey
),
seg AS (
  SELECT CASE WHEN last_order >= TIMESTAMP '1999-07-01' THEN 'active'
              WHEN last_order >= TIMESTAMP '1997-01-01' THEN 'warm'
              ELSE 'lapsed' END AS recency,
         CASE WHEN n_orders > 15 THEN 'frequent'
              WHEN n_orders > 5 THEN 'regular'
              ELSE 'rare' END AS frequency,
         CASE WHEN revenue_dec > 3000000 THEN 'high'
              WHEN revenue_dec > 1500000 THEN 'mid'
              ELSE 'low' END AS monetary,
         revenue_dec
  FROM cust
)
SELECT recency, frequency, monetary,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(revenue_dec) AS VARCHAR) AS DOUBLE) AS revenue
FROM seg GROUP BY 1, 2, 3
"""


def dq_rollup_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header/detail RECONCILIATION report — the dq check every
    warehouse runs between a rollup column and its detail table: per
    order status, how many headers have no detail lines, how many
    reconcile to the cent against sum(extendedprice*(1-disc)*(1+tax)),
    and the exact-decimal header/detail totals whose gap quantifies
    the drift. (On the synthetic data the drift is 100% — that IS the
    report's finding, and the counts pin it.) One orderkey-spine
    shuffle + a status rollup; all money through the decimal route."""
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.sum(
            _dec(F.col("l_extendedprice"))
            * (F.lit(1) - _dec(F.col("l_discount")))
            * (F.lit(1) + _dec(F.col("l_tax")))
        ).alias("detail_dec")
    )
    o = load_table(spark, sf_dir, "orders")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    diff_cents = F.floor(
        (F.col("o_totalprice").cast("double") * 100) + F.lit(0.5)
    ).cast("long") - F.floor(
        (F.col("detail_dec").cast("string").cast("double") * 100) + F.lit(0.5)
    ).cast("long")
    return (
        j.select(
            "o_orderstatus",
            F.col("detail_dec").isNull().cast("int").alias("no_detail"),
            F.when(F.col("detail_dec").isNotNull() & (diff_cents == 0), 1)
            .otherwise(0)
            .alias("reconciled"),
            _dec(F.col("o_totalprice")).alias("header_dec"),
            F.coalesce(F.col("detail_dec"), F.lit(0).cast("decimal(18,4)")).alias(
                "detail_filled"
            ),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("no_detail").cast("long").alias("n_no_detail"),
            F.sum("reconciled").cast("long").alias("n_reconciled"),
            _d2d(F.sum("header_dec")).alias("header_total"),
            _d2d(F.sum("detail_filled")).alias("detail_total"),
        )
    )


DQ_ROLLUP_RECONCILIATION_SQL = """
WITH li AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))
             * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS detail_dec
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderstatus,
         CASE WHEN li.detail_dec IS NULL THEN 1 ELSE 0 END AS no_detail,
         CASE WHEN li.detail_dec IS NOT NULL
                   AND CAST(FLOOR(CAST(o.o_totalprice AS DOUBLE) * 100 + 0.5)
                            AS BIGINT)
                     = CAST(FLOOR(CAST(CAST(li.detail_dec AS VARCHAR)
                                       AS DOUBLE) * 100 + 0.5) AS BIGINT)
              THEN 1 ELSE 0 END AS reconciled,
         CAST(o.o_totalprice AS DECIMAL(18,4)) AS header_dec,
         COALESCE(li.detail_dec, CAST(0 AS DECIMAL(18,4))) AS detail_filled
  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(no_detail) AS BIGINT) AS n_no_detail,
       CAST(SUM(reconciled) AS BIGINT) AS n_reconciled,
       CAST(CAST(SUM(header_dec) AS VARCHAR) AS DOUBLE) AS header_total,
       CAST(CAST(SUM(detail_filled) AS VARCHAR) AS DOUBLE) AS detail_total
FROM j GROUP BY o_orderstatus
"""


def events_score_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 THRESHOLD SWEEP for ``value`` as an 'error'
    detector — the operating-point table a threshold decision actually
    reads (AUC's companion: events_score_auc ranks, this one picks).
    One pass builds per-cents-bucket (pos, neg) counts (bounded
    frame); each of the four candidate thresholds then reduces that
    frame with conditional int64 sums — the raw table is scanned
    once, and every metric is a division of exact integers evaluated
    identically cross-engine. F1 = 2tp/(2tp+fp+fn) avoids the
    precision*recall float product."""
    thresholds = [5000, 10000, 20000, 40000]  # cents
    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("pos"),
    )
    b = e.groupBy("cents").agg(
        F.sum("pos").cast("long").alias("np_"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn_"),
    )
    t = spark.createDataFrame(
        [(x,) for x in thresholds], "threshold_cents long"
    )
    j = b.crossJoin(F.broadcast(t))
    flagged = F.col("cents") >= F.col("threshold_cents")
    agg = j.groupBy("threshold_cents").agg(
        F.sum(F.when(flagged, F.col("np_")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(flagged, F.col("nn_")).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~flagged, F.col("np_")).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    def _safe_div(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double"))

    return agg.select(
        "threshold_cents",
        "tp",
        "fp",
        "fn",
        _safe_div(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        _safe_div(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        _safe_div(
            (2 * F.col("tp")), 2 * F.col("tp") + F.col("fp") + F.col("fn")
        ).alias("f1"),
    )


EVENTS_SCORE_PR_SQL = """
WITH b AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS np_,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)
              AS BIGINT) AS nn_
  FROM events GROUP BY 1
),
t AS (SELECT UNNEST([5000, 10000, 20000, 40000]) AS threshold_cents),
agg AS (
  SELECT CAST(t.threshold_cents AS BIGINT) AS threshold_cents,
         CAST(SUM(CASE WHEN b.cents >= t.threshold_cents THEN b.np_
                       ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN b.cents >= t.threshold_cents THEN b.nn_
                       ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN b.cents < t.threshold_cents THEN b.np_
                       ELSE 0 END) AS BIGINT) AS fn
  FROM b CROSS JOIN t
  GROUP BY 1
)
SELECT threshold_cents, tp, fp, fn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
         AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
         AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END
         AS f1
FROM agg
"""


def sql_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the frequent co-purchase graph
    (operators/graph.triangle_counts, degree-oriented node-iterator —
    orientation bounds wedge fan-out at hub parts). All-integer."""
    from ..operators.graph import triangle_counts

    return triangle_counts(_copurchase_edges(spark, sf_dir)).select(
        F.col("node").alias("p_partkey"), "n_tri"
    )


def _sql_copurchase_triangles_sql() -> str:
    from ..operators.graph import triangle_ctes

    return (
        triangle_ctes(_COPURCHASE_EDGES_CTE)
        + "\nSELECT CAST(node AS BIGINT) AS p_partkey, n_tri FROM tri_counts"
    )


def sql_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the frequent co-purchase graph (operators/graph.
    kcore): parts surviving iterative degree-<2 peeling, with their
    within-core degree — the density cleanup that strips pendant
    chains before community mining. Bounded 8-round peel with early
    fixpoint stop (measured max 5 rounds on the harness graphs); the
    oracle unrolls the identical count."""
    from ..operators.graph import kcore

    return kcore(_copurchase_edges(spark, sf_dir), k=2).select(
        F.col("node").alias("p_partkey"), "core_deg"
    )


def _sql_copurchase_kcore_sql() -> str:
    from ..operators.graph import kcore_ctes

    return (
        kcore_ctes(_COPURCHASE_EDGES_CTE, k=2)
        + "\nSELECT CAST(node AS BIGINT) AS p_partkey, core_deg"
        " FROM core_deg_final"
    )


def sql_copurchase_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Customers who bought X also bought Y': top-3 co-purchase
    partners per part by (support desc, partner asc) over the frequent
    co-purchase graph — the item-item recommendation shortlist. The
    symmetric closure doubles the (already support-bounded) pair
    frame; the rank window partitions per part, so no global sort and
    no skew beyond a part's own partner count. All-integer."""
    from pyspark.sql import Window

    e = _copurchase_edges(spark, sf_dir)
    sym = e.select(
        F.col("x").alias("p_partkey"),
        F.col("y").alias("rec_partkey"),
        "n_orders",
    ).union(
        e.select(
            F.col("y").alias("p_partkey"),
            F.col("x").alias("rec_partkey"),
            "n_orders",
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("n_orders").desc(), F.col("rec_partkey")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("p_partkey", "rank", "rec_partkey", "n_orders")
    )


_SQL_COPURCHASE_RECS_SQL = (
    _COPURCHASE_EDGES_CTE
    + """,
sym AS (
  SELECT x AS p_partkey, y AS rec_partkey, n_orders FROM pair_support
  UNION ALL
  SELECT y AS p_partkey, x AS rec_partkey, n_orders FROM pair_support
),
ranked AS (
  SELECT p_partkey, rec_partkey, n_orders,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_partkey
                ORDER BY n_orders DESC, rec_partkey) AS BIGINT) AS rank
  FROM sym
)
SELECT p_partkey, rank, rec_partkey, n_orders
FROM ranked WHERE rank <= 3
"""
)


def events_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF between two time-travel versions of the CDC-
    compacted table (Delta ``table_changes`` / Hudi incremental-query
    semantics): keys added, deleted, or updated between the
    2024-01-10 and 2024-01-15 snapshots, with old/new row identity.
    Unchanged keys are filtered out — the result is change-sized, the
    point of a diff. Both compactions partition on the same user key,
    so the full-outer join lands on co-partitioned inputs: the plan
    pays the two snapshot exchanges and nothing more."""
    from ..operators.cdc import compact_log

    e = load_table(spark, sf_dir, "events")

    def snap(cut: str, tag: str) -> DataFrame:
        log = events_cdc_log(e.where(F.col("ts") < cut))
        return compact_log(log, **CDC_LOG_ARGS).select(
            "user_id",
            F.col("event_id").alias(f"{tag}_event_id"),
            F.col("value").alias(f"{tag}_value"),
        )

    j = snap("2024-01-10", "old").join(
        snap("2024-01-15", "new"), "user_id", "full_outer"
    )
    change = (
        F.when(F.col("old_event_id").isNull(), F.lit("added"))
        .when(F.col("new_event_id").isNull(), F.lit("deleted"))
        .when(F.col("old_event_id") != F.col("new_event_id"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change") != "unchanged")
        .select(
            "user_id", "change",
            "old_event_id", "new_event_id", "old_value", "new_value",
        )
    )


def _events_cdc_diff_sql() -> str:
    from ..operators.cdc import compact_log_sql

    def snap(cut: str) -> str:
        return compact_log_sql(
            table=f"(SELECT * FROM events WHERE ts < TIMESTAMP '{cut}')",
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            op_expr="CASE WHEN event_type = 'error' THEN 'delete' "
                    "ELSE 'upsert' END",
            select_cols=["user_id", "event_id", "value"],
        )

    return f"""
WITH s_old AS ({snap('2024-01-10')}),
s_new AS ({snap('2024-01-15')}),
j AS (
  SELECT COALESCE(o.user_id, n.user_id) AS user_id,
         o.event_id AS old_event_id, n.event_id AS new_event_id,
         o.value AS old_value, n.value AS new_value,
         CASE WHEN o.user_id IS NULL THEN 'added'
              WHEN n.user_id IS NULL THEN 'deleted'
              WHEN o.event_id <> n.event_id THEN 'updated'
              ELSE 'unchanged' END AS change
  FROM s_old o FULL OUTER JOIN s_new n ON o.user_id = n.user_id
)
SELECT user_id, change, old_event_id, new_event_id, old_value, new_value
FROM j WHERE change <> 'unchanged'
"""


def events_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type QUANTILE TRANSFORM of ``value`` (the rank-gauss /
    percentile feature-scaling preprocessor) WITHOUT a global sort:
    mid-rank percentile = (2*below + ties + 1) / (2*n_type), all
    int64 until one final division of identical exact operands.

    The events_equidepth trick applied per key: counts collapse onto
    the (type, cents) domain grid, the cumulative window runs on that
    BOUNDED frame (|types| x |domain|, constant in corpus size), and
    the data-sized stage is a broadcast join of events against the
    tiny rank frame — never an O(N log N) sort or a data-sized
    window."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    b = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("ties")
    )
    wb = Window.partitionBy("event_type").orderBy("cents")
    ranks = b.select(
        "event_type",
        "cents",
        "ties",
        F.coalesce(
            F.sum("ties").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("below"),
        F.sum("ties")
        .over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .cast("long")
        .alias("n_type"),
    )
    return e.join(F.broadcast(ranks), ["event_type", "cents"]).select(
        "event_id",
        "event_type",
        "value",
        (
            (2 * F.col("below") + F.col("ties") + 1).cast("double")
            / (2 * F.col("n_type")).cast("double")
        ).alias("pct_rank"),
    )


EVENTS_QUANTILE_TRANSFORM_SQL = """
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS ties
  FROM e GROUP BY 1, 2
),
ranks AS (
  SELECT event_type, cents, ties,
         CAST(COALESCE(SUM(ties) OVER (PARTITION BY event_type
                ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below,
         CAST(SUM(ties) OVER (PARTITION BY event_type) AS BIGINT) AS n_type
  FROM b
)
SELECT e.event_id, e.event_type, e.value,
       CAST(2 * r.below + r.ties + 1 AS DOUBLE)
         / CAST(2 * r.n_type AS DOUBLE) AS pct_rank
FROM e JOIN ranks r ON r.event_type = e.event_type AND r.cents = e.cents
"""


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: frequency of each user-day's opening event-type
    sequence (first 5 events, '>'-joined) — the product-analytics
    'top paths' report behind funnel design. One user-day window
    (row_number caps the sequence at a CONSTANT 5, so the collect_list
    is bounded per group at any corpus size) + two hash aggs; pure
    string/integer arithmetic, tie-broken by (ts, event_id)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.to_date("ts").alias("day"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    first5 = e.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    paths = first5.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days")
    )


EVENTS_SESSION_PATHS_SQL = """
WITH r AS (
  SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, day,
         STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path
  FROM r WHERE rn <= 5 GROUP BY user_id, day
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
FROM p GROUP BY path
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (lag window ordered by ts, event_id) — the sequence-
    mining primitive behind next-event models and funnel diagnostics.
    One user-keyed window + one (prev, next) hash agg."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


EVENTS_TRANSITIONS_SQL = """
WITH lagged AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
)
SELECT prev_type, next_type, COUNT(*) AS n
FROM lagged
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


def part_name_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join on part names (levenshtein <= 2)
    via DEDUP-FIRST expansion — the string-similarity cousin of the
    shingle dedup family.

    SCALE DESIGN, third iteration. (brand, floor(len/2)) blocking
    (VERDICT r4 #3) bounds candidates by block^2, but BOTH keys are
    bounded-cardinality (25 brands x a fixed name-length histogram),
    so block sizes grow linearly in N and candidates quadratically:
    the round-9 sf1 spot-run measured 691M candidate pairs for 23M
    true results — 339 s at sf1, a genuine scale blow-up. A
    PassJoin-style pigeonhole signature was tried and rejected: part
    names draw on a SMALL VOCABULARY, so 2-4-char segment signatures
    collide on nearly every name and the probe-side x75 enumeration
    made it slower still. The small vocabulary IS the structure to
    exploit: (1) collapse parts to the DISTINCT-NAME frame (|vocab|
    rows — 64 at sf0.1, growing Heaps-slowly with the corpus), (2)
    run the blocked levenshtein there — length-bucket block + x3
    adjacent-bucket explode, quadratic only in the TRUE per-length
    vocabulary density, one lev call per distinct name pair instead
    of per part pair (691M -> ~2k at sf1), (3) expand back through
    two (brand, name)-keyed joins whose output is exactly the result
    set. At 100 TB the distinct frame is the dedup_exact hash-agg
    shape and the expansion is output-bound — no quadratic-in-N stage
    remains. Results identical to the brute within-brand plan; the
    oracle is unchanged."""
    p = load_table(spark, sf_dir, "part")
    parts = p.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("nm"),
    )
    dn = parts.select(F.col("nm")).distinct().select(
        "nm", F.length("nm").alias("ln")
    )
    w = 2  # bucket width >= max distance keeps 3-bucket adjacency exact
    bkt = F.floor(F.col("ln") / w)
    da = dn.select(
        F.col("nm").alias("na"), F.col("ln").alias("la"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("b"),
    )
    db = dn.select(
        F.col("nm").alias("nb"), F.col("ln").alias("lb"), bkt.alias("b")
    )
    # thresholded levenshtein: exact distance when <= 2, -1 otherwise;
    # na <= nb keeps one row per unordered name pair incl. the dist-0
    # diagonal (exact-duplicate part names)
    sim = (
        da.join(db, "b")
        .where(
            (F.col("na") <= F.col("nb"))
            & (F.abs(F.col("la") - F.col("lb")) <= 2)
        )
        .select(
            "na", "nb",
            F.levenshtein(F.col("na"), F.col("nb"), 2).cast("long")
            .alias("dist"),
        )
        .where(F.col("dist") >= 0)
        .distinct()
    )
    # both orientations for na != nb so every part pair (key_a < key_b)
    # finds its ordered (name_a, name_b) combination exactly once
    sim_sym = sim.unionByName(
        sim.where(F.col("na") != F.col("nb")).select(
            F.col("nb").alias("na"), F.col("na").alias("nb"), "dist"
        )
    )
    a = parts.select(
        F.col("pk").alias("key_a"), "brand", F.col("nm").alias("name_a")
    )
    b = parts.select(
        F.col("pk").alias("key_b"),
        F.col("brand").alias("brand_b"),
        F.col("nm").alias("name_b"),
    )
    return (
        a.join(F.broadcast(sim_sym), F.col("name_a") == F.col("na"))
        .join(
            b,
            (F.col("brand") == F.col("brand_b"))
            & (F.col("nb") == F.col("name_b")),
        )
        .where(F.col("key_a") < F.col("key_b"))
        .select("brand", "key_a", "key_b", "name_a", "name_b", "dist")
    )

PART_NAME_SIMILARITY_SQL = """
SELECT a.p_brand AS brand,
       a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def events_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment statistics per event type — mean, variance,
    skewness, excess kurtosis — from EXACT integer power sums: value is
    2-decimal, so q = 100v is an exact int64; q^2/q^3 stay inside
    int64, q^4 goes through one decimal(38,0) product, and all four
    sums aggregate exactly (no float accumulation anywhere). Each exact
    sum then takes ONE correctly-rounded cast to double, and the moment
    formulas are written with identical operation order in both
    engines — deterministic across engines AND partitionings, unlike
    builtin skewness()/kurtosis() whose streaming estimators differ
    per engine. Map-side combinable like any algebraic aggregate."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    q = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    ed = e.select("event_type", q.alias("q"))
    q2 = (F.col("q") * F.col("q")).alias("q2")
    sums = ed.select("event_type", "q", q2).select(
        "event_type", "q", "q2",
        (F.col("q") * F.col("q2")).alias("q3"),
        (
            F.col("q2").cast("decimal(19,0)") * F.col("q2").cast("decimal(19,0)")
        ).alias("q4"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("q2").cast("decimal(38,0)")).alias("s2"),
        F.sum(F.col("q3").cast("decimal(38,0)")).alias("s3"),
        F.sum(F.col("q4").cast("decimal(38,0)")).alias("s4"),
    )
    n = F.col("cnt").cast("double")
    # decimal -> string -> double (the repo's fixed-point recipe, cf.
    # _dsum): decimal→string is exact digits and string→double is
    # correctly rounded on BOTH engines, whereas DuckDB's direct
    # hugeint→double can double-round above 2^53 (s4 ~ 1e23 at sf0.1).
    S1 = F.col("s1").cast("string").cast("double")
    S2 = F.col("s2").cast("string").cast("double")
    S3 = F.col("s3").cast("string").cast("double")
    S4 = F.col("s4").cast("string").cast("double")
    mq = S1 / n
    m2 = S2 / n - mq * mq
    m3 = S3 / n - 3.0 * mq * (S2 / n) + 2.0 * mq * mq * mq
    m4 = (
        S4 / n
        - 4.0 * mq * (S3 / n)
        + 6.0 * mq * mq * (S2 / n)
        - 3.0 * mq * mq * mq * mq
    )
    return sums.select(
        "event_type",
        F.col("cnt").alias("n"),
        (mq / 100.0).alias("mean"),
        (m2 / 10000.0).alias("variance"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - 3.0).alias("kurtosis_excess"),
    )


EVENTS_MOMENTS_SQL = """
WITH qd AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS q
  FROM events
),
p AS (
  SELECT event_type, q, q * q AS q2, q * q * q AS q3,
         CAST(q * q AS DECIMAL(19,0)) * CAST(q * q AS DECIMAL(19,0)) AS q4
  FROM qd
),
sums AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(CAST(SUM(CAST(q AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(q2 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s2,
         CAST(CAST(SUM(CAST(q3 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s3,
         CAST(CAST(SUM(CAST(q4 AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS s4
  FROM p GROUP BY event_type
)
SELECT event_type, cnt AS n,
       ((s1 / CAST(cnt AS DOUBLE)) / 100.0) AS mean,
       ((s2 / CAST(cnt AS DOUBLE)
         - (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE)))
        / 10000.0) AS variance,
       ((s3 / CAST(cnt AS DOUBLE)
         - 3.0 * (s1 / CAST(cnt AS DOUBLE)) * (s2 / CAST(cnt AS DOUBLE))
         + 2.0 * (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE))
               * (s1 / CAST(cnt AS DOUBLE)))
        / ((s2 / CAST(cnt AS DOUBLE)
            - (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE)))
           * sqrt(s2 / CAST(cnt AS DOUBLE)
                  - (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE)))))
         AS skewness,
       ((s4 / CAST(cnt AS DOUBLE)
         - 4.0 * (s1 / CAST(cnt AS DOUBLE)) * (s3 / CAST(cnt AS DOUBLE))
         + 6.0 * (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE))
               * (s2 / CAST(cnt AS DOUBLE))
         - 3.0 * (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE))
               * (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE)))
        / ((s2 / CAST(cnt AS DOUBLE)
            - (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE)))
           * (s2 / CAST(cnt AS DOUBLE)
              - (s1 / CAST(cnt AS DOUBLE)) * (s1 / CAST(cnt AS DOUBLE))))
        - 3.0) AS kurtosis_excess
FROM sums
"""


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the per-day mean value
    per event type (alpha = 1/8) — the smoothing primitive behind
    drift/anomaly baselines (EWMA control charts).

    Scale + exactness design: the raw-event stage is a plain
    (type, day) hash agg — map-side combinable, the only data-sized
    exchange. The EWMA itself then folds over the DAY series (bounded:
    |days| rows per key, not |events|), in day order, with the
    IDENTICAL IEEE operation sequence on both engines:
    ``acc*0.875 + x*0.125`` where both literals are exact binary
    fractions (alpha = 2^-3), Spark via ``aggregate(array_sort(
    collect_list(struct(day, mu))))`` and DuckDB via ``list_reduce``
    over ``list(mu ORDER BY day)`` with a prepended 0.0 init — so the
    result is bit-identical, not merely close (the ordered-fold recipe
    from BM25). The daily mean is an exact decimal sum with one
    correctly-rounded double division (the _davg route)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(_davg(F.col("value")).alias("mu"))
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "mu"))),
            lambda p: p["mu"],
        ),
        F.lit(0.0),
        lambda acc, x: acc * F.lit(0.875) + x * F.lit(0.125),
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        fold.alias("ewma"),
    )


EVENTS_EWMA_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS mu
  FROM events GROUP BY event_type, date_trunc('day', ts)
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       list_reduce(list_prepend(0.0, list(mu ORDER BY day)),
                   (acc, x) -> acc * 0.875 + x * 0.125) AS ewma
FROM daily GROUP BY event_type
"""


def events_score_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION of the error-score (PAVA): the monotone
    error-rate curve over score buckets — what turns a raw anomaly
    score into a usable probability (the calibration stage after the
    AUC/PR evals). Computed via the classical minimax characterization
    of the pool-adjacent-violators solution:
    ``iso[k] = max_{i<=k} min_{j>=k} avg(rate over buckets i..j)``.

    Exactness: interval averages divide exact int64 prefix sums once
    (correctly rounded, identical cross-engine), and the minimax is
    PURE SELECTION over those identically-computed doubles — no
    further arithmetic — so both engines pick identical values even
    at rational near-ties. Scale: events collapse to ~113 five-dollar
    buckets; the straddling-(i,k,j) frame is O(B^3/6) ~ 240k tiny
    rows, CONSTANT in corpus size (the equi-depth/cusum bounded-domain
    contract, cubic flavor)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / 5.0).cast("long"), F.lit(112)).alias(
            "b"
        ),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("pos"),
    )
    buckets = e.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np_"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = buckets.select(
        "b",
        "n",
        "np_",
        F.sum("n").over(w).cast("long").alias("cn"),
        F.sum("np_").over(w).cast("long").alias("cp"),
    )
    lo = pre.select(
        F.col("b").alias("i"),
        (F.col("cn") - F.col("n")).alias("cn_lo"),
        (F.col("cp") - F.col("np_")).alias("cp_lo"),
    )
    hi = pre.select(
        F.col("b").alias("j"), F.col("cn").alias("cn_hi"),
        F.col("cp").alias("cp_hi"),
    )
    segs = lo.join(hi, F.col("j") >= F.col("i")).select(
        "i",
        "j",
        (
            (F.col("cp_hi") - F.col("cp_lo")).cast("double")
            / (F.col("cn_hi") - F.col("cn_lo")).cast("double")
        ).alias("avg_rate"),
    )
    ks = buckets.select(F.col("b").alias("k"))
    straddle = segs.join(
        F.broadcast(ks),
        (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
    )
    inner = straddle.groupBy("k", "i").agg(F.min("avg_rate").alias("mn"))
    iso = inner.groupBy("k").agg(F.max("mn").alias("rate_iso"))
    return (
        buckets.join(iso, buckets.b == iso.k)
        .select(
            F.col("b").alias("bucket"),
            "n",
            F.col("np_").alias("n_pos"),
            (F.col("np_").cast("double") / F.col("n").cast("double")).alias(
                "rate_raw"
            ),
            "rate_iso",
        )
    )


EVENTS_SCORE_ISOTONIC_SQL = """
WITH e AS (
  SELECT LEAST(CAST(FLOOR(value / 5.0) AS BIGINT), 112) AS b,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS pos
  FROM events
),
buckets AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS np_
  FROM e GROUP BY b
),
pre AS (
  SELECT b, n, np_,
         CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
         CAST(SUM(np_) OVER (ORDER BY b) AS BIGINT) AS cp
  FROM buckets
),
segs AS (
  SELECT lo.b AS i, hi.b AS j,
         CAST(hi.cp - (lo.cp - lo.np_) AS DOUBLE)
           / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avg_rate
  FROM pre lo JOIN pre hi ON hi.b >= lo.b
),
inner_min AS (
  SELECT k.b AS k, s.i, MIN(s.avg_rate) AS mn
  FROM segs s JOIN buckets k ON s.i <= k.b AND s.j >= k.b
  GROUP BY k.b, s.i
),
iso AS (SELECT k, MAX(mn) AS rate_iso FROM inner_min GROUP BY k)
SELECT b.b AS bucket, b.n, b.np_ AS n_pos,
       CAST(b.np_ AS DOUBLE) / CAST(b.n AS DOUBLE) AS rate_raw,
       iso.rate_iso
FROM buckets b JOIN iso ON iso.k = b.b
"""


def _ship_risk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared censored-delay risk frame (t_obs, d, n_risk) for the
    Kaplan-Meier and Nelson-Aalen queries — their data-sized prefix is
    IDENTICAL (same subjects, same exits, same at-risk counts), so it
    runs once per (session, corpus) via the shared-pass checkpoint
    (the _copurchase_edges pattern). Inside the build the per-order
    min-shipdate agg is checkpointed once instead of feeding three
    separate lineitem aggregations (horizon + both subj copies)."""
    from pyspark.sql import Window

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders")
        li = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.min("l_shipdate").alias("first_ship"))
            .localCheckpoint(eager=True)
        )
        horizon = li.agg(F.max("first_ship").alias("h"))
        subj = (
            o.join(li, o.o_orderkey == li.l_orderkey, "left")
            .crossJoin(F.broadcast(horizon))
            .select(
                F.coalesce(
                    F.datediff(F.col("first_ship"), F.col("o_orderdate")),
                    F.datediff(F.col("h"), F.col("o_orderdate")),
                ).cast("long").alias("t_obs"),
                F.col("first_ship").isNotNull().cast("int").alias("evented"),
            )
            .where(F.col("t_obs") >= 0)
        )
        n_total = subj.agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ).select("n")
        # per-day observation exits and events on the bounded delay
        # domain
        per_day = subj.groupBy("t_obs").agg(
            F.count(F.lit(1)).cast("long").alias("n_exit"),
            F.sum("evented").cast("long").alias("d"),
        )
        w = Window.orderBy("t_obs").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return per_day.crossJoin(F.broadcast(n_total)).select(
            "t_obs",
            "d",
            (F.col("n") - F.coalesce(F.sum("n_exit").over(w), F.lit(0)))
            .cast("long")
            .alias("n_risk"),
        )

    return memo.checkpoint(spark, (sf_dir, "ship_risk"), build)


def sql_ship_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve of order -> first-ship delay, with
    right-censoring — the time-to-event estimator (SLA/fulfilment
    analytics) handling the orders that never shipped: they stay in
    the at-risk set until their censoring horizon (dataset max ship
    date) instead of biasing the curve.

    Exactness: each step factor 1 - d_t/n_t divides exact int64
    counts once; the survival prefix PRODUCT is an ordered fold over
    the delay-day frame (left-to-right, identical IEEE sequence both
    engines — the EWMA/BM25 recipe with * instead of +). Scale: the
    data-sized work is one per-order min-shipdate agg (shared-pass
    cached, _ship_risk_frame); steps live on the bounded delay-day
    domain and the O(days^2) prefix re-fold is the cusum cost
    contract."""
    risk = _ship_risk_frame(spark, sf_dir)
    steps = risk.where(F.col("d") > 0).select(
        "t_obs",
        "n_risk",
        "d",
        (
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ).alias("factor"),
    )
    # prefix product per step: ordered fold over all steps <= t
    # Sequential prefix product over the day-domain frame in ONE tiny
    # task (round 10, guide §1.2): the SQL-expressible O(days²)
    # u<=t broadcast join + per-t collect_list fold re-derived every
    # prefix from scratch (~856k interpreted lambda multiplies at
    # sf0.1). np.cumprod applies acc = acc * f_t left-to-right — the
    # IDENTICAL multiply sequence as the fold over the u-sorted list
    # (1.0 * f_1 = f_1 exactly), so every output double is unchanged;
    # the oracle keeps its own fold form.
    import numpy as np
    import pandas as pd

    def prefix_product(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values("t_obs").reset_index(drop=True)
        yield pd.DataFrame(
            {
                "delay_days": pdf["t_obs"],
                "n_at_risk": pdf["n_risk"],
                "n_events": pdf["d"],
                "survival": np.cumprod(pdf["factor"].to_numpy()),
            }
        )

    return steps.coalesce(1).mapInPandas(
        prefix_product,
        "delay_days long, n_at_risk long, n_events long, survival double",
    )


SQL_SHIP_SURVIVAL_SQL = """
WITH li AS (
  SELECT l_orderkey, MIN(l_shipdate) AS first_ship
  FROM lineitem GROUP BY l_orderkey
),
h AS (SELECT MAX(first_ship) AS h FROM li),
subj AS (
  SELECT CAST(COALESCE(
           CAST(first_ship AS DATE) - CAST(o.o_orderdate AS DATE),
           CAST(h.h AS DATE) - CAST(o.o_orderdate AS DATE))
         AS BIGINT) AS t_obs,
         CASE WHEN li.first_ship IS NOT NULL THEN 1 ELSE 0 END AS evented
  FROM orders o
  LEFT JOIN li ON li.l_orderkey = o.o_orderkey
  CROSS JOIN h
),
subj_ok AS (SELECT * FROM subj WHERE t_obs >= 0),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj_ok),
per_day AS (
  SELECT t_obs, CAST(COUNT(*) AS BIGINT) AS n_exit,
         CAST(SUM(evented) AS BIGINT) AS d
  FROM subj_ok GROUP BY t_obs
),
risk AS (
  SELECT t_obs, d,
         CAST(nt.n - COALESCE(SUM(n_exit) OVER (ORDER BY t_obs
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_risk
  FROM per_day CROSS JOIN nt
),
steps AS (
  SELECT t_obs, n_risk, d,
         1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
  FROM risk WHERE d > 0
),
surv AS (
  SELECT a.t_obs, a.n_risk, a.d,
         list_reduce(
           list_prepend(1.0, list(b.factor ORDER BY b.t_obs)),
           (acc, x) -> acc * x) AS survival
  FROM steps a JOIN steps b ON b.t_obs <= a.t_obs
  GROUP BY a.t_obs, a.n_risk, a.d
)
SELECT t_obs AS delay_days, n_risk AS n_at_risk, d AS n_events, survival
FROM surv
"""


def events_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt DOUBLE-exponential smoothing (level + trend) of the daily
    mean value per type, with the one-step-ahead forecast — the
    forecasting upgrade of events_ewma for drifting baselines.

    Exactness: a TWO-STATE ordered fold with the identical IEEE op
    sequence on both engines — alpha = 2^-2 and beta = 2^-3 are exact
    binary fractions, Spark folds a struct accumulator through
    ``aggregate(array_sort(collect_list(...)))`` and DuckDB folds a
    two-element LIST through ``list_reduce`` (elements lifted to
    single-element lists because the accumulator must share the
    element type), so level and trend are bit-identical, not merely
    close. Scale: the fold runs over the calendar-bounded day series
    (the EWMA contract); the only data-sized stage is the (type, day)
    hash agg."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(_davg(F.col("value")).alias("mu"))

    def step(acc, x):
        lvl = x * F.lit(0.25) + (acc["l"] + acc["b"]) * F.lit(0.75)
        trend = (lvl - acc["l"]) * F.lit(0.125) + acc["b"] * F.lit(0.875)
        return F.struct(lvl.alias("l"), trend.alias("b"))

    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "mu"))),
            lambda p: p["mu"],
        ),
        F.struct(F.lit(0.0).alias("l"), F.lit(0.0).alias("b")),
        step,
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        fold.alias("hb"),
    )
    return agg.select(
        "event_type",
        "n_days",
        F.col("hb.l").alias("level"),
        F.col("hb.b").alias("trend"),
        (F.col("hb.l") + F.col("hb.b")).alias("forecast_next"),
    )


EVENTS_HOLT_TREND_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS mu
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
folded AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         list_reduce(
           list_prepend([0.0, 0.0],
             list_transform(list(mu ORDER BY day), m -> [m])),
           (acc, x) -> [
             x[1] * 0.25 + (acc[1] + acc[2]) * 0.75,
             ((x[1] * 0.25 + (acc[1] + acc[2]) * 0.75) - acc[1]) * 0.125
               + acc[2] * 0.875
           ]
         ) AS hb
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days, hb[1] AS level, hb[2] AS trend,
       hb[1] + hb[2] AS forecast_next
FROM folded
"""


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch revenue attribution: every ``purchase``
    attributes its value to the user's FIRST and LAST non-purchase
    touch inside a 7-day lookback, strictly before the purchase in
    (ts, event_id) order. The conversion-credit primitive of funnel
    analytics.

    Plan: the purchase side is a pushed-down filtered scan; the touch
    candidates join per user with the bounded range predicate (state
    per user bounded by the lookback window, same shape as the
    interval join); one rank window picks first/last deterministically
    ((ts, event_id) total order); attributed revenue sums as exact
    decimal. Purchases with no touch in window report channel NULL."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
        F.col("value").alias("pval"),
    )
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (p["u"] == t["u"])
        & (
            (F.col("tts") < F.col("pts"))
            | ((F.col("tts") == F.col("pts")) & (F.col("tid") < F.col("pid")))
        )
        & (F.col("tts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    ).drop(t["u"])
    wf = Window.partitionBy("u", "pid").orderBy(
        F.asc("tts"), F.asc("tid")
    )
    wl = Window.partitionBy("u", "pid").orderBy(
        F.desc("tts"), F.desc("tid")
    )
    ranked = j.select(
        "u", "pid", "pval", "channel",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    first = ranked.where(F.col("rf") == 1).select(
        F.lit("first_touch").alias("model"), "channel", "pval"
    )
    last = ranked.where(F.col("rl") == 1).select(
        F.lit("last_touch").alias("model"), "channel", "pval"
    )
    return (
        first.unionByName(last)
        .groupBy("model", "channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            _dsum(F.col("pval")).alias("attributed_value"),
        )
    )


EVENTS_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT user_id AS u, ts AS pts, event_id AS pid, value AS pval
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id AS u, ts AS tts, event_id AS tid, event_type AS channel
  FROM events WHERE event_type <> 'purchase'
),
j AS (
  SELECT p.u, p.pid, p.pval, t.channel, t.tts, t.tid
  FROM p LEFT JOIN t ON t.u = p.u
    AND (t.tts < p.pts OR (t.tts = p.pts AND t.tid < p.pid))
    AND t.tts >= p.pts - INTERVAL 7 DAY
),
ranked AS (
  SELECT u, pid, pval, channel,
         ROW_NUMBER() OVER (PARTITION BY u, pid
                            ORDER BY tts ASC, tid ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY u, pid
                            ORDER BY tts DESC, tid DESC) AS rl
  FROM j
),
credited AS (
  SELECT 'first_touch' AS model, channel, pval FROM ranked WHERE rf = 1
  UNION ALL
  SELECT 'last_touch' AS model, channel, pval FROM ranked WHERE rl = 1
)
SELECT model, channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(CAST(SUM(CAST(pval AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         AS attributed_value
FROM credited GROUP BY model, channel
"""


def events_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth decile histogram of ``value`` WITHOUT a global
    sort — the stats primitive behind range partitioning and CBO
    selectivity. The classic scale trick: when the value domain is
    bounded (2-decimal values here), a (value, count) aggregation
    replaces the O(N log N) global sort entirely; the cumulative sum
    and boundary extraction then run on the SMALL distinct-value frame
    (a single-partition window over |domain| rows, not |events| —
    bounded by the domain at any corpus size). For unbounded domains
    the approximate twin is the KLL/approx_percentile path
    (`sql_price_quantiles_approx`). All arithmetic is integer (rank
    targets via ceil as (k*n+9) div 10), so the histogram is bit-exact
    cross-engine. Output: (decile, hi_value, n_rows) with n_rows
    summing to the table count."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    vc = e.groupBy("value").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.select(
        "value", F.sum("c").over(w).cast("long").alias("cum")
    )
    n = cum.agg(F.max("cum").alias("n"))
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    targets = deciles.crossJoin(F.broadcast(n)).select(
        "decile",
        F.expr("(decile * n + 9) div 10").cast("long").alias("target"),
    )
    # lowest distinct value whose cumulative count reaches the target
    b = (
        F.broadcast(targets)
        .join(cum, F.col("cum") >= F.col("target"))
        .groupBy("decile")
        .agg(F.min("value").alias("hi_value"))
    )
    # bucket populations from the cum frame — no event rescan
    bc = b.join(cum, F.col("value") == F.col("hi_value")).select(
        "decile", "hi_value", F.col("cum").alias("cum_hi")
    )
    wl = Window.orderBy("decile")
    return bc.select(
        "decile",
        "hi_value",
        (
            F.col("cum_hi")
            - F.coalesce(F.lag("cum_hi").over(wl), F.lit(0))
        ).cast("long").alias("n_rows"),
    )


EVENTS_EQUIDEPTH_SQL = """
WITH vc AS (
  SELECT value, COUNT(*) AS c FROM events GROUP BY value
),
cum AS (
  SELECT value, CAST(SUM(c) OVER (ORDER BY value
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM vc
),
n AS (SELECT MAX(cum) AS n FROM cum),
targets AS (
  SELECT k.decile, CAST((k.decile * n.n + 9) // 10 AS BIGINT) AS target
  FROM (SELECT unnest(generate_series(1, 10)) AS decile) k, n
),
b AS (
  SELECT t.decile, MIN(c.value) AS hi_value
  FROM targets t JOIN cum c ON c.cum >= t.target
  GROUP BY t.decile
),
bc AS (
  SELECT b.decile, b.hi_value, c.cum AS cum_hi
  FROM b JOIN cum c ON c.value = b.hi_value
)
SELECT decile, hi_value,
       CAST(cum_hi - COALESCE(LAG(cum_hi) OVER (ORDER BY decile), 0)
            AS BIGINT) AS n_rows
FROM bc
"""


def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph (edges =
    consecutive-event transitions per user, weighted by count) — the
    graph-centrality member of the iterative-operator family
    (operators.graph.pagerank; integer-exact fixed-point rounds,
    5 iterations, oracle unrolls the same)."""
    from ..operators.graph import pagerank

    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            "user_id",
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges, iters=5)


def _events_pagerank_sql() -> str:
    from ..operators.graph import pagerank_ctes

    edges_cte = """WITH edges AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS src,
           event_type AS dst
    FROM events
  ) WHERE src IS NOT NULL
  GROUP BY src, dst
)"""
    return f"""
{pagerank_ctes(edges_cte, iters=5)}
SELECT node, CAST(r AS DOUBLE) / {float(1 << 30)!r} AS rank FROM pr5
"""


def events_hourly_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event types' hourly activity series
    — the co-movement matrix behind incident correlation ("errors spike
    with signups?"). EXACT: hourly counts are integers, so every
    sufficient statistic (n, Σx, Σy, Σxy, Σx², Σy²) is an int64 sum;
    zero hours never materialize (they contribute nothing to any sum —
    n is the full grid length from the min/max hour span, a scalar);
    the final formula runs in identical op order with each
    sub-expression kept under 2^53 (den = sqrt(a)·sqrt(b), never
    sqrt(a·b)), so the matrix is deterministic cross-engine. Plan:
    one (type, hour) agg, a per-type rollup, an hour-keyed pair join
    on the TINY hourly frame, one final broadcast of the scalar n."""
    e = load_table(spark, sf_dir, "events")
    hc = e.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    span = e.agg(
        (
            (
                F.unix_timestamp(F.date_trunc("hour", F.max("ts")))
                - F.unix_timestamp(F.date_trunc("hour", F.min("ts")))
            )
            / 3600
            + 1
        )
        .cast("long")
        .alias("n")
    )
    tot = hc.groupBy("t").agg(
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    a = hc.select(F.col("t").alias("ta"), "h", F.col("x").alias("xa"))
    b = hc.select(F.col("t").alias("tb"), "h", F.col("x").alias("xb"))
    sxy = (
        a.join(b, "h")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy0"))
    )
    ja = tot.select(
        F.col("t").alias("ta"), F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa")
    )
    jb = tot.select(
        F.col("t").alias("tb"), F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb")
    )
    # pairs enumerate from the TYPE list (left-join sxy, default 0):
    # perfectly anti-correlated series share no hour and would vanish
    # from an inner hour join
    pairs = (
        ja.crossJoin(jb)
        .where(F.col("ta") < F.col("tb"))
        .join(sxy, ["ta", "tb"], "left")
        .withColumn("sxy", F.coalesce(F.col("sxy0"), F.lit(0).cast("long")))
    )
    num = (
        F.col("n") * F.col("sxy") - F.col("sxa") * F.col("sxb")
    ).cast("double")
    va = (F.col("n") * F.col("sxxa") - F.col("sxa") * F.col("sxa")).cast("double")
    vb = (F.col("n") * F.col("sxxb") - F.col("sxb") * F.col("sxb")).cast("double")
    return (
        pairs
        .crossJoin(F.broadcast(span))
        .select(
            "ta",
            "tb",
            F.col("n").alias("n_hours"),
            (num / (F.sqrt(va) * F.sqrt(vb))).alias("corr"),
        )
    )


EVENTS_HOURLY_CORR_SQL = """
WITH hc AS (
  SELECT event_type AS t, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
span AS (
  SELECT CAST(date_diff('hour', date_trunc('hour', MIN(ts)),
                        date_trunc('hour', MAX(ts))) + 1 AS BIGINT) AS n
  FROM events
),
tot AS (
  SELECT t, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM hc GROUP BY t
),
sxy AS (
  SELECT a.t AS ta, b.t AS tb, CAST(SUM(a.x * b.x) AS BIGINT) AS sxy
  FROM hc a JOIN hc b ON a.h = b.h AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT ja.t AS ta, jb.t AS tb, n.n AS n_hours,
       CAST(n.n * COALESCE(s.sxy, 0) - ja.sx * jb.sx AS DOUBLE)
         / (sqrt(CAST(n.n * ja.sxx - ja.sx * ja.sx AS DOUBLE))
            * sqrt(CAST(n.n * jb.sxx - jb.sx * jb.sx AS DOUBLE))) AS corr
FROM tot ja
JOIN tot jb ON ja.t < jb.t
LEFT JOIN sxy s ON s.ta = ja.t AND s.tb = jb.t
CROSS JOIN span n
"""


def events_copair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over (user, day) baskets: support
    and lift for every event-type pair — the association-mining
    primitive. All-integer sufficient statistics (basket counts),
    lift = (s_ab·n_baskets) / (n_a·n_b) as ONE exact-int division, so
    results are deterministic cross-engine. Plan: distinct
    (user, day, type) — the only data-sized exchange — then a
    (user, day)-keyed pair join on the basket items and two tiny
    rollups."""
    e = load_table(spark, sf_dir, "events")
    items = e.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("t"),
    ).distinct()
    n_baskets = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    per_type = items.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("nt"))
    a = items.select("user_id", "day", F.col("t").alias("ta"))
    b = items.select("user_id", "day", F.col("t").alias("tb"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    na = per_type.select(F.col("t").alias("ta"), F.col("nt").alias("na"))
    nb = per_type.select(F.col("t").alias("tb"), F.col("nt").alias("nbt"))
    lift = (F.col("support") * F.col("nb")).cast("double") / (
        F.col("na") * F.col("nbt")
    ).cast("double")
    return (
        pairs.join(F.broadcast(na), "ta")
        .join(F.broadcast(nb), "tb")
        .crossJoin(F.broadcast(n_baskets))
        .select("ta", "tb", "support", lift.alias("lift"))
    )


EVENTS_COPAIR_SQL = """
WITH items AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type AS t
  FROM events
),
nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nb
  FROM (SELECT DISTINCT user_id, day FROM items)
),
per_type AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS nt FROM items GROUP BY t
),
pairs AS (
  SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS support
  FROM items a JOIN items b
    ON a.user_id = b.user_id AND a.day = b.day AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT p.ta, p.tb, p.support,
       CAST(p.support * nb.nb AS DOUBLE)
         / CAST(na.nt * nbt.nt AS DOUBLE) AS lift
FROM pairs p
JOIN per_type na ON na.t = p.ta
JOIN per_type nbt ON nbt.t = p.tb
CROSS JOIN nb
"""


def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile per event type: activity ratio
    of each (day-of-week, hour) cell against the type's uniform
    expectation — the baseline behind "is this traffic level normal
    for 3am Sunday?" anomaly gating. Day-of-week is computed
    ARITHMETICALLY from epoch days ((dd + 4) % 7, Sunday = 0) because
    engine dow builtins disagree on numbering conventions; the ratio
    is one exact-int division (n·168/total). One hash agg + a
    broadcast of |types| totals."""
    e = load_table(spark, sf_dir, "events")
    dd = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cells = e.groupBy(
        "event_type",
        ((dd + 4) % 7).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total")
    )
    ratio = (F.col("n") * 168).cast("double") / F.col("total").cast("double")
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type", "dow", "hour", "n", ratio.alias("load_ratio")
    )


EVENTS_SEASONALITY_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
),
totals AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.dow, c.hour, c.n,
       CAST(c.n * 168 AS DOUBLE) / CAST(t.total AS DOUBLE) AS load_ratio
FROM cells c JOIN totals t ON t.event_type = c.event_type
"""


def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per event type over the
    daily-mean series — the classic drift detector (Page 1954):
    ``s_i = max(0, s_{i-1} + (mu_i - grand_mean))``; the day with the
    maximal statistic is the change-point candidate.

    Exactness: daily and grand means come from exact decimal sums with
    correctly-rounded divisions; the fold is evaluated with the
    IDENTICAL IEEE op sequence on both engines for EVERY prefix
    (prefix re-folding is O(|days|²) on a calendar-bounded series —
    hundreds of ops — which buys exact max/argmax without a struct
    accumulator, since DuckDB's list_reduce accumulator must stay
    scalar); the argmax day breaks ties to the earliest day via an
    integer/exact-double rank. Scale: raw events collapse to (type,
    day) in the ONE data-sized agg; everything after runs on |days|
    rows per type."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("dsum"),
        F.count(F.lit(1)).cast("long").alias("dn"),
    )
    mu = F.col("dsum").cast("string").cast("double") / F.col("dn")
    grand = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    series = (
        daily.select("event_type", "day", mu.alias("mu"))
        .join(F.broadcast(grand), "event_type")
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", (F.col("mu") - F.col("gmean")).alias("d")))
            ).alias("devs"),
        )
    )
    dev_arr = F.transform(F.col("devs"), lambda p: p["d"])
    cusums = F.transform(
        F.sequence(F.lit(1), F.size("devs")),
        lambda i: F.aggregate(
            F.slice(dev_arr, 1, i),
            F.lit(0.0),
            lambda acc, x: F.greatest(F.lit(0.0), acc + x),
        ),
    )
    exploded = series.select(
        "event_type",
        F.size("devs").cast("long").alias("n_days"),
        F.posexplode(
            F.arrays_zip(
                F.transform(F.col("devs"), lambda p: p["day"]).alias("day"),
                cusums.alias("cusum"),
            )
        ).alias("idx", "z"),
    ).select(
        "event_type", "n_days", F.col("z.day").alias("day"),
        F.col("z.cusum").alias("cusum"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("cusum"), F.asc("day")
    )
    return (
        exploded.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "n_days",
            F.col("day").alias("change_day"),
            F.col("cusum").alias("max_cusum"),
        )
    )


EVENTS_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS mu
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
grand AS (
  SELECT event_type,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS gmean
  FROM events GROUP BY event_type
),
series AS (
  SELECT d.event_type,
         list(d.day ORDER BY d.day) AS days,
         list(d.mu - g.gmean ORDER BY d.day) AS devs
  FROM daily d JOIN grand g ON g.event_type = d.event_type
  GROUP BY d.event_type
),
exploded AS (
  SELECT event_type, CAST(len(devs) AS BIGINT) AS n_days,
         days[u.i] AS day,
         list_reduce(list_prepend(0.0, devs[1:u.i]),
                     (acc, x) -> greatest(0.0, acc + x)) AS cusum
  FROM series, UNNEST(generate_series(1, len(devs))) AS u(i)
)
SELECT event_type, n_days, day AS change_day, cusum AS max_cusum
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             ORDER BY cusum DESC, day ASC) AS rk
  FROM exploded
) WHERE rk = 1
"""


def open_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in flight per day — the classic interval-counting /
    backlog query: an order is open from ``o_orderdate`` until its
    last lineitem ships. Computed with the +1/-1 DELTA algebra: one
    +1 at the open date, one -1 the day after the close date, then a
    running sum over the (bounded, calendar-sized) distinct-date
    frame — never a per-day × per-order join or interval explode.
    All-integer arithmetic. Output one row per delta date (the count
    is constant between deltas)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_date")
    )
    spans = o.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.to_date("o_orderdate").alias("open_date"),
    ).join(close.withColumn("close_date", F.to_date("close_date")), "l_orderkey")
    deltas = (
        spans.select(F.col("open_date").alias("day"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(
                F.date_add("close_date", 1).alias("day"),
                F.lit(-1).alias("delta"),
            )
        )
        .groupBy("day")
        .agg(F.sum("delta").cast("long").alias("d"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day", F.sum("d").over(w).cast("long").alias("open_orders")
    )


OPEN_ORDERS_SQL = """
WITH close AS (
  SELECT l_orderkey, MAX(l_shipdate) AS close_date
  FROM lineitem GROUP BY l_orderkey
),
spans AS (
  SELECT o.o_orderdate AS open_date, c.close_date
  FROM orders o JOIN close c ON c.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM (
    SELECT CAST(open_date AS DATE) AS day, 1 AS delta FROM spans
    UNION ALL
    SELECT CAST(close_date AS DATE) + 1 AS day, -1 AS delta FROM spans
  ) GROUP BY day
)
SELECT day, CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_orders
FROM deltas
"""


def customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value cohort matrix: customers cohorted by
    first-order month, revenue rolled up by (cohort month, months
    since first order) — the retention-revenue triangle of subscription
    analytics. Two hash aggs (first order per customer — a min — then
    the cohort-age rollup with the cohort broadcast back); month
    arithmetic is integer (12*Δyear + Δmonth); revenue is the exact
    decimal route."""
    o = load_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    j = o.join(F.broadcast(first), "o_custkey").select(
        "o_custkey",
        "cohort_month",
        F.date_trunc("month", F.col("o_orderdate")).alias("om"),
        "o_totalprice",
    )
    age = (
        (F.year("om") - F.year("cohort_month")) * 12
        + (F.month("om") - F.month("cohort_month"))
    ).cast("long")
    return (
        j.groupBy("cohort_month", age.alias("cohort_age"))
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


LTV_COHORT_SQL = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT o.o_custkey, f.cohort_month,
         date_trunc('month', o.o_orderdate) AS om, o.o_totalprice
  FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
)
SELECT cohort_month,
       CAST((year(om) - year(cohort_month)) * 12
            + (month(om) - month(cohort_month)) AS BIGINT) AS cohort_age,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
            AS DOUBLE) AS revenue
FROM j
GROUP BY cohort_month, (year(om) - year(cohort_month)) * 12
         + (month(om) - month(cohort_month))
"""


def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier operations scorecard: per supplier+nation, lineitem
    volume, on-time ship rate (shipped within 90 days of the order
    date — the synthetic lineitem carries l_shipdate only), mean delay
    days of late lines, and revenue — the multi-metric vendor report.
    The orders⨝lineitem spine is the one orderkey shuffle (bucketable
    at scale); supplier/nation dims broadcast; rates are exact-int
    divisions and revenue the exact decimal route."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j0 = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
        "l_orderkey",
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    agg = j0.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(delay <= 90, 1).otherwise(0))
        .cast("long")
        .alias("n_ontime"),
        F.sum(F.when(delay > 90, delay - 90).otherwise(0))
        .cast("long")
        .alias("late_day_sum"),
        _dsum(F.col("l_extendedprice")).alias("revenue"),
    )
    return (
        agg.join(
            F.broadcast(
                s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                .select(
                    F.col("s_suppkey").alias("l_suppkey"),
                    "s_name",
                    F.col("n_name").alias("nation"),
                )
            ),
            "l_suppkey",
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "nation",
            "n_lines",
            (F.col("n_ontime").cast("double") / F.col("n_lines")).alias(
                "ontime_rate"
            ),
            F.when(
                F.col("n_lines") > F.col("n_ontime"),
                F.col("late_day_sum").cast("double")
                / (F.col("n_lines") - F.col("n_ontime")),
            ).alias("mean_late_days"),
            "revenue",
        )
    )


SUPPLIER_SCORECARD_SQL = """
WITH agg AS (
  SELECT l.l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
         CAST(SUM(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                  THEN date_diff('day', o.o_orderdate, l.l_shipdate) - 90
                  ELSE 0 END) AS BIGINT) AS late_day_sum,
         CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
              AS DOUBLE) AS revenue
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_suppkey
)
SELECT a.l_suppkey AS suppkey, s.s_name, n.n_name AS nation, a.n_lines,
       CAST(a.n_ontime AS DOUBLE) / a.n_lines AS ontime_rate,
       CASE WHEN a.n_lines > a.n_ontime
            THEN CAST(a.late_day_sum AS DOUBLE) / (a.n_lines - a.n_ontime)
       END AS mean_late_days,
       a.revenue
FROM agg a
JOIN supplier s ON s.s_suppkey = a.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
"""


def repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate per nation: share of customers with 2+
    orders, plus order-frequency stats — the loyalty KPI. Customer
    order counts in one hash agg, then a nation rollup with the dim
    broadcast; rates are exact-int divisions."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    j = per_cust.join(
        F.broadcast(
            c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("n_name").alias("nation"),
            )
        ),
        "o_custkey",
    )
    return j.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
        (
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("repeat_rate"),
        F.max("n_orders").alias("max_orders"),
    )


REPEAT_PURCHASE_SQL = """
WITH per_cust AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS repeat_rate,
       MAX(p.n_orders) AS max_orders
FROM per_cust p
JOIN customer c ON c.c_custkey = p.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity signal (near-zero entropy at volume = scripted/bot
    traffic). Exactness: the per-user sum of ``-p·ln(p)`` terms folds
    in event-type order on BOTH engines (the BM25 ordered-fold
    recipe), with each term computed by the identical expression from
    exact integer counts, so results match to the ln ulp class. Plan:
    one (user, type) hash agg, then per-user fold over ≤|types|
    elements — the fold frame is type-bounded, not event-bounded."""
    e = load_table(spark, sf_dir, "events")
    ut = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_user = ut.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.array_sort(F.collect_list(F.struct("event_type", "n"))).alias("_m"),
    )
    scale = 1 << 40

    def term(n_col, tot_col):
        pr = n_col.cast("double") / tot_col.cast("double")
        return F.floor(-(pr) * F.log(pr) * scale + F.lit(0.5)).cast("long")

    # terms are quantized onto the 2^-40 grid BEFORE summing: the sum is
    # then exact int64 (ln's 1-ulp cross-engine drift would otherwise
    # leave near-equal entropies ulp-apart, destabilizing row identity)
    ent_q = F.aggregate(
        F.col("_m"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + term(p["n"], F.col("n_events")),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        (ent_q.cast("double") / F.lit(float(scale))).alias("entropy"),
    )


EVENTS_USER_ENTROPY_SQL = """
WITH ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
per_user AS (
  SELECT user_id,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         list(n ORDER BY event_type) AS ns
  FROM ut GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(ns, x ->
           CAST(FLOOR(-(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))
                * ln(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))
                * 1099511627776 + 0.5) AS BIGINT))),
         (acc, t) -> acc + t) AS DOUBLE) / 1099511627776.0 AS entropy
FROM per_user
"""


def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU): exact sliding
    DISTINCT. Sliding distincts do not decompose into window frames
    (sets must re-merge per frame), so the standard exact plan is:
    dedup to (day, user) pairs — the big shuffle, |days x daily
    actives| rows — then a bounded RANGE self-join onto the day spine
    (x7 fan-out of the DEDUPED pairs, not raw events) and a
    COUNT(DISTINCT) per day. At 100 TB the pre-dedup is what keeps the
    fan-out affordable; the approximate twin would carry 7 mergeable
    HLL sketches instead."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    day_users = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = day_users.select("day").distinct().select(
        F.col("day").alias("as_of")
    )
    cond = (
        (F.col("day") <= F.col("as_of"))
        & (F.col("day") >= F.expr("as_of - INTERVAL 6 DAY"))
    )
    return (
        days.join(day_users, cond)
        .groupBy("as_of")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


EVENTS_ROLLING_WAU_SQL = """
WITH day_users AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day AS as_of FROM day_users)
SELECT d.as_of, COUNT(DISTINCT u.user_id) AS wau
FROM days d
JOIN day_users u
  ON u.day <= d.as_of AND u.day >= d.as_of - INTERVAL 6 DAY
GROUP BY d.as_of
"""


def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier profile: median/MAD z-score (the
    scale-free cousin of the reference's fixed packet thresholds —
    threshold-free anomaly flagging). Three passes, each a tiny
    broadcast join back: median per type -> MAD per type -> deviation
    count. Exact percentile parity with DuckDB quantile_cont is
    already pinned by sql_price_quantiles; 4.4478 = 3 x 1.4826 (the
    Gaussian MAD consistency factor)."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count(
                F.when(F.col("adev") > F.col("mad") * 4.4478, 1)
            ).cast("long").alias("n_outliers"),
        )
    )


EVENTS_ROBUST_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
),
mad AS (
  SELECT event_type, MIN(med) AS med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, m.med, m.mad,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(CASE WHEN d.adev > m.mad * 4.4478 THEN 1 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, m.med, m.mad
"""


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of `value` per event_type: 20 bins of
    width 25 over [0, 500), out-of-range clamped to the edge bins.
    floor((v - lo)/w) is one exact double op chain — identical bin
    assignment in both engines; one hash agg on (type, bin)."""
    e = load_table(spark, sf_dir, "events")
    bin_ = F.least(
        F.greatest(F.floor((F.col("value") - 0.0) / 25.0), F.lit(0)),
        F.lit(19),
    ).cast("long")
    return (
        e.groupBy(F.col("event_type"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * 25.0).alias("bin_lo"),
            ((F.col("bin") + 1) * 25.0).alias("bin_hi"),
            "n",
        )
    )


EVENTS_HISTOGRAM_SQL = """
WITH binned AS (
  SELECT event_type,
         CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 25.0), 0), 19) AS BIGINT)
           AS bin
  FROM events
)
SELECT event_type, bin,
       CAST(bin * 25.0 AS DOUBLE) AS bin_lo,
       CAST((bin + 1) * 25.0 AS DOUBLE) AS bin_hi,
       COUNT(*) AS n
FROM binned
GROUP BY event_type, bin
"""


def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit over the star-schema spine
    (operators/dq.py): one pruned-scan left join + aggregate per
    declared relationship."""
    from ..operators.dq import referential_integrity

    return referential_integrity(load_table, spark, sf_dir)


def _dq_referential_integrity_sql() -> str:
    from ..operators.dq import referential_integrity_sql

    return referential_integrity_sql()


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view->click->purchase funnel per user
    (operators/funnel.py): one exchange, stacked window minima."""
    from ..operators.funnel import funnel

    return funnel(load_table(spark, sf_dir, "events"))


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel: each stage must convert within 1 day of the
    previous one (operators/funnel.funnel(within=...))."""
    from ..operators.funnel import funnel

    return funnel(load_table(spark, sf_dir, "events"), within="1 day")


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/funnel.retention)."""
    from ..operators.funnel import retention

    return retention(load_table(spark, sf_dir, "events"))


def _events_funnel_sql() -> str:
    from ..operators.funnel import funnel_sql

    return funnel_sql()


def _events_funnel_windowed_sql() -> str:
    from ..operators.funnel import funnel_sql

    return funnel_sql(within="1 day")


def _events_retention_sql() -> str:
    from ..operators.funnel import RETENTION_SQL

    return RETENTION_SQL


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series with LOCF fill (operators/gapfill.py) — the
    hypertable-style gap-fill rollup over the events stream table."""
    from ..operators.gapfill import gapfill_locf

    return gapfill_locf(load_table(spark, sf_dir, "events"))


def _events_gapfill_sql() -> str:
    from ..operators.gapfill import gapfill_locf_sql

    return gapfill_locf_sql()


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_nation_trade": q7_nation_trade,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_priority_classes": q12_priority_classes,
    "q14_promo_share": q14_promo_share,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "top_orders_per_customer": top_orders_per_customer,
    "events_lead_lag": events_lead_lag,
    "top_expensive_lineitems": top_expensive_lineitems,
    "distinct_parts_per_flag": distinct_parts_per_flag,
    "active_nation_keys": active_nation_keys,
    "events_daily_rollup": events_daily_rollup,
    "events_sessionization": events_sessionization,
    "events_hourly_moving_avg": events_hourly_moving_avg,
    "events_props_json": events_props_json,
    "events_zorder_layout": events_zorder_layout,
    "events_zorder_balanced": events_zorder_balanced,
    "events_skew_profile": events_skew_profile,
    "events_cdc_snapshot": events_cdc_snapshot,
    "events_column_profile": events_column_profile,
    "events_gapfill": events_gapfill,
    "events_funnel": events_funnel,
    "events_funnel_windowed": events_funnel_windowed,
    "dq_referential_integrity": dq_referential_integrity,
    "events_value_histogram": events_value_histogram,
    "events_robust_outliers": events_robust_outliers,
    "events_rolling_wau": events_rolling_wau,
    "events_moments": events_moments,
    "events_ewma": events_ewma,
    "events_attribution": events_attribution,
    "events_equidepth": events_equidepth,
    "events_pagerank": events_pagerank,
    "events_hourly_corr": events_hourly_corr,
    "events_copair_support": events_copair_support,
    "events_seasonality": events_seasonality,
    "events_cusum": events_cusum,
    "sql_open_orders_daily": open_orders_daily,
    "sql_ltv_cohort": customer_ltv_cohort,
    "sql_supplier_scorecard": supplier_scorecard,
    "sql_repeat_purchase": repeat_purchase_rate,
    "events_user_entropy": events_user_entropy,
    "events_transition_matrix": events_transition_matrix,
    "events_cdc_incremental_agg": events_cdc_incremental_agg,
    "events_cdc_scd2": events_cdc_scd2,
    "events_cdc_diff": events_cdc_diff,
    "events_quantile_transform": events_quantile_transform,
    "events_session_paths": events_session_paths,
    "events_score_auc": events_score_auc,
    "events_score_pr": events_score_pr,
    "events_holt_trend": events_holt_trend,
    "sql_rfm_segments": sql_rfm_segments,
    "sql_ship_survival": sql_ship_survival,
    "events_score_isotonic": events_score_isotonic,
    "dq_rollup_reconciliation": dq_rollup_reconciliation,
    "sql_copurchase_triangles": sql_copurchase_triangles,
    "sql_copurchase_kcore": sql_copurchase_kcore,
    "sql_copurchase_recs": sql_copurchase_recs,
    "events_cdc_snapshot_asof": events_cdc_snapshot_asof,
    "sql_part_name_similarity": part_name_similarity,
    "events_retention": events_retention,
}

ORACLES = {
    "events_gapfill": _events_gapfill_sql(),
    "events_funnel": _events_funnel_sql(),
    "events_funnel_windowed": _events_funnel_windowed_sql(),
    "dq_referential_integrity": _dq_referential_integrity_sql(),
    "events_value_histogram": EVENTS_HISTOGRAM_SQL,
    "events_robust_outliers": EVENTS_ROBUST_OUTLIERS_SQL,
    "events_rolling_wau": EVENTS_ROLLING_WAU_SQL,
    "events_moments": EVENTS_MOMENTS_SQL,
    "events_ewma": EVENTS_EWMA_SQL,
    "events_attribution": EVENTS_ATTRIBUTION_SQL,
    "events_equidepth": EVENTS_EQUIDEPTH_SQL,
    "events_pagerank": _events_pagerank_sql(),
    "events_hourly_corr": EVENTS_HOURLY_CORR_SQL,
    "events_copair_support": EVENTS_COPAIR_SQL,
    "events_seasonality": EVENTS_SEASONALITY_SQL,
    "events_cusum": EVENTS_CUSUM_SQL,
    "sql_open_orders_daily": OPEN_ORDERS_SQL,
    "sql_ltv_cohort": LTV_COHORT_SQL,
    "sql_supplier_scorecard": SUPPLIER_SCORECARD_SQL,
    "sql_repeat_purchase": REPEAT_PURCHASE_SQL,
    "events_user_entropy": EVENTS_USER_ENTROPY_SQL,
    "events_transition_matrix": EVENTS_TRANSITIONS_SQL,
    "events_cdc_incremental_agg": _events_cdc_incremental_agg_sql(),
    "events_cdc_scd2": _events_cdc_scd2_sql(),
    "events_cdc_diff": _events_cdc_diff_sql(),
    "events_quantile_transform": EVENTS_QUANTILE_TRANSFORM_SQL,
    "events_session_paths": EVENTS_SESSION_PATHS_SQL,
    "events_score_auc": EVENTS_SCORE_AUC_SQL,
    "events_score_pr": EVENTS_SCORE_PR_SQL,
    "events_holt_trend": EVENTS_HOLT_TREND_SQL,
    "sql_rfm_segments": SQL_RFM_SEGMENTS_SQL,
    "sql_ship_survival": SQL_SHIP_SURVIVAL_SQL,
    "events_score_isotonic": EVENTS_SCORE_ISOTONIC_SQL,
    "dq_rollup_reconciliation": DQ_ROLLUP_RECONCILIATION_SQL,
    "sql_copurchase_triangles": _sql_copurchase_triangles_sql(),
    "sql_copurchase_kcore": _sql_copurchase_kcore_sql(),
    "sql_copurchase_recs": _SQL_COPURCHASE_RECS_SQL,
    "events_cdc_snapshot_asof": _events_cdc_snapshot_asof_sql(),
    "sql_part_name_similarity": PART_NAME_SIMILARITY_SQL,
    "events_retention": _events_retention_sql(),
    "events_zorder_layout": _events_zorder_sql(),
    "events_zorder_balanced": _events_zorder_balanced_sql(),
    "events_cdc_snapshot": _events_cdc_snapshot_sql(),
    "events_column_profile": _events_column_profile_sql(),
    "events_skew_profile": _events_skew_profile_sql(),
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q4_order_priority": Q4_SQL,
    "q5_local_supplier": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_nation_trade": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q10_returned_items": Q10_SQL,
    "q12_priority_classes": Q12_SQL,
    "q14_promo_share": Q14_SQL,
    "q15_top_supplier": Q15_SQL,
    "q17_small_quantity": Q17_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "top_orders_per_customer": TOP_ORDERS_SQL,
    "events_lead_lag": EVENTS_LEAD_LAG_SQL,
    "top_expensive_lineitems": TOP_LINEITEMS_SQL,
    "distinct_parts_per_flag": DISTINCT_PARTS_SQL,
    "active_nation_keys": ACTIVE_NATIONS_SQL,
    "events_daily_rollup": EVENTS_DAILY_SQL,
    "events_sessionization": EVENTS_SESSIONS_SQL,
    "events_hourly_moving_avg": EVENTS_MOVING_AVG_SQL,
    "events_props_json": EVENTS_PROPS_JSON_SQL,
}

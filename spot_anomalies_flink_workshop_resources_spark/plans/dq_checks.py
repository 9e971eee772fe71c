"""Data-quality screens over the warehouse tables: the ``dq_*``
queries (column completeness, duplicate same-day orders, unit-price
consistency with the catalog, date sanity, order-id continuity, segment
balance, temporal drift).

Exactness contract: every screen reduces to int64 counts and sums
(cents, ids, epoch days) from keyed aggregates or keyed equi-joins. No
screen uses a data-sized window. The chi-square cell terms go onto
the 2^-20 grid before their int64 fold (``operators/stats.py`` states
the grid contract). Possibly-zero denominators are guarded
structurally on both engines. The reference has no data-quality layer;
these screens are beyond-reference by design (SURVEY.md §2 extension
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.stats import Q20, cents, half_up, on_grid


# ----------------------------------------------- completeness profile


def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse COMPLETENESS audit: per (table, column) the row count,
    null count, blank-string count (string columns), and zero count
    (numeric columns) — the ingest gate next to the uniqueness and
    referential audits. Fixed ~20-row report; one map-side-combinable
    agg per table, no joins."""
    specs = {
        "events": [("event_type", "s"), ("props", "s"), ("value", "n"),
                   ("user_id", "n")],
        "documents": [("text", "s"), ("lang", "s"), ("source", "s"),
                      ("n_chars", "n")],
        "orders": [("o_orderstatus", "s"), ("o_orderpriority", "s"),
                   ("o_totalprice", "n")],
        "customer": [("c_name", "s"), ("c_mktsegment", "s"),
                     ("c_acctbal", "n")],
    }
    outs = []
    for table, cols in specs.items():
        df = load_table(spark, sf_dir, table)
        for col, kind in cols:
            c = F.col(col)
            blank = (
                F.sum((c == "").cast("long")) if kind == "s" else F.lit(0)
            )
            zero = (
                F.sum((c == 0).cast("long")) if kind == "n" else F.lit(0)
            )
            outs.append(
                df.agg(
                    F.lit(table).alias("table_name"),
                    F.lit(col).alias("column_name"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum(c.isNull().cast("long")).cast("long").alias("n_null"),
                    F.coalesce(blank, F.lit(0)).cast("long").alias("n_blank"),
                    F.coalesce(zero, F.lit(0)).cast("long").alias("n_zero"),
                )
            )
    import functools

    return functools.reduce(lambda x, y: x.unionByName(y), outs).orderBy(
        "table_name", "column_name"
    )


DQ_COMPLETENESS_SQL = """
SELECT * FROM (
  SELECT 'events' AS table_name, 'event_type' AS column_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(SUM(CASE WHEN event_type = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
         CAST(0 AS BIGINT) AS n_zero
  FROM events
  UNION ALL
  SELECT 'events', 'props', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN props = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'value', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CASE WHEN value = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'user_id', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CASE WHEN user_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'documents', 'text', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'documents', 'lang', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN lang = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'documents', 'source', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN source = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'documents', 'n_chars', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'orders', 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderstatus = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderpriority = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'o_totalprice', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CASE WHEN o_totalprice = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'customer', 'c_name', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN c_name = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'customer', 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN c_mktsegment = '' THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'customer', 'c_acctbal', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT),
         CAST(SUM(CASE WHEN c_acctbal = 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
)
ORDER BY table_name, column_name
"""


# ------------------------------------------- duplicate-invoice screen


def dq_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-INVOICE screen: pairs of orders by the SAME customer
    on the SAME day — the classic warehouse fraud/data-entry audit
    (split invoices, double-submits). Emits the first 100 pairs with
    the amount delta so an analyst can eyeball true dupes (delta ~ 0)
    vs legitimate same-day repeat buys.

    Exactness: the join key and pair ordering are integers/dates; the
    amount delta is |cents_1 - cents_2| int64 with one /100.0. Scale:
    equi-join on (custkey, order day) — fan-out is quadratic only
    WITHIN a customer-day cell, which business reality bounds to a
    handful; the join itself is a keyed shuffle, never a cartesian."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("order_day"),
        F.col("o_orderkey"),
        cents("o_totalprice").alias("cents"),
    )
    a = o.select(
        "o_custkey",
        "order_day",
        F.col("o_orderkey").alias("k1"),
        F.col("cents").alias("c1"),
    )
    b = o.select(
        "o_custkey",
        "order_day",
        F.col("o_orderkey").alias("k2"),
        F.col("cents").alias("c2"),
    )
    return (
        a.join(b, ["o_custkey", "order_day"])
        .where(F.col("k1") < F.col("k2"))
        .select(
            "o_custkey",
            "order_day",
            "k1",
            "k2",
            (
                F.abs(F.col("c1") - F.col("c2")).cast("double")
                / F.lit(100.0)
            ).alias("amount_delta"),
        )
        .orderBy("o_custkey", "k1", "k2")
        .limit(100)
    )


DQ_DUPLICATE_ORDERS_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day, o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT a.o_custkey, a.order_day, a.o_orderkey AS k1, b.o_orderkey AS k2,
       CAST(ABS(a.cents - b.cents) AS DOUBLE) / 100.0 AS amount_delta
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.order_day = b.order_day
WHERE a.o_orderkey < b.o_orderkey
ORDER BY a.o_custkey, k1, k2
LIMIT 100
"""


# ------------------------------------------ unit-price plausibility


def dq_price_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIT-PRICE PLAUSIBILITY audit per brand: flag lineitems whose
    implied unit price strays outside [5%, 2000%] of the catalog
    retail price — the cross-field consistency rule that catches
    decimal-shift and wrong-part data-entry errors (demo band chosen
    to flag the observed ~5% tails).

    Exactness: the band test is PURE int64 — ep_cents*100 vs
    5*qty*rp_cents and 2000*qty*rp_cents (quantities are integral;
    floor(q+0.5) pins them) — and the reported max ratio divides the
    same two int64s once (selection over identically-computed doubles).
    Scale: lineitem joins the part dim on partkey (broadcastable dim),
    then one brand-keyed agg; no data-sized window anywhere."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_extendedprice").alias("ep"),
        half_up(F.col("l_quantity")).alias("qty"),
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        cents("p_retailprice").alias("rp"),
    )
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "p_brand",
        (F.col("ep") * 100).alias("lhs"),
        (F.col("qty") * F.col("rp")).alias("base"),
        (
            F.col("ep").cast("double")
            / (F.col("qty") * F.col("rp")).cast("double")
        ).alias("ratio"),
    )
    viol = (F.col("lhs") < 5 * F.col("base")) | (
        F.col("lhs") > 2000 * F.col("base")
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(viol, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            F.max("ratio").alias("max_unit_ratio"),
        )
        .select(
            "p_brand",
            "n_lines",
            "n_violations",
            (
                F.col("n_violations").cast("double")
                / F.col("n_lines").cast("double")
            ).alias("violation_rate"),
            "max_unit_ratio",
        )
        .orderBy("p_brand")
    )


DQ_PRICE_CONSISTENCY_SQL = """
WITH j AS (
  SELECT p.p_brand,
         CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) * 100 AS lhs,
         CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)
           * CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT) AS base,
         CAST(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
              AS DOUBLE)
           / CAST(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)
                  * CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
                  AS DOUBLE) AS ratio
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
)
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN lhs < 5 * base OR lhs > 2000 * base
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(SUM(CASE WHEN lhs < 5 * base OR lhs > 2000 * base
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS violation_rate,
       MAX(ratio) AS max_unit_ratio
FROM j
GROUP BY p_brand
ORDER BY p_brand
"""


# ---------------------------------------------------- date-sanity DQ


def dq_date_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE-ORDERING sanity audit across orders x lineitem: lines
    shipped BEFORE their order date (hard impossibility), shipped more
    than 120 days after (stale fulfilment), and orders dated outside
    the warehouse's observed calendar years — the cross-table DQ
    screen next to dq_referential_integrity's key checks.

    Exactness: every class is an integer date comparison counted in
    int64; shares are ONE division. Scale: one keyed equi-join on
    orderkey (never data x data), map-side-combinable count agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("sd"), F.col("od")).cast("long").alias("lag")
    )
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("lag") < 0, 1).otherwise(0))
        .cast("long")
        .alias("ship_before_order"),
        F.sum(F.when(F.col("lag") > 120, 1).otherwise(0))
        .cast("long")
        .alias("ship_lag_over_120d"),
        F.max("lag").cast("long").alias("max_lag_days"),
    )
    return agg.select(
        "n_lines",
        "ship_before_order",
        "ship_lag_over_120d",
        "max_lag_days",
        (
            F.col("ship_lag_over_120d").cast("double")
            / F.col("n_lines").cast("double")
        ).alias("stale_share"),
    )


DQ_DATE_SANITY_SQL = """
WITH j AS (
  SELECT CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN lag < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS ship_before_order,
       CAST(SUM(CASE WHEN lag > 120 THEN 1 ELSE 0 END) AS BIGINT)
         AS ship_lag_over_120d,
       CAST(MAX(lag) AS BIGINT) AS max_lag_days,
       CAST(SUM(CASE WHEN lag > 120 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS stale_share
FROM j
"""


# ------------------------------------------------ id continuity DQ


def dq_id_continuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID-CONTINUITY audit of the events stream: duplicate event_ids,
    holes in the id range, and coverage — the first screen an
    ingestion incident review runs ("did the producer skip or repeat
    sequence numbers?").

    Exactness: every output is an exact int64 off two aggregates
    (count, countDistinct, min, max); shares are ONE division. Scale:
    deliberately NO data-sized window — a naive max-gap needs a global
    id sort, so the audit reports range holes (max-min+1 minus
    distinct) instead, which two O(n) map-side-combinable aggs
    deliver at any scale."""
    e = load_table(spark, sf_dir, "events").select("event_id")
    agg = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )
    span = F.col("max_id") - F.col("min_id") + 1
    return agg.select(
        "n_rows",
        "n_ids",
        "min_id",
        "max_id",
        (F.col("n_rows") - F.col("n_ids")).alias("duplicate_rows"),
        (span - F.col("n_ids")).alias("missing_in_range"),
        (
            F.col("n_ids").cast("double") / span.cast("double")
        ).alias("range_coverage"),
    )


DQ_ID_CONTINUITY_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id,
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
         AS duplicate_rows,
       CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(DISTINCT event_id)
            AS BIGINT) AS missing_in_range,
       CAST(COUNT(DISTINCT event_id) AS DOUBLE)
         / CAST(MAX(event_id) - MIN(event_id) + 1 AS DOUBLE)
         AS range_coverage
FROM events
"""


# ------------------------------------------- dimension balance DQ


def dq_segment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-BALANCE audit: chi-square of independence between
    market segment and nation over the customer dimension — the
    sampling-balance screen ("is any nation's segment mix skewed?") a
    warehouse runs after a partial load or a biased upstream extract.

    Exactness: the events_chi2_independence recipe on the customer
    dim — exact int64 cell/marginal counts, each cell term
    (O*N - rt*ct)^2 / (rt*ct*N) quantized onto the 2^-20 grid before
    the int64 fold, one final division (the O*N cross product stays
    int64-exact through ~3e9 customers — documented bound). Scale:
    one dimension-sized hash agg; the cell frame is
    |segments| x |nations|."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nk"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    cells = cells.localCheckpoint(eager=True)
    rt = cells.groupBy("seg").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("nk").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    dims = cells.agg(
        F.countDistinct("seg").cast("long").alias("r"),
        F.countDistinct("nk").cast("long").alias("c"),
    )
    dev = (
        F.col("o") * F.col("n") - F.col("rt") * F.col("ct")
    ).cast("double")
    term = on_grid(
        (dev * dev)
        / (
            (F.col("rt") * F.col("ct")).cast("double")
            * F.col("n").cast("double")
        ),
        float(Q20),
    )
    summed = (
        cells.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "nk")
        .crossJoin(F.broadcast(n))
        .select(term.alias("t"), "n")
        .groupBy("n")
        .agg(F.sum("t").cast("long").alias("sq"))
    )
    return summed.crossJoin(F.broadcast(dims)).select(
        F.col("n").alias("n_customers"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("df"),
        (F.col("sq").cast("double") / F.lit(float(Q20))).alias("chi2"),
    )


def _dq_segment_balance_sql() -> str:
    return f"""
WITH cells AS MATERIALIZED (
  SELECT c_mktsegment AS seg, c_nationkey AS nk,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY c_mktsegment, c_nationkey
),
rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY seg),
ct AS (SELECT nk, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY nk),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
dims AS (SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
                CAST(COUNT(DISTINCT nk) AS BIGINT) AS c FROM cells),
summed AS (
  SELECT n.n,
         CAST(SUM(CAST(FLOOR(
             (CAST(cells.o * n.n - rt.rt * ct.ct AS DOUBLE)
              * CAST(cells.o * n.n - rt.rt * ct.ct AS DOUBLE))
             / (CAST(rt.rt * ct.ct AS DOUBLE) * CAST(n.n AS DOUBLE))
             * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM cells JOIN rt ON rt.seg = cells.seg JOIN ct ON ct.nk = cells.nk
  CROSS JOIN n
  GROUP BY n.n
)
SELECT summed.n AS n_customers,
       (dims.r - 1) * (dims.c - 1) AS df,
       CAST(sq AS DOUBLE) / {float(Q20)!r} AS chi2
FROM summed CROSS JOIN dims
"""


# -------------------------------------------- temporal drift audit


def dq_temporal_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING/SERVING SKEW audit: split the event span at its
    midpoint day and compare each type's daily arrival rate and mean
    value between halves — the first screen a feature-store rollout
    runs before trusting a model trained on the first half ("did the
    data move under us?").

    Exactness: the split day is integer epoch-day midpoint ((d0 + d1)
    DIV 2 — engine-identical integer division); per-half counts and
    cents sums are exact int64; rate_ratio and mean_shift each compose
    in one fixed float expression. Types absent from either half are
    filtered structurally (their ratio would divide by zero). Scale:
    ONE data-sized hash agg to (type, half); the span scalar
    broadcasts."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
        cents().alias("c"),
    )
    span = e.agg(
        F.min("d").cast("long").alias("d0"),
        F.max("d").cast("long").alias("d1"),
    ).select(
        "d0", "d1", F.expr("(d0 + d1) DIV 2").cast("long").alias("mid")
    )
    agg = (
        e.crossJoin(F.broadcast(span))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("d") <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("d") > F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("n2"),
            F.sum(F.when(F.col("d") <= F.col("mid"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("s1"),
            F.sum(F.when(F.col("d") > F.col("mid"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("s2"),
            F.min("d0").alias("d0"),
            F.min("d1").alias("d1"),
            F.min("mid").alias("mid"),
        )
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
    )
    days1 = (F.col("mid") - F.col("d0") + 1).cast("double")
    days2 = (F.col("d1") - F.col("mid")).cast("double")
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    return agg.select(
        "event_type",
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        (
            (F.col("n2").cast("double") / days2)
            / (F.col("n1").cast("double") / days1)
        ).alias("rate_ratio"),
        ((m2 - m1) / F.lit(100.0)).alias("mean_shift"),
    ).orderBy("event_type")


DQ_TEMPORAL_DRIFT_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
span AS (
  SELECT CAST(MIN(d) AS BIGINT) AS d0, CAST(MAX(d) AS BIGINT) AS d1,
         CAST((MIN(d) + MAX(d)) // 2 AS BIGINT) AS mid
  FROM ev
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN d <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN d > mid THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN d <= mid THEN c ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN d > mid THEN c ELSE 0 END) AS BIGINT) AS s2,
         MIN(d0) AS d0, MIN(d1) AS d1, MIN(mid) AS mid
  FROM ev CROSS JOIN span
  GROUP BY event_type
)
SELECT event_type, n1 AS n_first, n2 AS n_second,
       (CAST(n2 AS DOUBLE) / CAST(d1 - mid AS DOUBLE))
         / (CAST(n1 AS DOUBLE) / CAST(mid - d0 + 1 AS DOUBLE))
         AS rate_ratio,
       (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)
        - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 100.0 AS mean_shift
FROM agg
WHERE n1 > 0 AND n2 > 0
ORDER BY event_type
"""


QUERIES = {
    "dq_completeness_profile": dq_completeness_profile,
    "dq_duplicate_orders": dq_duplicate_orders,
    "dq_price_consistency": dq_price_consistency,
    "dq_date_sanity": dq_date_sanity,
    "dq_id_continuity": dq_id_continuity,
    "dq_segment_balance": dq_segment_balance,
    "dq_temporal_drift": dq_temporal_drift,
}

ORACLES = {
    "dq_completeness_profile": DQ_COMPLETENESS_SQL,
    "dq_duplicate_orders": DQ_DUPLICATE_ORDERS_SQL,
    "dq_price_consistency": DQ_PRICE_CONSISTENCY_SQL,
    "dq_date_sanity": DQ_DATE_SANITY_SQL,
    "dq_id_continuity": DQ_ID_CONTINUITY_SQL,
    "dq_segment_balance": _dq_segment_balance_sql(),
    "dq_temporal_drift": DQ_TEMPORAL_DRIFT_SQL,
}

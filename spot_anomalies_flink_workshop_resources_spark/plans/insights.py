"""Round-6 second-wave surface: distribution drift (PSI / JSD),
overdispersion, dominance frontiers, link prediction, survival hazard,
intermittent-demand forecasting, interval-union coverage, and lexical
growth — the monitoring / curation layer a platform user runs on the
same tables after the detection core (reference scope ends at
fixed-threshold detection, AD.java:200).

Every query follows the repo's oracle contract: scalar-only result
columns, identical aliases both sides, and exactness by the grid
contract of ``operators/stats.py``, plus selection by integer
cross-multiplication.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.stats import (
    Q20,
    cents,
    centered,
    half_up,
    moments,
    ols,
    on_grid,
    pearson,
)


# Shared cents/day framing of events (the _daily_cents idiom).
_EV_CENTS_DAY = """
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM events
"""


def _ev_cents_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_type",
        cents().alias("c"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )


# ------------------------------------------------------------------ PSI


def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX of each event type's value
    distribution, first half of the observed period vs the second —
    the standard model-monitoring drift gate (PSI > 0.1 = investigate).

    Semantics: 10 equal-width cent buckets spanning the type's full
    observed range; Laplace +1 smoothing keeps every bucket's ratio
    finite.  Exactness: bucket ids are pure integer division, the
    half-split day is an integer midpoint, and each bucket's
    (p-q)*ln(p/q) term quantizes onto the 2^-20 grid before an int64
    sum — the drift flag compares that integer against floor(0.1*2^20),
    so the discrete decision is exact.  Scale: one data-sized pass to
    (type, bucket, half) counts; everything after lives on a
    10-bucket-per-type frame.
    """
    ev = _ev_cents_day(spark, sf_dir)
    # ONE stats pass: per-type cent ranges AND the day extremes (the
    # global midpoint folds from the per-type extremes) — the naive
    # form re-scanned events once per consumer
    rng = ev.groupBy("event_type").agg(
        F.min("c").cast("long").alias("mn"),
        F.max("c").cast("long").alias("mx"),
        F.min("d").cast("long").alias("dmn"),
        F.max("d").cast("long").alias("dmx"),
    )
    md = rng.agg(
        F.expr("(min(dmn) + max(dmx) + 1) div 2").cast("long").alias("md")
    )
    bucketed = (
        ev.join(F.broadcast(rng), "event_type")
        .crossJoin(F.broadcast(md))
        .select(
            "event_type",
            F.expr("((c - mn) * 10) div (mx - mn + 1)").alias("bucket"),
            F.when(F.col("d") < F.col("md"), F.lit(0)).otherwise(F.lit(1)).alias("half"),
        )
    )
    counts = bucketed.groupBy("event_type", "bucket", "half").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    spine = rng.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bucket")
    ).select("event_type", F.col("bucket").cast("long").alias("bucket"))
    p = counts.where(F.col("half") == 0).select(
        "event_type", "bucket", F.col("cnt").alias("cnt_p")
    )
    q = counts.where(F.col("half") == 1).select(
        "event_type", "bucket", F.col("cnt").alias("cnt_q")
    )
    cells = (
        spine.join(p, ["event_type", "bucket"], "left")
        .join(q, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            (F.coalesce(F.col("cnt_p"), F.lit(0)) + 1).cast("long").alias("cp"),
            (F.coalesce(F.col("cnt_q"), F.lit(0)) + 1).cast("long").alias("cq"),
        )
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("cp").cast("long").alias("tp"), F.sum("cq").cast("long").alias("tq")
    )
    pr = F.col("cp").cast("double") / F.col("tp").cast("double")
    qr = F.col("cq").cast("double") / F.col("tq").cast("double")
    term_q = on_grid((pr - qr) * F.log(pr / qr), float(Q20))
    terms = cells.join(F.broadcast(tots), "event_type").select(
        "event_type", "tp", "tq", term_q.alias("term_q")
    )
    psi_q = F.sum("term_q").cast("long")
    return (
        terms.groupBy("event_type", "tp", "tq")
        .agg(psi_q.alias("psi_q"))
        .select(
            "event_type",
            (F.col("tp") - 10).alias("n_first"),
            (F.col("tq") - 10).alias("n_second"),
            (F.col("psi_q").cast("double") / F.lit(float(Q20))).alias("psi"),
            (F.col("psi_q") > F.lit(Q20 // 10)).alias("drifted"),
        )
        .orderBy("event_type")
    )


EVENTS_PSI_SQL = f"""
WITH ev AS MATERIALIZED ({_EV_CENTS_DAY}),
md AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS md FROM ev),
rng AS (SELECT event_type, MIN(c) AS mn, MAX(c) AS mx
        FROM ev GROUP BY event_type),
bucketed AS (
  SELECT e.event_type,
         ((e.c - r.mn) * 10) // (r.mx - r.mn + 1) AS bucket,
         CASE WHEN e.d < md.md THEN 0 ELSE 1 END AS half
  FROM ev e JOIN rng r ON r.event_type = e.event_type CROSS JOIN md
),
counts AS (
  SELECT event_type, bucket, half, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY event_type, bucket, half
),
spine AS (
  SELECT t.event_type, CAST(r.range AS BIGINT) AS bucket
  FROM (SELECT DISTINCT event_type FROM ev) t CROSS JOIN range(10) r
),
cells AS (
  SELECT s.event_type, s.bucket,
         CAST(COALESCE(p.cnt, 0) + 1 AS BIGINT) AS cp,
         CAST(COALESCE(q.cnt, 0) + 1 AS BIGINT) AS cq
  FROM spine s
  LEFT JOIN counts p ON p.event_type = s.event_type
                    AND p.bucket = s.bucket AND p.half = 0
  LEFT JOIN counts q ON q.event_type = s.event_type
                    AND q.bucket = s.bucket AND q.half = 1
),
tots AS (
  SELECT event_type, CAST(SUM(cp) AS BIGINT) AS tp,
         CAST(SUM(cq) AS BIGINT) AS tq
  FROM cells GROUP BY event_type
),
terms AS (
  SELECT c.event_type, t.tp, t.tq,
         CAST(FLOOR(
           (CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE)
            - CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE))
           * ln((CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE))
                / (CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE)))
           * {float(Q20)} + 0.5) AS BIGINT) AS term_q
  FROM cells c JOIN tots t ON t.event_type = c.event_type
)
SELECT event_type,
       CAST(tp - 10 AS BIGINT) AS n_first,
       CAST(tq - 10 AS BIGINT) AS n_second,
       CAST(CAST(SUM(term_q) AS BIGINT) AS DOUBLE) / {float(Q20)} AS psi,
       CAST(SUM(term_q) AS BIGINT) > {Q20 // 10} AS drifted
FROM terms
GROUP BY event_type, tp, tq
ORDER BY event_type
"""


# ------------------------------------------------------------------ JSD


def events_jsd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON divergence between each event type's hour-of-day
    activity profile and the global all-events profile — "which event
    types keep unusual hours", the symmetric, always-finite complement
    of the PSI gate.  The peak hour is the hour with the largest
    absolute share excess, selected by integer cross-multiplication
    (|cp*tq - cq*tp|), so the discrete output is exact; the divergence
    itself folds per-hour terms quantized onto the 2^-20 grid.  Scale:
    one pass to (type, hour) counts, then a 24-row-per-type frame.
    """
    e = load_table(spark, sf_dir, "events")
    hc = e.groupBy("event_type", F.hour("ts").cast("long").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    spine = (
        hc.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("hr"),
        )
        .select("event_type", F.col("hr").cast("long").alias("hr"))
    )
    glob = hc.groupBy("hr").agg(F.sum("cnt").cast("long").alias("cg"))
    cells = (
        spine.join(hc, ["event_type", "hr"], "left")
        .join(F.broadcast(glob), "hr", "left")
        .select(
            "event_type",
            "hr",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cp"),
            F.coalesce(F.col("cg"), F.lit(0)).cast("long").alias("cq"),
        )
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("cp").cast("long").alias("tp"), F.sum("cq").cast("long").alias("tq")
    )
    pr = F.col("cp").cast("double") / F.col("tp").cast("double")
    qr = F.col("cq").cast("double") / F.col("tq").cast("double")
    p_term = F.when(
        F.col("cp") > 0, pr * F.log(F.lit(2.0) * pr / (pr + qr))
    ).otherwise(F.lit(0.0))
    q_term = F.when(
        F.col("cq") > 0, qr * F.log(F.lit(2.0) * qr / (pr + qr))
    ).otherwise(F.lit(0.0))
    term_q = on_grid(F.lit(0.5) * p_term + F.lit(0.5) * q_term, float(Q20))
    excess = F.abs(F.col("cp") * F.col("tq") - F.col("cq") * F.col("tp"))
    scored = cells.join(F.broadcast(tots), "event_type").select(
        "event_type", "hr", "tp", term_q.alias("term_q"), excess.alias("excess")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("excess").desc(), F.col("hr").asc()
    )
    peak = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("hr").alias("peak_hour"))
    )
    return (
        scored.groupBy("event_type", "tp")
        .agg(F.sum("term_q").cast("long").alias("jsd_q"))
        .join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            F.col("tp").alias("n_events"),
            (F.col("jsd_q").cast("double") / F.lit(float(Q20))).alias("jsd_nats"),
            "peak_hour",
        )
        .orderBy("event_type")
    )


EVENTS_JSD_SQL = f"""
WITH hc AS MATERIALIZED (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, hour(ts)
),
spine AS (
  SELECT t.event_type, CAST(r.range AS BIGINT) AS hr
  FROM (SELECT DISTINCT event_type FROM hc) t CROSS JOIN range(24) r
),
gprof AS (SELECT hr, CAST(SUM(cnt) AS BIGINT) AS cg FROM hc GROUP BY hr),
cells AS (
  SELECT s.event_type, s.hr,
         CAST(COALESCE(h.cnt, 0) AS BIGINT) AS cp,
         CAST(COALESCE(g.cg, 0) AS BIGINT) AS cq
  FROM spine s
  LEFT JOIN hc h ON h.event_type = s.event_type AND h.hr = s.hr
  LEFT JOIN gprof g ON g.hr = s.hr
),
tots AS (
  SELECT event_type, CAST(SUM(cp) AS BIGINT) AS tp,
         CAST(SUM(cq) AS BIGINT) AS tq
  FROM cells GROUP BY event_type
),
scored AS (
  SELECT c.event_type, c.hr, t.tp,
         CAST(FLOOR(
           (0.5 * (CASE WHEN c.cp > 0 THEN
                     (CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE))
                     * ln(2.0 * (CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE))
                          / ((CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE))
                             + (CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE))))
                   ELSE 0.0 END)
            + 0.5 * (CASE WHEN c.cq > 0 THEN
                     (CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE))
                     * ln(2.0 * (CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE))
                          / ((CAST(c.cp AS DOUBLE) / CAST(t.tp AS DOUBLE))
                             + (CAST(c.cq AS DOUBLE) / CAST(t.tq AS DOUBLE))))
                   ELSE 0.0 END))
           * {float(Q20)} + 0.5) AS BIGINT) AS term_q,
         abs(c.cp * t.tq - c.cq * t.tp) AS excess
  FROM cells c JOIN tots t ON t.event_type = c.event_type
),
peak AS (
  SELECT event_type, hr AS peak_hour
  FROM (SELECT event_type, hr,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY excess DESC, hr ASC) AS rn
        FROM scored)
  WHERE rn = 1
)
SELECT s.event_type, s.tp AS n_events,
       CAST(CAST(SUM(s.term_q) AS BIGINT) AS DOUBLE) / {float(Q20)}
         AS jsd_nats,
       p.peak_hour
FROM scored s JOIN peak p ON p.event_type = s.event_type
GROUP BY s.event_type, s.tp, p.peak_hour
ORDER BY s.event_type
"""


# ----------------------------------------------------------------- Fano


def events_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO FACTOR (index of dispersion, var/mean) of each event type's
    hourly arrival counts over the full observed hour span — the
    burstiness screen separating Poisson-like traffic from clustered
    arrivals.  Hours with zero arrivals are real observations: n is the
    global span length (a scalar), and zero cells contribute nothing to
    either power sum, so no spine join is needed (the hourly_corr
    contract).  fano = (n*Σc² - (Σc)²) / ((n-1)*Σc) divides two exact
    int64s once; the overdispersed flag compares the same integers.
    """
    e = load_table(spark, sf_dir, "events")
    hc = e.groupBy(
        "event_type",
        (F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600")).alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
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
    agg = hc.groupBy("event_type").agg(
        *moments(None, sc="cnt", scc=("cnt", "cnt")),
    )
    num = centered("n", "scc", "sc", "sc")
    den = (F.col("n") - 1) * F.col("sc")
    return (
        agg.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            (F.col("sc").cast("double") / F.col("n").cast("double")).alias(
                "mean_per_hour"
            ),
            (num.cast("double") / den.cast("double")).alias("fano"),
            (num > den).alias("overdispersed"),
        )
        .orderBy("event_type")
    )


EVENTS_FANO_SQL = """
WITH hc AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT)
),
span AS (
  SELECT CAST(FLOOR(epoch(MAX(ts)) / 3600) AS BIGINT)
         - CAST(FLOOR(epoch(MIN(ts)) / 3600) AS BIGINT) + 1 AS n
  FROM events
),
agg AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS sc,
         CAST(SUM(cnt * cnt) AS BIGINT) AS scc
  FROM hc GROUP BY event_type
)
SELECT event_type, span.n AS n_hours,
       CAST(sc AS DOUBLE) / CAST(span.n AS DOUBLE) AS mean_per_hour,
       CAST(span.n * scc - sc * sc AS DOUBLE)
         / CAST((span.n - 1) * sc AS DOUBLE) AS fano,
       (span.n * scc - sc * sc) > ((span.n - 1) * sc) AS overdispersed
FROM agg CROSS JOIN span
ORDER BY event_type
"""


# ------------------------------------------------------- skyline


def sql_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO FRONTIER (skyline) of parts per brand: the parts no other
    part of the brand dominates on (bigger size, cheaper price) — the
    multi-criteria "best offers" operator classical SQL lacks.

    q dominates p iff q.size >= p.size AND q.price <= p.price with one
    strict.  Rather than the quadratic NOT EXISTS the oracle states, the
    engine computes two running minima: the min price over STRICTLY
    LARGER sizes (a RANGE frame on the size axis) and the min price at
    EQUAL size — p survives iff it beats the first strictly and ties the
    second.  All comparisons are int64 (size, cents), so the frontier
    membership decision is exact.  Scale: per-brand windows partition
    the work; no self-join ever materializes (the N^2 pairs exist only
    in the oracle's spelling).
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.col("p_size").cast("long").alias("p_size"),
        cents("p_retailprice").alias("price_cents"),
    )
    w_gt = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_size").asc())
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy("p_brand", "p_size")
    out = (
        p.withColumn("m_gt", F.min("price_cents").over(w_gt))
        .withColumn("m_eq", F.min("price_cents").over(w_eq))
        .where(
            (F.col("m_gt").isNull() | (F.col("price_cents") < F.col("m_gt")))
            & (F.col("price_cents") == F.col("m_eq"))
        )
        .select("p_brand", "p_partkey", "p_size", "price_cents")
        .orderBy("p_brand", F.col("p_size").desc(), "price_cents", "p_partkey")
    )
    return out


SQL_PART_SKYLINE_SQL = """
WITH pp AS MATERIALIZED (
  SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS p_size,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
  FROM part
)
SELECT p.p_brand, p.p_partkey, p.p_size, p.price_cents
FROM pp p
WHERE NOT EXISTS (
  SELECT 1 FROM pp q
  WHERE q.p_brand = p.p_brand
    AND q.p_size >= p.p_size AND q.price_cents <= p.price_cents
    AND (q.p_size > p.p_size OR q.price_cents < p.price_cents)
)
ORDER BY p.p_brand, p.p_size DESC, p.price_cents, p.p_partkey
"""


# ----------------------------------------------- weighted median


def sql_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE-WEIGHTED MEDIAN order quantity per brand — the quantity
    level at which half the brand's lineitem revenue sits below — plus
    the plain row count and total weight.  Selection-only exactness:
    weights are cent int64s, the cumulative fold is an integer window
    sum ordered by the integer quantity grid, and the median is the
    first quantity whose doubled cumulative weight reaches the total
    (no division at all until the final cents->units rescale).  Scale:
    one data-sized (brand, qty) agg; the window runs on the tiny
    per-brand quantity grid.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    grid = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            cents("l_quantity").alias("qty_c"),
        )
        .agg(
            F.sum(cents("l_extendedprice"))
            .cast("long")
            .alias("w"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    wcum = Window.partitionBy("p_brand").orderBy("qty_c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy("p_brand")
    ranked = (
        grid.withColumn("cum", F.sum("w").over(wcum).cast("long"))
        .withColumn("tot", F.sum("w").over(wtot).cast("long"))
        .withColumn("n_items", F.sum("n").over(wtot).cast("long"))
        .where(2 * F.col("cum") >= F.col("tot"))
    )
    wpick = Window.partitionBy("p_brand").orderBy("qty_c")
    return (
        ranked.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(
            "p_brand",
            (F.col("qty_c").cast("double") / F.lit(100.0)).alias("w_median_qty"),
            F.col("tot").alias("total_weight_cents"),
            "n_items",
        )
        .orderBy("p_brand")
    )


SQL_WEIGHTED_MEDIAN_SQL = """
WITH grid AS (
  SELECT p.p_brand,
         CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand, CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT)
),
ranked AS (
  SELECT p_brand, qty_c,
         CAST(SUM(w) OVER (PARTITION BY p_brand ORDER BY qty_c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tot,
         CAST(SUM(n) OVER (PARTITION BY p_brand) AS BIGINT) AS n_items
  FROM grid
),
hit AS (
  SELECT p_brand, qty_c, tot, n_items,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY qty_c) AS rn
  FROM ranked WHERE 2 * cum >= tot
)
SELECT p_brand, CAST(qty_c AS DOUBLE) / 100.0 AS w_median_qty,
       tot AS total_weight_cents, n_items
FROM hit WHERE rn = 1
ORDER BY p_brand
"""


# ------------------------------------------------ link prediction


def sql_copurchase_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the frequent co-purchase graph: for part
    pairs NOT yet co-purchased (>= 2 orders) that share neighbors,
    score the top 50 candidates by ADAMIC-ADAR (common neighbors
    discounted by their degree), with the raw common-neighbor count
    and neighborhood Jaccard — the "customers also bought" candidate
    generator.

    Exactness: each neighbor's 1/ln(deg) contribution quantizes onto
    the 2^-20 grid before the int64 sum (deg >= 2 always — a common
    neighbor of two distinct nodes has two edges — so ln > 0); ranking
    and the LIMIT boundary order by the quantized integer with full
    tiebreaks.  Scale: candidates come from the wedge join (per-node
    fan-out deg^2, bounded by the edge-support threshold exactly like
    the triangle/k-core family); no all-pairs step exists.
    """
    from .relational import _copurchase_edges

    # _copurchase_edges is a session-cached eager checkpoint, so the
    # four consumers here (und/adj/deg + the final anti-join) all read
    # the same materialized blocks — no per-consumer re-expansion
    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    und = e.union(e.select(F.col("y"), F.col("x")))
    adj = und.select(F.col("x").alias("node"), F.col("y").alias("z"))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    a = adj.select(F.col("node").alias("a"), "z")
    b = adj.select(F.col("node").alias("b"), "z")
    term_q = half_up(F.lit(float(Q20)) / F.log(F.col("deg").cast("double")))
    scored = (
        a.join(b, "z")
        .where(F.col("a") < F.col("b"))
        .join(deg.select(F.col("node").alias("z"), "deg"), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(term_q).cast("long").alias("aa_q"),
        )
        .join(e, (F.col("a") == F.col("x")) & (F.col("b") == F.col("y")), "left_anti")
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    return (
        scored.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("cn").alias("common_neighbors"),
            (F.col("aa_q").cast("double") / F.lit(float(Q20))).alias(
                "adamic_adar"
            ),
            (
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")).cast("double")
            ).alias("jaccard"),
            F.col("aa_q"),
        )
        .orderBy(F.col("aa_q").desc(), F.col("common_neighbors").desc(), "node_a", "node_b")
        .limit(50)
        .drop("aa_q")
    )


def _sql_copurchase_linkpred_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE

    return (
        _COPURCHASE_EDGES_CTE
        + f""",
und AS MATERIALIZED (
  SELECT x, y FROM edges UNION ALL SELECT y AS x, x AS y FROM edges
),
deg AS MATERIALIZED (
  SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x
),
scored AS (
  SELECT a.x AS a, b.x AS b, CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(FLOOR({float(Q20)}
                / ln(CAST(d.deg AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT)
           AS aa_q
  FROM und a
  JOIN und b ON a.y = b.y AND a.x < b.x
  JOIN deg d ON d.node = a.y
  GROUP BY a.x, b.x
),
new_pairs AS (
  SELECT s.a, s.b, s.cn, s.aa_q FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.x = s.a AND e.y = s.b)
)
SELECT n.a AS node_a, n.b AS node_b, n.cn AS common_neighbors,
       CAST(n.aa_q AS DOUBLE) / {float(Q20)} AS adamic_adar,
       CAST(n.cn AS DOUBLE) / CAST(da.deg + db.deg - n.cn AS DOUBLE)
         AS jaccard
FROM new_pairs n
JOIN deg da ON da.node = n.a
JOIN deg db ON db.node = n.b
ORDER BY n.aa_q DESC, n.cn DESC, n.a, n.b
LIMIT 50
"""
    )


# ------------------------------------------------ cumulative hazard


def sql_ship_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard of the order -> first-ship delay
    (right-censored exactly like sql_ship_survival, relational.py:2265)
    plus the Fleming-Harrington survival exp(-H) — the additive
    companion the KM product curve: hazard increments are easier to
    compare across cohorts and the estimator is the one used for
    hazard-ratio eyeballing.

    Exactness: the subject/risk framing is IDENTICAL to the KM query
    (same integer exits / at-risk counts); H(t) folds the d/n step
    terms left-to-right in event-day order with + (the KM recipe with
    + instead of *), so both engines run the same IEEE sequence;
    exp(-H) is one final shared op (<= 1 ulp, tolerated continuous
    output).  Scale: data-sized work is one per-order min-shipdate agg
    shared with the KM query (relational._ship_risk_frame, shared-pass
    cached); the fold lives on the bounded delay-day domain.
    """
    from .relational import _ship_risk_frame

    risk = _ship_risk_frame(spark, sf_dir)
    steps = risk.where(F.col("d") > 0).select(
        "t_obs",
        "n_risk",
        "d",
        (F.col("d").cast("double") / F.col("n_risk").cast("double")).alias(
            "step"
        ),
    )
    # Sequential prefix SUM in one tiny task — the KM prefix-product
    # rewrite (relational.sql_ship_survival) with + instead of *:
    # np.cumsum applies acc = acc + s_t left-to-right, the identical
    # add sequence as the u<=t join + fold (0.0 + s_1 = s_1 exactly),
    # so every cum_hazard double is unchanged; the oracle keeps its
    # fold form.
    import numpy as np
    import pandas as pd

    def prefix_sum(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values("t_obs").reset_index(drop=True)
        yield pd.DataFrame(
            {
                "delay_days": pdf["t_obs"],
                "n_at_risk": pdf["n_risk"],
                "n_events": pdf["d"],
                "cum_hazard": np.cumsum(pdf["step"].to_numpy()),
            }
        )

    haz = steps.coalesce(1).mapInPandas(
        prefix_sum,
        "delay_days long, n_at_risk long, n_events long, cum_hazard double",
    )
    # libm exp twin on the day-domain-bounded frame: bit-matches the
    # oracle's exp (functions/libm.py; VERDICT r6 #5)
    from ..functions.libm import libm_exp

    return haz.select(
        "delay_days",
        "n_at_risk",
        "n_events",
        "cum_hazard",
        libm_exp(-F.col("cum_hazard")).alias("fh_survival"),
    )


SQL_SHIP_HAZARD_SQL = """
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
         CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS step
  FROM risk WHERE d > 0
),
haz AS (
  SELECT a.t_obs, a.n_risk, a.d,
         list_reduce(
           list_prepend(0.0, list(b.step ORDER BY b.t_obs)),
           (acc, x) -> acc + x) AS cum_hazard
  FROM steps a JOIN steps b ON b.t_obs <= a.t_obs
  GROUP BY a.t_obs, a.n_risk, a.d
)
SELECT t_obs AS delay_days, n_risk AS n_at_risk, d AS n_events,
       cum_hazard, exp(-cum_hazard) AS fh_survival
FROM haz
"""


# --------------------------------------------------------- Croston


def events_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD for intermittent demand, per event type: the
    spiky-series forecaster that smooths demand SIZE and demand
    INTERVAL separately (plain EWMA on a mostly-zero series collapses
    toward zero between spikes).  Demand days are days whose count of
    near-peak events (value cents >= 90% of the type's max, an integer
    threshold) is positive.

    Exactness: the two-state fold runs over the ordered demand days
    with alpha = 0.125 (exact binary); the first demand day IS the
    initial state (DuckDB list_reduce's no-init convention, mirrored in
    Spark by folding slice(2..) from element 1), so both engines run
    the identical IEEE sequence — bit-exact, no quantization.  Scale:
    one data-sized filter+agg to (type, day); the fold is
    calendar-bounded (the EWMA/Holt cost contract).
    """
    ev = _ev_cents_day(spark, sf_dir)
    thr = ev.groupBy("event_type").agg(
        F.expr("(9 * max(c)) div 10").cast("long").alias("thr")
    )
    daily = (
        ev.join(F.broadcast(thr), "event_type")
        .where(F.col("c") >= F.col("thr"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("dem"))
    )
    base = daily.groupBy("event_type").agg(F.min("d").cast("long").alias("d0"))
    pts = daily.join(F.broadcast(base), "event_type")
    w = Window.partitionBy("event_type").orderBy("d")
    gapped = pts.select(
        "event_type",
        "d",
        "dem",
        F.coalesce(
            (F.col("d") - F.lag("d").over(w)).cast("double"), F.lit(1.0)
        ).alias("gap"),
    )
    # element = [demand_size, interval]; fold starts AT element 1
    folded = gapped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_demand_days"),
        F.aggregate(
            F.expr(
                "slice(transform(array_sort(collect_list(struct(d as k, "
                "array(cast(dem as double), gap) as v))), p -> p.v), 2, "
                "greatest(size(collect_list(d)) - 1, 0))"
            ),
            F.expr(
                "element_at(transform(array_sort(collect_list(struct(d as k, "
                "array(cast(dem as double), gap) as v))), p -> p.v), 1)"
            ),
            lambda acc, x: F.array(
                acc[0] + F.lit(0.125) * (x[0] - acc[0]),
                acc[1] + F.lit(0.125) * (x[1] - acc[1]),
            ),
        ).alias("zx"),
    )
    return folded.select(
        "event_type",
        "n_demand_days",
        F.col("zx")[0].alias("smoothed_size"),
        F.col("zx")[1].alias("smoothed_interval"),
        (F.col("zx")[0] / F.col("zx")[1]).alias("demand_per_day"),
    ).orderBy("event_type")


EVENTS_CROSTON_SQL = f"""
WITH ev AS MATERIALIZED ({_EV_CENTS_DAY}),
thr AS (SELECT event_type, (9 * MAX(c)) // 10 AS thr
        FROM ev GROUP BY event_type),
daily AS (
  SELECT e.event_type, e.d, CAST(COUNT(*) AS BIGINT) AS dem
  FROM ev e JOIN thr t ON t.event_type = e.event_type
  WHERE e.c >= t.thr
  GROUP BY e.event_type, e.d
),
gapped AS (
  SELECT event_type, d, dem,
         COALESCE(CAST(d - LAG(d) OVER (PARTITION BY event_type ORDER BY d)
                       AS DOUBLE), 1.0) AS gap
  FROM daily
),
folded AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_demand_days,
         list_reduce(
           list_transform(
             list({{'a': CAST(dem AS DOUBLE), 'b': gap}} ORDER BY d),
             p -> [p.a, p.b]),
           (acc, x) -> [acc[1] + 0.125 * (x[1] - acc[1]),
                        acc[2] + 0.125 * (x[2] - acc[2])]) AS zx
  FROM gapped GROUP BY event_type
)
SELECT event_type, n_demand_days,
       zx[1] AS smoothed_size,
       zx[2] AS smoothed_interval,
       zx[1] / zx[2] AS demand_per_day
FROM folded
ORDER BY event_type
"""


# ------------------------------------------- interval-union coverage


def events_session_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-UNION coverage per user: each event opens a 300-second
    activity window; overlapping windows merge (the classic sweep-line
    union, distributed as a per-user gaps-and-islands window) and the
    query reports burst count, union-covered seconds, span, and the
    covered share — the "how continuous is this user's activity"
    operator behind billing meters and bot screens.

    Exactness: timestamps truncate to integer epoch seconds on both
    engines (Spark timestamp->long cast == DuckDB floor(epoch())); all
    island arithmetic is int64; the coverage share is one final
    division.  Scale: one hash exchange on user_id, then linear windows
    — no self-join; island ids come from a running sum of break flags.
    """
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    brk = F.when(
        F.lag("s").over(w).isNull() | (F.col("s") - F.lag("s").over(w) > 300),
        F.lit(1),
    ).otherwise(F.lit(0))
    isl = pts.withColumn(
        "island",
        F.sum(brk).over(
            Window.partitionBy("user_id")
            .orderBy("s", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_island = isl.groupBy("user_id", "island").agg(
        F.min("s").cast("long").alias("lo"),
        F.max("s").cast("long").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_bursts"),
            F.sum(F.col("hi") - F.col("lo") + 300).cast("long").alias(
                "covered_seconds"
            ),
            (F.max("hi") - F.min("lo") + 300).cast("long").alias("span_seconds"),
        )
        .withColumn(
            "covered_share",
            F.col("covered_seconds").cast("double")
            / F.col("span_seconds").cast("double"),
        )
        .orderBy("user_id")
    )


EVENTS_SESSION_COVERAGE_SQL = """
WITH pts AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_id
  FROM events
),
flagged AS (
  SELECT user_id, s, event_id,
         CASE WHEN LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
                   IS NULL
               OR s - LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id)
                   > 300
              THEN 1 ELSE 0 END AS brk
  FROM pts
),
islands AS (
  SELECT user_id, s,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
),
per_island AS (
  SELECT user_id, island, CAST(MIN(s) AS BIGINT) AS lo,
         CAST(MAX(s) AS BIGINT) AS hi, CAST(COUNT(*) AS BIGINT) AS n
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_bursts,
       CAST(SUM(hi - lo + 300) AS BIGINT) AS covered_seconds,
       CAST(MAX(hi) - MIN(lo) + 300 AS BIGINT) AS span_seconds,
       CAST(CAST(SUM(hi - lo + 300) AS BIGINT) AS DOUBLE)
         / CAST(CAST(MAX(hi) - MIN(lo) + 300 AS BIGINT) AS DOUBLE)
         AS covered_share
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


# ------------------------------------------------------ Heaps' law


def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit per language: regress ln(vocabulary size) on
    ln(token count) across documents — the vocabulary-growth exponent
    (beta ~ 0.5 for natural text) that flags template/boilerplate
    corpora (low beta) before they poison a training mix.

    Exactness: token counts and distinct-token counts are exact
    integers with the repo's shared whitespace tokenizer; each ln
    quantizes onto the 2^-10 grid (coarse enough that n*sxx products
    stay far under 2^53) and the OLS closed form then runs on int64
    sufficient statistics in the trend_ols op order.  Scale: one
    narrow map over documents, one tiny per-language agg.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    vocab = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), "\\s+"))
    grid = float(1 << 10)
    pts = d.where(F.col("n_chars") > 0).select(
        "lang",
        on_grid(F.log(F.size(toks).cast("double")), grid).alias("x"),
        on_grid(F.log(F.size(vocab).cast("double")), grid).alias("y"),
    )
    agg = pts.groupBy("lang").agg(
        *moments("n", sx="x", sxx=("x", "x"), sy="y", syy=("y", "y"), sxy=("x", "y")),
    )
    beta, r2 = ols()
    return agg.select(
        "lang",
        F.col("n").alias("n_docs"),
        beta.alias("heaps_beta"),
        r2.alias("r2"),
    ).orderBy("lang")


TEXT_HEAPS_SQL = """
WITH pts AS (
  SELECT lang,
         CAST(FLOOR(ln(CAST(len(string_split_regex(trim(text), '\\s+'))
                            AS DOUBLE)) * 1024.0 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(len(list_distinct(
                  string_split_regex(lower(trim(text)), '\\s+')))
                            AS DOUBLE)) * 1024.0 + 0.5) AS BIGINT) AS y
  FROM documents WHERE n_chars > 0
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY lang
)
SELECT lang, n AS n_docs,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) END AS heaps_beta,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         * CAST(n * sxy - sx * sy AS DOUBLE)
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
FROM agg
ORDER BY lang
"""


# ------------------------------------------------------ SPC control


def events_spc_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHEWHART CONTROL CHART on daily arrival counts per event type:
    flag days outside the 3-sigma band around the per-type mean — the
    classic SPC gate (and the reference's fixed-threshold detection
    generalized to a learned band; AD.java:200 hardcodes its limits).

    Exactness: the out-of-control decision is pure integer algebra —
    (x - S/n)^2 > 9 * (nQ - S^2)/n^2  <=>  (n*x - S)^2 > 9*(nQ - S^2)
    with daily counts x and int64 power sums S, Q (all products far
    under 2^53 on the calendar-bounded frame); z is one shared float
    expression for reporting only.  Scale: one data-sized hash agg to
    (type, day); the chart lives on the bounded day frame.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    stats = daily.groupBy("event_type").agg(
        *moments("n", s="cnt", q=("cnt", "cnt")),
    )
    dev = F.col("n") * F.col("cnt") - F.col("s")
    var_n2 = centered("n", "q", "s", "s")  # n^2 * var
    z = F.when(
        var_n2 > 0,
        dev.cast("double") / F.sqrt(var_n2.cast("double")),
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "d",
            "cnt",
            (dev * dev > 9 * var_n2).alias("beyond_3sigma"),
            z.alias("z"),
        )
        .orderBy("event_type", "d")
    )


EVENTS_SPC_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cnt) AS BIGINT) AS s,
         CAST(SUM(cnt * cnt) AS BIGINT) AS q
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.d, d.cnt,
       (st.n * d.cnt - st.s) * (st.n * d.cnt - st.s)
         > 9 * (st.n * st.q - st.s * st.s) AS beyond_3sigma,
       CASE WHEN st.n * st.q - st.s * st.s > 0 THEN
         CAST(st.n * d.cnt - st.s AS DOUBLE)
         / sqrt(CAST(st.n * st.q - st.s * st.s AS DOUBLE)) END AS z
FROM daily d JOIN stats st ON st.event_type = d.event_type
ORDER BY d.event_type, d.d
"""


# ------------------------------------------------- winsorized mean


def events_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED MEAN (5%/95%) of event values per type: clamp the
    tails to the exact order statistics instead of dropping them (the
    trimmed-mean sibling; keeps n constant so types stay comparable).

    Exactness: the p5/p95 cut points are SELECTED order statistics —
    the smallest cents value whose cumulative count reaches
    k = ceil(p*n), computed on the domain-bounded distinct-cents frame
    (the equi-depth recipe); clamping and the final sum are int64, one
    division at the end.  Scale: one data-sized hash agg to the cents
    grid, windows over the bounded grid, one broadcast of the cut
    points back onto the grid.
    """
    ev = _ev_cents_day(spark, sf_dir)
    grid = ev.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("event_type")
    cum = (
        grid.withColumn("cum", F.sum("cnt").over(w).cast("long"))
        .withColumn("n", F.sum("cnt").over(tot).cast("long"))
    )
    # k_lo = ceil(0.05 n), k_hi = ceil(0.95 n): first cents with cum >= k
    lo = (
        cum.where(F.col("cum") * 100 >= F.col("n") * 5)
        .groupBy("event_type")
        .agg(F.min("c").cast("long").alias("lo"))
    )
    hi = (
        cum.where(F.col("cum") * 100 >= F.col("n") * 95)
        .groupBy("event_type")
        .agg(F.min("c").cast("long").alias("hi"))
    )
    clamped = (
        grid.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_type",
            "cnt",
            F.greatest(F.least(F.col("c"), F.col("hi")), F.col("lo")).alias("cc"),
            "lo",
            "hi",
        )
    )
    return (
        clamped.groupBy("event_type", "lo", "hi")
        .agg(
            *moments(None, n="cnt", sc=("cc", "cnt")),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            (F.col("lo").cast("double") / 100.0).alias("p5_value"),
            (F.col("hi").cast("double") / 100.0).alias("p95_value"),
            (
                F.col("sc").cast("double")
                / F.col("n").cast("double")
                / F.lit(100.0)
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


EVENTS_WINSORIZED_SQL = f"""
WITH ev AS MATERIALIZED ({_EV_CENTS_DAY}),
grid AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM grid
),
lo AS (SELECT event_type, CAST(MIN(c) AS BIGINT) AS lo
       FROM cum WHERE cum * 100 >= n * 5 GROUP BY event_type),
hi AS (SELECT event_type, CAST(MIN(c) AS BIGINT) AS hi
       FROM cum WHERE cum * 100 >= n * 95 GROUP BY event_type),
clamped AS (
  SELECT g.event_type, g.cnt, l.lo, h.hi,
         GREATEST(LEAST(g.c, h.hi), l.lo) AS cc
  FROM grid g
  JOIN lo l ON l.event_type = g.event_type
  JOIN hi h ON h.event_type = g.event_type
)
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(lo AS DOUBLE) / 100.0 AS p5_value,
       CAST(hi AS DOUBLE) / 100.0 AS p95_value,
       CAST(CAST(SUM(cc * cnt) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) / 100.0
         AS winsorized_mean
FROM clamped
GROUP BY event_type, lo, hi
ORDER BY event_type
"""


# ------------------------------------------------------- peak days


def events_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-PEAK DETECTION on the daily volume series per event type:
    days strictly above both calendar neighbors, reported with their
    prominence (excess over the taller neighbor) — the "what spiked"
    report that follows any drift alarm.  Pure integer lag/lead
    comparisons on exact daily counts; boundary days cannot qualify
    (NULL neighbor).  Scale: one data-sized agg, then per-type lag/lead
    windows on the calendar-bounded frame.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("d")
    with_nb = daily.select(
        "event_type",
        "d",
        "cnt",
        F.lag("cnt").over(w).alias("prev"),
        F.lead("cnt").over(w).alias("nxt"),
    )
    return (
        with_nb.where(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("cnt") > F.col("prev"))
            & (F.col("cnt") > F.col("nxt"))
        )
        .select(
            "event_type",
            "d",
            "cnt",
            (F.col("cnt") - F.greatest("prev", "nxt")).cast("long").alias(
                "prominence"
            ),
        )
        .orderBy("event_type", "d")
    )


EVENTS_PEAKS_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
nb AS (
  SELECT event_type, d, cnt,
         LAG(cnt) OVER (PARTITION BY event_type ORDER BY d) AS prev,
         LEAD(cnt) OVER (PARTITION BY event_type ORDER BY d) AS nxt
  FROM daily
)
SELECT event_type, d, cnt,
       CAST(cnt - GREATEST(prev, nxt) AS BIGINT) AS prominence
FROM nb
WHERE prev IS NOT NULL AND nxt IS NOT NULL AND cnt > prev AND cnt > nxt
ORDER BY event_type, d
"""


# -------------------------------------------------- token coverage


def corpus_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE: what share of all corpus tokens the
    top-k vocabulary words cover, for k in (100, 1000, 10000) — the
    tokenizer-budget sizing curve (complements the Zipf fit and the
    Heaps exponent).  Exactness: token counts are exact int64s with
    the shared whitespace tokenizer; ranking orders by (count DESC,
    token ASC) so rank boundaries are deterministic; shares are one
    final division.  Scale: the data-sized stage is the token count
    agg (map-side combinable); the ranking window runs over the VOCAB
    frame only — the equi-depth contract — and collapses to three rows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.col("n_chars") > 0).select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    ranked = counts.withColumn("rn", F.row_number().over(w))
    tot = counts.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    ks = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(100), F.lit(1000), F.lit(10000)), (F.col("id") + 1).cast("int")
        ).cast("long").alias("k")
    )
    cov = (
        ks.join(ranked, F.col("rn") <= F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "vocab_size",
            "covered",
            (F.col("covered").cast("double") / F.col("n_tokens").cast("double"))
            .alias("coverage_share"),
        )
        .orderBy("k")
    )


CORPUS_TOKEN_COVERAGE_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE n_chars > 0
),
counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rn
  FROM counts
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM counts
),
ks AS (SELECT CAST(k AS BIGINT) AS k
       FROM (VALUES (100), (1000), (10000)) v(k)),
cov AS (
  SELECT ks.k,
         CAST(COALESCE(SUM(r.cnt), 0) AS BIGINT) AS covered
  FROM ks LEFT JOIN ranked r ON r.rn <= ks.k
  GROUP BY ks.k
)
SELECT c.k, t.vocab_size, c.covered,
       CAST(c.covered AS DOUBLE) / CAST(t.n_tokens AS DOUBLE)
         AS coverage_share
FROM cov c CROSS JOIN tot t
ORDER BY c.k
"""


# -------------------------------------------- spend-tier migration


def sql_spend_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOMER SPEND-TIER MIGRATION matrix: classify every customer's
    order spend in the first and second halves of the calendar against
    the FIRST-half median spend (0 = inactive, 1 = at-or-below median,
    2 = above), and count customers per (from_tier, to_tier) cell —
    the churn / upsell flow report.

    Exactness: the half split is the integer day midpoint; per-half
    spends are cent int64s; the median threshold is a SELECTED order
    statistic (first distinct spend whose doubled cumulative count
    reaches the active-customer total); tier assignment and the matrix
    are integer comparisons and counts.  Scale: one orders-sized agg
    per half, the median selection on the distinct-spend frame, one
    broadcast scalar back.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        cents("o_totalprice").alias("pc"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )
    md = base.agg(F.expr("(min(d) + max(d) + 1) div 2").cast("long").alias("md"))
    spend = (
        base.crossJoin(F.broadcast(md))
        .withColumn("half", F.when(F.col("d") < F.col("md"), 0).otherwise(1))
        .groupBy("o_custkey", "half")
        .agg(F.sum("pc").cast("long").alias("spend"))
    )
    first = spend.where(F.col("half") == 0).select("o_custkey", "spend")
    # median of first-half spends over ACTIVE first-half customers
    sgrid = first.groupBy("spend").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = Window.orderBy("spend").rowsBetween(Window.unboundedPreceding, 0)
    thr = (
        sgrid.withColumn("cum", F.sum("cnt").over(wc).cast("long"))
        .crossJoin(
            F.broadcast(first.agg(F.count(F.lit(1)).cast("long").alias("na")))
        )
        .where(2 * F.col("cum") >= F.col("na"))
        .agg(F.min("spend").cast("long").alias("med"))
    )
    halves = (
        spend.groupBy("o_custkey")
        .pivot("half", [0, 1])
        .agg(F.first("spend"))
        .select(
            "o_custkey",
            F.coalesce(F.col("0"), F.lit(0)).cast("long").alias("s0"),
            F.coalesce(F.col("1"), F.lit(0)).cast("long").alias("s1"),
        )
    )
    tier = lambda c: (
        F.when(F.col(c) == 0, 0)
        .when(F.col(c) <= F.col("med"), 1)
        .otherwise(2)
    )
    return (
        halves.crossJoin(F.broadcast(thr))
        .select(tier("s0").alias("from_tier"), tier("s1").alias("to_tier"))
        .groupBy("from_tier", "to_tier")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("from_tier", "to_tier")
    )


SQL_TIER_MIGRATION_SQL = """
WITH base AS MATERIALIZED (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
),
md AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS md FROM base),
spend AS MATERIALIZED (
  SELECT o_custkey, CASE WHEN d < md.md THEN 0 ELSE 1 END AS half,
         CAST(SUM(pc) AS BIGINT) AS spend
  FROM base CROSS JOIN md
  GROUP BY o_custkey, CASE WHEN d < md.md THEN 0 ELSE 1 END
),
first AS MATERIALIZED (SELECT o_custkey, spend FROM spend WHERE half = 0),
sgrid AS (
  SELECT spend, CAST(COUNT(*) AS BIGINT) AS cnt FROM first GROUP BY spend
),
na AS (SELECT CAST(COUNT(*) AS BIGINT) AS na FROM first),
thr AS (
  SELECT CAST(MIN(spend) AS BIGINT) AS med
  FROM (SELECT spend,
               CAST(SUM(cnt) OVER (ORDER BY spend
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM sgrid) c CROSS JOIN na
  WHERE 2 * c.cum >= na.na
),
halves AS (
  SELECT o_custkey,
         CAST(COALESCE(MAX(CASE WHEN half = 0 THEN spend END), 0) AS BIGINT)
           AS s0,
         CAST(COALESCE(MAX(CASE WHEN half = 1 THEN spend END), 0) AS BIGINT)
           AS s1
  FROM spend GROUP BY o_custkey
)
SELECT CASE WHEN s0 = 0 THEN 0 WHEN s0 <= thr.med THEN 1 ELSE 2 END
         AS from_tier,
       CASE WHEN s1 = 0 THEN 0 WHEN s1 <= thr.med THEN 1 ELSE 2 END
         AS to_tier,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM halves CROSS JOIN thr
GROUP BY 1, 2
ORDER BY from_tier, to_tier
"""


# --------------------------------------------- rapid reorders


def sql_rapid_reorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAPID-REORDER audit: order pairs from the same customer placed
    within 7 days of each other, with the cent-exact amount delta and
    an exact-duplicate flag — the double-billing / split-shipment
    screen.  The self-join is blocked on the customer equi-key (pair
    count per customer is C(orders, 2) gated by the 7-day band — the
    bounded-interval-join shape, never all-pairs across customers);
    every output column is integer arithmetic on cents and day
    indexes, and the sort carries a full tiebreak.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("ok"),
        cents("o_totalprice").alias("pc"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )
    a = base.select(
        "o_custkey", F.col("ok").alias("ok_a"), F.col("pc").alias("pa"),
        F.col("d").alias("da"),
    )
    b = base.select(
        "o_custkey", F.col("ok").alias("ok_b"), F.col("pc").alias("pb"),
        F.col("d").alias("db"),
    )
    return (
        a.join(b, "o_custkey")
        .where(
            (F.col("ok_a") < F.col("ok_b"))
            & (F.abs(F.col("da") - F.col("db")) <= 7)
        )
        .select(
            "o_custkey",
            "ok_a",
            "ok_b",
            F.abs(F.col("da") - F.col("db")).cast("long").alias("day_gap"),
            F.abs(F.col("pa") - F.col("pb")).cast("long").alias(
                "amount_delta_cents"
            ),
            (F.col("pa") == F.col("pb")).alias("exact_duplicate"),
        )
        .orderBy("o_custkey", "ok_a", "ok_b")
    )


SQL_RAPID_REORDERS_SQL = """
WITH base AS MATERIALIZED (
  SELECT o_custkey, o_orderkey AS ok,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS pc,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
)
SELECT a.o_custkey, a.ok AS ok_a, b.ok AS ok_b,
       CAST(abs(a.d - b.d) AS BIGINT) AS day_gap,
       CAST(abs(a.pc - b.pc) AS BIGINT) AS amount_delta_cents,
       a.pc = b.pc AS exact_duplicate
FROM base a
JOIN base b ON a.o_custkey = b.o_custkey AND a.ok < b.ok
WHERE abs(a.d - b.d) <= 7
ORDER BY a.o_custkey, ok_a, ok_b
"""


# -------------------------------------------- embedding dim audit


def simsearch_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DIMENSION AUDIT: per-component mean / variance /
    range and a constant-dimension flag over the embedding corpus —
    the "dead dims" screen run before training an ANN index or a
    projection (a constant dimension carries no information and
    degrades PQ codebooks).

    Exactness: components quantize onto the 2^-20 grid once (the
    label_centroids recipe, simsearch.py:526); sums/min/max are int64;
    mean and variance are shared float expressions over exact integer
    inputs (variance as sqq/n - (sq/n)^2 keeps every operand far under
    2^53 regardless of corpus size); the constant flag compares int64
    min == max.  Scale: posexplode is a narrow x-dim map; ONE hash agg
    on idx — 64 output rows whatever N is.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode(F.col("embedding")).alias("idx", "v")
    ).select(
        F.col("idx").cast("long").alias("idx"),
        on_grid(F.col("v").cast("double"), float(Q20)).alias("q"),
    )
    agg = ex.groupBy("idx").agg(
        *moments("n", sq="q", sqq=("q", "q")),
        F.min("q").cast("long").alias("mn"),
        F.max("q").cast("long").alias("mx"),
    )
    nd = F.col("n").cast("double")
    mean_q = F.col("sq").cast("double") / nd
    var_q = F.col("sqq").cast("double") / nd - mean_q * mean_q
    return agg.select(
        "idx",
        F.col("n").alias("n_vecs"),
        (mean_q / F.lit(float(Q20))).alias("mean"),
        (var_q / F.lit(float(Q20 * Q20))).alias("variance"),
        (F.col("mn").cast("double") / F.lit(float(Q20))).alias("min_v"),
        (F.col("mx").cast("double") / F.lit(float(Q20))).alias("max_v"),
        (F.col("mn") == F.col("mx")).alias("constant_dim"),
    ).orderBy("idx")


SIMSEARCH_DIM_AUDIT_SQL = """
WITH ex AS (
  SELECT CAST(u.i - 1 AS BIGINT) AS idx,
         CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * 1048576.0 + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, UNNEST(generate_series(1, 64)) AS u(i)
),
agg AS (
  SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sqq,
         CAST(MIN(q) AS BIGINT) AS mn,
         CAST(MAX(q) AS BIGINT) AS mx
  FROM ex GROUP BY idx
)
SELECT idx, n AS n_vecs,
       (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / 1048576.0 AS mean,
       (CAST(sqq AS DOUBLE) / CAST(n AS DOUBLE)
        - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)))
         / 1099511627776.0 AS variance,
       CAST(mn AS DOUBLE) / 1048576.0 AS min_v,
       CAST(mx AS DOUBLE) / 1048576.0 AS max_v,
       mn = mx AS constant_dim
FROM agg
ORDER BY idx
"""


# ---------------------------------------------- assortativity


def sql_copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the frequent co-purchase graph: the
    Pearson correlation of endpoint degrees over directed edge stubs —
    one number telling whether popular parts co-sell with popular
    parts (assortative > 0) or act as hubs for the long tail
    (disassortative < 0); the standard graph-health diagnostic next to
    the triangle count.

    Exactness: degrees are exact int64; all five power sums over the
    stub list are int64; the correlation is the hourly_corr op order
    (den = sqrt(a)*sqrt(b), never sqrt(a*b)).  Scale: one degree agg +
    one broadcast of the degree map onto edges; sums are map-side
    combinable; a single scalar row comes out.
    """
    from .relational import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    und = e.union(e.select(F.col("y"), F.col("x")))
    deg = und.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    stubs = (
        und.join(deg.select(F.col("x"), F.col("deg").alias("dx")), "x")
        .join(
            deg.select(F.col("x").alias("y"), F.col("deg").alias("dy")), "y"
        )
        .select("dx", "dy")
    )
    agg = stubs.agg(
        *moments(
            "m", sx="dx", sy="dy", sxx=("dx", "dx"), syy=("dy", "dy"), sxy=("dx", "dy"),
        ),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    r = pearson(n="m")
    return agg.crossJoin(F.broadcast(nodes)).select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        "n_nodes",
        r.alias("assortativity"),
    )


def _sql_copurchase_assortativity_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE

    return (
        _COPURCHASE_EDGES_CTE
        + """,
und AS MATERIALIZED (
  SELECT x, y FROM edges UNION ALL SELECT y AS x, x AS y FROM edges
),
deg AS MATERIALIZED (
  SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY x
),
stubs AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM und u JOIN deg da ON da.node = u.x JOIN deg db ON db.node = u.y
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM stubs
),
nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT CAST(m / 2 AS BIGINT) AS n_edges, nodes.n_nodes,
       CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(m * syy - sy * sy AS DOUBLE) > 0 THEN
         CAST(m * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) END AS assortativity
FROM agg CROSS JOIN nodes
"""
    )


# ------------------------------------------- lexical diversity


def corpus_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY rollup per language: mean type-token ratio and
    mean repeated-token probability (Simpson's index over tokens) —
    the complementary pair behind boilerplate detection: low TTR and
    high repeat-probability both flag templated text before it skews a
    training mix.

    Exactness: per-doc T (tokens), V (types) and rep = sum c(c-1) are
    exact int64s from the shared whitespace tokenizer; each per-doc
    ratio quantizes onto the 2^-20 grid BEFORE the per-language mean
    (the user-entropy lesson — the reduction must be int64), and the
    mean is one final division.  Scale: token counting is the only
    data-sized stage (hash agg on (doc, token)); everything after is
    doc-sized then language-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.where(F.col("n_chars") > 0).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("tok"),
    )
    tc = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_doc = tc.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("rep"),
    )
    ttr_q = on_grid(F.col("v").cast("double") / F.col("t").cast("double"), float(Q20))
    rep_q = F.when(
        F.col("t") > 1,
        on_grid(
            F.col("rep").cast("double")
            / (F.col("t") * (F.col("t") - 1)).cast("double"),
            float(Q20),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        per_doc.select("lang", ttr_q.alias("ttr_q"), rep_q.alias("rep_q"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ttr_q").cast("long").alias("sttr"),
            F.sum("rep_q").cast("long").alias("srep"),
        )
        .select(
            "lang",
            "n_docs",
            (
                F.col("sttr").cast("double")
                / F.col("n_docs").cast("double")
                / F.lit(float(Q20))
            ).alias("mean_ttr"),
            (
                F.col("srep").cast("double")
                / F.col("n_docs").cast("double")
                / F.lit(float(Q20))
            ).alias("mean_repeat_prob"),
        )
        .orderBy("lang")
    )


CORPUS_LEXDIV_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE n_chars > 0
),
tc AS (
  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, lang, tok
),
per_doc AS (
  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS rep
  FROM tc GROUP BY doc_id, lang
),
q AS (
  SELECT lang,
         CAST(FLOOR(CAST(v AS DOUBLE) / CAST(t AS DOUBLE)
              * 1048576.0 + 0.5) AS BIGINT) AS ttr_q,
         CASE WHEN t > 1 THEN
           CAST(FLOOR(CAST(rep AS DOUBLE) / CAST(t * (t - 1) AS DOUBLE)
                * 1048576.0 + 0.5) AS BIGINT)
         ELSE 0 END AS rep_q
  FROM per_doc
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(CAST(SUM(ttr_q) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / 1048576.0 AS mean_ttr,
       CAST(CAST(SUM(rep_q) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / 1048576.0 AS mean_repeat_prob
FROM q
GROUP BY lang
ORDER BY lang
"""


# -------------------------------------------------- lagged CCF


def events_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-CORRELATION FUNCTION between the click and purchase daily
    series at lags -7..+7 — the lead/lag discovery tool ("do purchases
    follow clicks by two days?") behind the single-lag hourly_corr
    matrix.  Zero days are real: n at lag L is the calendar span minus
    |L| (a scalar), and absent cells contribute nothing to any sum, so
    only non-zero cells materialize (the hourly_corr contract).  All
    five power sums per lag are int64 over window-filtered cells; the
    correlation is the shared sqrt(a)*sqrt(b) op order.  Scale: one
    data-sized agg to (type, day); the lag frame is 15 x days cells.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.where(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    span = e.agg(
        F.min(F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
        .cast("long")
        .alias("dmin"),
        F.max(F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
        .cast("long")
        .alias("dmax"),
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("long").alias("lag"))
    a = daily.where(F.col("event_type") == "click").select(
        F.col("d").alias("da"), F.col("cnt").alias("ca")
    )
    b = daily.where(F.col("event_type") == "purchase").select(
        F.col("d").alias("db"), F.col("cnt").alias("cb")
    )
    # window for lag L: a-days d in [max(dmin, dmin-L), min(dmax, dmax-L)]
    win = lags.crossJoin(F.broadcast(span)).select(
        "lag",
        F.greatest(F.col("dmin"), F.col("dmin") - F.col("lag")).alias("wlo"),
        F.least(F.col("dmax"), F.col("dmax") - F.col("lag")).alias("whi"),
        (F.col("dmax") - F.col("dmin") + 1 - F.abs(F.col("lag"))).alias("n"),
    )
    sa = (
        win.join(
            F.broadcast(a),
            (F.col("da") >= F.col("wlo")) & (F.col("da") <= F.col("whi")),
            "left",
        )
        .groupBy("lag", "n")
        .agg(
            F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("sx"),
            F.coalesce(F.sum(F.col("ca") * F.col("ca")), F.lit(0))
            .cast("long")
            .alias("sxx"),
        )
    )
    sb = (
        win.join(
            F.broadcast(b),
            (F.col("db") >= F.col("wlo") + F.col("lag"))
            & (F.col("db") <= F.col("whi") + F.col("lag")),
            "left",
        )
        .groupBy("lag")
        .agg(
            F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("sy"),
            F.coalesce(F.sum(F.col("cb") * F.col("cb")), F.lit(0))
            .cast("long")
            .alias("syy"),
        )
    )
    sxy = (
        lags.join(F.broadcast(a), F.lit(True))
        .join(
            F.broadcast(b), F.col("db") == F.col("da") + F.col("lag")
        )
        .groupBy("lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("sxy0"))
    )
    j = (
        sa.join(F.broadcast(sb), "lag")
        .join(F.broadcast(sxy), "lag", "left")
        .withColumn("sxy", F.coalesce(F.col("sxy0"), F.lit(0).cast("long")))
    )
    r = pearson()
    return j.select(
        "lag", F.col("n").alias("n_days"), r.alias("ccf")
    ).orderBy("lag")


EVENTS_CCF_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY event_type, CAST(ts AS DATE)
),
span AS (
  SELECT CAST(MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) AS dmin,
         CAST(MAX(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) AS dmax
  FROM events
),
lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag),
win AS (
  SELECT lag,
         GREATEST(dmin, dmin - lag) AS wlo,
         LEAST(dmax, dmax - lag) AS whi,
         dmax - dmin + 1 - abs(lag) AS n
  FROM lags CROSS JOIN span
),
a AS (SELECT d AS da, cnt AS ca FROM daily WHERE event_type = 'click'),
b AS (SELECT d AS db, cnt AS cb FROM daily WHERE event_type = 'purchase'),
sa AS (
  SELECT w.lag, w.n,
         CAST(COALESCE(SUM(a.ca), 0) AS BIGINT) AS sx,
         CAST(COALESCE(SUM(a.ca * a.ca), 0) AS BIGINT) AS sxx
  FROM win w LEFT JOIN a ON a.da >= w.wlo AND a.da <= w.whi
  GROUP BY w.lag, w.n
),
sb AS (
  SELECT w.lag,
         CAST(COALESCE(SUM(b.cb), 0) AS BIGINT) AS sy,
         CAST(COALESCE(SUM(b.cb * b.cb), 0) AS BIGINT) AS syy
  FROM win w LEFT JOIN b ON b.db >= w.wlo + w.lag AND b.db <= w.whi + w.lag
  GROUP BY w.lag
),
sxy AS (
  SELECT l.lag, CAST(SUM(a.ca * b.cb) AS BIGINT) AS sxy0
  FROM lags l JOIN a ON TRUE JOIN b ON b.db = a.da + l.lag
  GROUP BY l.lag
)
SELECT sa.lag, sa.n AS n_days,
       CASE WHEN CAST(sa.n * sa.sxx - sa.sx * sa.sx AS DOUBLE) > 0
             AND CAST(sa.n * sb.syy - sb.sy * sb.sy AS DOUBLE) > 0 THEN
         CAST(sa.n * COALESCE(x.sxy0, 0) - sa.sx * sb.sy AS DOUBLE)
         / (sqrt(CAST(sa.n * sa.sxx - sa.sx * sa.sx AS DOUBLE))
            * sqrt(CAST(sa.n * sb.syy - sb.sy * sb.sy AS DOUBLE))) END AS ccf
FROM sa JOIN sb ON sb.lag = sa.lag
LEFT JOIN sxy x ON x.lag = sa.lag
ORDER BY sa.lag
"""


# ------------------------------------------- interpolated deciles


def events_quantile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-7 INTERPOLATED DECILES of event values per type — the
    numpy/pandas-default quantile definition (linear interpolation
    between order statistics), complementing the exact-boundary
    equi-depth operator.  Exactness: h = (n-1)k/10 splits into integer
    rank j = h div 10-ths and an integer remainder; both bracketing
    order statistics are SELECTED on the distinct-cents frame; the
    interpolated value (x_j*(10-rem) + x_{j+1}*rem)/10 is exact
    integer arithmetic until one final division.  Scale: data-sized
    hash agg onto the cents grid, windows on the bounded grid, a
    21-row-per-type rank frame joined back with min-selection.
    """
    ev = _ev_cents_day(spark, sf_dir)
    grid = ev.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = Window.partitionBy("event_type").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    ns = grid.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    ks = spark.range(0, 11).select(F.col("id").cast("long").alias("k"))
    # 0-based h = (n-1)*k/10 -> j = h div 1, rem = (n-1)*k mod 10
    ranks = (
        ns.crossJoin(F.broadcast(ks))
        .select(
            "event_type",
            "k",
            "n",
            F.expr("((n - 1) * k) div 10").alias("j"),
            F.expr("((n - 1) * k) % 10").alias("rem"),
        )
        .select(
            "event_type",
            "k",
            "n",
            "rem",
            (F.col("j") + 1).alias("r1"),
            F.least(F.col("j") + 2, F.col("n")).alias("r2"),
        )
    )
    x1 = (
        F.broadcast(ranks).join(cum, "event_type")
        .where(F.col("cum") >= F.col("r1"))
        .groupBy("event_type", "k", "rem")
        .agg(F.min("c").cast("long").alias("x1"))
    )
    x2 = (
        F.broadcast(ranks).join(cum, "event_type")
        .where(F.col("cum") >= F.col("r2"))
        .groupBy("event_type", "k")
        .agg(F.min("c").cast("long").alias("x2"))
    )
    return (
        x1.join(F.broadcast(x2), ["event_type", "k"])
        .select(
            "event_type",
            F.col("k").alias("decile"),
            (
                (
                    F.col("x1") * (10 - F.col("rem"))
                    + F.col("x2") * F.col("rem")
                ).cast("double")
                / F.lit(10.0)
                / F.lit(100.0)
            ).alias("value"),
        )
        .orderBy("event_type", "decile")
    )


EVENTS_QUANTILE_INTERP_SQL = f"""
WITH ev AS MATERIALIZED ({_EV_CENTS_DAY}),
grid AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM grid
),
ns AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
       FROM grid GROUP BY event_type),
ranks AS (
  SELECT ns.event_type, CAST(k.k AS BIGINT) AS k, ns.n,
         ((ns.n - 1) * k.k) % 10 AS rem,
         ((ns.n - 1) * k.k) // 10 + 1 AS r1,
         LEAST(((ns.n - 1) * k.k) // 10 + 2, ns.n) AS r2
  FROM ns CROSS JOIN (SELECT unnest(generate_series(0, 10)) AS k) k
),
x1 AS (
  SELECT r.event_type, r.k, r.rem, CAST(MIN(c.c) AS BIGINT) AS x1
  FROM ranks r JOIN cum c ON c.event_type = r.event_type AND c.cum >= r.r1
  GROUP BY r.event_type, r.k, r.rem
),
x2 AS (
  SELECT r.event_type, r.k, CAST(MIN(c.c) AS BIGINT) AS x2
  FROM ranks r JOIN cum c ON c.event_type = r.event_type AND c.cum >= r.r2
  GROUP BY r.event_type, r.k
)
SELECT x1.event_type, x1.k AS decile,
       CAST(x1.x1 * (10 - x1.rem) + x2.x2 * x1.rem AS DOUBLE) / 10.0 / 100.0
         AS value
FROM x1 JOIN x2 ON x2.event_type = x1.event_type AND x2.k = x1.k
ORDER BY x1.event_type, decile
"""


# -------------------------------------------- clustering coefficient


def sql_copurchase_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL CLUSTERING of the co-purchase graph in one row: average
    local clustering coefficient and global transitivity (3 x triangles
    / wedges) — the two standard (and deliberately different) cohesion
    summaries.  Reuses the degree-oriented triangle operator
    (operators/graph.py:123).

    Exactness: triangles and wedges are exact integers; each node's
    local coefficient 2*tri/(d(d-1)) quantizes onto the 2^-20 grid
    before the mean (the lexical-diversity reduction); transitivity is
    one division of exact int64s.  Scale: the triangle operator's
    O(m^1.5) orientation bound carries over; everything after is
    node-sized then scalar.
    """
    from ..operators.graph import triangle_counts
    from .relational import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    deg = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tri = triangle_counts(e)
    per_node = deg.join(tri, "node", "left").select(
        "node",
        "d",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("t"),
    )
    eligible = per_node.where(F.col("d") >= 2)
    cc_q = on_grid(
        (2 * F.col("t")).cast("double")
        / (F.col("d") * (F.col("d") - 1)).cast("double"),
        float(Q20),
    )
    agg = eligible.select("t", "d", cc_q.alias("cc_q")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_deg2"),
        F.sum("cc_q").cast("long").alias("scc"),
        F.sum("t").cast("long").alias("t3"),  # 3 x triangle count
        F.sum(F.expr("(d * (d - 1)) div 2")).cast("long").alias("wedges"),
    )
    n_all = per_node.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return agg.crossJoin(F.broadcast(n_all)).select(
        "n_nodes",
        "n_nodes_deg2",
        (F.col("t3") / 3).cast("long").alias("n_triangles"),
        (
            F.col("scc").cast("double")
            / F.col("n_nodes_deg2").cast("double")
            / F.lit(float(Q20))
        ).alias("avg_clustering"),
        F.when(
            F.col("wedges") > 0,
            F.col("t3").cast("double") / F.col("wedges").cast("double"),
        ).alias("transitivity"),
    )


def _sql_copurchase_clustering_sql() -> str:
    from ..operators.graph import triangle_ctes
    from .relational import _COPURCHASE_EDGES_CTE

    return (
        triangle_ctes(_COPURCHASE_EDGES_CTE)
        + f""",
per_node AS (
  SELECT d.node, d.d, CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS t
  FROM t_deg d LEFT JOIN tri_counts t ON t.node = d.node
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_deg2,
         CAST(SUM(CAST(FLOOR(CAST(2 * t AS DOUBLE)
              / CAST(d * (d - 1) AS DOUBLE) * {float(Q20)} + 0.5)
              AS BIGINT)) AS BIGINT) AS scc,
         CAST(SUM(t) AS BIGINT) AS t3,
         CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS wedges
  FROM per_node WHERE d >= 2
),
n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM per_node)
SELECT n_all.n_nodes, agg.n_nodes_deg2,
       CAST(agg.t3 / 3 AS BIGINT) AS n_triangles,
       CAST(agg.scc AS DOUBLE) / CAST(agg.n_nodes_deg2 AS DOUBLE)
         / {float(Q20)} AS avg_clustering,
       CASE WHEN agg.wedges > 0 THEN
         CAST(agg.t3 AS DOUBLE) / CAST(agg.wedges AS DOUBLE)
       END AS transitivity
FROM agg CROSS JOIN n_all
"""
    )


# ----------------------------------- copurchase pagerank (shuffle join)


def sql_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the CO-PURCHASE part graph — the
    data-scaled-|V| proof of the graph operator's shuffle-join score
    path (VERDICT r6 #4): unlike the 5-node event-type graphs, the
    vertex set here is the part catalog, which grows with sf, so the
    rank frame must NOT broadcast. ``broadcast_scores=False`` keeps
    scores keyed by node and co-shuffled with the src-keyed edge list —
    one exchange per round, no |V|-sized broadcast anywhere (plan
    pinned in test_scale_patterns). Edges are the symmetrized frequent
    co-purchase pairs weighted by shared-order support; output is the
    top-100 parts by rank (rank desc, node asc — rank doubles are
    exact int64/2^30 multiples, so the selection is deterministic).

    Exactness: the pagerank contract (integer fixed-point rounds,
    oracle unrolls the same 4); the top-k is integer selection.
    Scale: per round one edges⋈ranks shuffle join + one dst-keyed agg
    (Pregel); the dangling anti-join and final TakeOrdered(100) are
    node-sized."""
    from ..operators.graph import pagerank
    from .relational import _copurchase_edges

    ps = _copurchase_edges(spark, sf_dir)
    edges = (
        ps.select(
            F.col("x").cast("string").alias("src"),
            F.col("y").cast("string").alias("dst"),
            F.col("n_orders").alias("w"),
        )
        .union(
            ps.select(
                F.col("y").cast("string"),
                F.col("x").cast("string"),
                F.col("n_orders"),
            )
        )
        .localCheckpoint(eager=True)  # pair-support join runs ONCE
    )
    ranks = pagerank(edges, iters=4, broadcast_scores=False)
    return ranks.orderBy(F.col("rank").desc(), "node").limit(100)


def _sql_copurchase_pagerank_sql() -> str:
    from ..operators.graph import RSCALE, pagerank_ctes
    from .relational import _COPURCHASE_EDGES_CTE

    # reuse the shared pair CTE, then symmetrize with VARCHAR node ids
    # (the Spark side casts to string inside the operator; identical
    # ASCII-digit ordering makes the top-100 tiebreak engine-free)
    edges_cte = (
        _COPURCHASE_EDGES_CTE.replace(
            "edges AS MATERIALIZED (SELECT x, y FROM pair_support)",
            """edges AS MATERIALIZED (
  SELECT CAST(x AS VARCHAR) AS src, CAST(y AS VARCHAR) AS dst,
         n_orders AS w FROM pair_support
  UNION ALL
  SELECT CAST(y AS VARCHAR), CAST(x AS VARCHAR), n_orders
  FROM pair_support)""",
        )
    )
    return f"""
{pagerank_ctes(edges_cte, iters=4)}
SELECT node, CAST(r AS DOUBLE) / {float(RSCALE)!r} AS rank FROM pr4
ORDER BY rank DESC, node LIMIT 100
"""


# ---------------------------------------------- uniqueness audit


def dq_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE-KEY UNIQUENESS audit across the warehouse: for each
    table's declared key, the row count, distinct-key count, duplicate
    key count, and a uniqueness verdict — the first data-quality gate
    any ingest runs.  (The synthetic lineitem's (l_orderkey,
    l_linenumber) is known NOT unique — this audit is what surfaces
    that class of defect.)  Pure integer counting per table, one
    data-sized distinct-agg each, unioned into a fixed 6-row report.
    """
    specs = [
        ("events", "event_id", lambda df: df.select(F.col("event_id").alias("k1"), F.lit(0).alias("k2"))),
        ("orders", "o_orderkey", lambda df: df.select(F.col("o_orderkey").alias("k1"), F.lit(0).alias("k2"))),
        ("customer", "c_custkey", lambda df: df.select(F.col("c_custkey").alias("k1"), F.lit(0).alias("k2"))),
        ("part", "p_partkey", lambda df: df.select(F.col("p_partkey").alias("k1"), F.lit(0).alias("k2"))),
        ("supplier", "s_suppkey", lambda df: df.select(F.col("s_suppkey").alias("k1"), F.lit(0).alias("k2"))),
        (
            "lineitem",
            "l_orderkey,l_linenumber",
            lambda df: df.select(
                F.col("l_orderkey").alias("k1"),
                F.col("l_linenumber").cast("long").alias("k2"),
            ),
        ),
    ]
    outs = []
    for tname, key_cols, proj in specs:
        keys = proj(load_table(spark, sf_dir, tname))
        grouped = keys.groupBy("k1", "k2").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        outs.append(
            grouped.agg(
                F.lit(tname).alias("table_name"),
                F.lit(key_cols).alias("key_cols"),
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_keys"),
                F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_dup_keys"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.withColumn(
        "is_unique", F.col("n_dup_keys") == 0
    ).orderBy("table_name")


DQ_UNIQUENESS_SQL = """
WITH per AS (
  SELECT 'events' AS table_name, 'event_id' AS key_cols,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_keys,
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_keys
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM events
        GROUP BY event_id)
  UNION ALL
  SELECT 'orders', 'o_orderkey', CAST(SUM(cnt) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders
        GROUP BY o_orderkey)
  UNION ALL
  SELECT 'customer', 'c_custkey', CAST(SUM(cnt) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM customer
        GROUP BY c_custkey)
  UNION ALL
  SELECT 'part', 'p_partkey', CAST(SUM(cnt) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM part
        GROUP BY p_partkey)
  UNION ALL
  SELECT 'supplier', 's_suppkey', CAST(SUM(cnt) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM supplier
        GROUP BY s_suppkey)
  UNION ALL
  SELECT 'lineitem', 'l_orderkey,l_linenumber', CAST(SUM(cnt) AS BIGINT),
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        GROUP BY l_orderkey, l_linenumber)
)
SELECT table_name, key_cols, n_rows, n_distinct_keys, n_dup_keys,
       n_dup_keys = 0 AS is_unique
FROM per
ORDER BY table_name
"""


# ------------------------------------------- language distance matrix


def text_jsd_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE DISTANCE MATRIX: Jensen-Shannon divergence between
    every pair of languages' character-trigram distributions — the
    confusability map that explains lang-ID errors (close pairs
    confuse) and guides mixture balancing.  Uses the lm_score trigram
    framing (operators/text.py:456).

    Exactness: trigram counts and totals are exact int64; the gram
    spine is the DISTINCT-TRIGRAM x language grid, so zero cells are
    enumerated, never sampled; each gram's JSD term quantizes onto the
    2^-20 grid before the per-pair int64 fold (the events_jsd_profile
    recipe).  Scale: the trigram domain is bounded by |charset|^3 —
    a saturating frame — and the pair join runs on (gram, lang_pair)
    cells, never on documents.
    """
    n = 3
    d = load_table(spark, sf_dir, "documents")
    # model reduces from the LM family's shared (doc_id, lang, gram, m)
    # pass (operators/text.char_gram_counts — Σ_doc m is the identical
    # trigram count), so the document-sized explode runs once per
    # corpus across the whole char-gram family; it feeds four subtrees
    # (tots, the spine distinct, the grid join) and grid feeds both
    # pair-join sides, so each is materialized once — the oracle's
    # MATERIALIZED CTEs, mirrored
    from ..operators.text import char_gram_counts

    model = (
        char_gram_counts(d, n, cache_key=sf_dir)
        .groupBy("lang", "gram")
        .agg(F.sum("m").cast("long").alias("cnt"))
    ).localCheckpoint(eager=True)
    tots = model.groupBy("lang").agg(F.sum("cnt").cast("long").alias("tot"))
    spine = model.select("gram").distinct().crossJoin(
        F.broadcast(tots.select("lang"))
    )
    grid = (
        spine.join(model, ["lang", "gram"], "left")
        .join(F.broadcast(tots), "lang")
        .select(
            "gram",
            "lang",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            "tot",
        )
    ).localCheckpoint(eager=True)
    a = grid.select(
        "gram",
        F.col("lang").alias("lang_a"),
        F.col("cnt").alias("ca"),
        F.col("tot").alias("ta"),
    )
    b = grid.select(
        "gram",
        F.col("lang").alias("lang_b"),
        F.col("cnt").alias("cb"),
        F.col("tot").alias("tb"),
    )
    pr = F.col("ca").cast("double") / F.col("ta").cast("double")
    qr = F.col("cb").cast("double") / F.col("tb").cast("double")
    p_term = F.when(
        F.col("ca") > 0, pr * F.log(F.lit(2.0) * pr / (pr + qr))
    ).otherwise(F.lit(0.0))
    q_term = F.when(
        F.col("cb") > 0, qr * F.log(F.lit(2.0) * qr / (pr + qr))
    ).otherwise(F.lit(0.0))
    term_q = on_grid(F.lit(0.5) * p_term + F.lit(0.5) * q_term, float(Q20))
    return (
        a.join(b, "gram")
        .where(F.col("lang_a") < F.col("lang_b"))
        .where((F.col("ca") > 0) | (F.col("cb") > 0))
        .select("lang_a", "lang_b", term_q.alias("term_q"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams_union"),
            (
                F.sum("term_q").cast("long").cast("double")
                / F.lit(float(Q20))
            ).alias("jsd_nats"),
        )
        .orderBy("lang_a", "lang_b")
    )


TEXT_JSD_LANG_SQL = f"""
WITH grams AS MATERIALIZED (
  SELECT lang, gram
  FROM (SELECT lang, lower(text) AS lt FROM documents),
       UNNEST(CASE WHEN length(lt) >= 3 THEN
                list_transform(generate_series(1, length(lt) - 2),
                               i -> substring(lt, i, 3))
              ELSE [] END) AS u(gram)
),
model AS MATERIALIZED (
  SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM grams GROUP BY lang, gram
),
tots AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
         FROM model GROUP BY lang),
spine AS (
  SELECT g.gram, t.lang, t.tot FROM
  (SELECT DISTINCT gram FROM model) g CROSS JOIN tots t
),
grid AS MATERIALIZED (
  SELECT s.gram, s.lang, CAST(COALESCE(m.cnt, 0) AS BIGINT) AS cnt, s.tot
  FROM spine s LEFT JOIN model m ON m.lang = s.lang AND m.gram = s.gram
),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(FLOOR(
           (0.5 * (CASE WHEN a.cnt > 0 THEN
              (CAST(a.cnt AS DOUBLE) / CAST(a.tot AS DOUBLE))
              * ln(2.0 * (CAST(a.cnt AS DOUBLE) / CAST(a.tot AS DOUBLE))
                   / ((CAST(a.cnt AS DOUBLE) / CAST(a.tot AS DOUBLE))
                      + (CAST(b.cnt AS DOUBLE) / CAST(b.tot AS DOUBLE))))
            ELSE 0.0 END)
            + 0.5 * (CASE WHEN b.cnt > 0 THEN
              (CAST(b.cnt AS DOUBLE) / CAST(b.tot AS DOUBLE))
              * ln(2.0 * (CAST(b.cnt AS DOUBLE) / CAST(b.tot AS DOUBLE))
                   / ((CAST(a.cnt AS DOUBLE) / CAST(a.tot AS DOUBLE))
                      + (CAST(b.cnt AS DOUBLE) / CAST(b.tot AS DOUBLE))))
            ELSE 0.0 END))
           * {float(Q20)} + 0.5) AS BIGINT) AS term_q
  FROM grid a JOIN grid b ON b.gram = a.gram AND a.lang < b.lang
  WHERE a.cnt > 0 OR b.cnt > 0
)
SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS n_grams_union,
       CAST(CAST(SUM(term_q) AS BIGINT) AS DOUBLE) / {float(Q20)}
         AS jsd_nats
FROM pairs
GROUP BY lang_a, lang_b
ORDER BY lang_a, lang_b
"""


# -------------------------------------------------- ABC/XYZ matrix


def sql_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ INVENTORY MATRIX: parts classified by revenue
    concentration (A <= 80 % cumulative share, B <= 95 %, else C — the
    sql_pareto_abc boundaries) crossed with demand variability on
    QUARTERLY (91-day) order counts (X: CV <= 0.5, Y: CV <= 1, else Z),
    counted per cell — the planner's segmentation grid.  The bucket
    width is the calibration knob: under weekly buckets every slow
    mover is Z by construction (CV of a sparse indicator series grows
    as sqrt(span/demand)); quarters match this catalog's demand
    density so all three variability classes materialize.

    Exactness: ABC boundaries decide by integer cross-multiplication
    of cumulative revenue cents; XYZ classes compare CV^2 as exact
    integers (4(nQ - S^2) <= S^2 and (nQ - S^2) <= S^2 with the
    GLOBAL week-span n as scalar, zero weeks real); the matrix is a
    count.  Scale: one lineitem-sized agg per axis; the ranking window
    runs over the |parts| frame (the pareto_abc contract).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(cents("l_extendedprice"))
        .cast("long")
        .alias("rc")
    )
    wrank = Window.orderBy(F.col("rc").desc(), F.col("pk").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = rev.agg(F.sum("rc").cast("long").alias("tr"))
    abc = (
        rev.withColumn("cum", F.sum("rc").over(wrank).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pk",
            F.when(F.col("cum") * 100 <= F.col("tr") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("tr") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "datediff(to_date(l_shipdate), '1970-01-01') div 91"
        ).alias("wk"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    span = li.agg(
        (
            F.expr("max(datediff(to_date(l_shipdate), '1970-01-01')) div 91")
            - F.expr("min(datediff(to_date(l_shipdate), '1970-01-01')) div 91")
            + 1
        )
        .cast("long")
        .alias("nw")
    )
    var_stats = weekly.groupBy("pk").agg(
        *moments(None, s="c", q=("c", "c")),
    )
    xyz = var_stats.crossJoin(F.broadcast(span)).select(
        "pk",
        F.when(
            4 * centered("nw", "q", "s", "s")
            <= F.col("s") * F.col("s"),
            "X",
        )
        .when(
            centered("nw", "q", "s", "s")
            <= F.col("s") * F.col("s"),
            "Y",
        )
        .otherwise("Z")
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, "pk")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy("abc_class", "xyz_class")
    )


SQL_ABC_XYZ_SQL = """
WITH rev AS MATERIALIZED (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rc
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS tr FROM rev),
abc AS (
  SELECT pk,
         CASE WHEN cum * 100 <= tr * 80 THEN 'A'
              WHEN cum * 100 <= tr * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM (SELECT pk, rc,
               CAST(SUM(rc) OVER (ORDER BY rc DESC, pk ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM rev) r CROSS JOIN tot
),
weekly AS (
  SELECT l_partkey AS pk,
         CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 91
              AS BIGINT) AS wk,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey,
       CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 91 AS BIGINT)
),
span AS (
  SELECT CAST(MAX((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 91)
         - MIN((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 91) + 1
         AS BIGINT) AS nw
  FROM lineitem
),
xyz AS (
  SELECT v.pk,
         CASE WHEN 4 * (span.nw * v.q - v.s * v.s) <= v.s * v.s THEN 'X'
              WHEN span.nw * v.q - v.s * v.s <= v.s * v.s THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM (SELECT pk, CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS q
        FROM weekly GROUP BY pk) v CROSS JOIN span
)
SELECT a.abc_class, x.xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc a JOIN xyz x ON x.pk = a.pk
GROUP BY a.abc_class, x.xyz_class
ORDER BY a.abc_class, x.xyz_class
"""


# --------------------------------------------------- survivorship


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVORSHIP selection for the near-dup clusters: per
    multi-document component, keep the best document by an explicit
    policy (longest n_chars, doc_id tiebreak) and report the bytes the
    drop saves — the keep/drop decision a dedup pipeline hands to the
    writer, with a DIFFERENT canonical policy than the resolver's
    min-id representative (policy is a parameter, not an accident).

    Exactness: selection-only — ranks order by exact int64
    (n_chars DESC, doc_id ASC); byte totals are int64 sums.  Scale:
    composes the oracle-checked component resolver; the survivorship
    window partitions per component over cluster-sized groups.
    """
    from ..operators import dedup as D

    comp = D.dup_components(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        shingle_n=3,
        cache_key=sf_dir,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    j = comp.join(docs, "doc_id")
    w = Window.partitionBy("component_rep").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = j.withColumn("rk", F.row_number().over(w))
    per = ranked.groupBy("component_rep").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).cast("long").alias(
            "canonical_doc"
        ),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).cast("long").alias(
            "canonical_chars"
        ),
    )
    return (
        per.where(F.col("n_members") >= 2)
        .select(
            "component_rep",
            "n_members",
            "canonical_doc",
            "canonical_chars",
            (F.col("total_chars") - F.col("canonical_chars")).alias(
                "chars_saved"
            ),
        )
        .orderBy("component_rep")
    )


def _dedup_canonical_sql() -> str:
    from ..operators import dedup as D

    inner = D.dup_components_sql(threshold=0.5, shingle_n=3)
    return f"""
WITH comp AS ({inner}),
j AS (
  SELECT c.doc_id, c.component_rep, CAST(d.n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.component_rep
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
per AS (
  SELECT component_rep,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
           AS canonical_doc,
         CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
           AS canonical_chars
  FROM j GROUP BY component_rep
)
SELECT component_rep, n_members, canonical_doc, canonical_chars,
       total_chars - canonical_chars AS chars_saved
FROM per WHERE n_members >= 2
ORDER BY component_rep
"""


# --------------------------------------------------- silence gaps


def events_silence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SILENT-GAP detection per event type: the five longest
    inter-arrival gaps, flagged when they exceed 10x the type's mean
    gap — "did ingestion stall?", the ops complement of the burst
    detector (a pipeline that only alarms on spikes misses the feed
    that silently died).

    Exactness: timestamps truncate to integer epoch seconds; the mean
    gap comparison cross-multiplies exact integers (gap * (n-1) >
    10 * span); ranking orders by (gap DESC, start ASC) int64s.
    Scale: one per-type sort window (the sessionization shape) over a
    (type)-partitioned frame; top-5 per type via row_number.
    """
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("s", "event_id")
    gaps = (
        pts.withColumn("prev", F.lag("s").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "event_type",
            F.col("prev").alias("gap_start"),
            F.col("s").alias("gap_end"),
            (F.col("s") - F.col("prev")).cast("long").alias("gap_seconds"),
        )
    )
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_seconds").cast("long").alias("span"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gap_seconds").desc(), F.col("gap_start").asc()
    )
    return (
        gaps.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 5)
        .join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.col("rk").alias("rank"),
            "gap_start",
            "gap_seconds",
            (
                F.col("gap_seconds") * F.col("n_gaps")
                > 10 * F.col("span")
            ).alias("stalled"),
        )
        .orderBy("event_type", "rank")
    )


EVENTS_SILENCE_SQL = """
WITH pts AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_id
  FROM events
),
gaps AS (
  SELECT event_type,
         LAG(s) OVER (PARTITION BY event_type ORDER BY s, event_id)
           AS gap_start,
         s AS gap_end,
         CAST(s - LAG(s) OVER (PARTITION BY event_type ORDER BY s, event_id)
              AS BIGINT) AS gap_seconds
  FROM pts
),
g2 AS (SELECT * FROM gaps WHERE gap_start IS NOT NULL),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_seconds) AS BIGINT) AS span
  FROM g2 GROUP BY event_type
),
ranked AS (
  SELECT event_type, gap_start, gap_seconds,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gap_seconds DESC, gap_start ASC) AS rk
  FROM g2
)
SELECT r.event_type, r.rk AS rank, r.gap_start, r.gap_seconds,
       r.gap_seconds * st.n_gaps > 10 * st.span AS stalled
FROM ranked r JOIN stats st ON st.event_type = r.event_type
WHERE r.rk <= 5
ORDER BY r.event_type, rank
"""


# ----------------------------------------------- forecast backtest


def events_holt_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN BACKTEST of the Holt forecaster: for every
    cutoff position r >= 5 in each type's daily-mean series, fit the
    same two-state fold on the first r observations and score the
    one-step-ahead forecast against observation r+1 — MAE and MAPE per
    type, the evaluation harness that justifies (or rejects) a
    forecasting choice before anyone trusts forecast_next.

    Exactness: the per-cutoff fold is the events_holt_trend recipe
    (bit-identical two-state IEEE fold, alpha=2^-2 beta=2^-3, decimal-
    exact daily means); each |error| and |error|/actual quantizes onto
    the 2^-20 grid BEFORE the per-type mean (int64 reduction).  Scale:
    the data-sized stage is the (type, day) agg; the O(days^2) cutoff
    x prefix re-fold is calendar-bounded — the KM/cusum cost contract.
    """
    from .relational import _davg

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
    ).agg(_davg(F.col("value")).alias("mu"))
    wr = Window.partitionBy("event_type").orderBy("d")
    ranked = daily.withColumn("r", F.row_number().over(wr).cast("long"))
    cutoffs = ranked.select(
        "event_type", F.col("r").alias("t"), F.col("mu").alias("mu_t")
    ).where(F.col("t") >= 6)
    hist = ranked.select(
        F.col("event_type").alias("et_h"),
        F.col("r").alias("u"),
        F.col("mu").alias("mu_u"),
    )

    def step(acc, x):
        lvl = x * F.lit(0.25) + (acc["l"] + acc["b"]) * F.lit(0.75)
        trend = (lvl - acc["l"]) * F.lit(0.125) + acc["b"] * F.lit(0.875)
        return F.struct(lvl.alias("l"), trend.alias("b"))

    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("u", "mu_u"))),
            lambda p: p["mu_u"],
        ),
        F.struct(F.lit(0.0).alias("l"), F.lit(0.0).alias("b")),
        step,
    )
    fitted = (
        cutoffs.join(
            F.broadcast(hist),
            (F.col("et_h") == F.col("event_type")) & (F.col("u") < F.col("t")),
        )
        .groupBy("event_type", "t", "mu_t")
        .agg(fold.alias("hb"))
    )
    err = F.abs(F.col("mu_t") - (F.col("hb.l") + F.col("hb.b")))
    err_q = on_grid(err, float(Q20))
    ape_q = F.when(
        F.col("mu_t") != 0,
        on_grid(err / F.abs(F.col("mu_t")), float(Q20)),
    )
    scored = fitted.select(
        "event_type", err_q.alias("err_q"), ape_q.alias("ape_q")
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            (
                F.sum("err_q").cast("long").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(float(Q20))
            ).alias("mae"),
            (
                F.sum("ape_q").cast("long").cast("double")
                / F.count("ape_q").cast("double")
                / F.lit(float(Q20))
            ).alias("mape"),
        )
        .orderBy("event_type")
    )


EVENTS_HOLT_BACKTEST_SQL = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS mu
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
ranked AS MATERIALIZED (
  SELECT event_type, mu,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS r
  FROM daily
),
fitted AS (
  SELECT c.event_type, c.r AS t, c.mu AS mu_t,
         list_reduce(
           list_prepend([0.0, 0.0],
             list_transform(list(h.mu ORDER BY h.r), m -> [m])),
           (acc, x) -> [
             x[1] * 0.25 + (acc[1] + acc[2]) * 0.75,
             ((x[1] * 0.25 + (acc[1] + acc[2]) * 0.75) - acc[1]) * 0.125
               + acc[2] * 0.875]) AS hb
  FROM ranked c
  JOIN ranked h ON h.event_type = c.event_type AND h.r < c.r
  WHERE c.r >= 6
  GROUP BY c.event_type, c.r, c.mu
),
scored AS (
  SELECT event_type,
         CAST(FLOOR(abs(mu_t - (hb[1] + hb[2])) * {float(Q20)} + 0.5)
              AS BIGINT) AS err_q,
         CASE WHEN mu_t != 0 THEN
           CAST(FLOOR(abs(mu_t - (hb[1] + hb[2])) / abs(mu_t)
                * {float(Q20)} + 0.5) AS BIGINT) END AS ape_q
  FROM fitted
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_evals,
       CAST(CAST(SUM(err_q) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         / {float(Q20)} AS mae,
       CAST(CAST(SUM(ape_q) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(ape_q) AS DOUBLE) / {float(Q20)} AS mape
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------- feature export


def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USER FEATURE EXPORT: one row per user with the behavioral
    features a downstream model trains on — tenure, activity volume
    and cadence, type diversity, and spend — the feature-store
    materialization primitive (the events-side sibling of
    sql_rfm_segments).

    Exactness: every feature is integer arithmetic on epoch seconds /
    cents / counts except mean_gap_seconds, one exact division of two
    int64s.  Scale: ONE hash agg on user_id computes every feature
    (count, sum, min, max, approx-free distinct via a second keyed agg
    folded in); no window, no join — the widest-data cheapest-shape
    export.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
        "event_type",
        cents().alias("c"),
    )
    horizon = base.agg(F.max("s").cast("long").alias("h"))
    per_type = base.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.min("s").cast("long").alias("mns"),
        F.max("s").cast("long").alias("mxs"),
        F.countDistinct("d").cast("long").alias("nd_t"),
    )
    # distinct days don't sum across types — recompute exactly once
    days = base.groupBy("user_id").agg(
        F.countDistinct("d").cast("long").alias("n_active_days")
    )
    feats = (
        per_type.groupBy("user_id")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("distinct_types"),
            F.sum("sc").cast("long").alias("total_value_cents"),
            F.min("mns").cast("long").alias("first_seen"),
            F.max("mxs").cast("long").alias("last_seen"),
        )
        .join(days, "user_id")
    )
    gap = F.when(
        F.col("n_events") > 1,
        (F.col("last_seen") - F.col("first_seen")).cast("double")
        / (F.col("n_events") - 1).cast("double"),
    )
    return (
        feats.crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            "n_events",
            "n_active_days",
            "distinct_types",
            "total_value_cents",
            (F.col("last_seen") - F.col("first_seen")).alias("tenure_seconds"),
            (F.col("h") - F.col("last_seen")).alias("recency_seconds"),
            gap.alias("mean_gap_seconds"),
        )
        .orderBy("user_id")
    )


EVENTS_USER_FEATURES_SQL = """
WITH base AS MATERIALIZED (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
h AS (SELECT CAST(MAX(s) AS BIGINT) AS h FROM base),
per_type AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(MIN(s) AS BIGINT) AS mns, CAST(MAX(s) AS BIGINT) AS mxs
  FROM base GROUP BY user_id, event_type
),
days AS (
  SELECT user_id, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_active_days
  FROM base GROUP BY user_id
),
feats AS (
  SELECT p.user_id,
         CAST(SUM(p.n) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS distinct_types,
         CAST(SUM(p.sc) AS BIGINT) AS total_value_cents,
         CAST(MIN(p.mns) AS BIGINT) AS first_seen,
         CAST(MAX(p.mxs) AS BIGINT) AS last_seen
  FROM per_type p GROUP BY p.user_id
)
SELECT f.user_id, f.n_events, d.n_active_days, f.distinct_types,
       f.total_value_cents,
       f.last_seen - f.first_seen AS tenure_seconds,
       h.h - f.last_seen AS recency_seconds,
       CASE WHEN f.n_events > 1 THEN
         CAST(f.last_seen - f.first_seen AS DOUBLE)
         / CAST(f.n_events - 1 AS DOUBLE) END AS mean_gap_seconds
FROM feats f JOIN days d ON d.user_id = f.user_id CROSS JOIN h
ORDER BY f.user_id
"""


# --------------------------------------------- reliability diagram


def events_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELIABILITY DIAGRAM for ``value`` as an 'error'-class score
    (the events_score_auc framing): 10 equal-width score bins, each
    with its mean normalized confidence and observed positive rate —
    the calibration artifact that decides between raw scores and the
    isotonic recalibration (events_score_isotonic), and the per-bin
    input to ECE.

    Exactness: bin ids are integer division on the cents grid; mean
    confidence (sc - n*mn)/(n*(mx - mn)) and positive rate np/n are
    single divisions of exact int64s; the gap is one further exact op.
    Scale: one map-side-combinable hash agg onto 10 bins; range
    scalars broadcast.
    """
    e = load_table(spark, sf_dir, "events").select(
        cents().alias("c"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("pos"),
    )
    rng = e.agg(
        F.min("c").cast("long").alias("mn"), F.max("c").cast("long").alias("mx")
    )
    binned = e.crossJoin(F.broadcast(rng)).select(
        F.expr("((c - mn) * 10) div (mx - mn + 1)").alias("bin"),
        "c",
        "pos",
        "mn",
        "mx",
    )
    agg = binned.groupBy("bin", "mn", "mx").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum("pos").cast("long").alias("np_"),
    )
    conf = (F.col("sc") - F.col("n") * F.col("mn")).cast("double") / (
        F.col("n") * (F.col("mx") - F.col("mn"))
    ).cast("double")
    rate = F.col("np_").cast("double") / F.col("n").cast("double")
    return agg.select(
        "bin",
        F.col("n").alias("n_events"),
        conf.alias("mean_confidence"),
        rate.alias("positive_rate"),
        F.abs(conf - rate).alias("abs_gap"),
    ).orderBy("bin")


EVENTS_RELIABILITY_SQL = """
WITH e AS MATERIALIZED (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS pos
  FROM events
),
rng AS (SELECT CAST(MIN(c) AS BIGINT) AS mn, CAST(MAX(c) AS BIGINT) AS mx
        FROM e),
agg AS (
  SELECT ((e.c - rng.mn) * 10) // (rng.mx - rng.mn + 1) AS bin,
         rng.mn, rng.mx,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(e.c) AS BIGINT) AS sc,
         CAST(SUM(e.pos) AS BIGINT) AS np_
  FROM e CROSS JOIN rng
  GROUP BY 1, rng.mn, rng.mx
)
SELECT bin, n AS n_events,
       CAST(sc - n * mn AS DOUBLE) / CAST(n * (mx - mn) AS DOUBLE)
         AS mean_confidence,
       CAST(np_ AS DOUBLE) / CAST(n AS DOUBLE) AS positive_rate,
       abs(CAST(sc - n * mn AS DOUBLE) / CAST(n * (mx - mn) AS DOUBLE)
           - CAST(np_ AS DOUBLE) / CAST(n AS DOUBLE)) AS abs_gap
FROM agg
ORDER BY bin
"""


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type: mean gap, coefficient
    of variation, and the Goh-Barabási burstiness index
    (σ−μ)/(σ+μ) ∈ [−1, 1] — the standard characterization of whether a
    feed is periodic (≈−1), Poisson (≈0), or bursty (→1); the
    distributional complement of events_silence_gaps (which ranks
    individual worst gaps) and events_fano (count dispersion).

    Exactness: gaps are integer epoch-second differences; n/Σg/Σg² are
    exact int64; mean and var use the shared-subexpression form
    (sqq/n − (sq/n)²) from exact integers, sqrt is correctly rounded,
    and the final ratios compose PROJECTED columns (the events_icc
    materialization recipe). Scale: one per-type sort window (the
    sessionization shape) then a |types|-row agg.
    """
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("s", "event_id")
    gaps = (
        pts.withColumn("prev", F.lag("s").over(w))
        .where(F.col("prev").isNotNull())
        .select("event_type", (F.col("s") - F.col("prev")).alias("g"))
    )
    agg = gaps.groupBy("event_type").agg(
        *moments("n", sq="g", sqq=("g", "g")),
    )
    stage1 = agg.select(
        "event_type",
        "n",
        (F.col("sq").cast("double") / F.col("n").cast("double")).alias(
            "mean_gap"
        ),
        (
            F.col("sqq").cast("double") / F.col("n").cast("double")
            - (F.col("sq").cast("double") / F.col("n").cast("double"))
            * (F.col("sq").cast("double") / F.col("n").cast("double"))
        ).alias("var_gap"),
    )
    stage2 = stage1.select(
        "event_type", "n", "mean_gap", F.sqrt(F.col("var_gap")).alias("sd_gap")
    )
    return stage2.select(
        "event_type",
        "n",
        "mean_gap",
        (F.col("sd_gap") / F.col("mean_gap")).alias("cv"),
        (
            (F.col("sd_gap") - F.col("mean_gap"))
            / (F.col("sd_gap") + F.col("mean_gap"))
        ).alias("burstiness"),
    )


EVENTS_INTERARRIVAL_SQL = """
WITH pts AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_id
  FROM events
),
gaps AS (
  SELECT event_type,
         s - lag(s) OVER (PARTITION BY event_type ORDER BY s, event_id) AS g
  FROM pts
),
agg AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS sq,
         CAST(SUM(g * g) AS BIGINT) AS sqq
  FROM gaps WHERE g IS NOT NULL GROUP BY event_type
),
stage1 AS MATERIALIZED (
  SELECT event_type, n,
         CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap,
         CAST(sqq AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) AS var_gap
  FROM agg
),
stage2 AS MATERIALIZED (
  SELECT event_type, n, mean_gap, sqrt(var_gap) AS sd_gap FROM stage1
)
SELECT event_type, n, mean_gap,
       sd_gap / mean_gap AS cv,
       (sd_gap - mean_gap) / (sd_gap + mean_gap) AS burstiness
FROM stage2
"""


def events_user_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic concentration: the share of all events generated by the
    top-k busiest users for k ∈ {1, 5, 10, 25} — the single-table
    abuse/capacity read ("is this workload a few hot tenants or a long
    tail?") that complements the Gini coefficient (distribution-wide)
    and the skew profile (key-level). Integer-exact: users rank by
    (count DESC, user_id), cumulative counts are int64 window sums on
    the |users| frame, each share is one division.

    Output: (top_k_users, events_covered, share).
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # top-25 via TakeOrdered heap FIRST — the only global window then
    # runs over 25 rows (k-bounded), never the data-sized user frame
    top = per_user.orderBy(F.desc("n"), F.asc("user_id")).limit(25)
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("n").over(wcum).cast("long").alias("cum"),
    )
    total = e.count()
    ks = [1, 5, 10, 25]
    picks = ranked.where(F.col("rk").isin(ks))
    return picks.select(
        F.col("rk").alias("top_k_users"),
        F.col("cum").alias("events_covered"),
        (F.col("cum").cast("double") / F.lit(float(total))).alias("share"),
    )


EVENTS_USER_CONCENTRATION_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
ranked AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS BIGINT)
           AS rk,
         CAST(SUM(n) OVER (ORDER BY n DESC, user_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM per_user
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM events)
SELECT rk AS top_k_users, cum AS events_covered,
       CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS share
FROM ranked, total
WHERE rk IN (1, 5, 10, 25)
"""


def events_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index per event
    type (k = 100 top order statistics): α̂⁻¹ = (1/k)Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎).
    The standard heavy-tail read — α < 2 means infinite variance and
    every mean-based alarm threshold is unstable; the input that
    decides between z-score and quantile alarming.

    Exactness: order statistics on integer cents (deterministic
    multiset under ties), each ratio divides two exact ints, ln runs
    through platform libm on the k-BOUNDED frame and quantizes to the
    2^-20 grid, so the sum is exact int64 and the estimate is one
    division chain over projected columns. Scale: TakeOrdered-style
    per-type rank over the cents agg; the expensive stage is one
    (type, cents) hash agg.

    Output: (event_type, k, x_k1, hill_inv_alpha, alpha).
    """
    from ..functions.libm import libm_log

    k = 100
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        on_grid(F.abs(F.col("value")), 100).alias("c"),
        "event_id",
    ).where(F.col("c") > 0)
    w = Window.partitionBy("event_type").orderBy(F.desc("c"), F.asc("event_id"))
    ranked = cents.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k + 1
    )
    xk1 = ranked.where(F.col("rn") == k + 1).select(
        "event_type", F.col("c").alias("ck1")
    )
    top = ranked.where(F.col("rn") <= k)
    q = (
        top.join(F.broadcast(xk1), "event_type")
        .withColumn(
            "lq",
            on_grid(
                libm_log(F.col("c").cast("double") / F.col("ck1").cast("double")),
                float(Q20),
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("lq").cast("long").alias("s"),
            F.min("ck1").cast("long").alias("ck1"),
        )
    )
    stage = q.select(
        "event_type",
        "k",
        (F.col("ck1").cast("double") / F.lit(100.0)).alias("x_k1"),
        (
            (F.col("s").cast("double") / F.col("k").cast("double"))
            / F.lit(float(Q20))
        ).alias("hill_inv_alpha"),
    )
    return stage.select(
        "event_type",
        "k",
        "x_k1",
        "hill_inv_alpha",
        (F.lit(1.0) / F.col("hill_inv_alpha")).alias("alpha"),
    )


EVENTS_TAIL_INDEX_SQL = """
WITH cents AS (
  SELECT event_type,
         CAST(FLOOR(abs(value) * 100 + 0.5) AS BIGINT) AS c, event_id
  FROM events
  WHERE CAST(FLOOR(abs(value) * 100 + 0.5) AS BIGINT) > 0
),
ranked AS MATERIALIZED (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c DESC, event_id ASC) AS rn
  FROM cents
),
xk1 AS MATERIALIZED (
  SELECT event_type, c AS ck1 FROM ranked WHERE rn = 101
),
q AS MATERIALIZED (
  SELECT r.event_type,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(FLOOR(ln(CAST(r.c AS DOUBLE) / CAST(x.ck1 AS DOUBLE))
                             * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         CAST(MIN(x.ck1) AS BIGINT) AS ck1
  FROM ranked r JOIN xk1 x USING (event_type)
  WHERE r.rn <= 100
  GROUP BY r.event_type
),
stage AS MATERIALIZED (
  SELECT event_type, k,
         CAST(ck1 AS DOUBLE) / 100.0 AS x_k1,
         (CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) / 1048576.0
           AS hill_inv_alpha
  FROM q
)
SELECT event_type, k, x_k1, hill_inv_alpha,
       1.0 / hill_inv_alpha AS alpha
FROM stage
"""


def sql_copurchase_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: (degree, n_nodes,
    share) — the first sanity read on any data-derived graph (hub
    detection, power-law eyeball, join-skew forecast for every
    downstream graph operator: a node of degree d costs d rows in each
    neighbor exchange). Integer-exact: degrees and node counts are
    int64; share is one division. Scale: one edge-keyed agg to degrees
    (|V| rows), one |degrees|-sized rollup — nothing data-sized past
    the shared edge derivation."""
    from .relational import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    deg = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    hist = deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    tot = hist.agg(F.sum("n_nodes").cast("long").alias("nt"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        (F.col("n_nodes").cast("double") / F.col("nt").cast("double")).alias(
            "share"
        ),
    )


def _sql_copurchase_degree_dist_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE

    return f"""{_COPURCHASE_EDGES_CTE},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y FROM edges
  ) GROUP BY node
),
hist AS (
  SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY degree
),
tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS nt FROM hist)
SELECT degree, n_nodes,
       CAST(n_nodes AS DOUBLE) / CAST(nt AS DOUBLE) AS share
FROM hist, tot
"""


QUERIES = {
    "events_psi_drift": events_psi_drift,
    "sql_copurchase_degree_dist": sql_copurchase_degree_dist,
    "events_interarrival": events_interarrival,
    "events_tail_index": events_tail_index,
    "events_user_concentration": events_user_concentration,
    "events_jsd_profile": events_jsd_profile,
    "events_fano": events_fano,
    "sql_part_skyline": sql_part_skyline,
    "sql_weighted_median": sql_weighted_median,
    "sql_copurchase_linkpred": sql_copurchase_linkpred,
    "sql_ship_hazard": sql_ship_hazard,
    "events_croston": events_croston,
    "events_session_coverage": events_session_coverage,
    "text_heaps_fit": text_heaps_fit,
    "events_spc_control": events_spc_control,
    "events_winsorized_mean": events_winsorized_mean,
    "events_peak_days": events_peak_days,
    "corpus_token_coverage": corpus_token_coverage,
    "sql_spend_tier_migration": sql_spend_tier_migration,
    "sql_rapid_reorders": sql_rapid_reorders,
    "simsearch_dim_audit": simsearch_dim_audit,
    "sql_copurchase_assortativity": sql_copurchase_assortativity,
    "corpus_lexical_diversity": corpus_lexical_diversity,
    "events_ccf": events_ccf,
    "events_quantile_interp": events_quantile_interp,
    "sql_copurchase_clustering": sql_copurchase_clustering,
    "sql_copurchase_pagerank": sql_copurchase_pagerank,
    "dq_uniqueness_audit": dq_uniqueness_audit,
    "text_jsd_lang_matrix": text_jsd_lang_matrix,
    "sql_abc_xyz_matrix": sql_abc_xyz_matrix,
    "dedup_canonical": dedup_canonical,
    "events_silence_gaps": events_silence_gaps,
    "events_holt_backtest": events_holt_backtest,
    "events_user_features": events_user_features,
    "events_reliability_bins": events_reliability_bins,
}

ORACLES = {
    "events_psi_drift": EVENTS_PSI_SQL,
    "sql_copurchase_degree_dist": _sql_copurchase_degree_dist_sql(),
    "events_interarrival": EVENTS_INTERARRIVAL_SQL,
    "events_tail_index": EVENTS_TAIL_INDEX_SQL,
    "events_user_concentration": EVENTS_USER_CONCENTRATION_SQL,
    "events_jsd_profile": EVENTS_JSD_SQL,
    "events_fano": EVENTS_FANO_SQL,
    "sql_part_skyline": SQL_PART_SKYLINE_SQL,
    "sql_weighted_median": SQL_WEIGHTED_MEDIAN_SQL,
    "sql_copurchase_linkpred": _sql_copurchase_linkpred_sql(),
    "sql_ship_hazard": SQL_SHIP_HAZARD_SQL,
    "events_croston": EVENTS_CROSTON_SQL,
    "events_session_coverage": EVENTS_SESSION_COVERAGE_SQL,
    "text_heaps_fit": TEXT_HEAPS_SQL,
    "events_spc_control": EVENTS_SPC_SQL,
    "events_winsorized_mean": EVENTS_WINSORIZED_SQL,
    "events_peak_days": EVENTS_PEAKS_SQL,
    "corpus_token_coverage": CORPUS_TOKEN_COVERAGE_SQL,
    "sql_spend_tier_migration": SQL_TIER_MIGRATION_SQL,
    "sql_rapid_reorders": SQL_RAPID_REORDERS_SQL,
    "simsearch_dim_audit": SIMSEARCH_DIM_AUDIT_SQL,
    "sql_copurchase_assortativity": _sql_copurchase_assortativity_sql(),
    "corpus_lexical_diversity": CORPUS_LEXDIV_SQL,
    "events_ccf": EVENTS_CCF_SQL,
    "events_quantile_interp": EVENTS_QUANTILE_INTERP_SQL,
    "sql_copurchase_clustering": _sql_copurchase_clustering_sql(),
    "sql_copurchase_pagerank": _sql_copurchase_pagerank_sql(),
    "dq_uniqueness_audit": DQ_UNIQUENESS_SQL,
    "text_jsd_lang_matrix": TEXT_JSD_LANG_SQL,
    "sql_abc_xyz_matrix": SQL_ABC_XYZ_SQL,
    "dedup_canonical": _dedup_canonical_sql(),
    "events_silence_gaps": EVENTS_SILENCE_SQL,
    "events_holt_backtest": EVENTS_HOLT_BACKTEST_SQL,
    "events_user_features": EVENTS_USER_FEATURES_SQL,
    "events_reliability_bins": EVENTS_RELIABILITY_SQL,
}

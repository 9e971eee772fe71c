"""Round-7 surface wave: data-scaled directed-graph HITS, rank/
concordance statistics (Kendall tau-b, Spearman), Welch's t, market-
basket rule metrics, and a warehouse completeness audit — plus the
libm-enabled log-likelihood family (G-test, Dunning keyness) in the
second half of the module.

Exactness follows the repo recipes: integer sufficient statistics,
one-final-division outputs, sqrt-only transcendentals where possible
(IEEE correctly rounded everywhere), and the round-7 libm twin
(functions/libm.py) where a genuine ln is needed. The reference's scope
ends at fixed-threshold detection (AD.java:200); this layer is
beyond-reference by design (SURVEY.md §2 extension family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table

_Q20 = 1 << 20


# ------------------------------------------------ repeat-purchase HITS


def sql_copurchase_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED repeat-purchase part
    graph — parts bought in a customer's earlier order pointing at
    parts bought in their NEXT order (weight = customer count, support
    >= 2): hubs are gateway products that lead to future purchases,
    authorities are the downstream purchases they lead to. This is the
    HITS half of the VERDICT r6 #4 proof: |V| is the part catalog
    (data-scaled), so ``broadcast_scores=False`` keeps both score
    frames keyed by node — per half-round one shuffle join + one
    keyed agg, no |V|-sized broadcast anywhere.

    Exactness: the hits operator contract (2^-20 integer grid,
    infinity-norm renorm, oracle unrolls the same 4 rounds); top-100
    selection on exact grid multiples with node tiebreak. Scale: the
    edge build is a per-customer LEAD window + two order-key joins with
    order-width-bounded fan-out; support >= 2 bounds density."""
    from ..operators.graph import hits

    out = hits(_repeat_edges(spark, sf_dir), iters=4, broadcast_scores=False)
    return out.orderBy(F.col("authority").desc(), "node").limit(100)


def _repeat_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED repeat-purchase part graph (src, dst, w): parts in a
    customer's order pointing at parts in their NEXT order, weight =
    occurrence count, support >= s. Shared-pass cached like
    relational._copurchase_edges (VERDICT r7 #5): the LEAD window + two
    order-key joins + support agg run once per (session, corpus) and
    feed every registered query over this graph.

    Scale arming (VERDICT r9 #4): the min-support is DATA-SCALED —
    ``s = greatest(2, n_li div 300000)`` where n_li is the distinct
    (order, part) row count — so s stays 2 at every oracle gate scale
    (sf0.001/0.01/0.1: n_li = 5.9k/60k/600k, all div to <2) and grows
    one support level per ~300k li rows beyond (sf1 -> 20, sf10 ->
    200). The support is then pushed THROUGH the pair join as an
    A-PRIORI occurrence prune: an edge (a, b) with weight w has w
    distinct earlier orders containing a and w distinct next orders
    containing b, so occ(p) >= w >= s on both endpoints — dropping
    parts with occ(p) < s before the join is OUTPUT-EXACT while
    bounding the pre-agg pair frame by sum_kept(occ) * order_width
    instead of n_li * order_width, and the post-agg edge frame by
    (pair frame)/s ~ a constant once s scales with volume. The
    round-9 sf10 spot-run measured the unpruned pre-agg at 216M rows
    / 569 s; the same join with the prune is volume-capped."""

    def build() -> DataFrame:
        o = load_table(spark, sf_dir, "orders")
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
            )
            .distinct()
        )
        occ = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("occ"))
        thr = occ.agg(
            F.expr("greatest(CAST(2 AS BIGINT), sum(occ) div 300000)").alias(
                "s"
            )
        )
        kept = li.join(
            occ.join(F.broadcast(thr)).where(F.col("occ") >= F.col("s")),
            "pk",
        ).select("ok", "pk")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        seq = (
            o.select(
                "o_custkey",
                "o_orderkey",
                "o_orderdate",
                F.lead("o_orderkey").over(w).alias("next_ok"),
            )
            .where(F.col("next_ok").isNotNull())
            .select("o_orderkey", "next_ok")
        )
        return (
            seq.join(kept.withColumnRenamed("ok", "o_orderkey"), "o_orderkey")
            .withColumnRenamed("pk", "src_pk")
            .join(kept.withColumnRenamed("ok", "next_ok"), "next_ok")
            .groupBy(
                F.col("src_pk").cast("string").alias("src"),
                F.col("pk").cast("string").alias("dst"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
            .join(F.broadcast(thr))
            .where(F.col("w") >= F.col("s"))
            .select("src", "dst", "w")
        )

    return memo.checkpoint(spark, (sf_dir, "repeat_edges"), build)


# Shared oracle CTE for the repeat-purchase graph (twin of the Spark
# _repeat_edges builder above).
_REPEAT_EDGES_CTE = """WITH seq AS MATERIALIZED (
  SELECT o_orderkey,
         LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS next_ok
  FROM orders
),
li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
-- data-scaled min-support twin of _repeat_edges: 2 at every gate scale
thr AS MATERIALIZED (
  SELECT GREATEST(CAST(2 AS BIGINT), COUNT(*) // 300000) AS s FROM li
),
edges AS MATERIALIZED (
  SELECT CAST(a.pk AS VARCHAR) AS src, CAST(b.pk AS VARCHAR) AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM seq s
  JOIN li a ON a.ok = s.o_orderkey
  JOIN li b ON b.ok = s.next_ok
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= (SELECT s FROM thr)
)"""


def _sql_copurchase_hits_sql() -> str:
    from ..operators.graph import HSCALE, hits_ctes

    edges_cte = _REPEAT_EDGES_CTE
    return f"""
{hits_ctes(edges_cte, iters=4)}
SELECT a.node,
       CAST(a.a AS DOUBLE) / {float(HSCALE)!r} AS authority,
       CAST(h.h AS DOUBLE) / {float(HSCALE)!r} AS hub
FROM a4 a JOIN h4 h ON h.node = a.node
ORDER BY authority DESC, a.node LIMIT 100
"""


# --------------------------------------------- daily grid (shared CTE)

# Kendall/Spearman run on the (event_type, day, count) grid with ZERO
# days enumerated (a missing day is a real 0 observation for that
# type). The grid is calendar x |types| bounded.
_DAILY_GRID_SQL = """
days AS MATERIALIZED (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
),
types AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
raw AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
grid AS MATERIALIZED (
  SELECT ty.t, dy.d, CAST(COALESCE(r.n, 0) AS BIGINT) AS n
  FROM types ty CROSS JOIN days dy
  LEFT JOIN raw r ON r.t = ty.t AND r.d = dy.d
)"""


def _daily_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled (type, day, n) daily grid — the shared prefix of the
    events stattest family (11 consumers). Round 11: memoized as ONE
    eager checkpoint per (session, sf_dir) in the memo store —
    the grid is calendar-bounded (|types| x |days| ≈ 150 rows), but
    every consumer used to rebuild its aggregation subtree (3 exchanges
    of plan construction) and several re-checkpointed it per query."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "events")
        raw = e.groupBy(
            F.col("event_type").alias("t"), F.to_date("ts").alias("d")
        ).agg(F.count(F.lit(1)).cast("long").alias("n"))
        days = e.select(F.to_date("ts").alias("d")).distinct()
        types = e.select(F.col("event_type").alias("t")).distinct()
        return (
            types.crossJoin(days)
            .join(raw, ["t", "d"], "left")
            .select("t", "d", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        )

    return memo.checkpoint(spark, (sf_dir, "daily_grid"), build)


# ------------------------------------------------------- Kendall tau-b


def events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank concordance between every pair of event
    types' daily-count series — the outlier-proof co-movement measure
    next to the Pearson matrix (events_hourly_corr): one spike cannot
    move a concordance count.

    Exactness: fully integer until two sqrts. Over all day pairs i<j,
    concordant/discordant/ties are integer counts from sign products;
    tau_b = (C - D) / (sqrt(n0 - t_a) * sqrt(n0 - t_b)) with n0 =
    C(n,2) and the standard tie corrections — sqrt is IEEE correctly
    rounded (no libm needed), operands are exact int64, denominators
    multiply as sqrt(a)*sqrt(b) (never sqrt(a*b), the Pearson-recipe
    overflow guard). Scale: the day-pair frame is CALENDAR-bounded
    (~C(31,2) rows per type pair, the events_cusum cost argument); the
    only data-sized stage is the daily count agg."""
    g = _daily_grid(spark, sf_dir)
    a = g.select(F.col("t").alias("ta"), F.col("d").alias("da"), F.col("n").alias("xa"))
    b = g.select(F.col("t").alias("tb"), F.col("d").alias("db"), F.col("n").alias("xb"))
    # same-type day pairs for each ordered type pair: join day frames
    pairs = (
        a.join(b, F.col("da") == F.col("db"))
        .where(F.col("ta") < F.col("tb"))
        .select("ta", "tb", F.col("da").alias("d"), "xa", "xb")
    )
    p1 = pairs.select("ta", "tb", F.col("d").alias("d1"), F.col("xa").alias("x1"), F.col("xb").alias("y1"))
    p2 = pairs.select("ta", "tb", F.col("d").alias("d2"), F.col("xa").alias("x2"), F.col("xb").alias("y2"))
    dp = p1.join(p2, ["ta", "tb"]).where(F.col("d1") < F.col("d2"))
    sgn = (
        (F.col("x1") - F.col("x2")) * (F.col("y1") - F.col("y2"))
    )
    stats = dp.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum((sgn > 0).cast("long")).cast("long").alias("c"),
        F.sum((sgn < 0).cast("long")).cast("long").alias("dd"),
        F.sum(((F.col("x1") - F.col("x2")) == 0).cast("long"))
        .cast("long")
        .alias("tx"),
        F.sum(((F.col("y1") - F.col("y2")) == 0).cast("long"))
        .cast("long")
        .alias("ty_"),
    )
    tau = F.when(
        ((F.col("n0") - F.col("tx")) > 0) & ((F.col("n0") - F.col("ty_")) > 0),
        (F.col("c") - F.col("dd")).cast("double")
        / (
            F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
            * F.sqrt((F.col("n0") - F.col("ty_")).cast("double"))
        ),
    )
    return stats.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n0").alias("n_day_pairs"),
        F.col("c").alias("concordant"),
        F.col("dd").alias("discordant"),
        tau.alias("tau_b"),
    ).orderBy("type_a", "type_b")


EVENTS_KENDALL_SQL = f"""
WITH {_DAILY_GRID_SQL.lstrip()},
pairs AS MATERIALIZED (
  SELECT a.t AS ta, b.t AS tb, a.d, a.n AS xa, b.n AS xb
  FROM grid a JOIN grid b ON a.d = b.d AND a.t < b.t
),
dp AS (
  SELECT p1.ta, p1.tb,
         (p1.xa - p2.xa) * (p1.xb - p2.xb) AS sgn,
         p1.xa - p2.xa AS dx, p1.xb - p2.xb AS dy
  FROM pairs p1 JOIN pairs p2
    ON p1.ta = p2.ta AND p1.tb = p2.tb AND p1.d < p2.d
),
stats AS MATERIALIZED (
  SELECT ta, tb,
         CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN sgn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN sgn < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dd,
         CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty_
  FROM dp GROUP BY ta, tb
)
SELECT ta AS type_a, tb AS type_b,
       n0 AS n_day_pairs, c AS concordant, dd AS discordant,
       CASE WHEN (n0 - tx) > 0 AND (n0 - ty_) > 0 THEN
         CAST(c - dd AS DOUBLE)
         / (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty_ AS DOUBLE)))
       END AS tau_b
FROM stats
ORDER BY type_a, type_b
"""


# ------------------------------------------------------- Spearman rho


def events_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event-type daily series —
    Pearson on AVERAGE ranks, the standard monotone-association
    companion to Kendall.

    Exactness: average ranks with ties stay integer by working in
    DOUBLED rank units (r2 = 2*|smaller| + |ties| + 1, an exact int64
    per day), so every Pearson sufficient statistic (Σr2, Σr2², Σ
    r2a·r2b) is an int64 sum and the final formula runs the shared
    exact-operand expression with sqrt(a)*sqrt(b) denominators.
    Scale: rank-by-count per type over the calendar-bounded grid (a
    bounded window), one pair join on day."""
    g = _daily_grid(spark, sf_dir)
    # doubled average rank: 2*(# strictly smaller) + (# ties incl self - 1) + 2
    # == 2*cume_smaller + ties + 1 in 1-based rank doubling
    wcnt = Window.partitionBy("t")
    smaller = (
        g.alias("x")
        .join(
            g.select(F.col("t").alias("t2"), F.col("n").alias("n2")).alias("y"),
            F.col("x.t") == F.col("t2"),
        )
        .groupBy(F.col("x.t").alias("t"), F.col("x.d").alias("d"), F.col("x.n").alias("n"))
        .agg(
            F.sum((F.col("n2") < F.col("x.n")).cast("long")).alias("lt"),
            F.sum((F.col("n2") == F.col("x.n")).cast("long")).alias("eq"),
        )
        .select(
            "t",
            "d",
            (F.lit(2) * F.col("lt") + F.col("eq") + F.lit(1)).alias("r2"),
        )
    )
    a = smaller.select(F.col("t").alias("ta"), "d", F.col("r2").alias("ra"))
    b = smaller.select(F.col("t").alias("tb"), F.col("d").alias("db"), F.col("r2").alias("rb"))
    pj = a.join(b, (F.col("d") == F.col("db")) & (F.col("ta") < F.col("tb")))
    st = pj.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").cast("long").alias("sa"),
        F.sum("rb").cast("long").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).cast("long").alias("qa"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("qb"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sab"),
    )
    num = (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    dena = (F.col("n") * F.col("qa") - F.col("sa") * F.col("sa")).cast("double")
    denb = (F.col("n") * F.col("qb") - F.col("sb") * F.col("sb")).cast("double")
    rho = F.when(
        (dena > 0) & (denb > 0), num / (F.sqrt(dena) * F.sqrt(denb))
    )
    return st.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n").alias("n_days"),
        rho.alias("spearman_rho"),
    ).orderBy("type_a", "type_b")


EVENTS_SPEARMAN_SQL = f"""
WITH {_DAILY_GRID_SQL.lstrip()},
ranked AS MATERIALIZED (
  SELECT x.t, x.d,
         CAST(2 * SUM(CASE WHEN y.n < x.n THEN 1 ELSE 0 END)
              + SUM(CASE WHEN y.n = x.n THEN 1 ELSE 0 END) + 1
              AS BIGINT) AS r2
  FROM grid x JOIN grid y ON y.t = x.t
  GROUP BY x.t, x.d, x.n
),
pj AS (
  SELECT a.t AS ta, b.t AS tb, a.r2 AS ra, b.r2 AS rb
  FROM ranked a JOIN ranked b ON a.d = b.d AND a.t < b.t
),
st AS MATERIALIZED (
  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
         CAST(SUM(ra * ra) AS BIGINT) AS qa,
         CAST(SUM(rb * rb) AS BIGINT) AS qb,
         CAST(SUM(ra * rb) AS BIGINT) AS sab
  FROM pj GROUP BY ta, tb
)
SELECT ta AS type_a, tb AS type_b, n AS n_days,
       CASE WHEN CAST(n * qa - sa * sa AS DOUBLE) > 0
             AND CAST(n * qb - sb * sb AS DOUBLE) > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
         / (sqrt(CAST(n * qa - sa * sa AS DOUBLE))
            * sqrt(CAST(n * qb - sb * sb AS DOUBLE)))
       END AS spearman_rho
FROM st
ORDER BY type_a, type_b
"""


# -------------------------------------------------------- Welch's t


def events_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of event VALUE, weekend vs
    weekday, per event type — "does the metric shift on weekends?",
    the A/B-style location test that does not assume equal variances.

    Exactness: values quantize to the cents grid once; (n, Σ, Σ²) are
    exact int64; each group's mean and variance-of-mean compose the
    SAME sub-expressions both engines (materialized intermediates — the
    ICC lesson), and t needs only one sqrt (correctly rounded). The
    Welch-Satterthwaite df is pure arithmetic on the same pieces.
    Scale: one map-side-combinable hash agg; everything after is
    |types|-sized."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    is_we = F.dayofweek("ts").isin(1, 7).cast("int")  # Sun=1, Sat=7
    base = e.select(
        F.col("event_type"), is_we.alias("we"), cents.alias("v")
    ).groupBy("event_type", "we").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
    )
    wk = base.where(F.col("we") == 0).select(
        "event_type",
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1"),
    )
    we_ = base.where(F.col("we") == 1).select(
        "event_type",
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2"),
    )
    j = wk.join(we_, "event_type").where((F.col("n1") > 1) & (F.col("n2") > 1))
    # stage 1: group means and variance-of-mean terms (materialized)
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    var1 = (
        F.col("q1").cast("double") / F.col("n1").cast("double") - m1 * m1
    ) * (
        F.col("n1").cast("double") / (F.col("n1") - 1).cast("double")
    )
    var2 = (
        F.col("q2").cast("double") / F.col("n2").cast("double") - m2 * m2
    ) * (
        F.col("n2").cast("double") / (F.col("n2") - 1).cast("double")
    )
    staged = j.select(
        "event_type", "n1", "n2",
        m1.alias("mean_weekday"),
        m2.alias("mean_weekend"),
        (var1 / F.col("n1").cast("double")).alias("se1"),
        (var2 / F.col("n2").cast("double")).alias("se2"),
    )
    t = (F.col("mean_weekday") - F.col("mean_weekend")) / F.sqrt(
        F.col("se1") + F.col("se2")
    )
    df_w = (
        (F.col("se1") + F.col("se2")) * (F.col("se1") + F.col("se2"))
    ) / (
        F.col("se1") * F.col("se1") / (F.col("n1") - 1).cast("double")
        + F.col("se2") * F.col("se2") / (F.col("n2") - 1).cast("double")
    )
    return staged.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        (F.col("mean_weekday") / 100.0).alias("mean_weekday"),
        (F.col("mean_weekend") / 100.0).alias("mean_weekend"),
        t.alias("t_stat"),
        df_w.alias("welch_df"),
    ).orderBy("event_type")


EVENTS_WELCH_SQL = """
WITH base AS (
  SELECT event_type,
         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q
  FROM events
  GROUP BY event_type, CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
),
j AS (
  SELECT a.event_type,
         a.n AS n1, a.s AS s1, a.q AS q1,
         b.n AS n2, b.s AS s2, b.q AS q2
  FROM base a JOIN base b ON a.event_type = b.event_type
  WHERE a.we = 0 AND b.we = 1 AND a.n > 1 AND b.n > 1
),
staged AS MATERIALIZED (
  SELECT event_type, n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS mean_weekday,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS mean_weekend,
         ((CAST(q1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
          * (CAST(n1 AS DOUBLE) / CAST(n1 - 1 AS DOUBLE)))
         / CAST(n1 AS DOUBLE) AS se1,
         ((CAST(q2 AS DOUBLE) / CAST(n2 AS DOUBLE)
           - (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
          * (CAST(n2 AS DOUBLE) / CAST(n2 - 1 AS DOUBLE)))
         / CAST(n2 AS DOUBLE) AS se2
  FROM j
)
SELECT event_type,
       n1 AS n_weekday, n2 AS n_weekend,
       mean_weekday / 100.0 AS mean_weekday,
       mean_weekend / 100.0 AS mean_weekend,
       (mean_weekday - mean_weekend) / sqrt(se1 + se2) AS t_stat,
       ((se1 + se2) * (se1 + se2))
       / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
          + se2 * se2 / CAST(n2 - 1 AS DOUBLE)) AS welch_df
FROM staged
ORDER BY event_type
"""


# --------------------------------------------------- basket rule metrics


def sql_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over frequent co-purchased part pairs:
    support, confidence (both directions collapsed to the a→b rule),
    lift, leverage, and conviction — the full rule-quality panel a
    recommender screen reads (events_copair_support stops at lift).

    Exactness: all counts integer; every metric is a ratio of exact
    integer products with one final division each (conviction's
    denominator 1 - conf is the exact expression (n_a - n_ab)/n_a
    cross-multiplied away: conviction = n_a*(n - n_b) / (n*(n_a -
    n_ab)), entirely integer until one division). Scale: reuses the
    per-order distinct-part pair agg (order-width-bounded fan-out);
    top-50 by lift is a heap."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk"))
        .distinct()
        # consumed by four subtrees (n_orders, per_part, both pair-join
        # sides); materialized once like the oracle's MATERIALIZED li
        .localCheckpoint(eager=True)
    )
    n_orders = li.select("o").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per_part = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("na"))
    a = li.select("o", F.col("pk").alias("x"))
    b = li.select("o", F.col("pk").alias("y"))
    pair = (
        a.join(b, "o")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("nab"))
        .where(F.col("nab") >= 2)
    )
    j = (
        pair.join(per_part.withColumnRenamed("pk", "x"), "x")
        .withColumnRenamed("na", "nx")
        .join(
            per_part.select(F.col("pk").alias("y"), F.col("na").alias("ny")),
            "y",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (F.col("nab") * F.col("n")).cast("double") / (
        F.col("nx") * F.col("ny")
    ).cast("double")
    conf = F.col("nab").cast("double") / F.col("nx").cast("double")
    leverage = (
        F.col("nab") * F.col("n") - F.col("nx") * F.col("ny")
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    conviction = F.when(
        F.col("nx") > F.col("nab"),
        (F.col("nx") * (F.col("n") - F.col("ny"))).cast("double")
        / (F.col("n") * (F.col("nx") - F.col("nab"))).cast("double"),
    )
    return (
        j.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("nab").alias("n_both"),
            conf.alias("confidence"),
            lift.alias("lift"),
            leverage.alias("leverage"),
            conviction.alias("conviction"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(50)
    )


SQL_BASKET_RULES_SQL = """
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS pk FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM li),
per_part AS MATERIALIZED (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS na FROM li GROUP BY pk
),
pair AS MATERIALIZED (
  SELECT a.pk AS x, b.pk AS y, CAST(COUNT(*) AS BIGINT) AS nab
  FROM li a JOIN li b ON a.o = b.o AND a.pk < b.pk
  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 2
)
SELECT p.x AS part_a, p.y AS part_b, p.nab AS n_both,
       CAST(p.nab AS DOUBLE) / CAST(px.na AS DOUBLE) AS confidence,
       CAST(p.nab * n_orders.n AS DOUBLE)
         / CAST(px.na * py.na AS DOUBLE) AS lift,
       CAST(p.nab * n_orders.n - px.na * py.na AS DOUBLE)
         / CAST(n_orders.n * n_orders.n AS DOUBLE) AS leverage,
       CASE WHEN px.na > p.nab THEN
         CAST(px.na * (n_orders.n - py.na) AS DOUBLE)
         / CAST(n_orders.n * (px.na - p.nab) AS DOUBLE)
       END AS conviction
FROM pair p
JOIN per_part px ON px.pk = p.x
JOIN per_part py ON py.pk = p.y
CROSS JOIN n_orders
ORDER BY lift DESC, part_a, part_b
LIMIT 50
"""


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




# ---------------------------------------------------------- G-test


def events_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence, event_type x
    6-hour daypart — the chi-squared companion that is additive across
    partitions and better behaved at small expected counts
    (events_chi2_independence's twin; G = 2 sum O ln(O/E)).

    Exactness: cell/marginal counts are exact int64; each cell's ratio
    O*N/(rt*ct) is one correctly-rounded division of exact integer
    products (< 2^53), its ln runs through the libm twin
    (functions/libm.py — bit-matches DuckDB), and each term is
    quantized onto the 2^-20 grid BEFORE the 20-cell sum (int64 fold,
    order-free). G and Cramer's V are one division + one sqrt from the
    exact sum. Scale: one data-sized hash agg; the cell frame is
    |types| x 4."""
    from ..functions.libm import libm_log

    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("t"),
        (F.hour("ts") / 6).cast("int").alias("dp"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    cells = cells.localCheckpoint(eager=True)
    rt = cells.groupBy("t").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("dp").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    dims = cells.agg(
        F.countDistinct("t").cast("long").alias("r"),
        F.countDistinct("dp").cast("long").alias("c"),
    )
    ratio = (F.col("o") * F.col("n")).cast("double") / (
        F.col("rt") * F.col("ct")
    ).cast("double")
    q = F.floor(
        F.col("o").cast("double") * libm_log(ratio) * F.lit(float(_Q20))
        + F.lit(0.5)
    ).cast("long")
    summed = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "dp")
        .crossJoin(F.broadcast(n))
        .select(q.alias("q"), "n")
        .groupBy("n")
        .agg(F.sum("q").cast("long").alias("sq"))
    )
    g = (F.lit(2.0) * F.col("sq").cast("double")) / F.lit(float(_Q20))
    out = summed.crossJoin(F.broadcast(dims)).select(
        F.col("n").alias("n_events"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("df"),
        g.alias("g_stat"),
        F.sqrt(
            (F.lit(2.0) * F.col("sq").cast("double") / F.lit(float(_Q20)))
            / (
                F.col("n").cast("double")
                * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
            )
        ).alias("cramers_v"),
    )
    return out


EVENTS_GTEST_SQL = f"""
WITH cells AS MATERIALIZED (
  SELECT event_type AS t, CAST(FLOOR(hour(ts) / 6) AS INT) AS dp,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, CAST(FLOOR(hour(ts) / 6) AS INT)
),
rt AS (SELECT t, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY t),
ct AS (SELECT dp, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY dp),
n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
dims AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS r,
                CAST(COUNT(DISTINCT dp) AS BIGINT) AS c FROM cells),
summed AS MATERIALIZED (
  SELECT n.n,
         CAST(SUM(CAST(FLOOR(CAST(cells.o AS DOUBLE)
              * ln(CAST(cells.o * n.n AS DOUBLE)
                   / CAST(rt.rt * ct.ct AS DOUBLE))
              * {float(1 << 20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM cells JOIN rt ON rt.t = cells.t JOIN ct ON ct.dp = cells.dp
  CROSS JOIN n
  GROUP BY n.n
)
SELECT summed.n AS n_events,
       (dims.r - 1) * (dims.c - 1) AS df,
       2.0 * CAST(sq AS DOUBLE) / {float(1 << 20)!r} AS g_stat,
       sqrt((2.0 * CAST(sq AS DOUBLE) / {float(1 << 20)!r})
            / (CAST(summed.n AS DOUBLE)
               * CAST(LEAST(dims.r - 1, dims.c - 1) AS DOUBLE)))
         AS cramers_v
FROM summed CROSS JOIN dims
"""


# ---------------------------------------------------- Dunning keyness


def text_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood KEYNESS: for each source, the tokens most
    characteristic of that source vs the rest of the corpus (G2 =
    2*(a ln(a/E1) + b ln(b/E2)) over the source/rest contingency) — the
    corpus-linguistics operator behind "what is this slice about",
    used to audit mixture composition.

    Exactness: token counts are exact int64; each ln argument is one
    correctly-rounded division of exact integer products (< 2^53 on
    the harness vocab), ln runs through the libm twin, both terms
    quantize onto the 2^-20 grid before the 2-term sum. Top-5 per
    source by (G2 grid value, token) is integer selection. Scale: one
    token explode + (source, token) hash agg; the contingency frame is
    vocab x sources bounded."""
    from ..functions.libm import libm_log

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok"),
    )
    st = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    ).localCheckpoint(eager=True)
    tok_tot = st.groupBy("tok").agg(F.sum("a").cast("long").alias("ab"))
    src_tot = st.groupBy("source").agg(F.sum("a").cast("long").alias("n1"))
    grand = st.agg(F.sum("a").cast("long").alias("nn"))
    j = (
        st.join(F.broadcast(tok_tot), "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "tok",
            "a",
            (F.col("ab") - F.col("a")).alias("b"),
            "n1",
            (F.col("nn") - F.col("n1")).alias("n2"),
            "nn",
        )
    )
    # term1 = a * ln(a*nn / (n1*(a+b))); term2 = b * ln(b*nn / (n2*(a+b)))
    r1 = (F.col("a") * F.col("nn")).cast("double") / (
        F.col("n1") * (F.col("a") + F.col("b"))
    ).cast("double")
    r2 = (F.col("b") * F.col("nn")).cast("double") / (
        F.col("n2") * (F.col("a") + F.col("b"))
    ).cast("double")
    q1 = F.when(
        F.col("a") > 0,
        F.floor(
            F.col("a").cast("double") * libm_log(r1) * F.lit(float(_Q20))
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    q2 = F.when(
        F.col("b") > 0,
        F.floor(
            F.col("b").cast("double") * libm_log(r2) * F.lit(float(_Q20))
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0))
    scored = j.select(
        "source", "tok", "a", "b", (q1 + q2).alias("qg")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("qg").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select(
            "source",
            F.col("rn").alias("rank"),
            F.col("tok").alias("token"),
            F.col("a").alias("n_in_source"),
            F.col("b").alias("n_elsewhere"),
            (F.lit(2.0) * F.col("qg").cast("double") / F.lit(float(_Q20))).alias(
                "g2"
            ),
        )
        .orderBy("source", "rank")
    )


TEXT_KEYNESS_SQL = f"""
WITH st AS MATERIALIZED (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS a
  FROM (
    SELECT source,
           UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
    FROM documents
  ) GROUP BY source, tok
),
tok_tot AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS ab FROM st GROUP BY tok),
src_tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS n1 FROM st GROUP BY source),
grand AS (SELECT CAST(SUM(a) AS BIGINT) AS nn FROM st),
j AS (
  SELECT st.source, st.tok, st.a, tok_tot.ab - st.a AS b,
         src_tot.n1, grand.nn - src_tot.n1 AS n2, grand.nn
  FROM st JOIN tok_tot USING (tok) JOIN src_tot USING (source)
  CROSS JOIN grand
),
scored AS MATERIALIZED (
  SELECT source, tok, a, b,
         CAST(CASE WHEN a > 0 THEN
           CAST(FLOOR(CAST(a AS DOUBLE)
                * ln(CAST(a * nn AS DOUBLE) / CAST(n1 * (a + b) AS DOUBLE))
                * {float(1 << 20)!r} + 0.5) AS BIGINT) ELSE 0 END
           + CASE WHEN b > 0 THEN
           CAST(FLOOR(CAST(b AS DOUBLE)
                * ln(CAST(b * nn AS DOUBLE) / CAST(n2 * (a + b) AS DOUBLE))
                * {float(1 << 20)!r} + 0.5) AS BIGINT) ELSE 0 END
           AS BIGINT) AS qg
  FROM j
),
ranked AS (
  SELECT source, tok, a, b, qg,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY qg DESC, tok ASC) AS rn
  FROM scored
)
SELECT source, CAST(rn AS BIGINT) AS rank, tok AS token,
       a AS n_in_source, b AS n_elsewhere,
       2.0 * CAST(qg AS DOUBLE) / {float(1 << 20)!r} AS g2
FROM ranked WHERE rn <= 5
ORDER BY source, rank
"""


# ------------------------------------------- dominant-period spectrum

# Quantized trig tables (cos/sin * 2^10, rounded in PYTHON and embedded
# as identical literals on both engines — the simsearch_ndcg DCG-weight
# trick: no runtime transcendental anywhere in the spectral scan).
_PERIODS = [6, 12, 24, 168]


def events_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant seasonal PERIOD per event type by discrete-Fourier
    power at candidate periods (6h, 12h, 24h, 168h=weekly) — the
    spectral screen that tells a forecaster which seasonality to fit
    (events_seasonality assumes hour-of-week; this MEASURES which cycle
    dominates).

    Method: hourly counts x_h on the epoch-hour grid; per period p the
    projection S_c = sum d_h * qcos[h mod p], S_s = sum d_h *
    qsin[h mod p] over MEAN-CENTERED scaled deviations d_h = H*x_h - S
    (integers — removes DC leakage), with qcos/qsin pre-quantized
    2^10-grid trig tables embedded as literals in BOTH engines (no
    runtime cos/sin). Power = Sc^2 + Ss^2 in doubles cast from exact
    int64 (identically rounded); the per-type argmax picks the
    dominant period, ties to the shorter period. Epoch-hour phase
    shifts are irrelevant: power is phase-invariant.

    Exactness: everything through S_c/S_s is exact int64 (zero hours
    contribute -S, enumerated via the hour spine); the two squarings
    and one ratio are identically-rounded double ops on identical
    operands. Scale: one data-sized (type, hour) agg; all spectral work
    runs on the calendar-bounded hour grid x 4 periods."""
    e = load_table(spark, sf_dir, "events")
    from ..functions.timeutil import ts_seconds

    eh = F.floor(ts_seconds(F.col("ts")) / 3600).cast("long")
    hourly = e.groupBy(
        F.col("event_type").alias("t"), eh.alias("eh")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    # full hour spine per type (zero hours matter for the mean-centered
    # deviations): bounded span x |types|
    span = e.agg(
        F.floor(F.min(ts_seconds(F.col("ts"))) / 3600).cast("long").alias("h0"),
        F.floor(F.max(ts_seconds(F.col("ts"))) / 3600).cast("long").alias("h1"),
    )
    types = e.select(F.col("event_type").alias("t")).distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "t", F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("eh")
    )
    grid = (
        spine.join(hourly, ["t", "eh"], "left")
        .select("t", "eh", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)
    )
    tot = grid.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("hh"),
        F.sum("x").cast("long").alias("sx"),
    )
    g = grid.join(F.broadcast(tot), "t").select(
        "t", "eh", (F.col("hh") * F.col("x") - F.col("sx")).alias("d")
    )
    parts = []
    for per, cexpr, sexpr in [
        (6, "element_at(array(1024L, 512L, -512L, -1024L, -512L, 512L), CAST(eh % 6 AS INT) + 1)",
         "element_at(array(0L, 887L, 887L, 0L, -887L, -887L), CAST(eh % 6 AS INT) + 1)"),
        (12, "element_at(array(1024L, 887L, 512L, 0L, -512L, -887L, -1024L, -887L, -512L, 0L, 512L, 887L), CAST(eh % 12 AS INT) + 1)",
         "element_at(array(0L, 512L, 887L, 1024L, 887L, 512L, 0L, -512L, -887L, -1024L, -887L, -512L), CAST(eh % 12 AS INT) + 1)"),
        (24, "element_at(array(1024L, 989L, 887L, 724L, 512L, 265L, 0L, -265L, -512L, -724L, -887L, -989L, -1024L, -989L, -887L, -724L, -512L, -265L, 0L, 265L, 512L, 724L, 887L, 989L), CAST(eh % 24 AS INT) + 1)",
         "element_at(array(0L, 265L, 512L, 724L, 887L, 989L, 1024L, 989L, 887L, 724L, 512L, 265L, 0L, -265L, -512L, -724L, -887L, -989L, -1024L, -989L, -887L, -724L, -512L, -265L), CAST(eh % 24 AS INT) + 1)"),
        (168, "element_at(array(1024L, 1023L, 1021L, 1018L, 1013L, 1006L, 998L, 989L, 979L, 967L, 953L, 939L, 923L, 905L, 887L, 867L, 846L, 824L, 801L, 776L, 751L, 724L, 696L, 668L, 638L, 608L, 577L, 545L, 512L, 478L, 444L, 409L, 374L, 338L, 302L, 265L, 228L, 190L, 153L, 115L, 77L, 38L, 0L, -38L, -77L, -115L, -153L, -190L, -228L, -265L, -302L, -338L, -374L, -409L, -444L, -478L, -512L, -545L, -577L, -608L, -638L, -668L, -696L, -724L, -751L, -776L, -801L, -824L, -846L, -867L, -887L, -905L, -923L, -939L, -953L, -967L, -979L, -989L, -998L, -1006L, -1013L, -1018L, -1021L, -1023L, -1024L, -1023L, -1021L, -1018L, -1013L, -1006L, -998L, -989L, -979L, -967L, -953L, -939L, -923L, -905L, -887L, -867L, -846L, -824L, -801L, -776L, -751L, -724L, -696L, -668L, -638L, -608L, -577L, -545L, -512L, -478L, -444L, -409L, -374L, -338L, -302L, -265L, -228L, -190L, -153L, -115L, -77L, -38L, 0L, 38L, 77L, 115L, 153L, 190L, 228L, 265L, 302L, 338L, 374L, 409L, 444L, 478L, 512L, 545L, 577L, 608L, 638L, 668L, 696L, 724L, 751L, 776L, 801L, 824L, 846L, 867L, 887L, 905L, 923L, 939L, 953L, 967L, 979L, 989L, 998L, 1006L, 1013L, 1018L, 1021L, 1023L), CAST(eh % 168 AS INT) + 1)",
         "element_at(array(0L, 38L, 77L, 115L, 153L, 190L, 228L, 265L, 302L, 338L, 374L, 409L, 444L, 478L, 512L, 545L, 577L, 608L, 638L, 668L, 696L, 724L, 751L, 776L, 801L, 824L, 846L, 867L, 887L, 905L, 923L, 939L, 953L, 967L, 979L, 989L, 998L, 1006L, 1013L, 1018L, 1021L, 1023L, 1024L, 1023L, 1021L, 1018L, 1013L, 1006L, 998L, 989L, 979L, 967L, 953L, 939L, 923L, 905L, 887L, 867L, 846L, 824L, 801L, 776L, 751L, 724L, 696L, 668L, 638L, 608L, 577L, 545L, 512L, 478L, 444L, 409L, 374L, 338L, 302L, 265L, 228L, 190L, 153L, 115L, 77L, 38L, 0L, -38L, -77L, -115L, -153L, -190L, -228L, -265L, -302L, -338L, -374L, -409L, -444L, -478L, -512L, -545L, -577L, -608L, -638L, -668L, -696L, -724L, -751L, -776L, -801L, -824L, -846L, -867L, -887L, -905L, -923L, -939L, -953L, -967L, -979L, -989L, -998L, -1006L, -1013L, -1018L, -1021L, -1023L, -1024L, -1023L, -1021L, -1018L, -1013L, -1006L, -998L, -989L, -979L, -967L, -953L, -939L, -923L, -905L, -887L, -867L, -846L, -824L, -801L, -776L, -751L, -724L, -696L, -668L, -638L, -608L, -577L, -545L, -512L, -478L, -444L, -409L, -374L, -338L, -302L, -265L, -228L, -190L, -153L, -115L, -77L, -38L), CAST(eh % 168 AS INT) + 1)"),
    ]:
        parts.append(
            g.select(
                "t",
                F.lit(per).cast("long").alias("period_hours"),
                (F.col("d") * F.expr(cexpr)).alias("dc"),
                (F.col("d") * F.expr(sexpr)).alias("ds"),
            )
            .groupBy("t", "period_hours")
            .agg(
                F.sum("dc").cast("long").alias("sc"),
                F.sum("ds").cast("long").alias("ss"),
            )
        )
    import functools

    allp = functools.reduce(lambda x, y: x.unionByName(y), parts)
    # sc^2 reaches ~2^86 — exact in DECIMAL(38,0), NOT in a double; the
    # argmax, the 4-row total, and the share's operands therefore live
    # in decimals (exact both engines), with the final doubles produced
    # by the decimal->VARCHAR->DOUBLE route (plans/relational._dsum
    # recipe) so both engines round the same exact integers once.
    pdec = (
        F.col("sc").cast("decimal(19,0)") * F.col("sc").cast("decimal(19,0)")
        + F.col("ss").cast("decimal(19,0)") * F.col("ss").cast("decimal(19,0)")
    )
    scored = allp.select("t", "period_hours", pdec.alias("power"))
    w = Window.partitionBy("t").orderBy(
        F.col("power").desc(), F.col("period_hours").asc()
    )
    totp = scored.groupBy("t").agg(F.sum("power").alias("ptot"))
    as_d = lambda c: F.col(c).cast("string").cast("double")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(F.broadcast(totp), "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("period_hours").alias("dominant_period_hours"),
            F.when(
                F.col("ptot") > 0, as_d("power") / as_d("ptot")
            ).alias("power_share"),
        )
        .orderBy("event_type")
    )


EVENTS_DOMINANT_PERIOD_SQL = """
WITH hourly AS (
  SELECT event_type AS t, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS eh,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT)
),
span AS (
  SELECT CAST(FLOOR(MIN(epoch(ts)) / 3600) AS BIGINT) AS h0,
         CAST(FLOOR(MAX(epoch(ts)) / 3600) AS BIGINT) AS h1
  FROM events
),
types AS (SELECT DISTINCT event_type AS t FROM events),
spine AS (
  SELECT ty.t, u.eh
  FROM types ty CROSS JOIN span
  CROSS JOIN (SELECT UNNEST(generate_series(
      (SELECT h0 FROM span), (SELECT h1 FROM span))) AS eh) u
),
grid AS MATERIALIZED (
  SELECT s.t, s.eh, CAST(COALESCE(h.x, 0) AS BIGINT) AS x
  FROM spine s LEFT JOIN hourly h ON h.t = s.t AND h.eh = s.eh
),
tot AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS hh, CAST(SUM(x) AS BIGINT) AS sx
  FROM grid GROUP BY t
),
g AS MATERIALIZED (
  SELECT grid.t, grid.eh, grid.x * tot.hh - tot.sx AS d
  FROM grid JOIN tot ON tot.t = grid.t
),
trig AS MATERIALIZED (
  SELECT 6 AS p, k, qc, qs FROM (
    SELECT u.k, ([1024, 512, -512, -1024, -512, 512])[u.k + 1] AS qc,
           ([0, 887, 887, 0, -887, -887])[u.k + 1] AS qs
    FROM (SELECT UNNEST(generate_series(0, 5)) AS k) u)
  UNION ALL
  SELECT 12 AS p, k, qc, qs FROM (
    SELECT u.k, ([1024, 887, 512, 0, -512, -887, -1024, -887, -512, 0, 512, 887])[u.k + 1] AS qc,
           ([0, 512, 887, 1024, 887, 512, 0, -512, -887, -1024, -887, -512])[u.k + 1] AS qs
    FROM (SELECT UNNEST(generate_series(0, 11)) AS k) u)
  UNION ALL
  SELECT 24 AS p, k, qc, qs FROM (
    SELECT u.k, ([1024, 989, 887, 724, 512, 265, 0, -265, -512, -724, -887, -989, -1024, -989, -887, -724, -512, -265, 0, 265, 512, 724, 887, 989])[u.k + 1] AS qc,
           ([0, 265, 512, 724, 887, 989, 1024, 989, 887, 724, 512, 265, 0, -265, -512, -724, -887, -989, -1024, -989, -887, -724, -512, -265])[u.k + 1] AS qs
    FROM (SELECT UNNEST(generate_series(0, 23)) AS k) u)
  UNION ALL
  SELECT 168 AS p, k, qc, qs FROM (
    SELECT u.k, ([1024, 1023, 1021, 1018, 1013, 1006, 998, 989, 979, 967, 953, 939, 923, 905, 887, 867, 846, 824, 801, 776, 751, 724, 696, 668, 638, 608, 577, 545, 512, 478, 444, 409, 374, 338, 302, 265, 228, 190, 153, 115, 77, 38, 0, -38, -77, -115, -153, -190, -228, -265, -302, -338, -374, -409, -444, -478, -512, -545, -577, -608, -638, -668, -696, -724, -751, -776, -801, -824, -846, -867, -887, -905, -923, -939, -953, -967, -979, -989, -998, -1006, -1013, -1018, -1021, -1023, -1024, -1023, -1021, -1018, -1013, -1006, -998, -989, -979, -967, -953, -939, -923, -905, -887, -867, -846, -824, -801, -776, -751, -724, -696, -668, -638, -608, -577, -545, -512, -478, -444, -409, -374, -338, -302, -265, -228, -190, -153, -115, -77, -38, 0, 38, 77, 115, 153, 190, 228, 265, 302, 338, 374, 409, 444, 478, 512, 545, 577, 608, 638, 668, 696, 724, 751, 776, 801, 824, 846, 867, 887, 905, 923, 939, 953, 967, 979, 989, 998, 1006, 1013, 1018, 1021, 1023])[u.k + 1] AS qc,
           ([0, 38, 77, 115, 153, 190, 228, 265, 302, 338, 374, 409, 444, 478, 512, 545, 577, 608, 638, 668, 696, 724, 751, 776, 801, 824, 846, 867, 887, 905, 923, 939, 953, 967, 979, 989, 998, 1006, 1013, 1018, 1021, 1023, 1024, 1023, 1021, 1018, 1013, 1006, 998, 989, 979, 967, 953, 939, 923, 905, 887, 867, 846, 824, 801, 776, 751, 724, 696, 668, 638, 608, 577, 545, 512, 478, 444, 409, 374, 338, 302, 265, 228, 190, 153, 115, 77, 38, 0, -38, -77, -115, -153, -190, -228, -265, -302, -338, -374, -409, -444, -478, -512, -545, -577, -608, -638, -668, -696, -724, -751, -776, -801, -824, -846, -867, -887, -905, -923, -939, -953, -967, -979, -989, -998, -1006, -1013, -1018, -1021, -1023, -1024, -1023, -1021, -1018, -1013, -1006, -998, -989, -979, -967, -953, -939, -923, -905, -887, -867, -846, -824, -801, -776, -751, -724, -696, -668, -638, -608, -577, -545, -512, -478, -444, -409, -374, -338, -302, -265, -228, -190, -153, -115, -77, -38])[u.k + 1] AS qs
    FROM (SELECT UNNEST(generate_series(0, 167)) AS k) u)
),
proj AS MATERIALIZED (
  SELECT g.t, tr.p AS period_hours,
         CAST(SUM(g.d * tr.qc) AS BIGINT) AS sc,
         CAST(SUM(g.d * tr.qs) AS BIGINT) AS ss
  FROM g JOIN trig tr ON tr.k = ((g.eh % tr.p) + tr.p) % tr.p
  GROUP BY g.t, tr.p
),
scored AS MATERIALIZED (
  SELECT t, period_hours,
         CAST(sc AS DECIMAL(19,0)) * CAST(sc AS DECIMAL(19,0))
         + CAST(ss AS DECIMAL(19,0)) * CAST(ss AS DECIMAL(19,0)) AS power
  FROM proj
),
totp AS (SELECT t, CAST(SUM(power) AS DECIMAL(38,0)) AS ptot
         FROM scored GROUP BY t),
ranked AS (
  SELECT t, period_hours, power,
         ROW_NUMBER() OVER (PARTITION BY t
                            ORDER BY power DESC, period_hours ASC) AS rn
  FROM scored
)
SELECT r.t AS event_type,
       CAST(r.period_hours AS BIGINT) AS dominant_period_hours,
       CASE WHEN tp.ptot > 0 THEN
         CAST(CAST(r.power AS VARCHAR) AS DOUBLE)
         / CAST(CAST(tp.ptot AS VARCHAR) AS DOUBLE) END AS power_share
FROM ranked r JOIN totp tp ON tp.t = r.t
WHERE r.rn = 1
ORDER BY event_type
"""


# ------------------------------------------- CCNet perplexity buckets


def corpus_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, rank documents
    by LM avg negative log-likelihood and split into head / middle /
    tail terciles — THE canonical web-corpus quality partition (CCNet,
    Wenzek et al.): head trains, middle is kept-with-caution, tail is
    dropped or aggressively filtered. Reports each bucket's doc count,
    char mass, and exact bucket-level nll.

    Exactness: per-doc avg_nll is the lm_score contract (int64
    quantized-gram sums, one division); the per-doc integer gram-sum is
    reconstructed exactly from it (error << 0.5 ulp, same expression
    both engines), so bucket nll = sum(s)/sum(n)/2^30 is integer-exact;
    tercile assignment is the integer expression (3*(rank-1)) div
    n_lang over a (avg_nll, doc_id)-deterministic rank. Scale: ranks
    run per-language over doc-count-bounded partitions; everything
    else is hash aggs."""
    from ..operators import text as T

    scale = float(1 << 30)
    d = load_table(spark, sf_dir, "documents")
    lm = T.lm_score(d, cache_key=sf_dir).select("doc_id", "lang", "n_grams", "avg_nll")
    s_rec = F.floor(
        F.col("avg_nll") * F.col("n_grams").cast("double") * F.lit(scale)
        + F.lit(0.5)
    ).cast("long")
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    nl = Window.partitionBy("lang")
    ranked = lm.select(
        "doc_id",
        "lang",
        "n_grams",
        s_rec.alias("s"),
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1)).over(nl).cast("long").alias("n_lang"),
    )
    b = F.expr("(3 * (r - 1)) div n_lang")
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (b + 1).cast("int"),
    )
    jd = ranked.join(d.select("doc_id", "n_chars"), "doc_id")
    return (
        jd.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum("s").cast("long").alias("s_sum"),
            F.sum("n_grams").cast("long").alias("g_sum"),
        )
        .select(
            "lang",
            "bucket",
            "n_docs",
            "chars_total",
            (
                F.col("s_sum").cast("double")
                / F.col("g_sum").cast("double")
                / F.lit(scale)
            ).alias("bucket_nll"),
        )
        .orderBy("lang", "bucket")
    )


def _corpus_ccnet_buckets_sql() -> str:
    from ..operators.text import lm_score_sql

    scale = float(1 << 30)
    return f"""
WITH lm AS MATERIALIZED (
  SELECT doc_id, lang, n_grams, avg_nll FROM ({lm_score_sql()})
),
ranked AS MATERIALIZED (
  SELECT doc_id, lang, n_grams,
         CAST(FLOOR(avg_nll * CAST(n_grams AS DOUBLE) * {scale!r} + 0.5)
              AS BIGINT) AS s,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY avg_nll, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM lm
),
tagged AS (
  SELECT ranked.*, d.n_chars,
         (['head', 'middle', 'tail'])[
           CAST((3 * (r - 1)) // n_lang AS INT) + 1] AS bucket
  FROM ranked JOIN documents d USING (doc_id)
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(CAST(SUM(s) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(n_grams) AS BIGINT) AS DOUBLE)
         / {scale!r} AS bucket_nll
FROM tagged GROUP BY lang, bucket
ORDER BY lang, bucket
"""


# --------------------------------------------------- Hurst exponent


def events_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per event type by rescaled-range (R/S) analysis
    over daily counts — the long-memory screen (H > 0.5 = persistent
    trends, H < 0.5 = mean-reverting, 0.5 = random walk) that tells a
    capacity planner whether load excursions compound.

    Method: contiguous blocks of w in [4, 8, 16] full days (epoch-day
    div w, ragged edges dropped); per block the cumulative-deviation
    range is computed in w-SCALED integers (C_j = w*cumsum - j*block
    sum — exact int64, no mean subtraction in floats) and S from exact
    power sums; each block's R/S quantizes onto the 2^-20 grid before
    the per-(type, w) average (order-free int fold); the final
    log-log slope is a CLOSED-FORM 3-point OLS over PIVOTED columns
    with ln(w) baked in as Python literals and ln(avg_rs) through the
    libm twin — no float reduction anywhere whose order an engine
    could pick. Scale: one data-sized daily agg; blocks live on the
    calendar grid."""
    from ..functions.libm import libm_log

    g = _daily_grid(spark, sf_dir)
    eday = F.datediff(F.col("d"), F.lit("1970-01-01")).cast("long")
    base = g.select("t", eday.alias("ed"), F.col("n").alias("x"))
    parts = []
    for w_ in [4, 8, 16]:
        blk = base.select(
            "t",
            F.lit(w_).cast("long").alias("w"),
            F.expr(f"ed div {w_}".format(w_=w_)).alias("b"),
            "ed",
            "x",
        )
        win = Window.partitionBy("t", "b").orderBy("ed")
        cum = blk.select(
            "t",
            "w",
            "b",
            F.sum("x").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cs"),
            F.row_number().over(win).cast("long").alias("j"),
            F.sum("x").over(Window.partitionBy("t", "b")).alias("bsum"),
            "x",
        )
        stats = cum.groupBy("t", "w", "b").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("qx"),
            F.max(F.lit(w_) * F.col("cs") - F.col("j") * F.col("bsum"))
            .cast("long")
            .alias("cmax"),
            F.min(F.lit(w_) * F.col("cs") - F.col("j") * F.col("bsum"))
            .cast("long")
            .alias("cmin"),
        )
        parts.append(stats)
    import functools

    allb = functools.reduce(lambda x, y: x.unionByName(y), parts)
    sdev = F.sqrt(
        F.col("qx").cast("double") / F.col("w").cast("double")
        - (F.col("sx").cast("double") / F.col("w").cast("double"))
        * (F.col("sx").cast("double") / F.col("w").cast("double"))
    )
    rs = (
        (F.col("cmax") - F.col("cmin")).cast("double")
        / F.col("w").cast("double")
    ) / sdev
    q = F.floor(rs * F.lit(float(_Q20)) + F.lit(0.5)).cast("long")
    per_w = (
        allb.where((F.col("cnt") == F.col("w")) & (sdev > 0.0))
        .select("t", "w", q.alias("q"))
        .groupBy("t", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nb"),
            F.sum("q").cast("long").alias("sq"),
        )
        .select(
            "t",
            "w",
            (
                F.col("sq").cast("double")
                / F.col("nb").cast("double")
                / F.lit(float(_Q20))
            ).alias("avg_rs"),
        )
    )
    piv = per_w.groupBy("t").agg(
        F.max(F.when(F.col("w") == 4, F.col("avg_rs"))).alias("rs4"),
        F.max(F.when(F.col("w") == 8, F.col("avg_rs"))).alias("rs8"),
        F.max(F.when(F.col("w") == 16, F.col("avg_rs"))).alias("rs16")
    )
    # geometric windows make the 3-point OLS slope collapse to the
    # closed form (ln rs16 - ln rs4) / (2 ln 2) — the middle term's
    # weight is exactly zero
    hurst = (libm_log(F.col("rs16")) - libm_log(F.col("rs4"))) / F.lit(1.3862943611198906)
    return (
        piv.where(
            F.col("rs4").isNotNull()
            & F.col("rs8").isNotNull()
            & F.col("rs16").isNotNull()
        )
        .select(
            F.col("t").alias("event_type"),
            F.col("rs4").alias("rs_w4"),
            F.col("rs16").alias("rs_w16"),
            hurst.alias("hurst"),
        )
        .orderBy("event_type")
    )


EVENTS_HURST_SQL = f"""
WITH {_DAILY_GRID_SQL.lstrip()},
base AS (
  SELECT t, CAST(d - DATE '1970-01-01' AS BIGINT) AS ed, n AS x
  FROM grid
),
blk AS (
  SELECT t, w, ed // w AS b, ed, x
  FROM base CROSS JOIN (SELECT UNNEST([4, 8, 16]) AS w)
),
cum AS (
  SELECT t, w, b,
         SUM(x) OVER (PARTITION BY t, w, b ORDER BY ed
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         ROW_NUMBER() OVER (PARTITION BY t, w, b ORDER BY ed) AS j,
         SUM(x) OVER (PARTITION BY t, w, b) AS bsum,
         x
  FROM blk
),
stats AS MATERIALIZED (
  SELECT t, w, b,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS qx,
         CAST(MAX(w * cs - j * bsum) AS BIGINT) AS cmax,
         CAST(MIN(w * cs - j * bsum) AS BIGINT) AS cmin
  FROM cum GROUP BY t, w, b
),
per_w AS MATERIALIZED (
  SELECT t, w,
         CAST(SUM(CAST(FLOOR(
             ((CAST(cmax - cmin AS DOUBLE) / CAST(w AS DOUBLE))
              / sqrt(CAST(qx AS DOUBLE) / CAST(w AS DOUBLE)
                     - (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))))
             * {float(1 << 20)!r} + 0.5) AS BIGINT)) AS BIGINT)
           AS sq,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM stats
  WHERE cnt = w
    AND (CAST(qx AS DOUBLE) / CAST(w AS DOUBLE)
         - (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))
           * (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))) > 0
    AND sqrt(CAST(qx AS DOUBLE) / CAST(w AS DOUBLE)
             - (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(w AS DOUBLE))) > 0
  GROUP BY t, w
),
avgd AS (
  SELECT t, w,
         CAST(sq AS DOUBLE) / CAST(nb AS DOUBLE) / {float(1 << 20)!r}
           AS avg_rs
  FROM per_w
),
piv AS MATERIALIZED (
  SELECT t,
         MAX(CASE WHEN w = 4 THEN avg_rs END) AS rs4,
         MAX(CASE WHEN w = 8 THEN avg_rs END) AS rs8,
         MAX(CASE WHEN w = 16 THEN avg_rs END) AS rs16
  FROM avgd GROUP BY t
)
SELECT t AS event_type,
       rs4 AS rs_w4,
       rs16 AS rs_w16,
       (ln(rs16) - ln(rs4)) / 1.3862943611198906 AS hurst
FROM piv
WHERE rs4 IS NOT NULL AND rs8 IS NOT NULL
  AND rs16 IS NOT NULL
ORDER BY event_type
"""


# -------------------------------------------- Markov stationary dist


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain — where
    the per-user behavior process spends its time in the long run, the
    fixpoint companion to events_transition_matrix (which reports the
    one-step probabilities). Power iteration is PageRank with
    damping = 1.0 (teleport weight exactly 0, dangling mass still
    redistributed): the operator's integer-grid contract carries over
    unchanged and the oracle unrolls the same 8 rounds.

    Exactness/scale: the pagerank contract (operators/graph.py) —
    per round one edge⋈scores join + dst-keyed int64 agg; the
    event-type graph is |types|-bounded so the broadcast path is
    chosen by the auto threshold."""
    from ..operators.graph import pagerank

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        e.select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges, iters=8, damping=1.0).orderBy("node")


def _events_markov_stationary_sql() -> str:
    from ..operators.graph import RSCALE, pagerank_ctes

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
{pagerank_ctes(edges_cte, iters=8, damping=1.0)}
SELECT node, CAST(r AS DOUBLE) / {float(RSCALE)!r} AS rank FROM pr8
ORDER BY node
"""

# ------------------------------------------- classical decomposition


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    core of STL) of the daily cents-value series per event type:
    trend = centered 7-day moving average, seasonal = per-day-of-week
    mean of the detrended series (uncentered classical indices),
    remainder = observed - trend - seasonal. The decomposition behind
    "is today's level anomalous, or just a Saturday?" — complements
    events_seasonality (profile only) and events_holt_* (forecast
    only) with the full three-component split.

    Exactness: daily y is an exact int64 cents sum; the 7-day window
    sum s7 is int64; the detrended series is kept in SEVENTHS
    (7y - s7, exact int64) so the per-dow seasonal mean is one double
    division sd7/(7*cd); trend is one division s7/7. remainder
    composes the three via projected columns (the events_icc
    materialization recipe), never one inlined expression tree. Edge
    days (incomplete or non-contiguous 7-day window: count < 7 or
    day-span != 6) are excluded in both engines.

    Scale: one (type, day) hash agg is the only data-sized stage; the
    window and every join run on the calendar-bounded day frame.
    """
    e = load_table(spark, sf_dir, "events")
    dd = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = e.groupBy("event_type", dd.alias("dd")).agg(
        F.sum(cents).cast("long").alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("dd")
        .rowsBetween(-3, 3)
    )
    win = daily.select(
        "event_type",
        "dd",
        "y",
        F.sum("y").over(w).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
        (F.max("dd").over(w) - F.min("dd").over(w)).alias("span"),
    )
    valid = win.where((F.col("c7") == 7) & (F.col("span") == 6)).select(
        "event_type",
        "dd",
        "y",
        "s7",
        ((F.col("dd") + 4) % 7).cast("long").alias("dow"),
        (F.lit(7) * F.col("y") - F.col("s7")).alias("d7"),
    )
    seas = valid.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("long").alias("sd7"),
        F.count(F.lit(1)).cast("long").alias("cd"),
    )
    parts = valid.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "dd",
        "y",
        (F.col("s7").cast("double") / F.lit(7.0)).alias("trend"),
        (
            F.col("sd7").cast("double")
            / (F.lit(7) * F.col("cd")).cast("double")
        ).alias("seasonal"),
    )
    return parts.select(
        "event_type",
        F.expr("date_add(DATE'1970-01-01', CAST(dd AS INT))").alias("day"),
        "y",
        "trend",
        "seasonal",
        (F.col("y").cast("double") - F.col("trend") - F.col("seasonal")).alias(
            "remainder"
        ),
    )


EVENTS_STL_SQL = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS dd,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
win AS MATERIALIZED (
  SELECT event_type, dd, y,
         CAST(SUM(y) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS c7,
         (MAX(dd) OVER w - MIN(dd) OVER w) AS span
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY dd
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
valid AS MATERIALIZED (
  SELECT event_type, dd, y, s7,
         CAST((dd + 4) % 7 AS BIGINT) AS dow,
         7 * y - s7 AS d7
  FROM win WHERE c7 = 7 AND span = 6
),
seas AS MATERIALIZED (
  SELECT event_type, dow,
         CAST(SUM(d7) AS BIGINT) AS sd7,
         CAST(COUNT(*) AS BIGINT) AS cd
  FROM valid GROUP BY 1, 2
),
parts AS MATERIALIZED (
  SELECT v.event_type, v.dd, v.y,
         CAST(v.s7 AS DOUBLE) / 7.0 AS trend,
         CAST(s.sd7 AS DOUBLE) / CAST(7 * s.cd AS DOUBLE) AS seasonal
  FROM valid v JOIN seas s ON v.event_type = s.event_type AND v.dow = s.dow
)
SELECT event_type,
       DATE '1970-01-01' + CAST(dd AS INTEGER) AS day,
       y, trend, seasonal,
       CAST(y AS DOUBLE) - trend - seasonal AS remainder
FROM parts
"""


def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector on the zero-filled daily count grid
    per event type — the sequential mean-shift test that fires on
    sustained upward drift (vs CUSUM's two-sided shift and
    events_changepoint's offline split): m_t = Σ(x_i − x̄_i − δ),
    alarm when m_t − min(m_i) > λ.

    Exactness: the running mean x̄_i = cum_i/i is quantized onto the
    2^-20 grid PER TERM before the cumulative sum (a float cumsum's
    accumulation order is an engine detail; an int64 cumsum is not),
    so m_t, its running min, and the alarm comparison are all exact
    integers. δ=0, λ=32 counts (documented demo thresholds). Scale:
    everything runs on the calendar-bounded day grid.

    Output: (event_type, day, ph_gap, is_alarm).
    """
    grid = _daily_grid(spark, sf_dir)
    scale = 1 << 20
    lam = 32
    w = Window.partitionBy("t").orderBy("d")
    cum = grid.select(
        "t",
        "d",
        F.sum("n").over(w).cast("long").alias("cum"),
        F.row_number().over(w).cast("long").alias("i"),
        F.col("n").cast("long").alias("n"),
    )
    # per-term quantized running mean, then integer cumulative machinery
    q = cum.withColumn(
        "mean_q",
        F.floor(
            (F.col("cum").cast("double") / F.col("i").cast("double"))
            * F.lit(float(scale))
            + F.lit(0.5)
        ).cast("long"),
    )
    w2 = Window.partitionBy("t").orderBy("d")
    m = q.withColumn(
        "m_int",
        (F.lit(scale) * F.col("cum") - F.sum("mean_q").over(w2)).cast("long"),
    )
    g = m.withColumn(
        "m_min", F.min("m_int").over(w2).cast("long")
    ).withColumn("gap_int", (F.col("m_int") - F.col("m_min")).cast("long"))
    return g.select(
        F.col("t").alias("event_type"),
        F.col("d").alias("day"),
        (F.col("gap_int").cast("double") / F.lit(float(scale))).alias("ph_gap"),
        (F.col("gap_int") > lam * scale).alias("is_alarm"),
    )


def _events_page_hinkley_sql() -> str:
    scale = 1 << 20
    lam = 32
    return f"""
WITH {_DAILY_GRID_SQL},
cum AS MATERIALIZED (
  SELECT t, d,
         CAST(SUM(n) OVER w AS BIGINT) AS cum,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS i
  FROM grid
  WINDOW w AS (PARTITION BY t ORDER BY d)
),
q AS MATERIALIZED (
  SELECT t, d, cum, i,
         CAST(FLOOR((CAST(cum AS DOUBLE) / CAST(i AS DOUBLE))
                    * {float(scale)!r} + 0.5) AS BIGINT) AS mean_q
  FROM cum
),
m AS MATERIALIZED (
  SELECT t, d,
         CAST({scale} * cum - SUM(mean_q) OVER
              (PARTITION BY t ORDER BY d) AS BIGINT) AS m_int
  FROM q
),
g AS (
  SELECT t, d, m_int,
         CAST(MIN(m_int) OVER (PARTITION BY t ORDER BY d) AS BIGINT) AS m_min
  FROM m
)
SELECT t AS event_type, d AS day,
       CAST(m_int - m_min AS DOUBLE) / {float(scale)!r} AS ph_gap,
       (m_int - m_min) > {lam} * {scale} AS is_alarm
FROM g
"""


# Python-precomputed double literals (the integer-DCG recipe): no
# runtime pi/gamma disagreement can exist if both engines read the
# same 17-digit literal.
_SQRT6_OVER_PI = 0.7796968012336609  # sqrt(6)/pi
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_Q99 = 4.600149226776579  # -ln(-ln(0.99))


def events_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on WEEKLY BLOCK MAXIMA of daily counts
    per event type (method of moments: β̂ = s·√6/π, μ̂ = m̄ − γ·β̂) plus
    the 99% return level μ̂ + β̂·(−ln(−ln 0.99)) — the principled "how
    big can a normal week get" threshold that a plain max() cannot
    give (it answers with the observed max, not the distribution).

    Exactness: block maxima are exact integers (max of daily counts);
    mean/var use the shared-subexpression form over exact int64 power
    sums; √6/π, γ, and the 0.99 quantile factor are PRE-COMPUTED
    17-digit double literals embedded in both engines; compositions go
    through projected columns. Scale: one (type, day) agg, one
    (type, week) max, one |types|-row fit.

    Output: (event_type, n_blocks, mean_max, gumbel_beta, gumbel_mu,
    return_level_99).
    """
    grid = _daily_grid(spark, sf_dir)
    wk = grid.select(
        "t", F.expr("datediff(d, DATE '1970-01-01') div 7").alias("wk"), "n"
    )
    blocks = wk.groupBy("t", "wk").agg(F.max("n").cast("long").alias("mx"))
    agg = blocks.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    stage1 = agg.select(
        "t",
        "nb",
        (F.col("s1").cast("double") / F.col("nb").cast("double")).alias("m"),
        (
            F.col("s2").cast("double") / F.col("nb").cast("double")
            - (F.col("s1").cast("double") / F.col("nb").cast("double"))
            * (F.col("s1").cast("double") / F.col("nb").cast("double"))
        ).alias("v"),
    )
    stage2 = stage1.select(
        "t", "nb", "m", (F.sqrt(F.col("v")) * F.lit(_SQRT6_OVER_PI)).alias("beta")
    )
    stage3 = stage2.select(
        "t",
        "nb",
        "m",
        "beta",
        (F.col("m") - F.lit(_EULER_GAMMA) * F.col("beta")).alias("mu"),
    )
    return stage3.select(
        F.col("t").alias("event_type"),
        F.col("nb").alias("n_blocks"),
        F.col("m").alias("mean_max"),
        F.col("beta").alias("gumbel_beta"),
        F.col("mu").alias("gumbel_mu"),
        (F.col("mu") + F.col("beta") * F.lit(_GUMBEL_Q99)).alias(
            "return_level_99"
        ),
    )


def _events_block_maxima_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL},
wk AS (
  SELECT t, (d - DATE '1970-01-01') // 7 AS wk, n FROM grid
),
blocks AS MATERIALIZED (
  SELECT t, wk, CAST(MAX(n) AS BIGINT) AS mx FROM wk GROUP BY t, wk
),
agg AS MATERIALIZED (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(mx) AS BIGINT) AS s1,
         CAST(SUM(mx * mx) AS BIGINT) AS s2
  FROM blocks GROUP BY t
),
stage1 AS MATERIALIZED (
  SELECT t, nb,
         CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE) AS m,
         CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
           - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE)) AS v
  FROM agg
),
stage2 AS MATERIALIZED (
  SELECT t, nb, m, sqrt(v) * {_SQRT6_OVER_PI!r} AS beta FROM stage1
),
stage3 AS MATERIALIZED (
  SELECT t, nb, m, beta, m - {_EULER_GAMMA!r} * beta AS mu FROM stage2
)
SELECT t AS event_type, nb AS n_blocks, m AS mean_max,
       beta AS gumbel_beta, mu AS gumbel_mu,
       mu + beta * {_GUMBEL_Q99!r} AS return_level_99
FROM stage3
"""


QUERIES = {
    "events_stl_decompose": events_stl_decompose,
    "events_page_hinkley": events_page_hinkley,
    "events_block_maxima": events_block_maxima,
    "events_markov_stationary": events_markov_stationary,
    "events_hurst": events_hurst,
    "corpus_ccnet_buckets": corpus_ccnet_buckets,
    "events_dominant_period": events_dominant_period,
    "events_gtest": events_gtest,
    "text_keyness": text_keyness,
    "sql_copurchase_hits": sql_copurchase_hits,
    "events_kendall_tau": events_kendall_tau,
    "events_spearman": events_spearman,
    "events_welch_t": events_welch_t,
    "sql_basket_rules": sql_basket_rules,
    "dq_completeness_profile": dq_completeness_profile,
}

ORACLES = {
    "events_stl_decompose": EVENTS_STL_SQL,
    "events_page_hinkley": _events_page_hinkley_sql(),
    "events_block_maxima": _events_block_maxima_sql(),
    "events_markov_stationary": _events_markov_stationary_sql(),
    "events_hurst": EVENTS_HURST_SQL,
    "corpus_ccnet_buckets": _corpus_ccnet_buckets_sql(),
    "events_dominant_period": EVENTS_DOMINANT_PERIOD_SQL,
    "events_gtest": EVENTS_GTEST_SQL,
    "text_keyness": TEXT_KEYNESS_SQL,
    "sql_copurchase_hits": _sql_copurchase_hits_sql(),
    "events_kendall_tau": EVENTS_KENDALL_SQL,
    "events_spearman": EVENTS_SPEARMAN_SQL,
    "events_welch_t": EVENTS_WELCH_SQL,
    "sql_basket_rules": SQL_BASKET_RULES_SQL,
    "dq_completeness_profile": DQ_COMPLETENESS_SQL,
}

"""Statistics over the ``events`` table: the ``events_*`` tests,
distances and series diagnostics beyond the relational core.

- two-sample and drift screens: Welch's t, Kruskal-Wallis, Mood's
  median, Friedman, Cochran's Q, McNemar, Jonckheere-Terpstra, Poisson
  rate, Wasserstein-1, energy distance, total variation, Hellinger,
  Cliff's delta, Cohen's d, Grubbs
- rank and dependence measures: Kendall tau-b, Spearman, Chatterjee's
  xi, partial correlation, Cochran-Mantel-Haenszel, the G-test
- series diagnostics: STL decomposition, Page-Hinkley, block maxima,
  Hurst, dominant period, seasonal strength, Durbin-Watson, turning
  points, seasonal Mann-Kendall, Theil-Sen, max drawdown, weekly
  autocorrelation, permutation entropy, SAX motifs, series similarity
- activity and count screens: Markov stationary distribution, circular
  Rayleigh, user Gini, growth accounting, Benford MAD, odd-hours share,
  Chao1 richness, an anomaly-score ensemble

Most daily-count tests share one zero-filled (type, day, n) grid:
``_daily_grid`` on the Spark side, ``_DAILY_GRID_SQL`` in the oracles.

Exactness contract: the grid contract of ``operators/stats.py``
(cents, counts and epoch days as int64 sufficient statistics, float
partials on the 2^-20 grid, one final float expression per statistic
in the oracle's op order), folded in map-side-combinable hash
aggregates. sqrt is correctly rounded on both engines; every other
transcendental goes through the libm twin (``functions/libm.py``), and
Benford's expected shares are Python literals embedded in both plans.
Weekdays come from epoch-day arithmetic (``d % 7``), never from an
engine's week rules. Possibly-zero denominators are guarded structurally on both
engines. The reference's scope ends at fixed-threshold detection
(AD.java:200); this family is beyond-reference by design (SURVEY.md §2
extension family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table
from ..operators.stats import Q20, cents, centered, half_up, moments, on_grid, pearson


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
        *moments(
            "n", sa="ra", sb="rb", qa=("ra", "ra"), qb=("rb", "rb"), sab=("ra", "rb"),
        ),
    )
    rho = pearson(sx="sa", sxx="qa", sy="sb", syy="qb", sxy="sab")
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
    is_we = F.dayofweek("ts").isin(1, 7).cast("int")  # Sun=1, Sat=7
    base = e.select(
        F.col("event_type"), is_we.alias("we"), cents().alias("v")
    ).groupBy("event_type", "we").agg(
        *moments("n", s="v", q=("v", "v")),
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
    q = on_grid(F.col("o").cast("double") * libm_log(ratio), float(Q20))
    summed = (
        cells.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "dp")
        .crossJoin(F.broadcast(n))
        .select(q.alias("q"), "n")
        .groupBy("n")
        .agg(F.sum("q").cast("long").alias("sq"))
    )
    g = (F.lit(2.0) * F.col("sq").cast("double")) / F.lit(float(Q20))
    out = summed.crossJoin(F.broadcast(dims)).select(
        F.col("n").alias("n_events"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("df"),
        g.alias("g_stat"),
        F.sqrt(
            (F.lit(2.0) * F.col("sq").cast("double") / F.lit(float(Q20)))
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
              * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM cells JOIN rt ON rt.t = cells.t JOIN ct ON ct.dp = cells.dp
  CROSS JOIN n
  GROUP BY n.n
)
SELECT summed.n AS n_events,
       (dims.r - 1) * (dims.c - 1) AS df,
       2.0 * CAST(sq AS DOUBLE) / {float(Q20)!r} AS g_stat,
       sqrt((2.0 * CAST(sq AS DOUBLE) / {float(Q20)!r})
            / (CAST(summed.n AS DOUBLE)
               * CAST(LEAST(dims.r - 1, dims.c - 1) AS DOUBLE)))
         AS cramers_v
FROM summed CROSS JOIN dims
"""


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
            *moments("cnt", sx="x", qx=("x", "x")),
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
    q = on_grid(rs, float(Q20))
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
                / F.lit(float(Q20))
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
             * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT)
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
         CAST(sq AS DOUBLE) / CAST(nb AS DOUBLE) / {float(Q20)!r}
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
    daily = e.groupBy("event_type", dd.alias("dd")).agg(
        F.sum(cents()).cast("long").alias("y")
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
        on_grid(F.col("cum").cast("double") / F.col("i").cast("double"), float(Q20)),
    )
    w2 = Window.partitionBy("t").orderBy("d")
    m = q.withColumn(
        "m_int",
        (F.lit(Q20) * F.col("cum") - F.sum("mean_q").over(w2)).cast("long"),
    )
    g = m.withColumn(
        "m_min", F.min("m_int").over(w2).cast("long")
    ).withColumn("gap_int", (F.col("m_int") - F.col("m_min")).cast("long"))
    return g.select(
        F.col("t").alias("event_type"),
        F.col("d").alias("day"),
        (F.col("gap_int").cast("double") / F.lit(float(Q20))).alias("ph_gap"),
        (F.col("gap_int") > lam * Q20).alias("is_alarm"),
    )


def _events_page_hinkley_sql() -> str:
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
                    * {float(Q20)!r} + 0.5) AS BIGINT) AS mean_q
  FROM cum
),
m AS MATERIALIZED (
  SELECT t, d,
         CAST({Q20} * cum - SUM(mean_q) OVER
              (PARTITION BY t ORDER BY d) AS BIGINT) AS m_int
  FROM q
),
g AS (
  SELECT t, d, m_int,
         CAST(MIN(m_int) OVER (PARTITION BY t ORDER BY d) AS BIGINT) AS m_min
  FROM m
)
SELECT t AS event_type, d AS day,
       CAST(m_int - m_min AS DOUBLE) / {float(Q20)!r} AS ph_gap,
       (m_int - m_min) > {lam} * {Q20} AS is_alarm
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
        *moments("nb", s1="mx", s2=("mx", "mx")),
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


# ------------------------------------------------ Kruskal-Wallis H


def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS rank test: do the k event types draw their
    values from the same distribution? The non-parametric ANOVA twin
    (complements events_anova / events_mannwhitney) on the cents-
    quantized value grid both engines share.

    Exactness: DOUBLED midranks d = 2*cum - cnt + 1 are exact integers
    on the grid; per-type doubled-rank sums R2_j and n_j are int64;
    each per-type term R2_j^2/(4 n_j) converts the exact ints to
    doubles in the SAME op order, and the k-term sum is an ORDERED fold
    (sorted by event_type) so no engine reorders it; tie correction
    SUM(cnt^3 - cnt) stays int64 (exact while per-value counts stay
    under ~2M — holds at every committed sf). Scale: one data-sized
    grid agg; everything after is grid/type-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    grid = ev.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grid.withColumn(
        "d", (2 * F.sum("cnt").over(wcum) - F.col("cnt") + 1).cast("long")
    )
    per_tc = ev.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("tcnt")
    )
    per_type = (
        per_tc.join(ranked.select("c", "d"), "c")
        .groupBy("event_type")
        .agg(
            *moments(None, nj="tcnt", r2=("tcnt", "d")),
        )
    )
    term = (
        F.col("r2").cast("double") * F.col("r2").cast("double")
        / (F.lit(4.0) * F.col("nj").cast("double"))
    )
    folded = per_type.select(
        F.col("event_type").alias("t"), F.col("nj"), term.alias("term")
    )
    stats = folded.agg(
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("term")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("sr"),
    )
    ties = grid.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tt")
    )
    nd = F.col("n").cast("double")
    h = F.lit(12.0) * F.col("sr") / (nd * (nd + F.lit(1.0))) - F.lit(
        3.0
    ) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("tt").cast("double") / (
        nd * nd * nd - nd
    )
    return stats.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        h.alias("h"),
        (h / corr).alias("h_tie_corrected"),
    )


EVENTS_KRUSKAL_WALLIS_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
grid AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY c
),
ranked AS (
  SELECT c, cnt,
         CAST(2 * SUM(cnt) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - cnt + 1 AS BIGINT) AS d
  FROM grid
),
per_tc AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS tcnt
  FROM ev GROUP BY event_type, c
),
per_type AS (
  SELECT t.event_type,
         CAST(SUM(t.tcnt) AS BIGINT) AS nj,
         CAST(SUM(t.tcnt * r.d) AS BIGINT) AS r2
  FROM per_tc t JOIN ranked r ON r.c = t.c
  GROUP BY t.event_type
),
folded AS (
  SELECT CAST(SUM(nj) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce(
           list_prepend(0.0,
             list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                  / (4.0 * CAST(nj AS DOUBLE)) ORDER BY event_type)),
           (a, x) -> a + x) AS sr
  FROM per_type
),
ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tt FROM grid
)
SELECT n, k,
       12.0 * sr / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
         - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
       (12.0 * sr / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
         - 3.0 * (CAST(n AS DOUBLE) + 1.0))
         / (1.0 - CAST(tt AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE))) AS h_tie_corrected
FROM folded, ties
"""


# ------------------------------------------------ Mood's median test


def events_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST across event types: split every value at the
    corpus-global lower median and chi-square the resulting k x 2
    table — the robust 'do the groups straddle the same center?'
    screen that survives heavy tails where means lie.

    Exactness: the median is SELECTED (min cents value whose cumulative
    count reaches (N+1) div 2 — selection-only, no interpolation);
    cell terms (o*N - row*col)^2/(row*col*N) convert exact int64
    counts to doubles in the same op order, quantize to the 2^-20
    grid, and fold as int64 (the chi2_independence recipe). Scale:
    one grid agg + type-bounded table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    grid = ev.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    tot = grid.agg(F.sum("cnt").cast("long").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("c").cast("long").alias("med"))
    )
    per_type = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum(F.when(F.col("c") <= F.col("med"), 1).otherwise(0))
            .cast("long")
            .alias("below"),
        )
        .withColumn("above", (F.col("nj") - F.col("below")).cast("long"))
    )
    cols = per_type.agg(
        F.sum("nj").cast("long").alias("n"),
        F.sum("below").cast("long").alias("cb"),
        F.sum("above").cast("long").alias("ca"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    cells = per_type.crossJoin(F.broadcast(cols)).select(
        "event_type",
        "n",
        "k",
        F.stack(
            F.lit(2),
            F.lit("below"),
            F.col("below"),
            F.col("cb"),
            F.lit("above"),
            F.col("above"),
            F.col("ca"),
        ).alias("side", "o", "coltot"),
        F.col("nj").alias("rowtot"),
    )
    num = (
        F.col("o") * F.col("n") - F.col("rowtot") * F.col("coltot")
    ).cast("double")
    den = (F.col("rowtot") * F.col("coltot")).cast("double") * F.col(
        "n"
    ).cast("double")
    # zero-guard: when the median equals the max value the 'above'
    # column is empty (coltot = 0) and num = 0 too — the 0/0 cell
    # contributes 0 by convention (expected mass 0), instead of a NaN
    # that ANSI floor/cast would turn into a crash (round-8 review).
    term_q = F.when(
        den > F.lit(0.0),
        on_grid(num * num / den, float(Q20)),
    ).otherwise(F.lit(0).cast("long"))
    agg = cells.groupBy("n", "k").agg(
        F.sum(term_q).cast("long").alias("chi2_q")
    )
    return agg.crossJoin(F.broadcast(med)).select(
        "n",
        (F.col("k") - 1).cast("long").alias("dof"),
        (F.col("med").cast("double") / F.lit(100.0)).alias("median"),
        (F.col("chi2_q").cast("double") / F.lit(float(Q20))).alias("chi2"),
    )


EVENTS_MOOD_MEDIAN_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
grid AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY c),
cum AS (
  SELECT c, CAST(SUM(cnt) OVER (ORDER BY c
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM grid
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM grid),
med AS (
  SELECT CAST(MIN(c) AS BIGINT) AS med
  FROM cum, tot WHERE cum >= (n + 1) // 2
),
per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS nj,
         CAST(SUM(CASE WHEN c <= med THEN 1 ELSE 0 END) AS BIGINT) AS below
  FROM ev, med GROUP BY event_type
),
pt2 AS (
  SELECT event_type, nj, below,
         CAST(nj - below AS BIGINT) AS above
  FROM per_type
),
cols AS (
  SELECT CAST(SUM(nj) AS BIGINT) AS n,
         CAST(SUM(below) AS BIGINT) AS cb,
         CAST(SUM(above) AS BIGINT) AS ca,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM pt2
),
cells AS (
  SELECT p.nj AS rowtot, c.n, c.k, u.o, u.coltot
  FROM pt2 p, cols c,
       LATERAL (VALUES (p.below, c.cb), (p.above, c.ca)) AS u(o, coltot)
),
terms AS (
  SELECT n, k,
         CASE WHEN CAST(rowtot * coltot AS DOUBLE) * CAST(n AS DOUBLE) > 0.0
         THEN CAST(FLOOR(
           CAST(o * n - rowtot * coltot AS DOUBLE)
           * CAST(o * n - rowtot * coltot AS DOUBLE)
           / (CAST(rowtot * coltot AS DOUBLE) * CAST(n AS DOUBLE))
           * 1048576.0 + 0.5) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS tq
  FROM cells
),
agg AS (
  SELECT n, k, CAST(SUM(tq) AS BIGINT) AS chi2_q FROM terms GROUP BY n, k
)
SELECT n, CAST(k - 1 AS BIGINT) AS dof,
       CAST(med AS DOUBLE) / 100.0 AS median,
       CAST(chi2_q AS DOUBLE) / 1048576.0 AS chi2
FROM agg, med
"""


# --------------------------------------------- seasonal strength


def events_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL STRENGTH per event type: 1 - Var(remainder) /
    Var(detrended) over the classical 7-day decomposition — the scalar
    that says whether the weekly profile is signal or noise (Hyndman's
    F_s measure on the moving-average decomposition). Complements
    events_stl_decompose (which reports the components) with the
    decision number.

    Exactness: detrended and remainder series follow the STL recipe
    (int64 sevenths); both are quantized to WHOLE CENTS per day
    (floor(x + 0.5) of exact-operand doubles, identical both engines)
    so the variance power sums fold as int64; the final ratio is one
    shared float expression. The operator's contract is defined ON the
    cents grid — the quantization is part of the statistic, applied
    identically in both engines. Scale: one (type, day) agg, then
    calendar-bounded frames throughout (int64 power sums hold while
    per-day cents stay under ~3e9 - true at every committed sf)."""
    e = load_table(spark, sf_dir, "events")
    dd = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    daily = e.groupBy("event_type", dd.alias("dd")).agg(
        F.sum(cents()).cast("long").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("dd").rowsBetween(-3, 3)
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
        ((F.col("dd") + 4) % 7).cast("long").alias("dow"),
        (F.lit(7) * F.col("y") - F.col("s7")).alias("d7"),
    )
    seas = valid.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("long").alias("sd7"),
        F.count(F.lit(1)).cast("long").alias("cd"),
    )
    rows = valid.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        half_up(F.col("d7").cast("double") / F.lit(7.0)).alias("dq"),
        half_up(
            F.col("d7").cast("double") / F.lit(7.0)
            - F.col("sd7").cast("double")
            / (F.lit(7) * F.col("cd")).cast("double")
        ).alias("rq"),
    )
    agg = rows.groupBy("event_type").agg(
        *moments("n", sd="dq", qd=("dq", "dq"), sr="rq", qr=("rq", "rq")),
    )
    nd = F.col("n").cast("double")
    var_d = F.col("qd").cast("double") / nd - (
        F.col("sd").cast("double") / nd
    ) * (F.col("sd").cast("double") / nd)
    var_r = F.col("qr").cast("double") / nd - (
        F.col("sr").cast("double") / nd
    ) * (F.col("sr").cast("double") / nd)
    # zero-guard (ANSI mode errors on x/0): a constant series has no
    # detrended variance and therefore no seasonal signal -> strength 0
    strength = F.when(
        var_d > F.lit(0.0),
        F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_d),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        (var_d / F.lit(10000.0)).alias("var_detrended"),
        (var_r / F.lit(10000.0)).alias("var_remainder"),
        strength.alias("seasonal_strength"),
    ).orderBy("event_type")


EVENTS_SEASONAL_STRENGTH_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS dd,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
win AS (
  SELECT event_type, dd, y,
         CAST(SUM(y) OVER w AS BIGINT) AS s7,
         COUNT(*) OVER w AS c7,
         MAX(dd) OVER w - MIN(dd) OVER w AS span
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY dd
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
valid AS (
  SELECT event_type, dd, (dd + 4) % 7 AS dow,
         7 * y - s7 AS d7
  FROM win WHERE c7 = 7 AND span = 6
),
seas AS (
  SELECT event_type, dow, CAST(SUM(d7) AS BIGINT) AS sd7,
         CAST(COUNT(*) AS BIGINT) AS cd
  FROM valid GROUP BY event_type, dow
),
rows_ AS (
  SELECT v.event_type,
         CAST(FLOOR(CAST(v.d7 AS DOUBLE) / 7.0 + 0.5) AS BIGINT) AS dq,
         CAST(FLOOR((CAST(v.d7 AS DOUBLE) / 7.0
                     - CAST(s.sd7 AS DOUBLE)
                       / CAST(7 * s.cd AS DOUBLE)) + 0.5) AS BIGINT) AS rq
  FROM valid v JOIN seas s ON s.event_type = v.event_type AND s.dow = v.dow
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dq) AS BIGINT) AS sd,
         CAST(SUM(dq * dq) AS BIGINT) AS qd,
         CAST(SUM(rq) AS BIGINT) AS sr,
         CAST(SUM(rq * rq) AS BIGINT) AS qr
  FROM rows_ GROUP BY event_type
)
SELECT event_type, n AS n_days,
       (CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)
        - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0
         AS var_detrended,
       (CAST(qr AS DOUBLE) / CAST(n AS DOUBLE)
        - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / 10000.0
         AS var_remainder,
       CASE WHEN (CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) > 0.0
       THEN GREATEST(0.0, 1.0
         - (CAST(qr AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)))
           / (CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))))
       ELSE 0.0 END
         AS seasonal_strength
FROM agg
ORDER BY event_type
"""


# ------------------------------------------------ Wasserstein-1 drift


def events_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WASSERSTEIN-1 (earth-mover) distance between each event type's
    VALUE distribution and the pooled distribution — the transport-cost
    drift metric that, unlike PSI/KS/JSD, weighs HOW FAR probability
    mass moved, not just that it moved: W1 = integral of |F_t - F_all|
    over the value axis.

    Exactness: on the shared cents grid the CDF difference at cell c is
    the exact rational |cum_t*N - cum_all*n_t| / (n_t*N); the integral
    is a sum over grid gaps of that integer numerator times the integer
    gap width, so everything up to ONE final double division is int64
    (|numerator| <= n_t*N <= N^2/|types| ~ 2e11 at sf1 and the gap-sum
    telescopes to max_diff * value_range — comfortably inside int64
    through sf10). Scale: two map-side-combinable hash aggs over
    events; the grid frame is |types| x |distinct cents| (value-domain
    bounded), and the window runs per type over that bounded grid."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    cells = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    types = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    per_tc = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_tc")
    )
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    grid = (
        types.crossJoin(F.broadcast(cells))
        .join(per_tc, ["event_type", "c"], "left")
        .select(
            "event_type",
            "n_t",
            "c",
            "n_all",
            F.coalesce(F.col("n_tc"), F.lit(0)).cast("long").alias("n_tc"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlead = Window.partitionBy("event_type").orderBy("c")
    cum = grid.select(
        "event_type",
        "n_t",
        F.sum("n_tc").over(w).cast("long").alias("cum_t"),
        F.sum("n_all").over(w).cast("long").alias("cum_all"),
        (F.lead("c").over(wlead) - F.col("c")).cast("long").alias("gap"),
    ).where(F.col("gap").isNotNull())
    contrib = cum.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_t",
        "n_tot",
        (
            F.abs(
                F.col("cum_t") * F.col("n_tot")
                - F.col("cum_all") * F.col("n_t")
            )
            * F.col("gap")
        )
        .cast("long")
        .alias("a"),
    )
    return (
        contrib.groupBy("event_type", "n_t", "n_tot")
        .agg(F.sum("a").cast("long").alias("s"))
        .select(
            "event_type",
            F.col("n_t").alias("n_events"),
            (
                F.col("s").cast("double")
                / (
                    F.col("n_t").cast("double")
                    * F.col("n_tot").cast("double")
                    * F.lit(100.0)
                )
            ).alias("w1"),
        )
        .orderBy("event_type")
    )


EVENTS_WASSERSTEIN_SQL = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
cells AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_all FROM ev GROUP BY c),
types AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ev
  GROUP BY event_type
),
per_tc AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS n_tc FROM ev
  GROUP BY event_type, c
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM ev),
grid AS (
  SELECT t.event_type, t.n_t, ce.c, ce.n_all,
         CAST(COALESCE(p.n_tc, 0) AS BIGINT) AS n_tc
  FROM types t CROSS JOIN cells ce
  LEFT JOIN per_tc p ON p.event_type = t.event_type AND p.c = ce.c
),
cum AS (
  SELECT event_type, n_t,
         CAST(SUM(n_tc) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_t,
         CAST(SUM(n_all) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_all,
         CAST(LEAD(c) OVER (PARTITION BY event_type ORDER BY c) - c
              AS BIGINT) AS gap
  FROM grid
)
SELECT event_type, n_t AS n_events,
       CAST(SUM(ABS(cum_t * n_tot - cum_all * n_t) * gap) AS DOUBLE)
         / (CAST(n_t AS DOUBLE) * CAST(n_tot AS DOUBLE) * 100.0) AS w1
FROM cum, tot
WHERE gap IS NOT NULL
GROUP BY event_type, n_t, n_tot
ORDER BY event_type
"""


# ------------------------------------------- energy-distance two-sample


def events_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENERGY DISTANCE between the weekday and weekend daily-count
    distributions per event type — the two-sample test that is zero iff
    the distributions match, with no binning choice: E = 2*E|X-Y| -
    E|X-X'| - E|Y-Y'| (V-statistic form, all ordered pairs including
    i=j, so the within-terms carry zero diagonals on both engines
    identically).

    Exactness: daily counts are int64 on the calendar grid; every
    |x-y| pair sum is an exact int64 (day-pair frames are
    CALENDAR-bounded, the kendall-tau cost argument: ~n_days^2 tiny
    rows per type, never data-sized); the three means divide as
    CAST(s)/( CAST(na)*CAST(nb) ) in a fixed order and compose
    2*ab - aa - bb identically. Scale: the only data-sized stage is
    the (type, day) count agg behind the shared daily grid."""
    g = _daily_grid(spark, sf_dir).select(
        "t",
        "n",
        F.dayofweek("d").isin(1, 7).cast("int").alias("we"),  # Sun=1, Sat=7
    )
    a = g.where(F.col("we") == 0).select(F.col("t"), F.col("n").alias("x"))
    b = g.where(F.col("we") == 1).select(F.col("t"), F.col("n").alias("y"))

    def _pair_sum(l: DataFrame, r: DataFrame, lc: str, rc: str, out: str):
        return (
            l.join(r, "t")
            .groupBy("t")
            .agg(F.sum(F.abs(F.col(lc) - F.col(rc))).cast("long").alias(out))
        )

    ab = _pair_sum(a, b.select("t", "y"), "x", "y", "sab")
    aa = _pair_sum(a, a.select("t", F.col("x").alias("x2")), "x", "x2", "saa")
    bb = _pair_sum(b, b.select("t", F.col("y").alias("y2")), "y", "y2", "sbb")
    na = a.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("na"))
    nb = b.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    j = na.join(nb, "t").join(ab, "t").join(aa, "t").join(bb, "t")
    mab = F.col("sab").cast("double") / (
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    maa = F.col("saa").cast("double") / (
        F.col("na").cast("double") * F.col("na").cast("double")
    )
    mbb = F.col("sbb").cast("double") / (
        F.col("nb").cast("double") * F.col("nb").cast("double")
    )
    return j.select(
        F.col("t").alias("event_type"),
        F.col("na").alias("n_weekday_days"),
        F.col("nb").alias("n_weekend_days"),
        (F.lit(2.0) * mab - maa - mbb).alias("e_dist"),
    ).orderBy("event_type")


def _events_energy_distance_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL.lstrip()},
lab AS (
  SELECT t, n,
         CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS we
  FROM grid
),
a AS (SELECT t, n AS x FROM lab WHERE we = 0),
b AS (SELECT t, n AS y FROM lab WHERE we = 1),
ab AS (
  SELECT a.t, CAST(SUM(ABS(a.x - b.y)) AS BIGINT) AS sab
  FROM a JOIN b ON a.t = b.t GROUP BY a.t
),
aa AS (
  SELECT l.t, CAST(SUM(ABS(l.x - r.x)) AS BIGINT) AS saa
  FROM a l JOIN a r ON l.t = r.t GROUP BY l.t
),
bb AS (
  SELECT l.t, CAST(SUM(ABS(l.y - r.y)) AS BIGINT) AS sbb
  FROM b l JOIN b r ON l.t = r.t GROUP BY l.t
),
na AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS na FROM a GROUP BY t),
nb AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nb FROM b GROUP BY t)
SELECT na.t AS event_type, na.na AS n_weekday_days, nb.nb AS n_weekend_days,
       2.0 * (CAST(sab AS DOUBLE) / (CAST(na.na AS DOUBLE)
                                     * CAST(nb.nb AS DOUBLE)))
         - (CAST(saa AS DOUBLE) / (CAST(na.na AS DOUBLE)
                                   * CAST(na.na AS DOUBLE)))
         - (CAST(sbb AS DOUBLE) / (CAST(nb.nb AS DOUBLE)
                                   * CAST(nb.nb AS DOUBLE))) AS e_dist
FROM na JOIN nb ON nb.t = na.t
JOIN ab ON ab.t = na.t JOIN aa ON aa.t = na.t JOIN bb ON bb.t = na.t
ORDER BY event_type
"""


# --------------------------------------------- Durbin-Watson residuals


def events_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON autocorrelation of the residuals after the OLS
    day-index detrend of each type's daily counts — the diagnostic
    that says whether events_trend_ols's fit can be believed (DW ~ 2:
    independent residuals; DW -> 0: positive autocorrelation, the
    trend line is underfitting structure).

    Exactness: (n, Sx, Sy, Sxy, Sxx) are exact int64 over the day
    index; beta and alpha divide integer combinations once in a fixed
    order; each residual e_i = y_i - alpha - beta*i is the SAME double
    expression on both engines, and both the numerator
    sum((e_i - e_{i-1})^2) and denominator sum(e_i^2) are ORDERED
    folds (Spark aggregate / DuckDB list_reduce over the day-sorted
    list, the ewma recipe) — bit-identical, not merely close. Scale:
    one data-sized (type, day) agg; every fold runs over the
    calendar-bounded day list."""
    g = _daily_grid(spark, sf_dir)
    wd = Window.partitionBy("t").orderBy("d")
    idx = g.select(
        "t",
        F.col("n").cast("long").alias("y"),
        F.row_number().over(wd).cast("long").alias("i"),
    )
    st = idx.groupBy("t").agg(
        *moments("n_days", sx="i", sy="y", sxy=("i", "y"), sxx=("i", "i")),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "y"))),
            lambda p: p["y"],
        ).alias("ys"),
    )
    beta = centered("n_days", "sxy", "sx", "sy").cast("double") / centered(
        "n_days", "sxx", "sx", "sx"
    ).cast("double")
    co = st.where(F.col("n_days") >= 3).select(
        "t",
        "n_days",
        "ys",
        beta.alias("beta"),
        (
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / F.col("n_days").cast("double")
        ).alias("alpha"),
    )
    el = co.select(
        "t",
        "n_days",
        "beta",
        F.transform(
            F.sequence(F.lit(1), F.col("n_days").cast("int")),
            lambda i: F.element_at(F.col("ys"), i).cast("double")
            - F.col("alpha")
            - F.col("beta") * i.cast("double"),
        ).alias("e"),
    )
    den = F.aggregate(
        F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(2), F.col("n_days").cast("int")),
            lambda i: (
                F.element_at(F.col("e"), i)
                - F.element_at(F.col("e"), i - F.lit(1))
            )
            * (
                F.element_at(F.col("e"), i)
                - F.element_at(F.col("e"), i - F.lit(1))
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dw = num / den
    return el.select(
        F.col("t").alias("event_type"),
        "n_days",
        F.col("beta").alias("trend_slope"),
        dw.alias("dw"),
        (F.lit(1.0) - dw / F.lit(2.0)).alias("rho_approx"),
    ).orderBy("event_type")


def _events_durbin_watson_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL.lstrip()},
idx AS (
  SELECT t, CAST(n AS BIGINT) AS y,
         CAST(ROW_NUMBER() OVER (PARTITION BY t ORDER BY d) AS BIGINT) AS i
  FROM grid
),
st AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(i) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(i * y) AS BIGINT) AS sxy,
         CAST(SUM(i * i) AS BIGINT) AS sxx,
         list(y ORDER BY i) AS ys
  FROM idx GROUP BY t
),
co AS (
  SELECT t, n_days, ys,
         CAST(n_days * sxy - sx * sy AS DOUBLE)
           / CAST(n_days * sxx - sx * sx AS DOUBLE) AS beta,
         (CAST(sy AS DOUBLE)
            - (CAST(n_days * sxy - sx * sy AS DOUBLE)
               / CAST(n_days * sxx - sx * sx AS DOUBLE))
              * CAST(sx AS DOUBLE))
           / CAST(n_days AS DOUBLE) AS alpha
  FROM st WHERE n_days >= 3
),
el AS (
  SELECT t, n_days, beta,
         list_transform(generate_series(1, CAST(n_days AS INTEGER)),
           i -> CAST(ys[i] AS DOUBLE) - alpha - beta * CAST(i AS DOUBLE))
           AS e
  FROM co
)
SELECT t AS event_type, n_days, beta AS trend_slope,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(generate_series(2, CAST(n_days AS INTEGER)),
           i -> (e[i] - e[i - 1]) * (e[i] - e[i - 1]))),
         (acc, x) -> acc + x)
       / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(e, x -> x * x)), (acc, x) -> acc + x) AS dw,
       1.0 - (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(generate_series(2, CAST(n_days AS INTEGER)),
           i -> (e[i] - e[i - 1]) * (e[i] - e[i - 1]))),
         (acc, x) -> acc + x)
       / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(e, x -> x * x)), (acc, x) -> acc + x)) / 2.0
         AS rho_approx
FROM el
ORDER BY event_type
"""


# ---------------------------------------------- turning-points test


def events_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINTS randomness test on each type's daily-count
    series: count strict local maxima/minima (sign flip between the
    two adjacent first differences); under i.i.d. randomness
    E[T] = 2(n-2)/3 and Var[T] = (16n-29)/90, so the z-score screens
    'is this series noise or structure' before any trend machinery.

    Exactness: differences, signs and the turning-point count are pure
    int64 (flat steps carry sign 0 and never count — same rule both
    engines); the expected value, variance and z compose doubles in
    one fixed expression with a single correctly-rounded sqrt. Scale:
    the lag/lead windows run per type over the calendar-bounded day
    grid; the one data-sized stage is the shared daily agg."""
    g = _daily_grid(spark, sf_dir)
    wd = Window.partitionBy("t").orderBy("d")
    sgn = lambda c: F.when(c > 0, 1).when(c < 0, -1).otherwise(0)  # noqa: E731
    d = g.select(
        "t",
        sgn(F.col("n") - F.lag("n").over(wd)).alias("s1"),
        sgn(F.lead("n").over(wd) - F.col("n")).alias("s2"),
    )
    per = d.groupBy("t").agg(
        (F.count(F.lit(1))).cast("long").alias("n_days"),
        F.sum(
            F.when(F.col("s1") * F.col("s2") == -1, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_turning"),
    )
    nd = F.col("n_days").cast("double")
    expected = F.lit(2.0) * (nd - F.lit(2.0)) / F.lit(3.0)
    variance = (F.lit(16.0) * nd - F.lit(29.0)) / F.lit(90.0)
    return (
        per.where(F.col("n_days") >= 3)
        .select(
            F.col("t").alias("event_type"),
            "n_days",
            "n_turning",
            expected.alias("expected"),
            (
                (F.col("n_turning").cast("double") - expected)
                / F.sqrt(variance)
            ).alias("z"),
        )
        .orderBy("event_type")
    )


def _events_turning_points_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL.lstrip()},
d AS (
  SELECT t,
         CASE WHEN n - LAG(n) OVER w > 0 THEN 1
              WHEN n - LAG(n) OVER w < 0 THEN -1 ELSE 0 END AS s1,
         CASE WHEN LEAD(n) OVER w - n > 0 THEN 1
              WHEN LEAD(n) OVER w - n < 0 THEN -1 ELSE 0 END AS s2
  FROM grid
  WINDOW w AS (PARTITION BY t ORDER BY d)
),
per AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CASE WHEN s1 * s2 = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_turning
  FROM d GROUP BY t
)
SELECT t AS event_type, n_days, n_turning,
       2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0 AS expected,
       (CAST(n_turning AS DOUBLE)
          - 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0)
         / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0) AS z
FROM per WHERE n_days >= 3
ORDER BY event_type
"""


# ---------------------------------------------- Friedman rank test


def events_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN repeated-measures rank test: within each calendar WEEK
    BLOCK, rank the k event types by weekly volume; do the types keep
    the same ordering week after week (large chi2) or shuffle randomly
    (small)? The blocked twin of Kruskal-Wallis — week blocks absorb
    global traffic drift that would contaminate the unblocked test.

    Exactness: week blocks are integer day-offsets DIV 7 from the
    global min day (engine week-of-year rules differ — never used);
    DOUBLED midranks d = 2*cum - cnt + 1 are exact integers per block;
    rank sums D_j and the tie term sum(cnt^3 - cnt) are int64; the
    statistic composes 3*sum(D_j^2)/(n*k*(k+1)) - 3*n*(k+1) in one
    fixed float expression (sum(D_j^2) is an integer hash agg —
    order-free). Scale: one data-sized (type, week) agg; ranking
    windows run per block over k rows."""
    g = _daily_grid(spark, sf_dir)
    mind = g.agg(F.min("d").alias("d0"))
    yw = (
        g.crossJoin(F.broadcast(mind))
        .select(
            "t",
            # integer division explicitly (DuckDB's BIGINT cast of a
            # float division ROUNDS; Spark's truncates — DIV on both)
            F.expr("CAST(datediff(d, d0) DIV 7 AS BIGINT)").alias("w"),
            "n",
        )
        .groupBy("t", "w")
        .agg(F.sum("n").cast("long").alias("v"))
    )
    per_wv = yw.groupBy("w", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("w")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = per_wv.withColumn(
        "d", (2 * F.sum("cnt").over(wcum) - F.col("cnt") + 1).cast("long")
    )
    dtw = yw.join(ranked.select("w", "v", "d"), ["w", "v"])
    per_type = dtw.groupBy("t").agg(
        F.sum("d").cast("long").alias("dj"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    stats = per_type.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("n_blocks").cast("long").alias("n"),
        F.sum(F.col("dj") * F.col("dj")).cast("long").alias("sd2"),
    )
    ties = per_wv.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tt")
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    chi2 = F.lit(3.0) * F.col("sd2").cast("double") / (
        nd * kd * (kd + F.lit(1.0))
    ) - F.lit(3.0) * nd * (kd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("tt").cast("double") / (
        nd * kd * (kd * kd - F.lit(1.0))
    )
    return stats.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_blocks"),
        "k",
        chi2.alias("friedman_chi2"),
        (chi2 / corr).alias("chi2_tie_corrected"),
    )


def _events_friedman_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL.lstrip()},
mind AS (SELECT MIN(d) AS d0 FROM grid),
yw AS (
  SELECT t, CAST(DATEDIFF('day', d0, d) // 7 AS BIGINT) AS w,
         CAST(SUM(n) AS BIGINT) AS v
  FROM grid, mind GROUP BY t, CAST(DATEDIFF('day', d0, d) // 7 AS BIGINT)
),
per_wv AS (
  SELECT w, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM yw GROUP BY w, v
),
ranked AS (
  SELECT w, v,
         CAST(2 * SUM(cnt) OVER (PARTITION BY w ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - cnt + 1 AS BIGINT) AS d
  FROM per_wv
),
per_type AS (
  SELECT yw.t, CAST(SUM(r.d) AS BIGINT) AS dj,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM yw JOIN ranked r ON r.w = yw.w AND r.v = yw.v
  GROUP BY yw.t
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(MAX(n_blocks) AS BIGINT) AS n,
         CAST(SUM(dj * dj) AS BIGINT) AS sd2
  FROM per_type
),
ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tt FROM per_wv
)
SELECT n AS n_blocks, k,
       3.0 * CAST(sd2 AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
            * (CAST(k AS DOUBLE) + 1.0))
         - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
         AS friedman_chi2,
       (3.0 * CAST(sd2 AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
             * (CAST(k AS DOUBLE) + 1.0))
          - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))
         / (1.0 - CAST(tt AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
               * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)))
         AS chi2_tie_corrected
FROM stats, ties
"""


# --------------------------------------------- total-variation distance


def events_total_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOTAL-VARIATION distance between each event type's VALUE
    distribution and the pooled distribution — the tightest bound on
    "how differently would ANY detector rule fire on this slice"
    (TV = sup_A |P_t(A) - P(A)| = 1/2 sum_c |p_c - q_c|), the bounded
    [0,1] companion to events_wasserstein's unbounded transport cost.

    Exactness: on the shared cents grid the cell term is the exact
    integer |n_tc*N - n_c*n_t|; cells where the type has no mass
    contribute n_c*n_t, which telescopes to n_t*(N - sum of covered
    n_c) — so the whole sum is int64 over the type's OWN cells (no
    dense grid), with ONE final double division by 2*n_t*N. Scale: two
    map-side-combinable hash aggs over events; the join frame is
    (type x covered cells), value-domain bounded; `cells` is
    |distinct cents|-sized and broadcast."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    cells = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    per_tc = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_tc")
    )
    types = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    covered = (
        per_tc.join(F.broadcast(cells), "c")
        .join(F.broadcast(types), "event_type")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type", "n_t", "n_tot")
        .agg(
            F.sum(
                F.abs(
                    F.col("n_tc") * F.col("n_tot")
                    - F.col("n_all") * F.col("n_t")
                )
            )
            .cast("long")
            .alias("s_cov"),
            F.sum("n_all").cast("long").alias("mass_cov"),
        )
    )
    return covered.select(
        "event_type",
        F.col("n_t").alias("n_events"),
        (
            (
                F.col("s_cov")
                + F.col("n_t") * (F.col("n_tot") - F.col("mass_cov"))
            ).cast("double")
            / (
                F.lit(2.0)
                * F.col("n_t").cast("double")
                * F.col("n_tot").cast("double")
            )
        ).alias("tv_distance"),
    ).orderBy("event_type")


EVENTS_TOTAL_VARIATION_SQL = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
cells AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_all FROM ev GROUP BY c),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM ev),
per_tc AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS n_tc FROM ev
  GROUP BY event_type, c
),
types AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ev
  GROUP BY event_type
),
covered AS (
  SELECT p.event_type, t.n_t, tot.n_tot,
         CAST(SUM(ABS(p.n_tc * tot.n_tot - ce.n_all * t.n_t)) AS BIGINT)
           AS s_cov,
         CAST(SUM(ce.n_all) AS BIGINT) AS mass_cov
  FROM per_tc p
  JOIN cells ce ON ce.c = p.c
  JOIN types t ON t.event_type = p.event_type
  CROSS JOIN tot
  GROUP BY p.event_type, t.n_t, tot.n_tot
)
SELECT event_type, n_t AS n_events,
       CAST(s_cov + n_t * (n_tot - mass_cov) AS DOUBLE)
         / (2.0 * CAST(n_t AS DOUBLE) * CAST(n_tot AS DOUBLE))
         AS tv_distance
FROM covered
ORDER BY event_type
"""


# --------------------------------------- Hellinger / Bhattacharyya


def events_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELLINGER distance (and the Bhattacharyya coefficient it is
    built from) between each event type's VALUE distribution and the
    pooled one — the drift metric that is a true metric AND bounded,
    the standard pick when distances feed a downstream clustering.
    BC = sum_c sqrt(p_c * q_c); H = sqrt(1 - BC).

    Exactness: only cells the type covers contribute (sqrt(0*q) = 0);
    each term composes two correctly-rounded divisions, one product,
    one sqrt — IDENTICAL op order both engines — then quantizes onto
    the 2^-20 grid BEFORE the int64 sum (order-free). H clamps the
    1-BC radicand at 0 on both engines (quantization can overshoot 1
    by <= |cells| ulps). Scale: the same two hash aggs as the TV
    distance; join frame value-domain bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    cells = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    tot = e.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    per_tc = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_tc")
    )
    types = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    p = F.col("n_tc").cast("double") / F.col("n_t").cast("double")
    q = F.col("n_all").cast("double") / F.col("n_tot").cast("double")
    term = on_grid(F.sqrt(p * q), float(Q20))
    summed = (
        per_tc.join(F.broadcast(cells), "c")
        .join(F.broadcast(types), "event_type")
        .crossJoin(F.broadcast(tot))
        .select("event_type", "n_t", term.alias("t"))
        .groupBy("event_type", "n_t")
        .agg(F.sum("t").cast("long").alias("sq"))
    )
    bc = F.col("sq").cast("double") / F.lit(float(Q20))
    return summed.select(
        "event_type",
        F.col("n_t").alias("n_events"),
        bc.alias("bhattacharyya"),
        F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc)).alias("hellinger"),
    ).orderBy("event_type")


EVENTS_HELLINGER_SQL = f"""
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
cells AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_all FROM ev GROUP BY c),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM ev),
per_tc AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS n_tc FROM ev
  GROUP BY event_type, c
),
types AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ev
  GROUP BY event_type
),
summed AS (
  SELECT p.event_type, t.n_t,
         CAST(SUM(CAST(FLOOR(
             sqrt((CAST(p.n_tc AS DOUBLE) / CAST(t.n_t AS DOUBLE))
                  * (CAST(ce.n_all AS DOUBLE) / CAST(tot.n_tot AS DOUBLE)))
             * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM per_tc p
  JOIN cells ce ON ce.c = p.c
  JOIN types t ON t.event_type = p.event_type
  CROSS JOIN tot
  GROUP BY p.event_type, t.n_t
)
SELECT event_type, n_t AS n_events,
       CAST(sq AS DOUBLE) / {float(Q20)!r} AS bhattacharyya,
       sqrt(GREATEST(0.0, 1.0 - CAST(sq AS DOUBLE) / {float(Q20)!r}))
         AS hellinger
FROM summed
ORDER BY event_type
"""


# ------------------------------------------------------ Cliff's delta


def events_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIFF'S DELTA of event VALUE, weekend vs weekday, per type — the
    nonparametric effect size behind events_mannwhitney's p-value:
    delta = (#{we > wd} - #{we < wd}) / (n_wd * n_we), read as "how
    often does a weekend draw beat a weekday draw".

    Exactness: all O(n1*n2) pair comparisons collapse onto the cents
    grid — for each weekend cell, the weekday mass strictly below is
    an EXCLUSIVE running int64 sum and the mass strictly above is the
    complement of the inclusive one, so gt/lt pair counts are exact
    int64 products summed in int64; ONE final double division. Scale:
    one data-sized hash agg to (type, cell, side) counts; the window
    runs per type over the value-domain-bounded grid."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").isin(1, 7).cast("int").alias("we"),  # Sun=1 Sat=7
        cents().alias("c"),
    )
    grid = e.groupBy("event_type", "c").agg(
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_wd"),
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_we"),
    )
    w_excl = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_incl = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "event_type",
        "n_we",
        F.coalesce(F.sum("n_wd").over(w_excl), F.lit(0))
        .cast("long")
        .alias("wd_below"),
        F.sum("n_wd").over(w_incl).cast("long").alias("wd_upto"),
    )
    agg = cum.groupBy("event_type").agg(
        *moments(None, gt=("n_we", "wd_below"), n2="n_we"),
        F.max("wd_upto").cast("long").alias("n1"),
        F.sum(F.col("n_we") * F.col("wd_upto")).cast("long").alias("le_mass"),
    )
    # lt = sum n_we_c * (n1 - wd_upto(c)) = n2*n1 - le_mass
    lt = F.col("n2") * F.col("n1") - F.col("le_mass")
    agg = agg.where((F.col("n1") > 0) & (F.col("n2") > 0))
    return agg.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        (
            (F.col("gt") - lt).cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
        ).alias("cliffs_delta"),
    ).orderBy("event_type")


EVENTS_CLIFFS_DELTA_SQL = """
WITH ev AS (
  SELECT event_type,
         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
grid AS (
  SELECT event_type, c,
         CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd,
         CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we
  FROM ev GROUP BY event_type, c
),
cum AS (
  SELECT event_type, n_we,
         CAST(COALESCE(SUM(n_wd) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS wd_below,
         CAST(SUM(n_wd) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS wd_upto
  FROM grid
),
agg AS (
  SELECT event_type,
         CAST(SUM(n_we * wd_below) AS BIGINT) AS gt,
         CAST(SUM(n_we) AS BIGINT) AS n2,
         CAST(MAX(wd_upto) AS BIGINT) AS n1,
         CAST(SUM(n_we * wd_upto) AS BIGINT) AS le_mass
  FROM cum GROUP BY event_type
)
SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
       CAST(gt - (n2 * n1 - le_mass) AS DOUBLE)
         / CAST(n1 * n2 AS DOUBLE) AS cliffs_delta
FROM agg
WHERE n1 > 0 AND n2 > 0
ORDER BY event_type
"""


# -------------------------------------------------------- Cohen's d


def events_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S D of event VALUE, weekend vs weekday, per type — the
    pooled-variance standardized mean difference, events_welch_t's
    effect-size companion (the t answers "is the shift real", d
    answers "is it big enough to matter").

    Exactness: (n, sum, sum-of-squares) are exact int64 on the cents
    grid; means, per-group variances and the pooled variance compose
    the SAME sub-expressions in the SAME order on both engines
    (welch_t recipe), and d needs one sqrt. The cents scaling cancels
    in d (dimensionless); mean_diff is reported in value units (one
    division by 100). Scale: one map-side-combinable hash agg;
    everything after is |types|-sized."""
    e = load_table(spark, sf_dir, "events")
    is_we = F.dayofweek("ts").isin(1, 7).cast("int")
    base = (
        e.select(F.col("event_type"), is_we.alias("we"), cents().alias("v"))
        .groupBy("event_type", "we")
        .agg(
            *moments("n", s="v", q=("v", "v")),
        )
    )
    wd = base.where(F.col("we") == 0).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    we_ = base.where(F.col("we") == 1).select(
        "event_type",
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    # integer positive-variance guard (ADVICE r8): pooled SS computed
    # in floating point can round to a tiny NEGATIVE for zero-variance
    # groups, and DuckDB sqrt(<0) hard-errors where Spark returns NaN.
    # n*q - s^2 = n * (sum of squared deviations) exactly in int64, so
    # requiring the integer total > 0 guarantees the float radicand is
    # the sum of two non-negative terms, at least one positive.
    pos_var = centered("n1", "q1", "s1", "s1") + centered("n2", "q2", "s2", "s2")
    j = wd.join(we_, "event_type").where(
        (F.col("n1") > 1) & (F.col("n2") > 1) & (pos_var > 0)
    )
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    # sum of squared deviations per group: q - s^2/n, composed the
    # same way both engines (one division, one product, one subtract)
    ss1 = F.col("q1").cast("double") - (
        F.col("s1").cast("double") * m1
    )
    ss2 = F.col("q2").cast("double") - (
        F.col("s2").cast("double") * m2
    )
    sp2 = (ss1 + ss2) / (F.col("n1") + F.col("n2") - 2).cast("double")
    return j.select(
        "event_type",
        F.col("n1").alias("n_weekday"),
        F.col("n2").alias("n_weekend"),
        ((m2 - m1) / F.lit(100.0)).alias("mean_diff"),
        ((m2 - m1) / F.sqrt(sp2)).alias("cohens_d"),
    ).orderBy("event_type")


EVENTS_COHENS_D_SQL = """
WITH ev AS (
  SELECT event_type,
         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS we,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
),
base AS (
  SELECT event_type, we,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * v) AS BIGINT) AS q
  FROM ev GROUP BY event_type, we
),
j AS (
  SELECT a.event_type,
         a.n AS n1, a.s AS s1, a.q AS q1,
         b.n AS n2, b.s AS s2, b.q AS q2
  FROM base a JOIN base b
    ON a.event_type = b.event_type AND a.we = 0 AND b.we = 1
  WHERE a.n > 1 AND b.n > 1
    AND (a.n * a.q - a.s * a.s) + (b.n * b.q - b.s * b.s) > 0
),
staged AS (
  SELECT event_type, n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           AS ss1,
         CAST(q2 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           AS ss2
  FROM j
)
SELECT event_type, n1 AS n_weekday, n2 AS n_weekend,
       (m2 - m1) / 100.0 AS mean_diff,
       (m2 - m1) / sqrt((ss1 + ss2) / CAST(n1 + n2 - 2 AS DOUBLE))
         AS cohens_d
FROM staged
ORDER BY event_type
"""


# ------------------------------------------------- Grubbs outlier test


def events_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRUBBS statistic on the daily event-count series per type: the
    maximum studentized deviate G = max|x - mean| / sd and the day that
    achieves it — the single-outlier screen a capacity review runs
    before trusting a mean (events_robust_outliers flags rows; this
    scores the SERIES and names the worst day).

    Exactness: daily counts are int64; the argmax day is selected by
    the INTEGER cross-product |x*n - S| (no float ever compared, ties
    broken by earliest day); mean/sd compose the welch_t recipe from
    int64 (n, S, Q), and G = dev_num / (n * sd) is two divisions + one
    sqrt in fixed order. Scale: one data-sized hash agg to (type, day);
    everything after is calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    stats = daily.groupBy("event_type").agg(
        *moments("n", s="x", q=("x", "x")),
    )
    dev = (
        daily.join(F.broadcast(stats), "event_type")
        # n > 1 AND positive variance (integer form n*q - s*s > 0):
        # a constant series has no G and would hit ANSI divide-by-zero
        .where(
            (F.col("n") > 1)
            & (centered("n", "q", "s", "s") > 0)
        )
        .select(
            "event_type",
            "day",
            "n",
            "s",
            "q",
            F.abs(F.col("x") * F.col("n") - F.col("s"))
            .cast("long")
            .alias("dev_num"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("dev_num"), F.asc("day")
    )
    top = dev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("q").cast("double") / F.col("n").cast("double") - m * m
    ) * (F.col("n").cast("double") / (F.col("n") - 1).cast("double"))
    return top.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("day").alias("peak_day"),
        (
            F.col("dev_num").cast("double")
            / (F.col("n").cast("double") * F.sqrt(var))
        ).alias("g_stat"),
    ).orderBy("event_type")


EVENTS_GRUBBS_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day, st.n, st.s, st.q,
         CAST(ABS(d.x * st.n - st.s) AS BIGINT) AS dev_num,
         ROW_NUMBER() OVER (PARTITION BY d.event_type
                            ORDER BY ABS(d.x * st.n - st.s) DESC,
                                     d.day ASC) AS rn
  FROM daily d JOIN stats st ON st.event_type = d.event_type
  WHERE st.n > 1 AND st.n * st.q - st.s * st.s > 0
)
SELECT event_type, n AS n_days, day AS peak_day,
       CAST(dev_num AS DOUBLE)
         / (CAST(n AS DOUBLE)
            * sqrt((CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                   * (CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))))
         AS g_stat
FROM dev WHERE rn = 1
ORDER BY event_type
"""


# -------------------------------------------------- McNemar activity


def events_mcnemar_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR test of paired user activity, first week vs second week
    of the span, per event type — the paired pre/post screen ("did the
    SAME users change behavior?") that the independent two-sample tests
    (welch, mannwhitney) cannot answer. chi2 = (b - c)^2 / (b + c) over
    the discordant pairs b = active-then-quiet, c = quiet-then-active.

    Exactness: week membership is integer day arithmetic off the
    global min date (datediff DIV 7 — engine week-of-year rules never
    consulted); b and c are exact int64; chi2 is ONE division of exact
    integers. Scale: one data-sized hash agg to (type, user, week);
    the pair frame is user-dimension bounded."""
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    wk = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "event_type",
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("d0")) / 7
            )
            .cast("long")
            .alias("wk"),
        )
        .where(F.col("wk").isin(0, 1))
        .distinct()
    )
    flags = wk.groupBy("event_type", "user_id").agg(
        F.max(F.when(F.col("wk") == 0, 1).otherwise(0)).alias("w1"),
        F.max(F.when(F.col("wk") == 1, 1).otherwise(0)).alias("w2"),
    )
    agg = flags.groupBy("event_type").agg(
        F.sum(F.when((F.col("w1") == 1) & (F.col("w2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("w1") == 0) & (F.col("w2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    return agg.where(F.col("b") + F.col("c") > 0).select(
        "event_type",
        "n_users",
        F.col("b").alias("lapsed"),
        F.col("c").alias("adopted"),
        (
            ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).cast(
                "double"
            )
            / (F.col("b") + F.col("c")).cast("double")
        ).alias("mcnemar_chi2"),
    ).orderBy("event_type")


EVENTS_MCNEMAR_SQL = """
WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
wk AS (
  SELECT DISTINCT event_type, user_id,
         CAST(FLOOR(date_diff('day', d0.d0, CAST(ts AS DATE)) / 7)
              AS BIGINT) AS wk
  FROM events CROSS JOIN d0
  WHERE CAST(FLOOR(date_diff('day', d0.d0, CAST(ts AS DATE)) / 7)
             AS BIGINT) IN (0, 1)
),
flags AS (
  SELECT event_type, user_id,
         MAX(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS w1,
         MAX(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS w2
  FROM wk GROUP BY event_type, user_id
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN w1 = 1 AND w2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN w1 = 0 AND w2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM flags GROUP BY event_type
)
SELECT event_type, n_users, b AS lapsed, c AS adopted,
       CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
         AS mcnemar_chi2
FROM agg WHERE b + c > 0
ORDER BY event_type
"""


# -------------------------------------------------------- Cochran's Q


def events_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q over the first THREE weeks of the span, per event
    type: did the same users' weekly activity flags change across k=3
    related periods (the k-sample McNemar)? Q = (k-1) * (k*sum G_j^2 -
    N^2) / (k*sum L_u - sum L_u^2) with G_j the week totals, L_u the
    per-user success counts, N the grand total — the cross-multiplied
    form keeps EVERYTHING int64 until one final division.

    Scale: one data-sized distinct to (type, user, week); both
    reductions are map-side-combinable hash aggs on user-dimension
    frames. Users with L_u = k (always active) or 0 contribute nothing
    to Q's numerator but stay in the denominator per the standard
    definition over the observed panel."""
    k = 3
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    wk = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "event_type",
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.col("d0")) / 7)
            .cast("long")
            .alias("wk"),
        )
        .where((F.col("wk") >= 0) & (F.col("wk") < k))
        .distinct()
    )
    per_user = wk.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("l")
    )
    user_side = per_user.groupBy("event_type").agg(
        *moments("n_users", n_tot="l", l2=("l", "l")),
    )
    week_side = (
        wk.groupBy("event_type", "wk")
        .agg(F.count(F.lit(1)).cast("long").alias("g"))
        .groupBy("event_type")
        .agg(F.sum(F.col("g") * F.col("g")).cast("long").alias("g2"))
    )
    j = user_side.join(week_side, "event_type").where(
        F.lit(k) * F.col("n_tot") - F.col("l2") > 0
    )
    num = (F.lit(k - 1) * (
        F.lit(k) * F.col("g2") - F.col("n_tot") * F.col("n_tot")
    )).cast("double")
    den = (F.lit(k) * F.col("n_tot") - F.col("l2")).cast("double")
    return j.select(
        "event_type",
        "n_users",
        F.lit(k - 1).cast("long").alias("df"),
        (num / den).alias("cochran_q"),
    ).orderBy("event_type")


EVENTS_COCHRAN_Q_SQL = """
WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
wk AS (
  SELECT DISTINCT event_type, user_id,
         CAST(FLOOR(date_diff('day', d0.d0, CAST(ts AS DATE)) / 7)
              AS BIGINT) AS wk
  FROM events CROSS JOIN d0
  WHERE CAST(FLOOR(date_diff('day', d0.d0, CAST(ts AS DATE)) / 7)
             AS BIGINT) BETWEEN 0 AND 2
),
per_user AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS l
  FROM wk GROUP BY event_type, user_id
),
user_side AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(l) AS BIGINT) AS n_tot,
         CAST(SUM(l * l) AS BIGINT) AS l2
  FROM per_user GROUP BY event_type
),
week_side AS (
  SELECT event_type, CAST(SUM(g * g) AS BIGINT) AS g2 FROM (
    SELECT event_type, wk, CAST(COUNT(*) AS BIGINT) AS g
    FROM wk GROUP BY event_type, wk
  ) GROUP BY event_type
)
SELECT u.event_type, u.n_users, CAST(2 AS BIGINT) AS df,
       CAST(2 * (3 * w.g2 - u.n_tot * u.n_tot) AS DOUBLE)
         / CAST(3 * u.n_tot - u.l2 AS DOUBLE) AS cochran_q
FROM user_side u JOIN week_side w ON w.event_type = u.event_type
WHERE 3 * u.n_tot - u.l2 > 0
ORDER BY u.event_type
"""


# --------------------------------------------- Jonckheere-Terpstra


def events_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA test for an ORDERED alternative across the
    four 6-hour dayparts, per event type — "does VALUE trend upward
    through the day?", strictly more powerful than Kruskal-Wallis when
    the hypothesis is monotone. J = sum over daypart pairs i<j of the
    Mann-Whitney count #{x_i < x_j} (+ half-ties).

    Exactness: all pair counts collapse onto the cents grid —
    per-daypart EXCLUSIVE running sums give the strictly-below mass,
    and the DOUBLED statistic 2J = sum n_j(c)*(2*below_i(c) + n_i(c))
    stays int64 throughout; the z-score composes the standard no-tie
    moments from exact group counts in one fixed float expression
    (documented approximation — ties on the cents grid are sparse).
    Scale: one data-sized hash agg to the (type, cell, daypart) grid;
    windows run per type over the value-domain-bounded frame."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts") / 6).cast("int").alias("g"),
        cents().alias("c"),
    )
    grid = (
        e.groupBy("event_type", "c")
        .pivot("g", [0, 1, 2, 3])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "event_type",
            "c",
            *[F.col(str(g)).cast("long").alias(f"n{g}") for g in range(4)],
        )
    )
    wx = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        "event_type",
        "c",
        *[F.col(f"n{g}") for g in range(4)],
        *[
            F.coalesce(F.sum(f"n{g}").over(wx), F.lit(0))
            .cast("long")
            .alias(f"b{g}")
            for g in range(4)
        ],
    )
    pair_terms = None
    for i in range(4):
        for j in range(i + 1, 4):
            t = F.col(f"n{j}") * (
                F.lit(2) * F.col(f"b{i}") + F.col(f"n{i}")
            )
            pair_terms = t if pair_terms is None else pair_terms + t
    agg = cum.groupBy("event_type").agg(
        F.sum(pair_terms).cast("long").alias("j2"),
        *[F.sum(f"n{g}").cast("long").alias(f"t{g}") for g in range(4)],
    )
    n = F.col("t0") + F.col("t1") + F.col("t2") + F.col("t3")
    sum_sq = (
        F.col("t0") * F.col("t0")
        + F.col("t1") * F.col("t1")
        + F.col("t2") * F.col("t2")
        + F.col("t3") * F.col("t3")
    )
    sum_cu = (
        F.col("t0") * F.col("t0") * (2 * F.col("t0") + 3)
        + F.col("t1") * F.col("t1") * (2 * F.col("t1") + 3)
        + F.col("t2") * F.col("t2") * (2 * F.col("t2") + 3)
        + F.col("t3") * F.col("t3") * (2 * F.col("t3") + 3)
    )
    # doubled mean 2E = (n^2 - sum n_i^2) / 2 -- exact integer when
    # folded as (n*n - sum_sq), parity even by construction
    e2 = (n * n - sum_sq).cast("long")
    var = (
        (n * n * (2 * n + 3) - sum_cu).cast("double") / F.lit(72.0)
    )
    z = (F.col("j2").cast("double") - e2.cast("double") / F.lit(2.0)) / (
        F.lit(2.0) * F.sqrt(var)
    )
    varnum = n * n * (2 * n + 3) - sum_cu
    return (
        # positive variance in integer form: a single-group series
        # (all mass in one daypart) has Var = 0 and no z
        agg.where((n >= 2) & (varnum > 0))
        .select(
            "event_type",
            n.cast("long").alias("n_events"),
            F.col("j2").alias("j2_stat"),
            z.alias("z"),
        )
        .orderBy("event_type")
    )


EVENTS_JONCKHEERE_SQL = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(hour(ts) / 6) AS INT) AS g,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
grid AS (
  SELECT event_type, c,
         CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM ev GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, n0, n1, n2, n3,
         CAST(COALESCE(SUM(n0) OVER w, 0) AS BIGINT) AS b0,
         CAST(COALESCE(SUM(n1) OVER w, 0) AS BIGINT) AS b1,
         CAST(COALESCE(SUM(n2) OVER w, 0) AS BIGINT) AS b2,
         CAST(COALESCE(SUM(n3) OVER w, 0) AS BIGINT) AS b3
  FROM grid
  WINDOW w AS (PARTITION BY event_type ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
agg AS (
  SELECT event_type,
         CAST(SUM(n1 * (2 * b0 + n0)
                + n2 * (2 * b0 + n0) + n2 * (2 * b1 + n1)
                + n3 * (2 * b0 + n0) + n3 * (2 * b1 + n1)
                + n3 * (2 * b2 + n2)) AS BIGINT) AS j2,
         CAST(SUM(n0) AS BIGINT) AS t0, CAST(SUM(n1) AS BIGINT) AS t1,
         CAST(SUM(n2) AS BIGINT) AS t2, CAST(SUM(n3) AS BIGINT) AS t3
  FROM cum GROUP BY event_type
)
SELECT event_type,
       CAST(t0 + t1 + t2 + t3 AS BIGINT) AS n_events,
       j2 AS j2_stat,
       (CAST(j2 AS DOUBLE)
        - CAST((t0 + t1 + t2 + t3) * (t0 + t1 + t2 + t3)
               - (t0*t0 + t1*t1 + t2*t2 + t3*t3) AS DOUBLE) / 2.0)
         / (2.0 * sqrt(
             CAST((t0 + t1 + t2 + t3) * (t0 + t1 + t2 + t3)
                  * (2 * (t0 + t1 + t2 + t3) + 3)
                  - (t0*t0*(2*t0 + 3) + t1*t1*(2*t1 + 3)
                     + t2*t2*(2*t2 + 3) + t3*t3*(2*t3 + 3)) AS DOUBLE)
             / 72.0)) AS z
FROM agg
WHERE t0 + t1 + t2 + t3 >= 2
  AND (t0 + t1 + t2 + t3) * (t0 + t1 + t2 + t3)
      * (2 * (t0 + t1 + t2 + t3) + 3)
      - (t0*t0*(2*t0 + 3) + t1*t1*(2*t1 + 3)
         + t2*t2*(2*t2 + 3) + t3*t3*(2*t3 + 3)) > 0
ORDER BY event_type
"""


# ------------------------------------------- seasonal Mann-Kendall


def events_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL (Hirsch-Slack) MANN-KENDALL trend test on daily value
    volume per event type: pairwise sign comparisons run only WITHIN
    the same weekday season (epoch-day d % 7 — engine week rules never
    consulted), so a strong weekly cycle cannot masquerade as trend —
    the screen events_mann_kendall needs on periodic series.

    Exactness: S folds integer signs over the CALENDAR-bounded
    same-season day pairs; per-season tie groups count by exact int64
    equality of daily sums; Var sums the per-season MK variance with
    the tie correction, one shared float z expression with continuity
    correction. Scale: the raw table collapses to (type, day) in one
    hash agg; the pair join is calendar-bounded (days^2/7)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(cents())
        .cast("long")
        .alias("y")
    ).withColumn("season", F.pmod(F.col("d"), F.lit(7)).cast("long"))
    a = daily.select(
        "event_type",
        F.col("season").alias("season_a"),
        F.col("d").alias("da"),
        F.col("y").alias("ya"),
    )
    b = daily.select(
        "event_type",
        F.col("season").alias("season_b"),
        F.col("d").alias("db"),
        F.col("y").alias("yb"),
    )
    s = (
        a.join(b, "event_type")
        .where(
            (F.col("season_a") == F.col("season_b"))
            & (F.col("da") < F.col("db"))
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    seas = (
        daily.groupBy("event_type", "season", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type", "season")
        .agg(
            F.sum("t").cast("long").alias("ns"),
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tsum"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("ns").cast("long").alias("n_days"),
            F.sum(
                F.col("ns") * (F.col("ns") - 1) * (2 * F.col("ns") + 5)
                - F.col("tsum")
            )
            .cast("long")
            .alias("varnum"),
        )
    )
    var = F.col("varnum").cast("double") / F.lit(18.0)
    sd = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (sd - 1) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (sd + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return s.join(F.broadcast(seas), "event_type").select(
        "event_type", "n_days", "s_stat", z.alias("z")
    ).orderBy("event_type")


EVENTS_SEASONAL_MK_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY 1, 2
),
sd AS (SELECT event_type, d, y, d % 7 AS season FROM daily),
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM sd a JOIN sd b
    ON b.event_type = a.event_type AND b.season = a.season
   AND a.d < b.d
  GROUP BY a.event_type
),
seas AS (
  SELECT event_type,
         CAST(SUM(ns) AS BIGINT) AS n_days,
         CAST(SUM(ns * (ns - 1) * (2 * ns + 5) - tsum) AS BIGINT)
           AS varnum
  FROM (
    SELECT event_type, season,
           CAST(SUM(t) AS BIGINT) AS ns,
           CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
    FROM (
      SELECT event_type, season, y, CAST(COUNT(*) AS BIGINT) AS t
      FROM sd GROUP BY event_type, season, y
    ) GROUP BY event_type, season
  ) GROUP BY event_type
)
SELECT s.event_type, seas.n_days, s.s_stat,
       CASE WHEN s.s_stat > 0 THEN
              (CAST(s.s_stat AS DOUBLE) - 1)
              / sqrt(CAST(varnum AS DOUBLE) / 18.0)
            WHEN s.s_stat < 0 THEN
              (CAST(s.s_stat AS DOUBLE) + 1)
              / sqrt(CAST(varnum AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z
FROM s JOIN seas ON seas.event_type = s.event_type
ORDER BY s.event_type
"""


# ------------------------------------------------ Poisson rate test


def events_poisson_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE POISSON RATE test of the daily event rate, weekend
    vs weekday, per type — the count-data companion to welch_t's value
    test: conditional on N = k1 + k2 total events, k1 ~ Binomial(N,
    p0 = t1/(t1+t2)) under equal rates, z = (k1 - N*p0) /
    sqrt(N*p0*(1-p0)).

    Exactness: event counts and the weekend/weekday day counts (off
    the pooled calendar of observed days, epoch-day % 7) are exact
    int64; z composes once in the same op order both engines. A span
    observing no weekend (t1 = 0) or no weekday (t2 = 0) epoch-days is
    filtered structurally on BOTH engines — rate_ratio and p0 would
    divide by zero (ADVICE r8). Scale: one data-sized hash agg; the
    calendar frame is span-bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )
    is_we = F.pmod(F.col("d"), F.lit(7)).isin(2, 3)  # d0 = Thu: Sat=2 Sun=3
    cal = (
        e.select("d")
        .distinct()
        .agg(
            F.sum(F.when(is_we, 1).otherwise(0)).cast("long").alias("t1"),
            F.sum(F.when(is_we, 0).otherwise(1)).cast("long").alias("t2"),
        )
    )
    cnt = e.groupBy("event_type").agg(
        F.sum(F.when(is_we, 1).otherwise(0)).cast("long").alias("k1"),
        F.sum(F.when(is_we, 0).otherwise(1)).cast("long").alias("k2"),
    )
    j = cnt.crossJoin(F.broadcast(cal)).where(
        (F.col("t1") > 0) & (F.col("t2") > 0)
    )
    n = (F.col("k1") + F.col("k2")).cast("double")
    p0 = F.col("t1").cast("double") / (F.col("t1") + F.col("t2")).cast(
        "double"
    )
    z = (F.col("k1").cast("double") - n * p0) / F.sqrt(
        n * p0 * (F.lit(1.0) - p0)
    )
    rate_ratio = (
        F.col("k1").cast("double") / F.col("t1").cast("double")
    ) / (F.col("k2").cast("double") / F.col("t2").cast("double"))
    return j.select(
        "event_type",
        F.col("k1").alias("weekend_events"),
        F.col("k2").alias("weekday_events"),
        F.col("t1").alias("weekend_days"),
        F.col("t2").alias("weekday_days"),
        rate_ratio.alias("rate_ratio"),
        z.alias("z"),
    ).orderBy("event_type")


EVENTS_POISSON_RATE_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
cal AS (
  SELECT CAST(SUM(CASE WHEN d % 7 IN (2, 3) THEN 1 ELSE 0 END)
              AS BIGINT) AS t1,
         CAST(SUM(CASE WHEN d % 7 IN (2, 3) THEN 0 ELSE 1 END)
              AS BIGINT) AS t2
  FROM (SELECT DISTINCT d FROM ev)
),
cnt AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN d % 7 IN (2, 3) THEN 1 ELSE 0 END)
              AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN d % 7 IN (2, 3) THEN 0 ELSE 1 END)
              AS BIGINT) AS k2
  FROM ev GROUP BY event_type
)
SELECT event_type,
       k1 AS weekend_events, k2 AS weekday_events,
       t1 AS weekend_days, t2 AS weekday_days,
       (CAST(k1 AS DOUBLE) / CAST(t1 AS DOUBLE))
         / (CAST(k2 AS DOUBLE) / CAST(t2 AS DOUBLE)) AS rate_ratio,
       (CAST(k1 AS DOUBLE)
        - CAST(k1 + k2 AS DOUBLE)
          * (CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE)))
         / sqrt(CAST(k1 + k2 AS DOUBLE)
                * (CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
                * (1.0 - CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE)))
         AS z
FROM cnt CROSS JOIN cal
WHERE t1 > 0 AND t2 > 0
ORDER BY event_type
"""


# ------------------------------------- time-series similarity search


def events_series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES SIMILARITY SEARCH over per-user daily activity: for
    the 8 lowest user ids, the top-5 most-correlated other users by
    Pearson r of their zero-filled daily event-count series — the
    "find tenants that behave like this one" retrieval the streaming
    literature builds sketch indexes for (EDBT'19 similarity-search
    shape; brute-force twin here, the same baseline-vs-index contract
    as simsearch_brute_force).

    Exactness: zero days need NO materialization — with D the global
    day count, r's sufficient statistics (sum x, sum x^2 over present
    days; sum xy over the inner join of present days, zeros contribute
    nothing) are all exact int64, and r composes once as (D*Sxy -
    Sx*Sy) / (sqrt(D*Sxx - Sx^2) * sqrt(D*Syy - Sy^2)). Top-5 breaks
    float ties by neighbor id. Scale: one data-sized hash agg to the
    (user, day) frame; the query side is 8 users' series (broadcast),
    so the score join is |users|-dimension bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )
    days = e.agg(F.countDistinct("d").cast("long").alias("dd"))
    ud = e.groupBy("user_id", "d").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    stats = ud.groupBy("user_id").agg(
        *moments(None, sx="x", sxx=("x", "x")),
    )
    q_ud = ud.where(F.col("user_id") < 8).select(
        F.col("user_id").alias("query_id"),
        "d",
        F.col("x").alias("qx"),
    )
    sxy = (
        F.broadcast(q_ud)
        .join(ud, "d")
        .where(F.col("user_id") != F.col("query_id"))
        .groupBy("query_id", "user_id")
        .agg(F.sum(F.col("qx") * F.col("x")).cast("long").alias("sxy"))
    )
    q_stats = stats.where(F.col("user_id") < 8).select(
        F.col("user_id").alias("query_id"),
        F.col("sx").alias("qsx"),
        F.col("sxx").alias("qsxx"),
    )
    j = (
        sxy.join(F.broadcast(q_stats), "query_id")
        .join(stats, "user_id")
        .crossJoin(F.broadcast(days))
        # zero-variance series (constant daily counts) have no defined
        # r: filter BEFORE the division — ANSI Spark would throw where
        # DuckDB yields NULL, so the guard must be structural
        .where(
            (centered("dd", "qsxx", "qsx", "qsx") > 0)
            & (centered("dd", "sxx", "sx", "sx") > 0)
        )
    )
    num = centered("dd", "sxy", "qsx", "sx").cast("double")
    den = F.sqrt(
        centered("dd", "qsxx", "qsx", "qsx").cast("double")
    ) * F.sqrt(
        centered("dd", "sxx", "sx", "sx").cast("double")
    )
    scored = j.select(
        "query_id",
        F.col("user_id").alias("neighbor_id"),
        (num / den).alias("r"),
    ).where(F.col("r").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.desc("r"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


EVENTS_SERIES_SIMILARITY_SQL = """
WITH ev AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
days AS (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS dd FROM ev),
ud AS (
  SELECT user_id, d, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY user_id, d
),
stats AS (
  SELECT user_id, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM ud GROUP BY user_id
),
sxy AS (
  SELECT q.user_id AS query_id, c.user_id,
         CAST(SUM(q.x * c.x) AS BIGINT) AS sxy
  FROM ud q JOIN ud c ON c.d = q.d AND c.user_id <> q.user_id
  WHERE q.user_id < 8
  GROUP BY q.user_id, c.user_id
),
scored AS (
  SELECT s.query_id, s.user_id AS neighbor_id,
         CAST(days.dd * s.sxy - qs.sx * cs.sx AS DOUBLE)
           / (sqrt(CAST(days.dd * qs.sxx - qs.sx * qs.sx AS DOUBLE))
              * sqrt(CAST(days.dd * cs.sxx - cs.sx * cs.sx AS DOUBLE)))
           AS r
  FROM sxy s
  JOIN stats qs ON qs.user_id = s.query_id
  JOIN stats cs ON cs.user_id = s.user_id
  CROSS JOIN days
  WHERE days.dd * qs.sxx - qs.sx * qs.sx > 0
    AND days.dd * cs.sxx - cs.sx * cs.sx > 0
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY r DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored WHERE r IS NOT NULL
)
SELECT query_id, neighbor_id, r, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# ------------------------------------------------- SAX motif counts


def events_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX MOTIF DISCOVERY on daily volume per event type: each full
    week becomes a 7-symbol SAX word (per-day z-score against the
    type's own mean/sd, 4-symbol alphabet at the standard N(0,1)
    quartile breakpoints +-0.6745), and recurring words are the
    series' motifs — the iSAX-lineage symbolic index shape, reduced to
    its audit ("does this type have a repeating weekly signature?").

    Exactness: daily counts int64 on the observed calendar (weeks are
    epoch-day offsets from the type's first day, DIV/% 7 — engine week
    rules never consulted); mu/sd compose the welch recipe once; the
    symbol compare z < breakpoint uses literals identical on both
    engines; words assemble by ORDER BY day-in-week string_agg (Spark:
    sorted-struct array transform). Scale: one data-sized hash agg to
    (type, day); everything after is calendar-bounded."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    stats = daily.groupBy("event_type").agg(
        F.min("d").cast("long").alias("d0"),
        *moments("n", s="x", q=("x", "x")),
    )
    m = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("q").cast("double") / F.col("n").cast("double") - m * m
    ) * (F.col("n").cast("double") / (F.col("n") - 1).cast("double"))
    z = (F.col("x").cast("double") - m) / F.sqrt(var)
    sym = (
        F.when(z < F.lit(-0.6745), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(0.6745), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    sd = (
        daily.join(F.broadcast(stats), "event_type")
        # positive variance in integer form: a constant daily series
        # has no z-scores and would hit ANSI divide-by-zero
        .where(
            (F.col("n") > 1)
            & (centered("n", "q", "s", "s") > 0)
        )
        .select(
            "event_type",
            ((F.col("d") - F.col("d0")) / 7).cast("long").alias("wk"),
            F.pmod(F.col("d") - F.col("d0"), F.lit(7))
            .cast("long")
            .alias("dow"),
            sym.alias("sym"),
        )
    )
    words = (
        sd.groupBy("event_type", "wk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("dow", "sym"))
                    ),
                    lambda s: s.sym,
                ),
                "",
            ).alias("word"),
        )
        .where(F.col("n_days") == 7)
    )
    return (
        words.groupBy("event_type", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_weeks"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.desc("n_weeks"), F.asc("word")
                )
            ),
        )
        .where(F.col("rk") <= 3)
        .select("event_type", "word", "n_weeks")
        .orderBy("event_type", F.desc("n_weeks"), "word")
    )


EVENTS_SAX_MOTIFS_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
daily AS (
  SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS x
  FROM ev GROUP BY event_type, d
),
stats AS (
  SELECT event_type, CAST(MIN(d) AS BIGINT) AS d0,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q
  FROM daily GROUP BY event_type
),
sd AS (
  SELECT daily.event_type,
         CAST((daily.d - st.d0) // 7 AS BIGINT) AS wk,
         CAST((daily.d - st.d0) % 7 AS BIGINT) AS dow,
         CASE WHEN (CAST(daily.x AS DOUBLE)
                    - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                   / sqrt((CAST(st.q AS DOUBLE) / CAST(st.n AS DOUBLE)
                           - (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             * (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)))
                          * (CAST(st.n AS DOUBLE)
                             / CAST(st.n - 1 AS DOUBLE)))
                   < -0.6745 THEN 'a'
              WHEN (CAST(daily.x AS DOUBLE)
                    - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                   / sqrt((CAST(st.q AS DOUBLE) / CAST(st.n AS DOUBLE)
                           - (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             * (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)))
                          * (CAST(st.n AS DOUBLE)
                             / CAST(st.n - 1 AS DOUBLE)))
                   < 0.0 THEN 'b'
              WHEN (CAST(daily.x AS DOUBLE)
                    - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                   / sqrt((CAST(st.q AS DOUBLE) / CAST(st.n AS DOUBLE)
                           - (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                             * (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)))
                          * (CAST(st.n AS DOUBLE)
                             / CAST(st.n - 1 AS DOUBLE)))
                   < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM daily JOIN stats st ON st.event_type = daily.event_type
  WHERE st.n > 1 AND st.n * st.q - st.s * st.s > 0
),
words AS (
  SELECT event_type, wk, CAST(COUNT(*) AS BIGINT) AS n_days,
         string_agg(sym, '' ORDER BY dow) AS word
  FROM sd GROUP BY event_type, wk
),
counted AS (
  SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_weeks
  FROM words WHERE n_days = 7
  GROUP BY event_type, word
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY n_weeks DESC, word ASC) AS rk
  FROM counted
)
SELECT event_type, word, n_weeks FROM ranked WHERE rk <= 3
ORDER BY event_type, n_weeks DESC, word
"""


# ---------------------------------------- circular stats / Rayleigh

_QCOS24 = (
    1024, 989, 887, 724, 512, 265, 0, -265, -512, -724, -887, -989,
    -1024, -989, -887, -724, -512, -265, 0, 265, 512, 724, 887, 989,
)
_QSIN24 = (
    0, 265, 512, 724, 887, 989, 1024, 989, 887, 724, 512, 265,
    0, -265, -512, -724, -887, -989, -1024, -989, -887, -724, -512, -265,
)


def events_circular_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIRCULAR concentration of event times around the 24-hour clock,
    per type: the mean resultant length R-bar and the RAYLEIGH test
    statistic z = n * R-bar^2 ("is this type's traffic diurnal or
    uniform?") plus the integer modal hour — the circular-statistics
    screen linear moments cannot express (23:00 and 01:00 average to
    midnight, not noon).

    Exactness: hour angles take only 24 values, so cos/sin enter as
    PRE-QUANTIZED 2^10-grid integer tables embedded as literals in
    BOTH engines (the events_dominant_period trick — no runtime trig);
    the resultant components are int64 sums, R-bar needs one sqrt over
    identically-cast doubles, and the modal hour is integer argmax
    (ties to the earliest hour). Scale: one data-sized (type, hour)
    hash agg; everything after is a 24-row frame per type."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("h")
    )
    hourly = e.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n_h")
    )
    qcos = F.element_at(
        F.array(*[F.lit(v) for v in _QCOS24]), F.col("h") + 1
    ).cast("long")
    qsin = F.element_at(
        F.array(*[F.lit(v) for v in _QSIN24]), F.col("h") + 1
    ).cast("long")
    agg = hourly.select(
        "event_type",
        "h",
        "n_h",
        (F.col("n_h") * qcos).alias("c"),
        (F.col("n_h") * qsin).alias("s"),
    ).groupBy("event_type").agg(
        F.sum("n_h").cast("long").alias("n"),
        F.sum("c").cast("long").alias("sc"),
        F.sum("s").cast("long").alias("ss"),
        F.max(F.struct(F.col("n_h"), (-F.col("h")).alias("nh")))
        .getField("nh")
        .alias("neg_modal"),
    )
    rbar = F.sqrt(
        (
            F.col("sc").cast("double") * F.col("sc").cast("double")
            + F.col("ss").cast("double") * F.col("ss").cast("double")
        )
    ) / (F.lit(1024.0) * F.col("n").cast("double"))
    return agg.select(
        "event_type",
        F.col("n").alias("n_events"),
        (-F.col("neg_modal")).cast("long").alias("modal_hour"),
        rbar.alias("rbar"),
        (F.col("n").cast("double") * rbar * rbar).alias("rayleigh_z"),
    ).orderBy("event_type")


def _events_circular_rayleigh_sql() -> str:
    cos_cases = " ".join(
        f"WHEN {h} THEN {v}" for h, v in enumerate(_QCOS24)
    )
    sin_cases = " ".join(
        f"WHEN {h} THEN {v}" for h, v in enumerate(_QSIN24)
    )
    return f"""
WITH hourly AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_h
  FROM events GROUP BY event_type, CAST(hour(ts) AS INT)
),
marked AS (
  SELECT *, MAX(n_h) OVER (PARTITION BY event_type) AS mh
  FROM hourly
),
agg AS (
  SELECT event_type,
         CAST(SUM(n_h) AS BIGINT) AS n,
         CAST(SUM(n_h * (CASE h {cos_cases} END)) AS BIGINT) AS sc,
         CAST(SUM(n_h * (CASE h {sin_cases} END)) AS BIGINT) AS ss,
         CAST(MIN(h) FILTER (WHERE n_h = mh) AS BIGINT) AS modal_hour
  FROM marked GROUP BY event_type
)
SELECT event_type, n AS n_events, modal_hour,
       sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
            + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
         / (1024.0 * CAST(n AS DOUBLE)) AS rbar,
       CAST(n AS DOUBLE)
         * (sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                 + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
            / (1024.0 * CAST(n AS DOUBLE)))
         * (sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                 + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
            / (1024.0 * CAST(n AS DOUBLE))) AS rayleigh_z
FROM agg
ORDER BY event_type
"""


# --------------------------------------------------- tenant load gini


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI concentration of event volume across users, per type — the
    full tenant-load-inequality index next to
    events_user_concentration's top-k shares ("is this type's traffic
    one noisy neighbor or genuinely broad?"). Reuses the exact-integer
    gini operator (operators/stats.gini) on per-user event counts
    scaled x100 onto its cents grid, so total_value reads back as the
    exact event count. Scale: one data-sized hash agg to the (type,
    user) frame; the ranking window is user-dimension bounded."""
    from ..operators import stats as ST

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        (F.count(F.lit(1)) * 100).cast("long").alias("cnt_cents")
    )
    return ST.gini(
        per_user, "event_type", "user_id", "cnt_cents"
    ).withColumnRenamed("total_value", "n_events")


def _events_user_gini_sql() -> str:
    from ..operators.stats import gini_sql

    src = (
        "SELECT event_type, user_id,"
        " CAST(COUNT(*) * 100 AS BIGINT) AS cnt_cents"
        " FROM events GROUP BY event_type, user_id"
    )
    return gini_sql(src, "event_type", "user_id", "cnt_cents").replace(
        "AS total_value", "AS n_events"
    )


# ------------------------------------------------ anomaly ensemble


def events_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOMALY-DETECTOR ENSEMBLE on daily arrival counts per type: the
    per-type agreement summary of three independent detectors — the
    Shewhart 3-sigma gate (events_spc_control's integer decision), the
    median/MAD robust gate (events_robust_outliers' 4.4478 factor),
    and an EWMA-baseline shift gate (the stream_ewma_alert prefix
    recipe, alpha = 1/8, first-day seeded) — with the consensus count
    (days flagged by >= 2 detectors). This is the reference's OWN
    domain (AD.java:200 hardcodes one threshold) upgraded to the
    ensemble an SRE dashboard actually pages on: single-detector flags
    are noise candidates, consensus flags are incidents.

    Exactness: SPC is pure integer algebra ((n*x - S)^2 > 9*(nQ -
    S^2)); the robust gate compares against quantile-selected
    median/MAD (selection parity pinned by sql_price_quantiles) with
    one product; the EWMA prefix folds run the IDENTICAL IEEE sequence
    both engines (exact binary alpha, init-first list fold) and the
    shift compare uses identically-composed 3*sd. Scale: ONE
    data-sized hash agg to (type, day); every detector then works the
    calendar-bounded day frame (the EWMA prefix is O(days^2) on that
    bounded list — the events_cusum cost contract)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    stats = daily.groupBy("event_type").agg(
        *moments("n", s="x", q=("x", "x")),
        F.expr("percentile(x, 0.5)").alias("med"),
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("arr"),
    )
    mad = (
        daily.join(
            F.broadcast(stats.select("event_type", "med")), "event_type"
        )
        .select(
            "event_type", F.abs(F.col("x") - F.col("med")).alias("adev")
        )
        .groupBy("event_type")
        .agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    )
    j = stats.join(F.broadcast(mad), "event_type").where(
        (F.col("n") > 1)
        & (centered("n", "q", "s", "s") > 0)
    )
    var_n2 = centered("n", "q", "s", "s")
    sd = F.sqrt(var_n2.cast("double")) / F.col("n").cast("double")
    xs = F.transform(F.col("arr"), lambda p: p["x"].cast("double"))
    # per-position votes; i is 0-based inside transform
    fold = lambda acc, v: acc * F.lit(0.875) + v * F.lit(0.125)  # noqa: E731
    votes = F.transform(
        F.col("arr"),
        lambda p, i: (
            # SPC: integer 3-sigma decision
            F.when(
                (F.col("n") * p["x"] - F.col("s"))
                * (F.col("n") * p["x"] - F.col("s"))
                > F.lit(9) * var_n2,
                1,
            ).otherwise(0)
            # robust: |x - med| > 4.4478 * MAD
            + F.when(
                F.abs(p["x"].cast("double") - F.col("med"))
                > F.col("mad") * F.lit(4.4478),
                1,
            ).otherwise(0)
            # EWMA shift: |x_i - prefix-ewma| > 3 * sd, days 2..n only
            + F.when(
                (i >= 1)
                & (
                    F.abs(
                        p["x"].cast("double")
                        - F.aggregate(
                            F.slice(xs, 2, F.greatest(F.lit(0), i - 1)),
                            F.element_at(xs, 1),
                            fold,
                        )
                    )
                    > F.lit(3.0) * sd
                ),
                1,
            ).otherwise(0)
        ).cast("long"),
    )
    agg = j.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.aggregate(
            votes,
            F.lit(0).cast("long"),
            lambda a, v: a + F.when(v >= 1, 1).otherwise(0),
        ).alias("flagged_any"),
        F.aggregate(
            votes,
            F.lit(0).cast("long"),
            lambda a, v: a + F.when(v >= 2, 1).otherwise(0),
        ).alias("flagged_consensus"),
        F.aggregate(
            votes, F.lit(0).cast("long"), lambda a, v: F.greatest(a, v)
        ).alias("max_votes"),
    )
    return agg.orderBy("event_type")


EVENTS_ANOMALY_ENSEMBLE_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS q,
         quantile_cont(x, 0.5) AS med,
         list(CAST(x AS DOUBLE) ORDER BY d) AS xs,
         list(x ORDER BY d) AS xi
  FROM daily GROUP BY event_type
),
md AS (
  SELECT daily.event_type,
         quantile_cont(abs(daily.x - st.med), 0.5) AS mad
  FROM daily JOIN st ON st.event_type = daily.event_type
  GROUP BY daily.event_type
),
votes AS (
  SELECT st.event_type, st.n,
         list_transform(generate_series(1, CAST(st.n AS INTEGER)), i ->
           CAST(CASE WHEN (st.n * xi[i] - st.s) * (st.n * xi[i] - st.s)
                          > 9 * (st.n * st.q - st.s * st.s)
                     THEN 1 ELSE 0 END
              + CASE WHEN abs(CAST(xi[i] AS DOUBLE) - st.med)
                          > md.mad * 4.4478
                     THEN 1 ELSE 0 END
              + CASE WHEN i >= 2 AND
                          abs(CAST(xi[i] AS DOUBLE)
                              - list_reduce(
                                  list_prepend(xs[1],
                                    list_slice(xs, 2, i - 1)),
                                  (acc, v) -> acc * 0.875 + v * 0.125))
                          > 3.0 * (sqrt(CAST(st.n * st.q - st.s * st.s
                                             AS DOUBLE))
                                   / CAST(st.n AS DOUBLE))
                     THEN 1 ELSE 0 END AS BIGINT)) AS v
  FROM st JOIN md ON md.event_type = st.event_type
  WHERE st.n > 1 AND st.n * st.q - st.s * st.s > 0
)
SELECT event_type, n AS n_days,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(v, t -> CASE WHEN t >= 1
                                     THEN CAST(1 AS BIGINT)
                                     ELSE CAST(0 AS BIGINT) END)),
         (a, b) -> a + b) AS flagged_any,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(v, t -> CASE WHEN t >= 2
                                     THEN CAST(1 AS BIGINT)
                                     ELSE CAST(0 AS BIGINT) END)),
         (a, b) -> a + b) AS flagged_consensus,
       list_reduce(list_prepend(CAST(0 AS BIGINT), v),
         (a, b) -> GREATEST(a, b)) AS max_votes
FROM votes
ORDER BY event_type
"""


# --------------------------------------- permutation entropy


def events_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORDER-3 PERMUTATION ENTROPY of the daily-count series per event
    type — the complexity measure that reads a series' predictability
    from its ordinal patterns alone (Bandt-Pompe): a monotone or
    strictly periodic series concentrates on few of the 6 patterns
    (low H), white noise spreads over all 6 (H near ln 6).

    Exactness: patterns come from integer comparisons of exact daily
    counts over the zero-filled grid (ties break to the EARLIER day,
    encoded a<=b / b<=c / a<=c — 6 valid 3-bit codes); pattern counts
    are int64; each -p ln p term runs ln through the libm twin,
    quantizes onto the 2^-20 grid and folds as int64 (order-free);
    h_norm is ONE division by the libm ln 6. Scale: one data-sized
    hash agg to the (type, day) grid; the lead windows and the pattern
    agg run on the calendar-bounded frame."""
    from ..functions.libm import libm_log

    g = _daily_grid(spark, sf_dir)
    w = Window.partitionBy("t").orderBy("d")
    tri = (
        g.select(
            "t",
            F.col("n").alias("a"),
            F.lead("n", 1).over(w).alias("b"),
            F.lead("n", 2).over(w).alias("c"),
        )
        .where(F.col("c").isNotNull())
        .select(
            "t",
            (
                (F.col("a") <= F.col("b")).cast("long")
                + (F.col("b") <= F.col("c")).cast("long") * 2
                + (F.col("a") <= F.col("c")).cast("long") * 4
            ).alias("pat"),
        )
    )
    cnt = tri.groupBy("t", "pat").agg(
        F.count(F.lit(1)).cast("long").alias("np")
    )
    tot = tri.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    p = F.col("np").cast("double") / F.col("n").cast("double")
    term_q = on_grid(p * libm_log(p), float(Q20))
    agg = (
        cnt.join(tot, "t")
        .select("t", "n", term_q.alias("tq"))
        .groupBy("t", "n")
        .agg(F.sum("tq").cast("long").alias("sq"))
    )
    h = -F.col("sq").cast("double") / F.lit(float(Q20))
    return agg.select(
        F.col("t").alias("event_type"),
        F.col("n").alias("n_windows"),
        h.alias("perm_entropy"),
        (h / libm_log(F.lit(6.0))).alias("perm_entropy_norm"),
    ).orderBy("event_type")


EVENTS_PERMUTATION_ENTROPY_SQL = f"""
WITH raw AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT ty.t, dy.d, COALESCE(raw.n, 0) AS n
  FROM (SELECT DISTINCT event_type AS t FROM events) ty
  CROSS JOIN (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) dy
  LEFT JOIN raw ON raw.t = ty.t AND raw.d = dy.d
),
tri AS (
  SELECT t,
         CAST(CASE WHEN n <= lead(n, 1) OVER w THEN 1 ELSE 0 END
              + CASE WHEN lead(n, 1) OVER w <= lead(n, 2) OVER w
                     THEN 2 ELSE 0 END
              + CASE WHEN n <= lead(n, 2) OVER w THEN 4 ELSE 0 END
              AS BIGINT) AS pat,
         lead(n, 2) OVER w AS c
  FROM grid
  WINDOW w AS (PARTITION BY t ORDER BY d)
),
tri2 AS (SELECT t, pat FROM tri WHERE c IS NOT NULL),
cnt AS (
  SELECT t, pat, CAST(COUNT(*) AS BIGINT) AS np FROM tri2 GROUP BY t, pat
),
tot AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM tri2 GROUP BY t),
agg AS (
  SELECT cnt.t, tot.n,
         CAST(SUM(CAST(FLOOR(
             (CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
             * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM cnt JOIN tot ON tot.t = cnt.t
  GROUP BY cnt.t, tot.n
)
SELECT t AS event_type, n AS n_windows,
       -CAST(sq AS DOUBLE) / {float(Q20)!r} AS perm_entropy,
       (-CAST(sq AS DOUBLE) / {float(Q20)!r}) / ln(6.0)
         AS perm_entropy_norm
FROM agg
ORDER BY event_type
"""


# ------------------------------------------- growth accounting


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWTH ACCOUNTING (new / retained / resurrected / churned) of
    weekly active users per week — the standard WAU decomposition and
    quick ratio a growth team reads before any topline claim
    ("is WAU growth acquisition or leaky-bucket churn?").

    Exactness: weeks are integer day-offsets DIV 7 from the global min
    day (engine week rules never consulted); activity is a DISTINCT
    (user, week) frame; every class count is an exact int64 off keyed
    joins of that frame with its week-shifted self and the per-user
    first week; quick_ratio is ONE guarded division (weeks with zero
    churn emit NULL on both engines via lazy CASE). Scale: one
    data-sized distinct to (user, week); both joins are keyed on the
    user dimension; the report frame is |weeks| rows."""
    e = load_table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    uw = (
        e.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.expr("CAST(datediff(to_date(ts), d0) DIV 7 AS BIGINT)").alias(
                "w"
            ),
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("w").alias("fw"))
    prev = uw.select("user_id", (F.col("w") + 1).alias("w"), F.lit(1).alias("was"))
    maxw = uw.agg(F.max("w").alias("mw"))
    cur = uw.withColumn("is_cur", F.lit(1))
    full = (
        cur.join(prev, ["user_id", "w"], "full")
        .join(first, "user_id")
        .crossJoin(F.broadcast(maxw))
        .where(F.col("w") <= F.col("mw"))
    )
    agg = full.groupBy("w").agg(
        F.sum(
            F.when(
                (F.col("is_cur") == 1) & (F.col("w") == F.col("fw")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("new_users"),
        F.sum(
            F.when((F.col("is_cur") == 1) & (F.col("was") == 1), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("retained"),
        F.sum(
            F.when(
                (F.col("is_cur") == 1)
                & F.col("was").isNull()
                & (F.col("w") > F.col("fw")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("resurrected"),
        F.sum(
            F.when((F.col("was") == 1) & F.col("is_cur").isNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("churned"),
    )
    return agg.select(
        F.col("w").alias("week"),
        "new_users",
        "retained",
        "resurrected",
        "churned",
        F.when(
            F.col("churned") > 0,
            (F.col("new_users") + F.col("resurrected")).cast("double")
            / F.col("churned").cast("double"),
        ).alias("quick_ratio"),
    ).orderBy("week")


EVENTS_GROWTH_ACCOUNTING_SQL = """
WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
uw AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) // 7 AS BIGINT)
           AS w
  FROM events CROSS JOIN d0
),
first_w AS (SELECT user_id, MIN(w) AS fw FROM uw GROUP BY user_id),
prev AS (SELECT user_id, w + 1 AS w, 1 AS was FROM uw),
maxw AS (SELECT MAX(w) AS mw FROM uw),
cur AS (SELECT user_id, w, 1 AS is_cur FROM uw),
full_f AS (
  SELECT COALESCE(cur.user_id, prev.user_id) AS user_id,
         COALESCE(cur.w, prev.w) AS w,
         cur.is_cur, prev.was
  FROM cur FULL JOIN prev
    ON prev.user_id = cur.user_id AND prev.w = cur.w
),
joined AS (
  SELECT f.*, fw.fw FROM full_f f
  JOIN first_w fw ON fw.user_id = f.user_id
  CROSS JOIN maxw WHERE f.w <= maxw.mw
)
SELECT w AS week,
       CAST(SUM(CASE WHEN is_cur = 1 AND w = fw THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN is_cur = 1 AND was = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS retained,
       CAST(SUM(CASE WHEN is_cur = 1 AND was IS NULL AND w > fw
                     THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
       CAST(SUM(CASE WHEN was = 1 AND is_cur IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS churned,
       CASE WHEN SUM(CASE WHEN was = 1 AND is_cur IS NULL THEN 1 ELSE 0
                     END) > 0
            THEN CAST(SUM(CASE WHEN is_cur = 1 AND w = fw THEN 1 ELSE 0
                          END)
                      + SUM(CASE WHEN is_cur = 1 AND was IS NULL
                                 AND w > fw THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN was = 1 AND is_cur IS NULL
                            THEN 1 ELSE 0 END) AS DOUBLE)
            END AS quick_ratio
FROM joined
GROUP BY w
ORDER BY w
"""


# --------------------------------------------- partial correlation


def events_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL CORRELATION of the two alphabetically-first event
    types' daily value volumes CONTROLLING for the third — "do click
    and error really co-move, or do both just follow purchase-driven
    traffic?" The confounder screen the raw Pearson matrix
    (events_hourly_corr) cannot answer.

    Exactness: daily cents sums fold int64 over the zero-filled
    calendar grid; the three pairwise r compose from exact integer
    sufficient statistics in the events_hourly_corr op order (sqrt(a)*
    sqrt(b) denominators, never sqrt(a*b)); the partial r is one fixed
    float expression, with the |r| = 1 degenerate frames filtered by
    the SAME float guard on both engines. int64 bound: day-pair
    products n*sxy stay exact while daily per-type cents volume is
    under ~sqrt(2^63/days) (~1.2e8 cents/day at 60 days) — the
    documented hourly_corr bound class; past it, rebase to value units
    before the fold. Scale: one data-sized hash agg to the (type, day)
    grid; everything after is calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    types = [
        r[0]
        for r in e.select("event_type").distinct().orderBy("event_type").limit(3).collect()
    ]
    if len(types) < 3:
        types = (types + ["", "", ""])[:3]
    tx, ty, tz = types
    daily = (
        e.where(F.col("event_type").isin(tx, ty, tz))
        .groupBy(
            F.to_date("ts").alias("d"),
            F.col("event_type").alias("t"),
        )
        .agg(
            F.sum(cents())
            .cast("long")
            .alias("s")
        )
    )
    days = e.select(F.to_date("ts").alias("d")).distinct()
    wide = (
        days.join(
            daily.where(F.col("t") == tx).select("d", F.col("s").alias("x")),
            "d",
            "left",
        )
        .join(
            daily.where(F.col("t") == ty).select("d", F.col("s").alias("y")),
            "d",
            "left",
        )
        .join(
            daily.where(F.col("t") == tz).select("d", F.col("s").alias("z")),
            "d",
            "left",
        )
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
            F.coalesce("z", F.lit(0)).alias("z"),
        )
    )
    agg = wide.agg(
        *moments(
            "n", sx="x", sy="y", sz="z", sxx=("x", "x"), syy=("y", "y"), szz=("z", "z"),
            sxy=("x", "y"), sxz=("x", "z"), syz=("y", "z"),
        ),
    ).where(
        (F.col("n") > 2)
        & (centered("n", "sxx", "sx", "sx") > 0)
        & (centered("n", "syy", "sy", "sy") > 0)
        & (centered("n", "szz", "sz", "sz") > 0)
    )

    def _r(sab, sa, sb, saa, sbb):
        num = (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast(
            "double"
        )
        da = F.sqrt(
            (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        )
        db = F.sqrt(
            (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        )
        return num / (da * db)

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    scored = agg.select(
        F.lit(tx).alias("type_x"),
        F.lit(ty).alias("type_y"),
        F.lit(tz).alias("type_z"),
        F.col("n").alias("n_days"),
        rxy.alias("r_xy"),
        rxz.alias("r_xz"),
        ryz.alias("r_yz"),
    ).where(
        (F.lit(1.0) - F.col("r_xz") * F.col("r_xz") > 0)
        & (F.lit(1.0) - F.col("r_yz") * F.col("r_yz") > 0)
    )
    return scored.select(
        "type_x",
        "type_y",
        "type_z",
        "n_days",
        "r_xy",
        (
            (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
            / (
                F.sqrt(F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
                * F.sqrt(F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))
            )
        ).alias("r_xy_given_z"),
    )


def _events_partial_corr_sql() -> str:
    return """
WITH types AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) AS rn
  FROM (SELECT DISTINCT event_type FROM events) WHERE event_type IS NOT NULL
),
sel AS (
  SELECT MAX(CASE WHEN rn = 1 THEN event_type END) AS tx,
         MAX(CASE WHEN rn = 2 THEN event_type END) AS ty,
         MAX(CASE WHEN rn = 3 THEN event_type END) AS tz
  FROM types WHERE rn <= 3
),
daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS t,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS s
  FROM events CROSS JOIN sel
  WHERE event_type IN (sel.tx, sel.ty, sel.tz)
  GROUP BY 1, 2
),
wide AS (
  SELECT dy.d,
         COALESCE(MAX(CASE WHEN daily.t = sel.tx THEN daily.s END), 0) AS x,
         COALESCE(MAX(CASE WHEN daily.t = sel.ty THEN daily.s END), 0) AS y,
         COALESCE(MAX(CASE WHEN daily.t = sel.tz THEN daily.s END), 0) AS z
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) dy
  LEFT JOIN daily ON daily.d = dy.d
  CROSS JOIN sel
  GROUP BY dy.d
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(y * z) AS BIGINT) AS syz
  FROM wide
),
guarded AS (
  SELECT * FROM agg
  WHERE n > 2 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    AND n * szz - sz * sz > 0
),
scored AS (
  SELECT sel.tx AS type_x, sel.ty AS type_y, sel.tz AS type_z,
         n AS n_days,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r_xy,
         CAST(n * sxz - sx * sz AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS r_xz,
         CAST(n * syz - sy * sz AS DOUBLE)
           / (sqrt(CAST(n * syy - sy * sy AS DOUBLE))
              * sqrt(CAST(n * szz - sz * sz AS DOUBLE))) AS r_yz
  FROM guarded CROSS JOIN sel
)
SELECT type_x, type_y, type_z, n_days, r_xy,
       (r_xy - r_xz * r_yz)
         / (sqrt(1.0 - r_xz * r_xz) * sqrt(1.0 - r_yz * r_yz))
         AS r_xy_given_z
FROM scored
WHERE 1.0 - r_xz * r_xz > 0 AND 1.0 - r_yz * r_yz > 0
"""


# ---------------------------------------- Chatterjee xi correlation


def events_xi_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's xi (2020) — a rank-based dependence coefficient
    that, unlike Pearson/Spearman (events_spearman), detects NON-
    monotone functional dependence and converges to 0 iff
    independence. Measured per event type between daily event count x
    and daily total value y: xi_n = 1 - 3 * sum|r_{i+1} - r_i| /
    (n^2 - 1), where days are ordered by (x, day) — the deterministic
    tie-break BOTH engines share — and r_i = #{j : y_j <= y_i}.

    Exactness: x, y are exact int64 (count, cents sum); ranks are the
    tie-inclusive RANGE-frame COUNT(*), integer; the |rank-step| sum
    is an int64 fold; xi composes in one float expression. Guard:
    n_days > 1 (the n^2 - 1 denominator) filtered structurally on both
    engines. Scale: ONE data-sized hash agg to (type, day); every
    window runs on the calendar-bounded per-type day frame (the
    events_acf contract)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        cents().alias("c"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum("c").cast("long").alias("y"),
    )
    w_rank = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = daily.withColumn("r", F.count(F.lit(1)).over(w_rank))
    w_seq = Window.partitionBy("event_type").orderBy("x", "d")
    stepped = ranked.withColumn(
        "step", F.abs(F.col("r") - F.lag("r").over(w_seq))
    )
    agg = stepped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("step").cast("long").alias("sum_step"),
    )
    return (
        agg.where(F.col("n_days") > 1)
        .select(
            "event_type",
            "n_days",
            (
                F.lit(1.0)
                - F.lit(3.0)
                * F.col("sum_step").cast("double")
                / (
                    F.col("n_days").cast("double") * F.col("n_days")
                    - F.lit(1.0)
                )
            ).alias("xi"),
        )
        .orderBy("event_type")
    )


EVENTS_XI_CORRELATION_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
ranked AS (
  SELECT *, COUNT(*) OVER (
           PARTITION BY event_type ORDER BY y
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM daily
),
stepped AS (
  SELECT event_type,
         ABS(r - LAG(r) OVER (PARTITION BY event_type ORDER BY x, d))
           AS step
  FROM ranked
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(step) AS BIGINT) AS sum_step
  FROM stepped GROUP BY event_type
)
SELECT event_type, n_days,
       1.0 - 3.0 * CAST(sum_step AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * n_days - 1.0) AS xi
FROM agg WHERE n_days > 1
ORDER BY event_type
"""


# ------------------------------- Cochran-Mantel-Haenszel association


def events_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel chi-square: is afternoon activity
    (hour >= 12) associated with high-value events (value >= 250),
    CONTROLLING for day-of-week? The stratified complement to
    events_chi2_independence — a marginal 2x2 can show association
    that is pure Simpson's-paradox confounding by weekday; CMH pools
    the per-stratum evidence instead. Statistic (no continuity
    correction, documented): (sum a_k - sum E[a_k])^2 / sum V_k with
    E[a_k] = n1*m1/N and V_k = n1*n0*m1*m0 / (N^2 (N-1)).

    Exactness: the 7x2x2 table comes from ONE integer hash agg;
    per-stratum E and V are double expressions in one fixed op order
    (pure-double products — the int64 n1*m1 cross-product would
    overflow past ~3e9 events/stratum, the dq_segment_balance bound),
    then quantized to the 2^-20 grid so the cross-stratum SUM is an
    order-independent int64 fold. Strata with an empty margin (V = 0)
    are filtered structurally on both engines. Scale: one data-sized
    agg to 28 cells; everything after is a 7-row frame."""
    e = load_table(spark, sf_dir, "events").select(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),  # Sun=0..Sat=6
        (F.hour("ts") >= 12).cast("int").alias("pm"),
        (F.col("value") >= 250).cast("int").alias("hi"),
    )
    cells = e.groupBy("dow", "pm", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    strata = cells.groupBy("dow").agg(
        F.sum(F.when((F.col("pm") == 1) & (F.col("hi") == 1), F.col("cnt"))
              .otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("pm") == 1, F.col("cnt")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("pm") == 0, F.col("cnt")).otherwise(0))
        .cast("long").alias("n0"),
        F.sum(F.when(F.col("hi") == 1, F.col("cnt")).otherwise(0))
        .cast("long").alias("m1"),
        F.sum(F.when(F.col("hi") == 0, F.col("cnt")).otherwise(0))
        .cast("long").alias("m0"),
        F.sum("cnt").cast("long").alias("nt"),
    )
    ok = strata.where(
        (F.col("n1") > 0) & (F.col("n0") > 0) & (F.col("m1") > 0)
        & (F.col("m0") > 0) & (F.col("nt") > 1)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ev = ok.select(
        "a",
        on_grid(d("n1") * d("m1") / d("nt"), float(Q20)).alias("e_q"),
        on_grid(
            d("n1") * d("n0") * d("m1") * d("m0")
            / (d("nt") * d("nt") * (d("nt") - F.lit(1.0))),
            float(Q20),
        ).alias("v_q"),
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("a").cast("long").alias("sum_a"),
        F.sum("e_q").cast("long").alias("sum_eq"),
        F.sum("v_q").cast("long").alias("sum_vq"),
    )
    return tot.where(F.col("sum_vq") > 0).select(
        "n_strata",
        "sum_a",
        (F.col("sum_eq").cast("double") / F.lit(float(Q20))).alias("sum_e"),
        (
            (
                F.col("sum_a").cast("double")
                - F.col("sum_eq").cast("double") / F.lit(float(Q20))
            )
            * (
                F.col("sum_a").cast("double")
                - F.col("sum_eq").cast("double") / F.lit(float(Q20))
            )
            / (F.col("sum_vq").cast("double") / F.lit(float(Q20)))
        ).alias("cmh_stat"),
    )


EVENTS_CMH_TEST_SQL = f"""
WITH cells AS (
  SELECT dayofweek(ts) AS dow,
         CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END AS pm,
         CASE WHEN value >= 250 THEN 1 ELSE 0 END AS hi,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
strata AS (
  SELECT dow,
         CAST(SUM(CASE WHEN pm = 1 AND hi = 1 THEN cnt ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN pm = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN pm = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN hi = 1 THEN cnt ELSE 0 END) AS BIGINT) AS m1,
         CAST(SUM(CASE WHEN hi = 0 THEN cnt ELSE 0 END) AS BIGINT) AS m0,
         CAST(SUM(cnt) AS BIGINT) AS nt
  FROM cells GROUP BY dow
),
ev AS (
  SELECT a,
         CAST(FLOOR(CAST(n1 AS DOUBLE) * CAST(m1 AS DOUBLE)
                    / CAST(nt AS DOUBLE) * {float(Q20)} + 0.5)
              AS BIGINT) AS e_q,
         CAST(FLOOR(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                    * CAST(m1 AS DOUBLE) * CAST(m0 AS DOUBLE)
                    / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
                       * (CAST(nt AS DOUBLE) - 1.0))
                    * {float(Q20)} + 0.5) AS BIGINT) AS v_q
  FROM strata
  WHERE n1 > 0 AND n0 > 0 AND m1 > 0 AND m0 > 0 AND nt > 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(a) AS BIGINT) AS sum_a,
         CAST(SUM(e_q) AS BIGINT) AS sum_eq,
         CAST(SUM(v_q) AS BIGINT) AS sum_vq
  FROM ev
)
SELECT n_strata, sum_a,
       CAST(sum_eq AS DOUBLE) / {float(Q20)} AS sum_e,
       (CAST(sum_a AS DOUBLE) - CAST(sum_eq AS DOUBLE) / {float(Q20)})
       * (CAST(sum_a AS DOUBLE) - CAST(sum_eq AS DOUBLE) / {float(Q20)})
       / (CAST(sum_vq AS DOUBLE) / {float(Q20)}) AS cmh_stat
FROM tot WHERE sum_vq > 0
"""


# ------------------------------------------- Benford first-digit MAD

# log10(1 + 1/d) for d = 1..9, as Python double literals shared by both
# engines (no runtime transcendentals).
_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def events_benford_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformity per event type — the
    classic fabricated-numbers screen (Nigrini's MAD statistic): MAD =
    mean over d=1..9 of |observed digit share - log10(1+1/d)|.

    Exactness: cents = floor(value*100 + 0.5) int64 (> 0 kept); first
    digit via the decimal string head (identical for positive int64 in
    both engines); the (type x 9 digits) grid enumerates MISSING
    digits as real 0-share observations; each |share - expected| term
    is quantized to the 2^-20 grid and int64-summed (order-free), with
    the expected shares embedded as PYTHON DOUBLE LITERALS in both
    plans. Scale: ONE data-sized hash agg to (type, digit); the grid
    is |types| x 9."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    ).where(F.col("c") > 0)
    counts = e.groupBy(
        "event_type",
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("dig"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("dig"))
    types = counts.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(digits))
        .join(counts, ["event_type", "dig"], "left")
        .select(
            "event_type",
            "dig",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
    )
    tot = grid.groupBy("event_type").agg(F.sum("n").cast("long").alias("nt"))
    exp_col = F.create_map(
        *[x for d in range(1, 10) for x in (F.lit(d), F.lit(_BENFORD[d]))]
    )
    dev = (
        grid.join(tot, "event_type")
        .select(
            "event_type",
            "nt",
            F.abs(
                F.col("n").cast("double") / F.col("nt").cast("double")
                - exp_col[F.col("dig")]
            ).alias("adev"),
        )
        .select(
            "event_type",
            "nt",
            on_grid(F.col("adev"), Q20).alias("q"),
            F.col("adev"),
        )
    )
    return (
        dev.groupBy("event_type")
        .agg(
            F.first("nt").alias("n_values"),
            (F.sum("q").cast("double") / F.lit(float(9 * Q20))).alias("mad"),
            F.max("adev").alias("max_abs_dev"),
        )
        .orderBy("event_type")
    )


def _events_benford_mad_sql() -> str:
    exp_cases = " ".join(
        f"WHEN {d} THEN {_BENFORD[d]!r}" for d in range(1, 10)
    )
    return f"""
WITH vals AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
  WHERE CAST(FLOOR(value * 100 + 0.5) AS BIGINT) > 0
),
counts AS (
  SELECT event_type, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS dig,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM vals GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, d.dig, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT event_type FROM counts) t
  CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS dig) d
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.dig = d.dig
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt FROM grid GROUP BY 1
),
dev AS (
  SELECT g.event_type, t.nt,
         ABS(CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) -
             CASE g.dig {exp_cases} END) AS adev
  FROM grid g JOIN tot t ON t.event_type = g.event_type
)
SELECT event_type,
       CAST(MIN(nt) AS BIGINT) AS n_values,
       CAST(SUM(CAST(FLOOR(adev * {Q20} + 0.5) AS BIGINT)) AS DOUBLE)
         / {float(9 * Q20)!r} AS mad,
       MAX(adev) AS max_abs_dev
FROM dev GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------ off-hours activity


def events_odd_hours_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-hours (00:00-05:59) activity share per event type — the
    bot-traffic / abuse screen: counts and value mass in the dead
    hours vs the full day.

    Exactness: integer counts and cents sums; two final divisions
    (count share; value share CASE-guarded for a zero total on BOTH
    engines). Scale: one data-sized hash agg keyed by type."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts") <= 5).alias("odd"),
        cents().alias("c"),
    )
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("odd"), 1).otherwise(0)).cast("long").alias("n_odd"),
        F.sum("c").cast("long").alias("cents"),
        F.sum(F.when(F.col("odd"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("cents_odd"),
    )
    return agg.select(
        "event_type",
        "n",
        "n_odd",
        (F.col("n_odd").cast("double") / F.col("n").cast("double")).alias(
            "count_share"
        ),
        F.when(
            F.col("cents") != 0,
            F.col("cents_odd").cast("double") / F.col("cents").cast("double"),
        ).alias("value_share"),
    ).orderBy("event_type")


_EVENTS_ODD_HOURS_SQL = """
WITH base AS (
  SELECT event_type,
         (EXTRACT(hour FROM ts) <= 5) AS odd,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN odd THEN 1 ELSE 0 END) AS BIGINT) AS n_odd,
         CAST(SUM(c) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN odd THEN c ELSE 0 END) AS BIGINT) AS cents_odd
  FROM base GROUP BY event_type
)
SELECT event_type, n, n_odd,
       CAST(n_odd AS DOUBLE) / CAST(n AS DOUBLE) AS count_share,
       CASE WHEN cents <> 0
            THEN CAST(cents_odd AS DOUBLE) / CAST(cents AS DOUBLE)
       END AS value_share
FROM agg
ORDER BY event_type
"""


# ------------------------------------------ max drawdown of daily P&L


def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily value series per event
    type — the risk lens on activity value: peak-to-trough loss of the
    running cents total, all integer.

    Exactness: daily cents totals are int64; the running sum, running
    peak, drawdown, and max drawdown are int64 window folds — no float
    anywhere. Scale: ONE data-sized hash agg to (type, day); the
    windows run on the calendar-bounded per-type day frame (the
    events_cusum cost argument)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        cents().alias("c"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.sum("c").cast("long").alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "event_type",
        "d",
        F.sum("cents").over(w).cast("long").alias("cum"),
    )
    run = cum.select(
        "event_type",
        (F.max("cum").over(w)).cast("long").alias("peak"),
        F.col("cum"),
    )
    return (
        run.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max(F.col("peak") - F.col("cum")).cast("long").alias(
                "max_drawdown_cents"
            ),
            F.max("peak").cast("long").alias("peak_cents"),
        )
        .orderBy("event_type")
    )


_EVENTS_MAX_DRAWDOWN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, d,
         CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM daily
),
run AS (
  SELECT event_type,
         CAST(MAX(cum) OVER (PARTITION BY event_type ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS peak,
         cum
  FROM cum
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(peak) AS BIGINT) AS peak_cents
FROM run GROUP BY event_type
ORDER BY event_type
"""


# ------------------------------------------------- Theil-Sen slope


def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-count trend per event type: the MEDIAN of
    all pairwise slopes (n_j - n_i) / (day_j - day_i) — up to ~29%
    corrupted days cannot move it, unlike the OLS slope
    (events_trend_ols).

    Exactness: days and counts are exact integers; each slope is ONE
    double division (identical both engines); the median is a
    POSITIONAL PICK (row_number = (m+1) div 2 over slope-ordered
    pairs) — no interpolation, so ties and float order cannot drift.
    Scale: the pair frame is CALENDAR-bounded per type (~C(31,2) rows
    — the events_kendall_tau argument); the only data-sized stage is
    the daily agg."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
    )
    daily = e.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = daily.select(
        F.col("event_type").alias("t"),
        F.col("d").alias("d1"),
        F.col("n").alias("n1"),
    )
    b = daily.select(
        F.col("event_type").alias("t"),
        F.col("d").alias("d2"),
        F.col("n").alias("n2"),
    )
    pairs = a.join(b, "t").where(F.col("d1") < F.col("d2"))
    slopes = pairs.select(
        "t",
        (
            (F.col("n2") - F.col("n1")).cast("double")
            / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("t").orderBy("slope")
    cnt = Window.partitionBy("t")
    ranked = slopes.select(
        "t",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("m"),
    )
    return (
        ranked.where(F.col("rn") == F.expr("(m + 1) div 2"))
        .select(
            F.col("t").alias("event_type"),
            F.col("m").cast("long").alias("n_pairs"),
            F.col("slope").alias("ts_slope"),
        )
        .orderBy("event_type")
    )


_EVENTS_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.t,
         CAST(b.n - a.n AS DOUBLE) / CAST(date_diff('day', a.d, b.d) AS DOUBLE)
           AS slope
  FROM daily a JOIN daily b ON b.t = a.t AND a.d < b.d
),
ranked AS (
  SELECT t, slope,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY t) AS m
  FROM pairs
)
SELECT t AS event_type,
       CAST(m AS BIGINT) AS n_pairs,
       slope AS ts_slope
FROM ranked
WHERE rn = (m + 1) // 2
ORDER BY event_type
"""


# -------------------------------------------- lag-7 autocorrelation


def events_weekly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 Pearson autocorrelation of the daily count series per
    event type, zeros enumerated — the weekly-seasonality strength
    read next to sql_seasonal_index.

    Exactness: the Pearson recipe — integer sufficient statistics
    over (x_t, x_{t+7}) pairs from the ZERO-FILLED day grid
    (_daily_grid twin), r composed as (n*Sxy - Sx*Sy) /
    (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)) with sqrt(a)*sqrt(b)
    (the overflow-guard op order) — sqrt is IEEE correctly rounded
    both engines. Degenerate series (either side constant) are
    structurally NULL on both. Scale: grid and pair frames are
    calendar x |types| bounded."""
    g = _daily_grid(spark, sf_dir)
    pairs = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.datediff(F.col("b.d"), F.col("a.d")) == F.lit(7)),
        )
        .select(
            F.col("a.t").alias("t"),
            F.col("a.n").alias("x"),
            F.col("b.n").alias("y"),
        )
    )
    s = pairs.groupBy("t").agg(
        *moments("n", sx="x", sy="y", sxy=("x", "y"), sxx=("x", "x"), syy=("y", "y")),
    )
    vx = centered("n", "sxx", "sx", "sx")
    vy = centered("n", "syy", "sy", "sy")
    num = centered("n", "sxy", "sx", "sy").cast("double")
    r = F.when(
        (vx > 0) & (vy > 0),
        num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return (
        s.select(
            F.col("t").alias("event_type"),
            F.col("n").alias("n_pairs"),
            r.alias("acf7"),
        )
        .orderBy("event_type")
    )


def _events_weekly_autocorr_sql() -> str:
    return f"""
WITH {_DAILY_GRID_SQL.lstrip()},
pairs AS (
  SELECT a.t, a.n AS x, b.n AS y
  FROM grid a JOIN grid b
    ON b.t = a.t AND date_diff('day', a.d, b.d) = 7
),
s AS (
  SELECT t,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY t
)
SELECT t AS event_type,
       n AS n_pairs,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE) /
         (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
          SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS acf7
FROM s
ORDER BY event_type
"""


# ---------------------------------------------- Chao1 richness


def events_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-species estimate of the user population per event
    type — "how many users WOULD we see with infinite sampling":
    S_chao1 = S_obs + f1*(f1-1) / (2*(f2+1)) (the bias-corrected
    form, defined even when no user was seen exactly twice).

    Exactness: f1/f2/S_obs are exact integer abundance counts; the
    estimator is integer arithmetic plus ONE final division. Scale:
    two hash aggs — data-sized (type, user) then |users|-sized
    abundance histogram."""
    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    s = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    chao = (
        F.col("s_obs").cast("double")
        + (F.col("f1") * (F.col("f1") - 1)).cast("double")
        / (2 * (F.col("f2") + 1)).cast("double")
    )
    return s.select(
        "event_type", "s_obs", "f1", "f2", chao.alias("chao1")
    ).orderBy("event_type")


_EVENTS_CHAO1_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS s_obs,
         CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM per_user GROUP BY event_type
)
SELECT event_type, s_obs, f1, f2,
       CAST(s_obs AS DOUBLE) +
         CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
         AS chao1
FROM s
ORDER BY event_type
"""


QUERIES = {
    "events_stl_decompose": events_stl_decompose,
    "events_page_hinkley": events_page_hinkley,
    "events_block_maxima": events_block_maxima,
    "events_markov_stationary": events_markov_stationary,
    "events_hurst": events_hurst,
    "events_dominant_period": events_dominant_period,
    "events_gtest": events_gtest,
    "events_kendall_tau": events_kendall_tau,
    "events_spearman": events_spearman,
    "events_welch_t": events_welch_t,
    "events_kruskal_wallis": events_kruskal_wallis,
    "events_mood_median": events_mood_median,
    "events_seasonal_strength": events_seasonal_strength,
    "events_wasserstein": events_wasserstein,
    "events_energy_distance": events_energy_distance,
    "events_durbin_watson": events_durbin_watson,
    "events_turning_points": events_turning_points,
    "events_friedman": events_friedman,
    "events_total_variation": events_total_variation,
    "events_hellinger": events_hellinger,
    "events_cliffs_delta": events_cliffs_delta,
    "events_cohens_d": events_cohens_d,
    "events_grubbs": events_grubbs,
    "events_mcnemar_activity": events_mcnemar_activity,
    "events_cochran_q": events_cochran_q,
    "events_jonckheere": events_jonckheere,
    "events_seasonal_mann_kendall": events_seasonal_mann_kendall,
    "events_poisson_rate": events_poisson_rate,
    "events_series_similarity": events_series_similarity,
    "events_sax_motifs": events_sax_motifs,
    "events_circular_rayleigh": events_circular_rayleigh,
    "events_user_gini": events_user_gini,
    "events_anomaly_ensemble": events_anomaly_ensemble,
    "events_growth_accounting": events_growth_accounting,
    "events_partial_corr": events_partial_corr,
    "events_permutation_entropy": events_permutation_entropy,
    "events_xi_correlation": events_xi_correlation,
    "events_cmh_test": events_cmh_test,
    "events_benford_mad": events_benford_mad,
    "events_odd_hours_share": events_odd_hours_share,
    "events_max_drawdown": events_max_drawdown,
    "events_theil_sen": events_theil_sen,
    "events_weekly_autocorr": events_weekly_autocorr,
    "events_chao1_richness": events_chao1_richness,
}

ORACLES = {
    "events_stl_decompose": EVENTS_STL_SQL,
    "events_page_hinkley": _events_page_hinkley_sql(),
    "events_block_maxima": _events_block_maxima_sql(),
    "events_markov_stationary": _events_markov_stationary_sql(),
    "events_hurst": EVENTS_HURST_SQL,
    "events_dominant_period": EVENTS_DOMINANT_PERIOD_SQL,
    "events_gtest": EVENTS_GTEST_SQL,
    "events_kendall_tau": EVENTS_KENDALL_SQL,
    "events_spearman": EVENTS_SPEARMAN_SQL,
    "events_welch_t": EVENTS_WELCH_SQL,
    "events_kruskal_wallis": EVENTS_KRUSKAL_WALLIS_SQL,
    "events_mood_median": EVENTS_MOOD_MEDIAN_SQL,
    "events_seasonal_strength": EVENTS_SEASONAL_STRENGTH_SQL,
    "events_wasserstein": EVENTS_WASSERSTEIN_SQL,
    "events_energy_distance": _events_energy_distance_sql(),
    "events_durbin_watson": _events_durbin_watson_sql(),
    "events_turning_points": _events_turning_points_sql(),
    "events_friedman": _events_friedman_sql(),
    "events_total_variation": EVENTS_TOTAL_VARIATION_SQL,
    "events_hellinger": EVENTS_HELLINGER_SQL,
    "events_cliffs_delta": EVENTS_CLIFFS_DELTA_SQL,
    "events_cohens_d": EVENTS_COHENS_D_SQL,
    "events_grubbs": EVENTS_GRUBBS_SQL,
    "events_mcnemar_activity": EVENTS_MCNEMAR_SQL,
    "events_cochran_q": EVENTS_COCHRAN_Q_SQL,
    "events_jonckheere": EVENTS_JONCKHEERE_SQL,
    "events_seasonal_mann_kendall": EVENTS_SEASONAL_MK_SQL,
    "events_poisson_rate": EVENTS_POISSON_RATE_SQL,
    "events_series_similarity": EVENTS_SERIES_SIMILARITY_SQL,
    "events_sax_motifs": EVENTS_SAX_MOTIFS_SQL,
    "events_circular_rayleigh": _events_circular_rayleigh_sql(),
    "events_user_gini": _events_user_gini_sql(),
    "events_anomaly_ensemble": EVENTS_ANOMALY_ENSEMBLE_SQL,
    "events_growth_accounting": EVENTS_GROWTH_ACCOUNTING_SQL,
    "events_partial_corr": _events_partial_corr_sql(),
    "events_permutation_entropy": EVENTS_PERMUTATION_ENTROPY_SQL,
    "events_xi_correlation": EVENTS_XI_CORRELATION_SQL,
    "events_cmh_test": EVENTS_CMH_TEST_SQL,
    "events_benford_mad": _events_benford_mad_sql(),
    "events_odd_hours_share": _EVENTS_ODD_HOURS_SQL,
    "events_max_drawdown": _EVENTS_MAX_DRAWDOWN_SQL,
    "events_theil_sen": _EVENTS_THEIL_SEN_SQL,
    "events_weekly_autocorr": _events_weekly_autocorr_sql(),
    "events_chao1_richness": _EVENTS_CHAO1_SQL,
}

"""Distribution-comparison statistics over event streams — the
hypothesis-testing layer a monitoring/experimentation pipeline runs on
top of the raw aggregates (reference computes fixed-threshold scores
only, e.g. AD.java:200's anomaly gate; these are the statistical
generalizations a platform user reaches for next: "is this week's
value distribution actually different?").

Exactness strategy (see the repo-wide integer-grid conventions):
every test statistic here is a function of EXACT INTEGER sufficient
statistics — rank sums and tie multiplicities on the cents grid
(``floor(value*100 + 0.5)``), contingency counts, run counts —
combined by ONE final float expression written with an identical
IEEE op tree in Spark and DuckDB. No data-sized float sum exists
anywhere, so partitioning cannot perturb a digit; ``sqrt``/division
stay in the established <=1-ulp tolerance class and feed no discrete
decision.

Scale shape: all tests reduce the data to a DOMAIN-BOUNDED frame
first (distinct cents x type: the cents domain is fixed by the value
range, ~56k cells regardless of row count; type x hour: |types|*24
cells), so the single-partition cumulative windows below run over
dimension-sized inputs, never data-sized ones — the same contract as
the equi-depth and histogram operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
Q20 = 1 << 20  # 2^-20 quantization grid for float partials before an int64 sum


def _cents(col: str = "value"):
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def mannwhitney(events: DataFrame) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of each event type's
    ``value`` distribution against all other types pooled — the
    nonparametric "does this segment's metric differ?" test.

    Midrank handling is exact: on the distinct-cents frame, a value
    with ``below`` items strictly under it and tie-count ``t`` has
    average rank ``below + (t+1)/2``, so TWICE the rank sum,
    ``S2 = sum a_v * (2*below_v + t_v + 1)``, is an integer. The U
    statistic ``u = (S2 - n_a*(n_a+1)) / 2`` divides an exact int64
    by two (exact in a double), and the tie-corrected z-score
    combines (n_a, n_b, N, T = sum t^3 - t) in one shared op tree.

    Output: (event_type, n_a, n_b, u_stat, z) sorted deterministically
    by the driver's canonicalization (all-scalar columns).
    """
    e = events.select("event_type", _cents().alias("c"))
    per_val = e.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("t"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    below = per_val.withColumn(
        "below", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    )
    per_tv = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    tot = per_val.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_t"),
    )
    grp = (
        per_tv.join(F.broadcast(below), "c")
        .groupBy("event_type")
        .agg(
            F.sum("a").cast("long").alias("n_a"),
            F.sum(
                F.col("a") * (2 * F.col("below") + F.col("t") + 1)
            )
            .cast("long")
            .alias("s2"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = (F.col("n") - F.col("n_a")).cast("double")
    nn = F.col("n").cast("double")
    u = (
        F.col("s2") - F.col("n_a") * (F.col("n_a") + 1)
    ).cast("double") / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (
        na
        * nb
        / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("tie_t").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_a",
            (F.col("n") - F.col("n_a")).alias("n_b"),
            u.alias("u_stat"),
            ((u - mu) / F.sqrt(var)).alias("z"),
        )
    )


MANNWHITNEY_SQL = f"""
WITH e AS (SELECT event_type, {CENTS} AS c FROM events),
per_val AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM e GROUP BY c
),
below AS (
  SELECT c, t,
         CAST(COALESCE(SUM(t) OVER (ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM per_val
),
per_tv AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS a
  FROM e GROUP BY event_type, c
),
tot AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
  FROM per_val
),
grp AS (
  SELECT p.event_type, CAST(SUM(p.a) AS BIGINT) AS n_a,
         CAST(SUM(p.a * (2 * b.below + b.t + 1)) AS BIGINT) AS s2
  FROM per_tv p JOIN below b ON b.c = p.c
  GROUP BY p.event_type
)
SELECT g.event_type, g.n_a, t.n - g.n_a AS n_b,
       CAST(g.s2 - g.n_a * (g.n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
       (CAST(g.s2 - g.n_a * (g.n_a + 1) AS DOUBLE) / 2.0
        - CAST(g.n_a AS DOUBLE) * CAST(t.n - g.n_a AS DOUBLE) / 2.0)
       / sqrt(CAST(g.n_a AS DOUBLE) * CAST(t.n - g.n_a AS DOUBLE) / 12.0
              * ((CAST(t.n AS DOUBLE) + 1.0)
                 - CAST(t.tie_t AS DOUBLE)
                   / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0))))
         AS z
FROM grp g CROSS JOIN tot t
"""


def ks_2samp(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two event
    types' ``value`` distributions. The supremum |F_a - F_b| is
    SELECTED via exact integer cross-multiplication
    (``|cum_a*n_b - cum_b*n_a|`` — no float CDF ever compared), so
    the argmax location and the statistic are deterministic; the
    reported d_stat divides the winning integer once. Tie on the max
    resolves to the smallest cents value.

    Output: one row (type_a, type_b, n_a, n_b, d_stat, at_cents).
    """
    e = events.where(F.col("event_type").isin([type_a, type_b])).select(
        "event_type", _cents().alias("c")
    )
    per = e.groupBy("c").agg(
        F.sum(F.when(F.col("event_type") == type_a, 1).otherwise(0))
        .cast("long")
        .alias("da"),
        F.sum(F.when(F.col("event_type") == type_b, 1).otherwise(0))
        .cast("long")
        .alias("db"),
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "c",
        F.sum("da").over(w).cast("long").alias("ca"),
        F.sum("db").over(w).cast("long").alias("cb"),
    )
    tot = per.agg(
        F.sum("da").cast("long").alias("n_a"),
        F.sum("db").cast("long").alias("n_b"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
        ).alias("dnum"),
        "c",
    )
    best = d.groupBy("n_a", "n_b").agg(
        F.max("dnum").alias("mx")
    )
    return (
        d.join(F.broadcast(best), ["n_a", "n_b"])
        .where(F.col("dnum") == F.col("mx"))
        .groupBy("n_a", "n_b", "mx")
        .agg(F.min("c").alias("at_cents"))
        .select(
            F.lit(type_a).alias("type_a"),
            F.lit(type_b).alias("type_b"),
            "n_a",
            "n_b",
            (
                F.col("mx").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("d_stat"),
            "at_cents",
        )
    )


def ks_2samp_sql(type_a: str, type_b: str) -> str:
    return f"""
WITH e AS (
  SELECT event_type, {CENTS} AS c FROM events
  WHERE event_type IN ('{type_a}', '{type_b}')
),
per AS (
  SELECT c,
         CAST(SUM(CASE WHEN event_type = '{type_a}' THEN 1 ELSE 0 END)
              AS BIGINT) AS da,
         CAST(SUM(CASE WHEN event_type = '{type_b}' THEN 1 ELSE 0 END)
              AS BIGINT) AS db
  FROM e GROUP BY c
),
cum AS (
  SELECT c,
         CAST(SUM(da) OVER (ORDER BY c) AS BIGINT) AS ca,
         CAST(SUM(db) OVER (ORDER BY c) AS BIGINT) AS cb
  FROM per
),
tot AS (
  SELECT CAST(SUM(da) AS BIGINT) AS n_a, CAST(SUM(db) AS BIGINT) AS n_b
  FROM per
),
d AS (
  SELECT t.n_a, t.n_b, ABS(ca * t.n_b - cb * t.n_a) AS dnum, c
  FROM cum CROSS JOIN tot t
),
best AS (SELECT n_a, n_b, MAX(dnum) AS mx FROM d GROUP BY n_a, n_b)
SELECT '{type_a}' AS type_a, '{type_b}' AS type_b, d.n_a, d.n_b,
       CAST(d.mx_any AS DOUBLE)
         / (CAST(d.n_a AS DOUBLE) * CAST(d.n_b AS DOUBLE)) AS d_stat,
       d.at_cents
FROM (
  SELECT d.n_a, d.n_b, d.dnum AS mx_any, MIN(d.c) AS at_cents
  FROM d JOIN best b ON b.n_a = d.n_a AND b.n_b = d.n_b AND d.dnum = b.mx
  GROUP BY d.n_a, d.n_b, d.dnum
) d
"""


def chi2_independence(events: DataFrame) -> DataFrame:
    """Chi-squared test of independence between event_type and
    hour-of-day — "does traffic mix shift by hour?". Per-cell terms
    ``(O*N - row*col)^2 / (row*col*N)`` are computed from exact int64
    counts (the squared numerator goes through a double AFTER the
    exact int subtraction; each factor stays under 2^53), then
    quantized onto the 2^-20 grid so the cell SUM is an exact int64
    fold — the repo's standard defense against float-sum ordering.
    EMPTY cells still carry their expected mass (O=0 contributes E to
    the statistic), so the full row x column grid is enumerated — a
    dimension-sized cross join (|types| x 24), never data-sized.

    Output: one row (n, dof, chi2, cramers_v).
    """
    e = events.select(
        "event_type", F.hour("ts").cast("long").alias("h")
    )
    obs = e.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("o0")
    )
    rows = obs.groupBy("event_type").agg(
        F.sum("o0").cast("long").alias("r")
    )
    cols = obs.groupBy("h").agg(F.sum("o0").cast("long").alias("col"))
    tot = obs.agg(
        F.sum("o0").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("h").cast("long").alias("nc"),
    )
    j = (
        rows.crossJoin(F.broadcast(cols))
        .join(obs, ["event_type", "h"], "left")
        .withColumn("o", F.coalesce(F.col("o0"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    num = (F.col("o") * F.col("n") - F.col("r") * F.col("col")).cast(
        "double"
    )
    den = (F.col("r") * F.col("col")).cast("double") * F.col("n").cast(
        "double"
    )
    term_q = F.floor(num * num / den * F.lit(float(Q20)) + F.lit(0.5)).cast(
        "long"
    )
    agg = j.groupBy("n", "nr", "nc").agg(
        F.sum(term_q).cast("long").alias("chi2_q")
    )
    chi2 = F.col("chi2_q").cast("double") / F.lit(float(Q20))
    dof = (F.col("nr") - 1) * (F.col("nc") - 1)
    v = F.sqrt(
        chi2
        / (
            F.col("n").cast("double")
            * F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double")
        )
    )
    return agg.select(
        "n",
        dof.alias("dof"),
        chi2.alias("chi2"),
        v.alias("cramers_v"),
    )


CHI2_INDEPENDENCE_SQL = """
WITH obs AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, hour(ts)
),
rws AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
        FROM obs GROUP BY event_type),
cls AS (SELECT h, CAST(SUM(o) AS BIGINT) AS col FROM obs GROUP BY h),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT h) AS BIGINT) AS nc
        FROM obs),
cells AS (
  -- full grid: empty cells still contribute their expected mass
  SELECT r.event_type, l.h, r.r, l.col, COALESCE(c.o, 0) AS o
  FROM rws r CROSS JOIN cls l
  LEFT JOIN obs c ON c.event_type = r.event_type AND c.h = l.h
),
terms AS (
  SELECT t.n, t.nr, t.nc,
         CAST(FLOOR(CAST(c.o * t.n - c.r * c.col AS DOUBLE)
                    * CAST(c.o * t.n - c.r * c.col AS DOUBLE)
                    / (CAST(c.r * c.col AS DOUBLE) * CAST(t.n AS DOUBLE))
                    * 1048576.0 + 0.5) AS BIGINT) AS term_q
  FROM cells c
  CROSS JOIN tot t
)
SELECT n, (nr - 1) * (nc - 1) AS dof,
       CAST(SUM(term_q) AS DOUBLE) / 1048576.0 AS chi2,
       sqrt(CAST(SUM(term_q) AS DOUBLE) / 1048576.0
            / (CAST(n AS DOUBLE)
               * CAST(LEAST(nr - 1, nc - 1) AS DOUBLE))) AS cramers_v
FROM terms
GROUP BY n, nr, nc
"""


def runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: is the above/below-
    median sequence of ``value`` over time random, or does it trend /
    oscillate? The median is an exact integer-rank selection on the
    cents grid (smallest cents with cumulative count >= ceil(n/2)),
    the run count is a lag comparison over the (ts, event_id)-ordered
    sequence — both pure integer — and the z-score is one shared
    float expression over (R, n_above, n_below).

    Scale: the per-type sequence scan is the same partitioned
    sort-within-partitions shape as sessionization; the median frame
    is domain-bounded (distinct cents).
    """
    e = events.select(
        "event_type", "ts", "event_id", _cents().alias("c")
    )
    per = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "event_type",
        "c",
        F.sum("t").over(wv).cast("long").alias("cumt"),
    )
    nper = per.groupBy("event_type").agg(F.sum("t").cast("long").alias("n"))
    med = (
        cum.join(F.broadcast(nper), "event_type")
        .where(F.col("cumt") * 2 >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("c").alias("median_c"))
    )
    ws = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = (
        e.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "ts",
            "event_id",
            (F.col("c") > F.col("median_c")).cast("int").alias("s"),
        )
        .withColumn("prev", F.lag("s").over(ws))
    )
    agg = seq.groupBy("event_type").agg(
        (
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
        F.sum("s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n_below"),
    )
    n1 = F.col("n_above").cast("double")
    n0 = F.col("n_below").cast("double")
    nn = n1 + n0
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n0 / nn
    var = (
        F.lit(2.0)
        * n1
        * n0
        * (F.lit(2.0) * n1 * n0 - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    return agg.select(
        "event_type",
        "n_runs",
        "n_above",
        "n_below",
        ((F.col("n_runs").cast("double") - mu) / F.sqrt(var)).alias("z"),
    )


RUNS_TEST_SQL = f"""
WITH e AS (
  SELECT event_type, ts, event_id, {CENTS} AS c FROM events
),
per AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
  FROM e GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c,
         CAST(SUM(t) OVER (PARTITION BY event_type ORDER BY c)
              AS BIGINT) AS cumt
  FROM per
),
nper AS (
  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n
  FROM per GROUP BY event_type
),
med AS (
  SELECT c.event_type, MIN(c.c) AS median_c
  FROM cum c JOIN nper n ON n.event_type = c.event_type
  WHERE c.cumt * 2 >= n.n
  GROUP BY c.event_type
),
seq AS (
  SELECT e.event_type,
         CASE WHEN e.c > m.median_c THEN 1 ELSE 0 END AS s,
         LAG(CASE WHEN e.c > m.median_c THEN 1 ELSE 0 END)
           OVER (PARTITION BY e.event_type ORDER BY e.ts, e.event_id)
           AS prev
  FROM e JOIN med m ON m.event_type = e.event_type
),
agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs,
         CAST(SUM(s) AS BIGINT) AS n_above,
         CAST(SUM(1 - s) AS BIGINT) AS n_below
  FROM seq GROUP BY event_type
)
SELECT event_type, n_runs, n_above, n_below,
       (CAST(n_runs AS DOUBLE)
        - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                 / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))))
       / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
              * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                 - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
              / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                 * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                 * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)
                    - 1.0))) AS z
FROM agg
"""


def gini(
    values: DataFrame, group_col: str, key_col: str, cents_col: str
) -> DataFrame:
    """Gini concentration coefficient of an integer-cents measure per
    group (the inequality/concentration KPI: "how concentrated is
    revenue across customers in each nation?").

    With x sorted ascending and ranked i=1..n inside each group,
    ``G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))`` — every term an
    exact int64 (ties broken by the unique key, so both engines walk
    the identical permutation), one final double division.
    """
    w = Window.partitionBy(group_col).orderBy(cents_col, key_col)
    ranked = values.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents_col).cast("long").alias("sx"),
        F.sum(F.col("i") * F.col(cents_col)).cast("long").alias("six"),
    )
    g = (
        (2 * F.col("six") - (F.col("n") + 1) * F.col("sx")).cast("double")
        / (F.col("n") * F.col("sx")).cast("double")
    )
    return agg.select(
        F.col(group_col),
        F.col("n").alias("n_members"),
        (F.col("sx").cast("double") / F.lit(100.0)).alias("total_value"),
        g.alias("gini"),
    )


def gini_sql(
    source_sql: str, group_col: str, key_col: str, cents_col: str
) -> str:
    """DuckDB twin of :func:`gini` over ``source_sql`` (must yield
    ``(group_col, key_col, cents_col)``)."""
    return f"""
WITH src AS ({source_sql}),
ranked AS (
  SELECT {group_col}, {cents_col},
         CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
              ORDER BY {cents_col}, {key_col}) AS BIGINT) AS i
  FROM src
),
agg AS (
  SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({cents_col}) AS BIGINT) AS sx,
         CAST(SUM(i * {cents_col}) AS BIGINT) AS six
  FROM ranked GROUP BY {group_col}
)
SELECT {group_col}, n AS n_members,
       CAST(sx AS DOUBLE) / 100.0 AS total_value,
       CAST(2 * six - (n + 1) * sx AS DOUBLE)
         / CAST(n * sx AS DOUBLE) AS gini
FROM agg
"""


def anova(events: DataFrame) -> DataFrame:
    """One-way ANOVA F-test of value across event types — the
    parametric k-group mean-comparison (Mann-Whitney's omnibus
    cousin). Sufficient statistics only: per-group (n, sum, sum-sq) on
    the cents grid are exact int64; SSB/SSW and F combine them in one
    shared float expression (grand terms via exact-int cross products
    kept under 2^53 by the double cast AFTER each int64 product).

    Output: one row (n, k, f_stat, ss_between, ss_within).
    """
    e = events.select(
        "event_type", _cents().alias("c")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("c").cast("long").alias("sg"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("qg"),
    )
    # SSB = sum_g sg^2/ng - S^2/N ; SSW = sum_g (qg - sg^2/ng)
    per = g.select(
        "ng",
        "sg",
        "qg",
        F.floor(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
            * F.lit(1024.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sq_over_n_q"),
    )
    tot = per.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        (F.sum("sq_over_n_q").cast("double") / F.lit(1024.0)).alias(
            "sum_sq_over_n"
        ),
    )
    grand = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    ssb = F.col("sum_sq_over_n") - grand
    ssw = F.col("q").cast("double") - F.col("sum_sq_over_n")
    f_stat = (
        (ssb / (F.col("k") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double"))
    )
    cents2 = F.lit(10000.0)
    return tot.select(
        "n",
        "k",
        f_stat.alias("f_stat"),
        (ssb / cents2).alias("ss_between"),
        (ssw / cents2).alias("ss_within"),
    )


ANOVA_SQL = f"""
WITH e AS (SELECT event_type, {CENTS} AS c FROM events),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(c) AS BIGINT) AS sg,
         CAST(SUM(c * c) AS BIGINT) AS qg
  FROM e GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sg) AS BIGINT) AS s,
         CAST(SUM(qg) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                             / CAST(ng AS DOUBLE) * 1024.0 + 0.5)
                  AS BIGINT)) AS DOUBLE) / 1024.0 AS sum_sq_over_n
  FROM g
)
SELECT n, k,
       ((sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE))
        / CAST(k - 1 AS DOUBLE))
       / ((CAST(q AS DOUBLE) - sum_sq_over_n)
          / CAST(n - k AS DOUBLE)) AS f_stat,
       (sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) / 10000.0 AS ss_between,
       (CAST(q AS DOUBLE) - sum_sq_over_n) / 10000.0 AS ss_within
FROM tot
"""


def brown_forsythe(events: DataFrame) -> DataFrame:
    """Brown-Forsythe test of variance equality across event types —
    Levene's test with the MEDIAN center (robust to the skew these
    value distributions have). Per-type medians are exact integer-rank
    selections on the cents grid; the spread scores |c - median| are
    integers; the F statistic is the one-way ANOVA expression over
    their exact int64 sufficient statistics (same 2^-10-grid-quantized
    cross-group fold as :func:`anova`).

    Output: one row (n, k, f_stat).
    """
    e = events.select("event_type", _cents().alias("c"))
    per = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    wv = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "event_type", "c", "t", F.sum("t").over(wv).cast("long").alias("cumt")
    )
    nper = per.groupBy("event_type").agg(F.sum("t").cast("long").alias("ng"))
    med = (
        cum.join(F.broadcast(nper), "event_type")
        .where(F.col("cumt") * 2 >= F.col("ng"))
        .groupBy("event_type")
        .agg(F.min("c").alias("med"))
    )
    # spread scores stay on the (type, cents) frame — |c-med| weighted
    # by the tie count t, so no second pass over raw events is needed
    z = per.join(F.broadcast(med), "event_type").select(
        "event_type",
        "t",
        F.abs(F.col("c") - F.col("med")).alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.sum("t").cast("long").alias("ng"),
        F.sum(F.col("t") * F.col("z")).cast("long").alias("sg"),
        F.sum(F.col("t") * F.col("z") * F.col("z")).cast("long").alias("qg"),
    )
    per2 = g.select(
        "ng",
        "sg",
        "qg",
        F.floor(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
            * F.lit(1024.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sq_over_n_q"),
    )
    tot = per2.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        (F.sum("sq_over_n_q").cast("double") / F.lit(1024.0)).alias(
            "sum_sq_over_n"
        ),
    )
    grand = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    ssb = F.col("sum_sq_over_n") - grand
    ssw = F.col("q").cast("double") - F.col("sum_sq_over_n")
    f_stat = (
        (ssb / (F.col("k") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double"))
    )
    return tot.select("n", "k", f_stat.alias("f_stat"))


BROWN_FORSYTHE_SQL = f"""
WITH e AS (SELECT event_type, {CENTS} AS c FROM events),
per AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
  FROM e GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, t,
         CAST(SUM(t) OVER (PARTITION BY event_type ORDER BY c)
              AS BIGINT) AS cumt
  FROM per
),
nper AS (
  SELECT event_type, CAST(SUM(t) AS BIGINT) AS ng
  FROM per GROUP BY event_type
),
med AS (
  SELECT c.event_type, MIN(c.c) AS med
  FROM cum c JOIN nper n ON n.event_type = c.event_type
  WHERE c.cumt * 2 >= n.ng
  GROUP BY c.event_type
),
g AS (
  SELECT p.event_type, CAST(SUM(p.t) AS BIGINT) AS ng,
         CAST(SUM(p.t * ABS(p.c - m.med)) AS BIGINT) AS sg,
         CAST(SUM(p.t * ABS(p.c - m.med) * ABS(p.c - m.med)) AS BIGINT)
           AS qg
  FROM per p JOIN med m ON m.event_type = p.event_type
  GROUP BY p.event_type
),
tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(sg) AS BIGINT) AS s,
         CAST(SUM(qg) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                             / CAST(ng AS DOUBLE) * 1024.0 + 0.5)
                  AS BIGINT)) AS DOUBLE) / 1024.0 AS sum_sq_over_n
  FROM g
)
SELECT n, k,
       ((sum_sq_over_n - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE))
        / CAST(k - 1 AS DOUBLE))
       / ((CAST(q AS DOUBLE) - sum_sq_over_n)
          / CAST(n - k AS DOUBLE)) AS f_stat
FROM tot
"""

"""Round-6 analytics surface: hypothesis tests, concentration and
association mining, HITS centrality, and corpus novelty scoring.

Each query follows the repo's oracle contract — scalar-only result
columns, aliases identical on both sides, exactness via integer
sufficient statistics (see operators/stats.py's module docstring for
the strategy). Reference scope note: the reference's analytics end at
fixed-threshold detection (AD.java:200); this module is the
beyond-reference statistical layer a platform user runs on the same
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import stats as ST
from ..operators.stats import Q20, cents, centered, moments, ols, on_grid

# ---------------------------------------------------------------- stats


def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U of each event type's value distribution vs the
    rest pooled (operators/stats.mannwhitney): exact midrank rank-sums
    on the cents grid, tie-corrected z."""
    return ST.mannwhitney(load_table(spark, sf_dir, "events"))


def events_ks_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS between click and purchase value distributions
    (operators/stats.ks_2samp): the sup|F_a - F_b| selected by integer
    cross-multiplication, argmax location included."""
    return ST.ks_2samp(load_table(spark, sf_dir, "events"), "click", "purchase")


def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence of event_type x hour-of-day
    (operators/stats.chi2_independence): grid-quantized cell terms,
    exact int64 fold."""
    return ST.chi2_independence(load_table(spark, sf_dir, "events"))


def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type on the above/below-
    median value sequence (operators/stats.runs_test)."""
    return ST.runs_test(load_table(spark, sf_dir, "events"))


# ------------------------------------------------------ concentration

GINI_SOURCE_SQL = """
SELECT n.n_name, c.c_custkey,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name, c.c_custkey
"""


def sql_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order revenue across customers per nation
    (operators/stats.gini): integer rank-weighted sums, one final
    division. Customers without orders are out of scope (inner join —
    the 'revenue concentration among buyers' reading)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    src = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    return ST.gini(src, "n_name", "c_custkey", "rev_cents").withColumnRenamed(
        "n_name", "nation"
    )


SQL_GINI_REVENUE_SQL = (
    ST.gini_sql(GINI_SOURCE_SQL, "n_name", "c_custkey", "rev_cents")
    # rename only the FINAL projection's group column (the CTE-internal
    # "SELECT n_name, rev_cents" lines must keep the raw name)
    .replace(
        "SELECT n_name, n AS n_members",
        "SELECT n_name AS nation, n AS n_members",
    )
)


def sql_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by lineitem revenue:
    cumulative-share classes A (<=80%), B (<=95%), C (rest), with
    class boundaries decided by INTEGER cross-multiplication on exact
    cents (cum*100 <= total*80 — no float share ever compared). The
    ranking window runs over the part-dimension frame (|parts|-sized,
    not data-sized). Per-line revenue quantizes the double product
    ext*(1-disc) once, identically on both engines."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    per_part = li.groupBy("l_partkey").agg(
        F.sum(cents).cast("long").alias("rev")
    )
    w = (
        Window.orderBy(F.desc("rev"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = per_part.agg(F.sum("rev").cast("long").alias("total"))
    classed = (
        per_part.withColumn("cum", F.sum("rev").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "abc_class",
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C"),
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (F.sum("rev").cast("double") / F.lit(100.0)).alias("class_revenue"),
        (
            F.sum("rev").cast("double")
            / F.max("total").cast("double")
        ).alias("revenue_share"),
    )


SQL_PARETO_ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM per_part),
classed AS (
  SELECT p.rev,
         CASE WHEN CAST(SUM(p.rev) OVER (ORDER BY p.rev DESC, p.l_partkey)
                        AS BIGINT) * 100 <= t.total * 80 THEN 'A'
              WHEN CAST(SUM(p.rev) OVER (ORDER BY p.rev DESC, p.l_partkey)
                        AS BIGINT) * 100 <= t.total * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         t.total
  FROM per_part p CROSS JOIN tot t
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS DOUBLE) / 100.0 AS class_revenue,
       CAST(SUM(rev) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
         AS revenue_share
FROM classed
GROUP BY abc_class
"""


# ------------------------------------------------------------- graph

TRANSITION_EDGES_CTE = """WITH edges AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS src,
           event_type AS dst
    FROM events
  ) WHERE src IS NOT NULL
  GROUP BY src, dst
)"""


def events_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the event-type transition graph
    (operators/graph.hits) — which types originate activity vs
    receive it. Same edge builder as events_pagerank; 5 integer-exact
    rounds, oracle unrolls the same."""
    from pyspark.sql import Window

    from ..operators.graph import hits

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
    return hits(edges, iters=5)


def _events_hits_sql() -> str:
    from ..operators.graph import hits_ctes

    return f"""
{hits_ctes(TRANSITION_EDGES_CTE, iters=5)}
SELECT a.node,
       CAST(a.a AS DOUBLE) / {float(Q20)!r} AS authority,
       CAST(h.h AS DOUBLE) / {float(Q20)!r} AS hub
FROM a5 a JOIN h5 h ON h.node = a.node
"""


# ------------------------------------------------------- association


def events_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-3 frequent itemsets over (user, day) baskets — the apriori
    step above events_copair_support. All-integer supports; the triple
    join runs on the per-basket distinct item list (items per basket
    bounded by |event types|, so candidate fan-out is capped at
    C(|T|,3) per basket, not data-squared)."""
    e = load_table(spark, sf_dir, "events")
    items = e.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type").alias("t"),
    ).distinct()
    nb = items.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    a = items.select("user_id", "day", F.col("t").alias("ta"))
    b = items.select("user_id", "day", F.col("t").alias("tb"))
    c = items.select("user_id", "day", F.col("t").alias("tc"))
    triples = (
        a.join(b, ["user_id", "day"])
        .where(F.col("ta") < F.col("tb"))
        .join(c, ["user_id", "day"])
        .where(F.col("tb") < F.col("tc"))
        .groupBy("ta", "tb", "tc")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return triples.crossJoin(F.broadcast(nb)).select(
        "ta",
        "tb",
        "tc",
        "support",
        (
            F.col("support").cast("double")
            / F.col("n_baskets").cast("double")
        ).alias("support_ratio"),
    )


EVENTS_ITEMSETS3_SQL = """
WITH items AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type AS t
  FROM events
),
nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT user_id, day FROM items)
),
triples AS (
  SELECT a.t AS ta, b.t AS tb, c.t AS tc,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM items a
  JOIN items b ON a.user_id = b.user_id AND a.day = b.day AND a.t < b.t
  JOIN items c ON b.user_id = c.user_id AND b.day = c.day AND b.t < c.t
  GROUP BY a.t, b.t, c.t
)
SELECT ta, tb, tc, support,
       CAST(support AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)
         AS support_ratio
FROM triples CROSS JOIN nb
"""


# ----------------------------------------------------------- novelty


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram novelty of each document against a reference slice
    (doc_id % 10 == 0) — the 'how much of this is new text?' signal a
    dataset-curation pass uses to prioritize fresh content (and its
    complement is memorization risk). Distinct bigrams per doc, anti-
    joined against the reference's distinct bigram vocabulary; exact
    integer counts, one final ratio. At scale both sides are hash
    joins on the bigram key — no broadcast assumption on the
    reference vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    )
    # the size >= 2 filter below guarantees an ascending sequence
    # (sequence(1, 0) would DESCEND in Spark)
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    db = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .distinct()
    )
    ref = (
        db.where(F.col("doc_id") % 10 == 0).select("bg").distinct()
        .withColumn("in_ref", F.lit(1))
    )
    return (
        db.join(ref, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("in_ref").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("novelty"),
        )
    )


TEXT_NGRAM_NOVELTY_SQL = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
db AS (
  SELECT DISTINCT doc_id, bg
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(generate_series(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM tk WHERE len(toks) >= 2
  )
),
ref AS (SELECT DISTINCT bg FROM db WHERE doc_id % 10 = 0)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN r.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN r.bg IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM db d LEFT JOIN ref r ON r.bg = d.bg
GROUP BY d.doc_id
"""


# ----------------------------------------------- graph communities


def sql_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities over the frequent
    co-purchase graph (operators/graph.label_propagation): 4 rounds,
    self-label tiebreak, oracle unrolls the same."""
    from .relational import _copurchase_edges
    from ..operators.graph import label_propagation

    return label_propagation(_copurchase_edges(spark, sf_dir), rounds=4)


def _sql_copurchase_communities_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE
    from ..operators.graph import label_propagation_ctes

    return f"""
{label_propagation_ctes(_COPURCHASE_EDGES_CTE, rounds=4)}
SELECT node, lab AS community FROM lab4
"""


def sql_copurchase_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the label-propagation partition — the
    standard "is this community structure real" score, per community:
    contribution_c = (4m·e_c − d_c²) / (4m²), Q = Σ contributions.
    Writing each term over the COMMON denominator 4m² makes the
    numerator an exact int64 (no per-community float sum ordering),
    so every row is one exact division; 4m·e_c stays inside int64
    until m ~ 2^30 edges (note the DECIMAL upgrade past that).

    Reuses the oracled communities assignment and the shared edge
    frame (checkpointed once — it feeds propagation, the within-edge
    join, and degrees). Scale: beyond the edge derivation everything
    is |V|- or |C|-sized.

    Output: (community, n_nodes, e_in, d_tot, contribution).
    """
    from ..operators.graph import label_propagation
    from .relational import _copurchase_edges

    edges = (
        _copurchase_edges(spark, sf_dir)
        .select("x", "y")
        .localCheckpoint(eager=True)
    )
    comm = label_propagation(edges, rounds=4).select(
        "node", F.col("community").alias("c")
    )
    m = edges.count()
    within = (
        edges.join(comm.select(F.col("node").alias("x"), F.col("c").alias("cx")), "x")
        .join(comm.select(F.col("node").alias("y"), F.col("c").alias("cy")), "y")
        .where(F.col("cx") == F.col("cy"))
        .groupBy(F.col("cx").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionByName(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    per_comm = (
        comm.join(deg, "node", "left")
        .na.fill({"d": 0})
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("d_tot"),
        )
    )
    joined = per_comm.join(within, "community", "left").na.fill({"e_in": 0})
    num = (
        F.lit(4 * m) * F.col("e_in") - F.col("d_tot") * F.col("d_tot")
    ).cast("long")
    return joined.select(
        "community",
        "n_nodes",
        "e_in",
        "d_tot",
        (num.cast("double") / F.lit(float(4 * m * m))).alias("contribution"),
    )


def _sql_copurchase_modularity_sql() -> str:
    from ..operators.graph import label_propagation_ctes
    from .relational import _COPURCHASE_EDGES_CTE

    return f"""
{label_propagation_ctes(_COPURCHASE_EDGES_CTE, rounds=4)},
comm AS MATERIALIZED (SELECT node, lab AS c FROM lab4),
mtot AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
within AS MATERIALIZED (
  SELECT a.c AS community, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM edges e
  JOIN comm a ON a.node = e.x
  JOIN comm b ON b.node = e.y
  WHERE a.c = b.c
  GROUP BY a.c
),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y FROM edges
  ) GROUP BY node
),
per_comm AS MATERIALIZED (
  SELECT c AS community,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(COALESCE(d, 0)) AS BIGINT) AS d_tot
  FROM comm LEFT JOIN deg USING (node)
  GROUP BY c
)
SELECT p.community, p.n_nodes,
       CAST(COALESCE(w.e_in, 0) AS BIGINT) AS e_in,
       p.d_tot,
       CAST(4 * t.m * COALESCE(w.e_in, 0) - p.d_tot * p.d_tot AS DOUBLE)
         / CAST(4 * t.m * t.m AS DOUBLE) AS contribution
FROM per_comm p LEFT JOIN within w USING (community), mtot t
"""


def sql_copurchase_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance to the nearest seed part
    (partkey % 97 == 0) over the co-purchase graph
    (operators/graph.bfs_hops). Bound raised 6 -> 12 in round 7: the
    new completeness assert (VERDICT r6 #8) caught a live frontier
    after 6 hops at sf0.01 — the query had been agreeing with an
    identically-truncated oracle. Early stop means converged graphs pay
    nothing for the deeper bound; the assert now proves completeness."""
    from .relational import _copurchase_edges
    from ..operators.graph import bfs_hops

    return bfs_hops(_copurchase_edges(spark, sf_dir), seed_mod=97, max_hops=12)


def _sql_copurchase_reach_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE
    from ..operators.graph import bfs_hops_ctes

    return f"""
{bfs_hops_ctes(_COPURCHASE_EDGES_CTE, seed_mod=97, max_hops=12)}
SELECT node, hops FROM dist12
"""


# ------------------------------------------------------ trend tests

_DAILY_CENTS = (
    "SELECT event_type,"
    " CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)"
    " AS d,"
    " CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y "
    "FROM events GROUP BY 1, 2"
)


def _daily_cents(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(cents())
        .cast("long")
        .alias("y")
    )


def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily value volume per event type —
    the nonparametric monotone-trend screen (is daily spend drifting?).
    S folds pairwise integer sign comparisons over the CALENDAR-bounded
    day pairs (the Theil-Sen cost contract); tie groups count by exact
    int64 equality of daily sums; z applies the standard continuity
    correction in one shared float expression."""
    daily = _daily_cents(spark, sf_dir)
    a = daily.select("event_type", F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("d").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, "event_type")
        .where(F.col("da") < F.col("db"))
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
    ties = (
        daily.groupBy("event_type", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum("t").cast("long").alias("n_days"),
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tsum"),
        )
    )
    n = F.col("n_days")
    var = (
        (n * (n - 1) * (2 * n + 5) - F.col("tsum")).cast("double")
        / F.lit(18.0)
    )
    sd = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (sd - 1) / F.sqrt(var))
        .when(F.col("s_stat") < 0, (sd + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return s.join(F.broadcast(ties), "event_type").select(
        "event_type", "n_days", "s_stat", z.alias("z")
    )


EVENTS_MANN_KENDALL_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
s AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY a.event_type
),
ties AS (
  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_days,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum
  FROM (SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY event_type, y)
  GROUP BY event_type
)
SELECT s.event_type, t.n_days, s.s_stat,
       CASE WHEN s.s_stat > 0 THEN
              (CAST(s.s_stat AS DOUBLE) - 1)
              / sqrt(CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                          - t.tsum AS DOUBLE) / 18.0)
            WHEN s.s_stat < 0 THEN
              (CAST(s.s_stat AS DOUBLE) + 1)
              / sqrt(CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                          - t.tsum AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z
FROM s JOIN ties t ON t.event_type = s.event_type
"""


def events_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of daily value volume (cents) on
    the day index, with R^2 — the parametric complement of Theil-Sen /
    Mann-Kendall. All five sufficient statistics are int64 sums over
    the calendar-bounded daily frame (day indexes are re-based per
    type, keeping every power sum far under 2^53); slope / intercept /
    R^2 are one shared float expression; a degenerate regressor or
    constant response yields NULLs via the same CASE on both engines."""
    daily = _daily_cents(spark, sf_dir)
    base = daily.groupBy("event_type").agg(F.min("d").cast("long").alias("d0"))
    dd = daily.join(F.broadcast(base), "event_type").select(
        "event_type", (F.col("d") - F.col("d0")).alias("x"), "y"
    )
    agg = dd.groupBy("event_type").agg(
        *moments("n", sx="x", sxx=("x", "x"), sy="y", syy=("y", "y"), sxy=("x", "y")),
    )
    slope, r2 = ols()
    num = centered("n", "sxy", "sx", "sy").cast("double")
    den_x = centered("n", "sxx", "sx", "sx").cast("double")
    intercept = F.when(
        den_x > 0,
        (F.col("sy").cast("double") - num / den_x * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
        r2.alias("r2"),
    )


EVENTS_TREND_OLS_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
based AS (
  SELECT d.event_type, d.d - m.d0 AS x, d.y
  FROM daily d JOIN (SELECT event_type, MIN(d) AS d0
                     FROM daily GROUP BY event_type) m
    ON m.event_type = d.event_type
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM based GROUP BY event_type
)
SELECT event_type, n AS n_days,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_cents_per_day,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         (CAST(sy AS DOUBLE)
          - CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) END AS intercept_cents,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         * CAST(n * sxy - sx * sy AS DOUBLE)
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
FROM agg
"""


# -------------------------------------------------------- agreement


def text_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the lang-ID heuristic against declared labels
    — chance-corrected agreement over the confusion matrix. The whole
    statistic reduces to ONE division of exact int64s:
    kappa = (N*sum(diag) - sum_k row_k*col_k) / (N^2 - sum_k row_k*col_k)."""
    from ..operators import text as T

    d = load_table(spark, sf_dir, "documents")
    conf = (
        T.lang_id(d)
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = conf.groupBy("declared_lang").agg(F.sum("n").cast("long").alias("r"))
    cols = conf.groupBy("pred_lang").agg(F.sum("n").cast("long").alias("c"))
    tot = conf.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("declared_lang") == F.col("pred_lang"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("n_agree"),
    )
    rc = (
        rows.join(
            cols, rows.declared_lang == cols.pred_lang, "inner"
        )
        .agg(F.sum(F.col("r") * F.col("c")).cast("long").alias("src"))
    )
    return (
        tot.crossJoin(F.broadcast(rc))
        .select(
            "n_docs",
            "n_agree",
            (
                (F.col("n_docs") * F.col("n_agree") - F.col("src")).cast(
                    "double"
                )
                / (
                    F.col("n_docs") * F.col("n_docs") - F.col("src")
                ).cast("double")
            ).alias("kappa"),
        )
    )


def _text_kappa_langid_sql() -> str:
    from ..operators.text import LANG_ID_SQL

    return f"""
WITH preds AS ({LANG_ID_SQL}),
conf AS (
  SELECT declared_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM preds GROUP BY declared_lang, pred_lang
),
rws AS (SELECT declared_lang AS l, CAST(SUM(n) AS BIGINT) AS r
        FROM conf GROUP BY declared_lang),
cls AS (SELECT pred_lang AS l, CAST(SUM(n) AS BIGINT) AS c
        FROM conf GROUP BY pred_lang),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN declared_lang = pred_lang THEN n ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM conf
),
rc AS (
  SELECT CAST(SUM(r.r * c.c) AS BIGINT) AS src
  FROM rws r JOIN cls c ON c.l = r.l
)
SELECT t.n_docs, t.n_agree,
       CAST(t.n_docs * t.n_agree - rc.src AS DOUBLE)
         / CAST(t.n_docs * t.n_docs - rc.src AS DOUBLE) AS kappa
FROM tot t CROSS JOIN rc
"""


# ------------------------------------------------ mutual information


def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and normalized MI between event_type
    and hour-of-day — the information-theoretic companion to the
    chi-squared screen. Each cell/margin term quantizes its
    n*ln(exact-int ratio) onto the 2^-20 grid (the events_user_entropy
    defense), so the sums are int64 folds; empty cells contribute 0 by
    definition and never materialize."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rows = cells.groupBy("event_type").agg(F.sum("n").cast("long").alias("r"))
    cols = cells.groupBy("h").agg(F.sum("n").cast("long").alias("c"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    j = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "h")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = on_grid(
        F.col("n").cast("double")
        * F.log(
            (F.col("n") * F.col("nn")).cast("double")
            / (F.col("r") * F.col("c")).cast("double")
        ),
        float(Q20),
    )
    mi_q = j.groupBy("nn").agg(F.sum(mi_term).cast("long").alias("mi_q"))
    h_term_r = on_grid(
        F.col("r").cast("double")
        * F.log(F.col("nn").cast("double") / F.col("r").cast("double")),
        float(Q20),
    )
    ht = (
        rows.crossJoin(F.broadcast(tot))
        .agg(F.sum(h_term_r).cast("long").alias("ht_q"))
    )
    h_term_c = on_grid(
        F.col("c").cast("double")
        * F.log(F.col("nn").cast("double") / F.col("c").cast("double")),
        float(Q20),
    )
    hh = (
        cols.crossJoin(F.broadcast(tot))
        .agg(F.sum(h_term_c).cast("long").alias("hh_q"))
    )
    out = mi_q.crossJoin(F.broadcast(ht)).crossJoin(F.broadcast(hh))
    nd = F.col("nn").cast("double") * F.lit(float(Q20))
    mi = F.col("mi_q").cast("double") / nd
    hty = F.col("ht_q").cast("double") / nd
    hho = F.col("hh_q").cast("double") / nd
    return out.select(
        F.col("nn").alias("n"),
        mi.alias("mi_nats"),
        hty.alias("h_type"),
        hho.alias("h_hour"),
        F.when(
            F.least(F.col("ht_q"), F.col("hh_q")) > 0,
            mi / F.least(hty, hho),
        ).alias("nmi"),
    )


EVENTS_MI_SQL = """
WITH cells AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, hour(ts)
),
rws AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS r
        FROM cells GROUP BY event_type),
cls AS (SELECT h, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY h),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
mi AS (
  SELECT t.nn,
         CAST(SUM(CAST(FLOOR(CAST(c.n AS DOUBLE)
              * ln(CAST(c.n * t.nn AS DOUBLE)
                   / CAST(r.r * l.c AS DOUBLE))
              * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS mi_q
  FROM cells c
  JOIN rws r ON r.event_type = c.event_type
  JOIN cls l ON l.h = c.h
  CROSS JOIN tot t
  GROUP BY t.nn
),
ht AS (
  SELECT CAST(SUM(CAST(FLOOR(CAST(r.r AS DOUBLE)
              * ln(CAST(t.nn AS DOUBLE) / CAST(r.r AS DOUBLE))
              * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS ht_q
  FROM rws r CROSS JOIN tot t
),
hh AS (
  SELECT CAST(SUM(CAST(FLOOR(CAST(l.c AS DOUBLE)
              * ln(CAST(t.nn AS DOUBLE) / CAST(l.c AS DOUBLE))
              * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS hh_q
  FROM cls l CROSS JOIN tot t
)
SELECT mi.nn AS n,
       CAST(mi.mi_q AS DOUBLE) / (CAST(mi.nn AS DOUBLE) * 1048576.0)
         AS mi_nats,
       CAST(ht.ht_q AS DOUBLE) / (CAST(mi.nn AS DOUBLE) * 1048576.0)
         AS h_type,
       CAST(hh.hh_q AS DOUBLE) / (CAST(mi.nn AS DOUBLE) * 1048576.0)
         AS h_hour,
       CASE WHEN LEAST(ht.ht_q, hh.hh_q) > 0 THEN
         (CAST(mi.mi_q AS DOUBLE) / (CAST(mi.nn AS DOUBLE) * 1048576.0))
         / (CAST(LEAST(ht.ht_q, hh.hh_q) AS DOUBLE)
            / (CAST(mi.nn AS DOUBLE) * 1048576.0)) END AS nmi
FROM mi CROSS JOIN ht CROSS JOIN hh
"""


# ------------------------------------------------ bootstrap CI

# Poisson(1) CDF thresholds, embedded as identical literals on both
# engines (P(X<=k) for k = 0..4; anything above caps at weight 5)
_POIS = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)
_B = 40  # bootstrap replicates


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI of the mean value per event type — the
    standard DISTRIBUTED bootstrap (resample weights ~ Poisson(1)
    independently per row, no global resample pass). Replicate weights
    derive from the md5 coin against embedded Poisson CDF literals, so
    the whole procedure is deterministic and cross-engine exact:
    per-replicate sums are int64, replicate means are single exact
    divisions, and the CI bounds are RANK-SELECTED (2nd smallest / 2nd
    largest of 40) — selection-only, no float accumulation.

    Hashing is BLOCKED: one md5 per (event, 4-replicate block), four
    8-hex coins per digest (16^8 = 2^32 grid, exact in a double), so
    the hot path hashes B/4 = 10x per event, not 40x, and the four
    block replicates aggregate as parallel columnar sums on the x10
    frame (no x40 row explosion; `stack` unpivots AFTER the agg, on
    types x blocks rows). Spark evaluates the digest once per block
    row: `h` is referenced by all four weight columns, which blocks
    CollapseProject from inlining the md5 (non-cheap, multi-ref), and
    codegen CSEs the per-weight when-chains. ~4x less hash work and
    4x fewer shuffled rows than the naive per-replicate coin at
    identical statistical semantics. Scale: one x10 narrow explode +
    a (type, block) hash agg; the rank window runs over 40 rows per
    type."""
    from pyspark.sql import Window

    from ..catalog import spread

    e = spread(load_table(spark, sf_dir, "events"))
    grid32 = float(2 ** 32)
    blocks = e.select(
        "event_type",
        cents().alias("c"),
        F.explode(F.sequence(F.lit(0), F.lit(_B // 4 - 1))).alias("blk"),
        "event_id",
    )

    # md5 coin + Poisson-CDF weights vectorized in Arrow batches (round
    # 10, guide §4.2): the JVM md5 + four conv(hex) parses + four
    # when-chains cost ~2.6 s over the x10 frame at sf0.1. hashlib.md5
    # is the same RFC digest as Spark's md5 over the identical
    # "event_id:blk" UTF-8 bytes; the four 8-hex coins are exactly the
    # digest's four big-endian uint32 words (np.frombuffer — no string
    # parsing); u = (coin + 0.5)/2^32 is the same exact double; and
    # np.searchsorted(_POIS, u, 'right') == #{i: p_i <= u} is precisely
    # the when-chain's branch index. Bit-identical weights, no row
    # Python (one mapInPandas per partition).
    import hashlib

    import numpy as np
    import pandas as pd

    pois = np.asarray(_POIS)

    def coins(batches):
        md5 = hashlib.md5
        for pdf in batches:
            keys = (
                pdf["event_id"].astype("int64").astype(str)
                + ":"
                + pdf["blk"].astype("int64").astype(str)
            )
            digest = b"".join(md5(k.encode()).digest() for k in keys)
            u = (
                np.frombuffer(digest, dtype=">u4")
                .reshape(-1, 4)
                .astype(np.float64)
                + 0.5
            ) / grid32
            w = np.searchsorted(pois, u.ravel(), side="right").reshape(
                -1, 4
            )
            yield pd.DataFrame(
                {
                    "event_type": pdf["event_type"],
                    "blk": pdf["blk"],
                    "c": pdf["c"],
                    **{f"w{p}": w[:, p].astype(np.int64) for p in range(4)},
                }
            )

    per_block = blocks.mapInPandas(
        coins,
        "event_type string, blk int, c long, "
        + ", ".join(f"w{p} long" for p in range(4)),
    ).groupBy("event_type", "blk").agg(
        *[
            agg
            for p in range(4)
            for agg in (
                F.sum(f"w{p}").cast("long").alias(f"sw{p}"),
                F.sum(F.col(f"w{p}") * F.col("c"))
                .cast("long")
                .alias(f"swc{p}"),
            )
        ]
    )
    per_rep = (
        per_block.select(
            "event_type",
            "blk",
            F.expr(
                "stack(4, 0, sw0, swc0, 1, sw1, swc1,"
                " 2, sw2, swc2, 3, sw3, swc3) AS (pos, sw, swc)"
            ),
        )
        .select(
            "event_type",
            (F.col("blk") * 4 + F.col("pos")).alias("rep"),
            "sw",
            "swc",
        )
        .where(F.col("sw") > 0)
        .select(
            "event_type",
            "rep",
            (F.col("swc").cast("double") / F.col("sw").cast("double")).alias(
                "m"
            ),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("m", "rep")
    ranked = per_rep.withColumn("rn", F.row_number().over(wr))
    base = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(cents())
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_cents"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.min(F.when(F.col("rn") == _B - 1, F.col("m"))).alias("hi"),
    )
    return base.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        "n_reps",
        (F.col("mean_cents") / F.lit(100.0)).alias("mean_value"),
        (F.col("lo") / F.lit(100.0)).alias("ci_lo"),
        (F.col("hi") / F.lit(100.0)).alias("ci_hi"),
    )


EVENTS_BOOTSTRAP_SQL = f"""
WITH reps AS (
  SELECT event_type, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         u.rep
  FROM events, UNNEST(generate_series(0, {_B - 1})) AS u(rep)
),
coined AS (
  SELECT event_type, rep, c,
         CASE WHEN uu < {_POIS[0]!r} THEN 0
              WHEN uu < {_POIS[1]!r} THEN 1
              WHEN uu < {_POIS[2]!r} THEN 2
              WHEN uu < {_POIS[3]!r} THEN 3
              WHEN uu < {_POIS[4]!r} THEN 4
              ELSE 5 END AS w
  FROM (
    -- blocked coin: one md5 per (event, rep//4), four 8-hex windows
    SELECT event_type, rep, c,
           ((('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                             || CAST(rep // 4 AS VARCHAR)),
                             1 + 8 * (rep % 4), 8))::BIGINT
             ::DOUBLE + 0.5) / {float(2 ** 32)!r}) AS uu
    FROM reps
  )
),
per_rep AS (
  SELECT event_type, rep,
         CAST(SUM(w * c) AS BIGINT) AS swc,
         CAST(SUM(w) AS BIGINT) AS sw
  FROM coined GROUP BY event_type, rep
),
means AS (
  SELECT event_type, rep,
         CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS m,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY
           CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE), rep) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_reps
  FROM per_rep WHERE sw > 0
),
base AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_cents
  FROM events GROUP BY event_type
)
SELECT b.event_type, b.n,
       CAST(MAX(m.n_reps) AS BIGINT) AS n_reps,
       b.mean_cents / 100.0 AS mean_value,
       MIN(CASE WHEN m.rn = 2 THEN m.m END) / 100.0 AS ci_lo,
       MIN(CASE WHEN m.rn = {_B - 1} THEN m.m END) / 100.0 AS ci_hi
FROM base b JOIN means m ON m.event_type = b.event_type
GROUP BY b.event_type, b.n, b.mean_cents
"""


# --------------------------------------------------- corpus / splits


def corpus_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 80/10/10 train/val/test split per
    language — the dataset-versioning primitive every training corpus
    needs. Documents rank by the md5 coin WITHIN their language, and
    split boundaries are decided by integer cross-multiplication
    (rank*10 <= n*8), so proportions are EXACT per stratum, stable
    under reshuffles, and identical cross-engine (md5 hex strings
    compare identically; doc_id breaks impossible ties)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    coin = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    n_w = Window.partitionBy("lang")
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(n_w).cast("long").alias("n"),
    )
    split = (
        F.when(F.col("rnk") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rnk") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
    )
    return ranked.select("doc_id", "lang", split.alias("split"))


CORPUS_SPLIT_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
              AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN rnk * 10 <= n * 8 THEN 'train'
            WHEN rnk * 10 <= n * 9 THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""


def corpus_cross_source_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-exposure audit: for each source, how many
    of its documents share normalized content with ANY other document,
    and how many with a document from a DIFFERENT source — the
    train/eval-leakage and attribution-conflict screen (exact-dedup's
    reporting twin). Always one row per source (counts are 0 on a
    clean corpus; the harness corpus has cross-source dups at sf0.1).
    Two hash aggs on the content digest; exact counts."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    docs = d.select("doc_id", "source", h.alias("h"))
    grp = docs.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("g_docs"),
        F.countDistinct("source").cast("long").alias("g_sources"),
    )
    return (
        docs.join(grp, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("g_docs") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum(F.when(F.col("g_sources") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_source_docs"),
        )
    )


CORPUS_LEAK_SQL = """
WITH docs AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS h FROM documents
),
grp AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS g_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS g_sources
  FROM docs GROUP BY h
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN g.g_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(SUM(CASE WHEN g.g_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_source_docs
FROM docs d JOIN grp g ON g.h = d.h
GROUP BY d.source
"""


# --------------------------------------------------------- kpi


def sql_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation — the lag-window KPI
    report. Revenue sums exact integer cents; the growth ratio divides
    exact int64s once; the first month reports NULL growth on both
    engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            (
                F.year("o_orderdate") * 100 + F.month("o_orderdate")
            )
            .cast("long")
            .alias("ym"),
        )
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("rev")
        )
    )
    w = Window.partitionBy("nation").orderBy("ym")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "nation",
        "ym",
        (F.col("rev").cast("double") / F.lit(100.0)).alias("revenue"),
        F.when(
            prev > 0,
            (F.col("rev") - prev).cast("double") / prev.cast("double"),
        ).alias("growth"),
    )


SQL_MONTHLY_GROWTH_SQL = """
WITH monthly AS (
  SELECT n.n_name AS nation,
         CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT)
           AS ym,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, year(o.o_orderdate) * 100 + month(o.o_orderdate)
)
SELECT nation, ym, CAST(rev AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN LAG(rev) OVER (PARTITION BY nation ORDER BY ym) > 0 THEN
         CAST(rev - LAG(rev) OVER (PARTITION BY nation ORDER BY ym)
              AS DOUBLE)
         / CAST(LAG(rev) OVER (PARTITION BY nation ORDER BY ym) AS DOUBLE)
       END AS growth
FROM monthly
"""


# ----------------------------------------------------- robust stats


def events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of value per event type WITHOUT a data-sized
    sort: on the domain-bounded distinct-cents frame, each value's
    kept multiplicity is the integer overlap of its rank interval
    [below, below+t) with the kept band [lo, n-lo) — pure int64
    clipping, so the trimmed sum/count are exact and the final means
    are single divisions. The robust-location companion to the
    median/MAD outlier screen."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("c"),
    )
    per = e.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.withColumn(
        "below", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    )
    tot = per.groupBy("event_type").agg(
        *moments(None, n="t", s_all=("c", "t")),
    )
    j = cum.join(F.broadcast(tot), "event_type")
    lo = F.expr("n div 10")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("below") + F.col("t"), F.col("n") - lo)
        - F.greatest(F.col("below"), lo),
    )
    agg = j.groupBy("event_type", "n", "s_all").agg(
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(kept * F.col("c")).cast("long").alias("s_kept"),
    )
    return agg.select(
        "event_type",
        "n",
        "n_kept",
        (
            F.col("s_all").cast("double")
            / F.col("n").cast("double")
            / F.lit(100.0)
        ).alias("mean_value"),
        (
            F.col("s_kept").cast("double")
            / F.col("n_kept").cast("double")
            / F.lit(100.0)
        ).alias("trimmed_mean"),
    )


EVENTS_TRIMMED_MEAN_SQL = """
WITH e AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
per AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS t
  FROM e GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, t,
         CAST(COALESCE(SUM(t) OVER (PARTITION BY event_type ORDER BY c
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM per
),
tot AS (
  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(c * t) AS BIGINT) AS s_all
  FROM per GROUP BY event_type
),
clipped AS (
  SELECT c.event_type, t.n, t.s_all, c.c,
         GREATEST(0, LEAST(c.below + c.t, t.n - t.n // 10)
                     - GREATEST(c.below, t.n // 10)) AS kept
  FROM cum c JOIN tot t ON t.event_type = c.event_type
)
SELECT event_type, n,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_value,
       CAST(SUM(kept * c) AS DOUBLE) / CAST(SUM(kept) AS DOUBLE) / 100.0
         AS trimmed_mean
FROM clipped
GROUP BY event_type, n, s_all
"""


# ------------------------------------------------------- knn eval


def simsearch_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval over the embedding table: 64 query
    vectors predict their label by 5-nearest-neighbor majority (tie ->
    smallest label), reported as per-label accuracy — the
    embedding-quality metric a retrieval corpus tracks. Composes the
    already-oracled exact brute-force top-k; the vote argmax is pure
    integer (count desc, label asc)."""
    from pyspark.sql import Window

    from ..operators.simsearch import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bf = brute_force_topk(emb, n_queries=64, k=5)
    labs = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("nlabel"),
    )
    votes = (
        bf.join(labs, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), F.asc("nlabel")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("nlabel").alias("pred"))
    )
    truth = emb.where(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("label"),
    )
    return (
        truth.join(pred, "query_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(
                F.when(F.col("pred") == F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            (
                F.col("n_correct").cast("double")
                / F.col("n_queries").cast("double")
            ).alias("accuracy"),
        )
    )


def _simsearch_knn_eval_sql() -> str:
    from ..operators.simsearch import brute_force_topk_sql

    return f"""
WITH bf AS ({brute_force_topk_sql(n_queries=64, k=5)}),
votes AS (
  SELECT bf.query_id, CAST(e.label AS BIGINT) AS nlabel,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bf JOIN embeddings e ON e.vec_id = bf.neighbor_id
  GROUP BY bf.query_id, e.label
),
pred AS (
  SELECT query_id, nlabel AS pred FROM (
    SELECT query_id, nlabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cnt DESC, nlabel ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT CAST(t.label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN p.pred = t.label THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS accuracy
FROM embeddings t JOIN pred p ON p.query_id = t.vec_id
WHERE t.vec_id < 64
GROUP BY t.label
"""


# ------------------------------------------------- funnel inference


def events_funnel_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion rates with binomial-proportion 95% CIs — the
    inference layer over the ordered funnel (composes the already-
    oracled funnel counts; the oracle composes the same funnel SQL).
    Each step's rate divides exact int64 stage counts; the normal-
    approximation CI is one shared float expression; the entry stage
    reports NULL rate (no base population) on both engines."""
    from pyspark.sql import Window

    from ..operators.funnel import funnel

    f = funnel(load_table(spark, sf_dir, "events"))
    w = Window.orderBy("stage_idx")
    j = f.withColumn("n_base", F.lag("n_users").over(w))
    p_hat = F.col("n_users").cast("double") / F.col("n_base").cast("double")
    se = F.sqrt(
        p_hat * (F.lit(1.0) - p_hat) / F.col("n_base").cast("double")
    )
    return j.select(
        "stage_idx",
        "stage",
        F.col("n_users").alias("n_reached"),
        "n_base",
        F.when(F.col("n_base") > 0, p_hat).alias("conv_rate"),
        F.when(F.col("n_base") > 0, p_hat - F.lit(1.96) * se).alias("ci_lo"),
        F.when(F.col("n_base") > 0, p_hat + F.lit(1.96) * se).alias("ci_hi"),
    )


def _events_funnel_significance_sql() -> str:
    from ..operators.funnel import funnel_sql

    return f"""
WITH f AS ({funnel_sql()}),
j AS (
  SELECT stage_idx, stage, n_users,
         LAG(n_users) OVER (ORDER BY stage_idx) AS n_base
  FROM f
)
SELECT stage_idx, stage, n_users AS n_reached, n_base,
       CASE WHEN n_base > 0 THEN
         CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE) END AS conv_rate,
       CASE WHEN n_base > 0 THEN
         CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE)
         - 1.96 * sqrt(CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE)
                       * (1.0 - CAST(n_users AS DOUBLE)
                                / CAST(n_base AS DOUBLE))
                       / CAST(n_base AS DOUBLE)) END AS ci_lo,
       CASE WHEN n_base > 0 THEN
         CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE)
         + 1.96 * sqrt(CAST(n_users AS DOUBLE) / CAST(n_base AS DOUBLE)
                       * (1.0 - CAST(n_users AS DOUBLE)
                                / CAST(n_base AS DOUBLE))
                       / CAST(n_base AS DOUBLE)) END AS ci_hi
FROM j
"""


# -------------------------------------------------- change point


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation change point of daily value volume per
    event type: the split maximizing the between-segment SSE reduction
    (S1*n2 - S2*n1)^2 / (n1*n2*n) — the one-split CART/BinSeg step and
    the offline complement of the CUSUM monitor. The score's operands
    are exact int64 prefix sums over the calendar-bounded daily frame;
    both engines compute bit-identical doubles (3 shared IEEE ops), so
    the argmax (score desc, day asc) is deterministic. Output reports
    the last day of the left segment and the two segment means."""
    from pyspark.sql import Window

    daily = _daily_cents(spark, sf_dir)
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "event_type",
        "d",
        F.sum("y").over(wc).cast("long").alias("s1"),
        F.count(F.lit(1)).over(wc).cast("long").alias("n1"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("y").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = (
        cum.join(F.broadcast(tot), "event_type")
        .where(F.col("n1") < F.col("n"))
        .withColumn("n2", F.col("n") - F.col("n1"))
        .withColumn("s2", F.col("s") - F.col("s1"))
    )
    num = (
        F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")
    ).cast("double")
    score = (
        num
        * num
        / (F.col("n1") * F.col("n2") * F.col("n")).cast("double")
    )
    ws = Window.partitionBy("event_type").orderBy(
        F.desc("score"), F.asc("d")
    )
    return (
        j.withColumn("score", score)
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("d").alias("split_last_day"),
            (
                F.col("s1").cast("double")
                / F.col("n1").cast("double")
                / F.lit(100.0)
            ).alias("mean_before"),
            (
                F.col("s2").cast("double")
                / F.col("n2").cast("double")
                / F.lit(100.0)
            ).alias("mean_after"),
            (F.col("score") / F.lit(10000.0)).alias("sse_reduction"),
        )
    )


EVENTS_CHANGEPOINT_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
cum AS (
  SELECT event_type, d,
         CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS s1,
         CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS n1
  FROM daily
),
tot AS (
  SELECT event_type, CAST(SUM(y) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY event_type
),
scored AS (
  SELECT c.event_type, t.n, c.d, c.s1, c.n1,
         t.s - c.s1 AS s2, t.n - c.n1 AS n2,
         CAST(c.s1 * (t.n - c.n1) - (t.s - c.s1) * c.n1 AS DOUBLE)
         * CAST(c.s1 * (t.n - c.n1) - (t.s - c.s1) * c.n1 AS DOUBLE)
         / CAST(c.n1 * (t.n - c.n1) * t.n AS DOUBLE) AS score
  FROM cum c JOIN tot t ON t.event_type = c.event_type
  WHERE c.n1 < t.n
)
SELECT event_type, n AS n_days, d AS split_last_day,
       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_before,
       CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS mean_after,
       score / 10000.0 AS sse_reduction
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY score DESC, d ASC) AS rn
  FROM scored
) WHERE rn = 1
"""


# ----------------------------------------------------- time series


def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily value volume per event type at lags
    1..7 — the seasonality/persistence diagnostic feeding forecast
    model choice (companion to the Holt and EWMA folds). Exactness:
    deviations rescale to integers (dev = n*y - S, so no rational mean
    is ever materialized) and every product/sum runs in DECIMAL —
    the events_moments big-power-sum route — with ONE decimal->string
    ->double conversion per aggregate before the final division.
    The lag join is a self-join on the calendar-bounded daily frame."""
    daily = _daily_cents(spark, sf_dir)
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    dev = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "d",
            (F.col("n") * F.col("y") - F.col("s"))
            .cast("decimal(18,0)")
            .alias("dev"),
        )
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den_dec"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = dev.select("event_type", "d", F.col("dev").alias("dev_a"))
    b = dev.select("event_type", F.col("d").alias("db"), F.col("dev").alias("dev_b"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (a.event_type == b.event_type) & (b.db == a.d + F.col("lag")),
        )
        .drop(b.event_type)
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dev_a") * F.col("dev_b")).alias("num_dec"),
        )
    )
    d2d = lambda c: c.cast("string").cast("double")  # noqa: E731
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            "n_pairs",
            F.when(
                d2d(F.col("den_dec")) > 0,
                d2d(F.col("num_dec")) / d2d(F.col("den_dec")),
            ).alias("acf"),
        )
    )


EVENTS_ACF_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.d,
         CAST(t.n * d.y - t.s AS DECIMAL(18,0)) AS dev
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
den AS (
  SELECT event_type, SUM(dev * dev) AS den_dec,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dev GROUP BY event_type
),
num AS (
  SELECT a.event_type, l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         SUM(a.dev * b.dev) AS num_dec
  FROM dev a
  CROSS JOIN (SELECT CAST(x AS BIGINT) AS lag
              FROM UNNEST(generate_series(1, 7)) AS u(x)) l
  JOIN dev b ON b.event_type = a.event_type AND b.d = a.d + l.lag
  GROUP BY a.event_type, l.lag
)
SELECT n.event_type, n.lag, n.n_pairs,
       CASE WHEN CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) > 0 THEN
         CAST(CAST(n.num_dec AS VARCHAR) AS DOUBLE)
         / CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) END AS acf
FROM num n JOIN den d ON d.event_type = n.event_type
"""


def events_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across event types (operators/stats.anova):
    exact int64 sufficient statistics, one shared float expression."""
    return ST.anova(load_table(spark, sf_dir, "events"))


def events_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test
    (operators/stats.brown_forsythe): median-centered Levene, exact
    integer medians and spread scores."""
    return ST.brown_forsythe(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------- quantile drift


def events_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift report per event type: exact decile
    boundaries of the FIRST time half vs the SECOND (split at the
    epoch midpoint) — the distribution-shift monitor a metrics
    pipeline runs week-over-week, upgrading the scalar KS answer to a
    per-decile profile. Boundaries are integer-rank selections on the
    cents grid (min c with cum*10 >= i*n — integer cross-mult, no
    float rank), the equi-depth technique applied per (type, half)."""
    from pyspark.sql import Window

    from ..functions.timeutil import ts_seconds

    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.min(ts_seconds(F.col("ts"))).alias("lo"),
        F.max(ts_seconds(F.col("ts"))).alias("hi"),
    )
    halves = (
        e.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.when(
                ts_seconds(F.col("ts"))
                <= (F.col("lo") + F.col("hi")) / 2,
                1,
            )
            .otherwise(2)
            .cast("long")
            .alias("half"),
            cents().alias("c"),
        )
    )
    per = halves.groupBy("event_type", "half", "c").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    wv = (
        Window.partitionBy("event_type", "half")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.select(
        "event_type", "half", "c",
        F.sum("t").over(wv).cast("long").alias("cumt"),
    )
    nper = per.groupBy("event_type", "half").agg(
        F.sum("t").cast("long").alias("n")
    )
    deciles = spark.range(1, 10).select(
        F.col("id").cast("long").alias("decile")
    )
    bounds = (
        cum.join(F.broadcast(nper), ["event_type", "half"])
        .crossJoin(F.broadcast(deciles))
        .where(F.col("cumt") * 10 >= F.col("decile") * F.col("n"))
        .groupBy("event_type", "half", "decile")
        .agg(F.min("c").alias("q"))
    )
    return (
        bounds.groupBy("event_type", "decile")
        .agg(
            F.min(F.when(F.col("half") == 1, F.col("q"))).alias("q1c"),
            F.min(F.when(F.col("half") == 2, F.col("q"))).alias("q2c"),
        )
        .select(
            "event_type",
            "decile",
            (F.col("q1c").cast("double") / F.lit(100.0)).alias("q_first"),
            (F.col("q2c").cast("double") / F.lit(100.0)).alias("q_second"),
            (
                (F.col("q2c") - F.col("q1c")).cast("double")
                / F.lit(100.0)
            ).alias("shift"),
        )
    )


EVENTS_QQ_DRIFT_SQL = """
WITH span AS (
  SELECT MIN(EXTRACT(EPOCH FROM ts)) AS lo,
         MAX(EXTRACT(EPOCH FROM ts)) AS hi
  FROM events
),
halves AS (
  SELECT event_type,
         CASE WHEN EXTRACT(EPOCH FROM ts) <= (s.lo + s.hi) / 2
              THEN 1 ELSE 2 END AS half,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events CROSS JOIN span s
),
per AS (
  SELECT event_type, half, c, CAST(COUNT(*) AS BIGINT) AS t
  FROM halves GROUP BY event_type, half, c
),
cum AS (
  SELECT event_type, half, c,
         CAST(SUM(t) OVER (PARTITION BY event_type, half ORDER BY c)
              AS BIGINT) AS cumt
  FROM per
),
nper AS (
  SELECT event_type, half, CAST(SUM(t) AS BIGINT) AS n
  FROM per GROUP BY event_type, half
),
bounds AS (
  SELECT c.event_type, c.half, d.decile, MIN(c.c) AS q
  FROM cum c
  JOIN nper n ON n.event_type = c.event_type AND n.half = c.half
  CROSS JOIN (SELECT CAST(x AS BIGINT) AS decile
              FROM UNNEST(generate_series(1, 9)) AS u(x)) d
  WHERE c.cumt * 10 >= d.decile * n.n
  GROUP BY c.event_type, c.half, d.decile
)
SELECT event_type, decile,
       CAST(MIN(CASE WHEN half = 1 THEN q END) AS DOUBLE) / 100.0
         AS q_first,
       CAST(MIN(CASE WHEN half = 2 THEN q END) AS DOUBLE) / 100.0
         AS q_second,
       CAST(MIN(CASE WHEN half = 2 THEN q END)
            - MIN(CASE WHEN half = 1 THEN q END) AS DOUBLE) / 100.0
         AS shift
FROM bounds
GROUP BY event_type, decile
"""


# -------------------------------------------------- burst anomalies


def events_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly burst detection per event type — the batch twin of the
    reference's core anomaly question (AD.java:200's threshold gate)
    done statistically: hours whose count is at least DOUBLE the
    type's mean hourly rate, scored by the Poisson/Chernoff exponent
    n*ln(n/lambda) - n + lambda. The burst GATE is pure integer
    arithmetic (n >= 5 AND 2 * n * n_hours >= 3 * total — at least
    1.5x the mean hourly rate; no float rate is ever compared), so the
    emitted row set is deterministic; the score
    is a reporting column (ln on exact-int ratios, the established
    <=1-ulp class). The hour span counts from the global min/max like
    events_hourly_corr."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
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
        .alias("n_hours")
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total")
    )
    j = cells.join(F.broadcast(tot), "event_type").crossJoin(
        F.broadcast(span)
    )
    lam = F.col("total").cast("double") / F.col("n_hours").cast("double")
    nd = F.col("n").cast("double")
    score = nd * F.log(nd / lam) - nd + lam
    return j.where(
        (F.col("n") >= 5)
        & (2 * F.col("n") * F.col("n_hours") >= 3 * F.col("total"))
    ).select(
        "event_type",
        "h",
        "n",
        lam.alias("hourly_rate"),
        score.alias("burst_score"),
    )


EVENTS_BURST_SQL = """
WITH cells AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
span AS (
  SELECT CAST(date_diff('hour', date_trunc('hour', MIN(ts)),
                        date_trunc('hour', MAX(ts))) + 1 AS BIGINT)
           AS n_hours
  FROM events
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
  FROM cells GROUP BY event_type
)
SELECT c.event_type, c.h, c.n,
       CAST(t.total AS DOUBLE) / CAST(s.n_hours AS DOUBLE) AS hourly_rate,
       CAST(c.n AS DOUBLE)
       * ln(CAST(c.n AS DOUBLE)
            / (CAST(t.total AS DOUBLE) / CAST(s.n_hours AS DOUBLE)))
       - CAST(c.n AS DOUBLE)
       + CAST(t.total AS DOUBLE) / CAST(s.n_hours AS DOUBLE)
         AS burst_score
FROM cells c
JOIN tot t ON t.event_type = c.event_type
CROSS JOIN span s
WHERE c.n >= 5 AND 2 * c.n * s.n_hours >= 3 * t.total
"""


# ------------------------------------------------------ collocation


def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: pointwise mutual information of
    co-occurring term pairs (document-level, distinct terms,
    document frequency >= 5) — the classic phrase/topic-signal
    extractor. A production corpus would ALSO cap high-df stopwords
    (df <= N/5, the dedup_jaccard contract); the harness vocabulary is
    31 terms with ~78% df, which that cap would empty, so the
    registered query keeps only the lower bound and bounds fan-out by
    the (tiny) vocabulary instead. Counts are exact ints; PMI is one
    ln(exact-int ratio) per surviving pair (support >= 5 — integer
    gate, deterministic row set)."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "filter(split(lower(text), '[^a-z0-9]+'),"
                        " x -> x != '')"
                    )
                )
            ).alias("tok"),
        )
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    kept = (
        toks.join(df, "tok")
        .where(F.col("df") >= 5)
        .select("doc_id", "tok", "df")
    )
    a = kept.select("doc_id", F.col("tok").alias("ta"), F.col("df").alias("dfa"))
    b = kept.select("doc_id", F.col("tok").alias("tb"), F.col("df").alias("dfb"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    # libm ln twin on the vocab²-bounded pair frame: bit-matches the
    # oracle's ln (functions/libm.py; VERDICT r6 #5)
    from ..functions.libm import libm_log

    pmi = libm_log(
        (F.col("n_ab") * F.col("nd")).cast("double")
        / (F.col("dfa") * F.col("dfb")).cast("double")
    )
    return pairs.crossJoin(F.broadcast(n_docs)).select(
        "ta", "tb", "n_ab",
        F.col("dfa").alias("df_a"),
        F.col("dfb").alias("df_b"),
        pmi.alias("pmi"),
    )


TEXT_PMI_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           UNNEST(list_filter(string_split_regex(lower(text),
                  '[^a-z0-9]+'), x -> x <> '')) AS tok
    FROM documents
  )
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok),
kept AS (
  SELECT t.doc_id, t.tok, d.df
  FROM toks t JOIN df d ON d.tok = t.tok
  WHERE d.df >= 5
),
pairs AS (
  SELECT a.tok AS ta, b.tok AS tb, a.df AS df_a, b.df AS df_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok, a.df, b.df
  HAVING COUNT(*) >= 5
)
SELECT ta, tb, n_ab, df_a, df_b,
       ln(CAST(n_ab * nd.nd AS DOUBLE) / CAST(df_a * df_b AS DOUBLE))
         AS pmi
FROM pairs CROSS JOIN nd
"""


# ------------------------------------------------------ range search


def simsearch_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: for 16 query vectors, every neighbor with
    similarity above the radius — the other half of the ANN API
    surface (top-k's fixed-k contract vs radius recall). The gate
    compares the cosine (identical fold order on both engines, the
    brute-force contract — identical doubles) against the literal
    0.35, chosen inside the harness similarity range (max ~0.49), and
    emits the neighbor set unranked with the score."""
    from ..operators.simsearch import _dot, _with_norm

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = _with_norm(emb)
    q = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos = _dot(F.col("q_emb"), F.col("emb")) / (
        F.col("q_norm") * F.col("norm")
    )
    return (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= 0.35)
    )


def _simsearch_range_search_sql() -> str:
    from ..operators.simsearch import DIM, _cos_sql

    return f"""
SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       {_cos_sql('q', 'e', DIM)} AS cosine
FROM embeddings q
JOIN embeddings e ON q.vec_id <> e.vec_id
WHERE q.vec_id < 16 AND {_cos_sql('q', 'e', DIM)} >= 0.35
"""


# ------------------------------------------------ point-in-time join


def events_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature join — the feature-store correctness
    primitive: each purchase fact is enriched with the user's latest
    profile state (non-purchase event) AS OF the purchase time,
    honoring CDC deletes ('error' closes the profile: the fact
    enriches to NULLs, not to the stale pre-delete state). Built on
    the one-shuffle asof_join; the whole change row travels as ONE
    struct so the delete marker and its payload can never decouple
    in the last-non-null carry. Tie at equal ts: the greatest
    event_id change applies (both engines order identically)."""
    from ..operators.asof import asof_join
    from .relational import events_cdc_log

    e = load_table(spark, sf_dir, "events")
    log = events_cdc_log(e).where(F.col("event_type") != "purchase")
    timeline = log.select(
        "user_id",
        "ts",
        "event_id",
        F.struct("op", "event_type", "value", "event_id").alias("state"),
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_join(
        facts,
        timeline,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["state"],
        right_order="event_id",
    )
    live = F.col("asof_state").isNotNull() & (
        F.col("asof_state.op") != "delete"
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(live, F.col("asof_state.event_id")).alias("dim_event_id"),
        F.when(live, F.col("asof_state.event_type")).alias("dim_event_type"),
        F.when(live, F.col("asof_state.value")).alias("dim_value"),
    )


EVENTS_PIT_SQL = """
WITH tl AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'error' THEN 'delete'
              ELSE 'upsert' END AS op
  FROM events WHERE event_type <> 'purchase'
),
facts AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts, f.value,
       CASE WHEN c.op IS NOT NULL AND c.op <> 'delete'
            THEN c.event_id END AS dim_event_id,
       CASE WHEN c.op IS NOT NULL AND c.op <> 'delete'
            THEN c.event_type END AS dim_event_type,
       CASE WHEN c.op IS NOT NULL AND c.op <> 'delete'
            THEN c.value END AS dim_value
FROM facts f LEFT JOIN LATERAL (
  SELECT op, event_type, value, event_id
  FROM tl c
  WHERE c.user_id = f.user_id AND c.ts <= f.ts
  ORDER BY c.ts DESC, c.event_id DESC
  LIMIT 1
) c ON TRUE
"""


def simsearch_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (operators/simsearch.mmr_topk): 5
    greedy rounds over each query's top-20 pool, lambda = 0.7."""
    from ..operators.simsearch import mmr_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return mmr_topk(emb)


def _simsearch_mmr_sql() -> str:
    from ..operators.simsearch import mmr_topk_sql

    return mmr_topk_sql()


def simsearch_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of cosine / inner-product / euclidean
    retrieval (operators/simsearch.rrf_fusion): the calibration-free
    multi-retriever combiner, with integer 2^40//(60+rank)
    contributions so the fused ranking is engine-identical."""
    from ..operators.simsearch import rrf_fusion

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return rrf_fusion(emb)


def _simsearch_rrf_sql() -> str:
    from ..operators.simsearch import rrf_fusion_sql

    return rrf_fusion_sql()


# -------------------------------------------------- holt-winters


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + a
    7-slot day-of-week seasonal state) of the daily mean value per
    type — completing the forecasting family above EWMA and Holt.

    Exactness: a NINE-state ordered fold (the Holt two-state recipe
    extended): alpha = 2^-2, beta = gamma = 2^-3 are exact binary
    fractions; each element carries (mu, dow) so calendar gaps cannot
    misalign the seasonal slot; Spark folds a 9-field struct through
    aggregate(array_sort(collect_list)), DuckDB a 9-element list
    through list_reduce with elements lifted to [mu, dow] — the same
    IEEE op sequence step for step, so all nine states are
    bit-identical. The fold runs over the calendar-bounded day series.
    """
    e = load_table(spark, sf_dir, "events")
    from .relational import _davg

    dd = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    daily = e.groupBy(
        "event_type",
        dd.cast("long").alias("d"),
        ((dd + 4) % 7).cast("double").alias("dow"),
    ).agg(_davg(F.col("value")).alias("mu"))

    def step(acc, x):
        sl = [acc[f"s{i}"] for i in range(7)]
        s_cur = sl[0]
        for i in range(1, 7):
            s_cur = F.when(x["dow"] == float(i), sl[i]).otherwise(s_cur)
        lp = (x["mu"] - s_cur) * F.lit(0.25) + (acc["l"] + acc["b"]) * F.lit(
            0.75
        )
        bp = (lp - acc["l"]) * F.lit(0.125) + acc["b"] * F.lit(0.875)
        fields = [lp.alias("l"), bp.alias("b")]
        for i in range(7):
            fields.append(
                F.when(
                    x["dow"] == float(i),
                    (x["mu"] - lp) * F.lit(0.125) + sl[i] * F.lit(0.875),
                )
                .otherwise(sl[i])
                .alias(f"s{i}")
            )
        return F.struct(*fields)

    init = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        *[F.lit(0.0).alias(f"s{i}") for i in range(7)],
    )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mu", "dow"))),
            lambda p: F.struct(p["mu"].alias("mu"), p["dow"].alias("dow")),
        ),
        init,
        step,
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"), fold.alias("hw")
    )
    return agg.select(
        "event_type",
        "n_days",
        F.col("hw.l").alias("level"),
        F.col("hw.b").alias("trend"),
        *[F.col(f"hw.s{i}").alias(f"season_{i}") for i in range(7)],
    )


def _hw_sql() -> str:
    gam = "0.125"
    season_cases = ", ".join(
        f"CASE WHEN x[2] = {float(i)!r} THEN "
        f"(x[1] - acc[{i + 3}]) * {gam} + acc[{i + 3}] * 0.875 "
        f"ELSE acc[{i + 3}] END"
        for i in range(7)
    )
    s_cur = "".join(
        f"CASE WHEN x[2] = {float(i)!r} THEN acc[{i + 3}] ELSE "
        for i in range(1, 7)
    ) + "acc[3]" + " END" * 6
    # lp must be textually identical everywhere it appears
    lp = f"(x[1] - ({s_cur})) * 0.25 + (acc[1] + acc[2]) * 0.75"
    season_cases = ", ".join(
        f"CASE WHEN x[2] = {float(i)!r} THEN "
        f"(x[1] - ({lp})) * {gam} + acc[{i + 3}] * 0.875 "
        f"ELSE acc[{i + 3}] END"
        for i in range(7)
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4)
              % 7 AS DOUBLE) AS dow,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS mu
  FROM events GROUP BY 1, 2, 3
),
folded AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         list_reduce(
           list_prepend([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
             list_transform(list([mu, dow] ORDER BY d), m -> m)),
           (acc, x) -> [
             {lp},
             (({lp}) - acc[1]) * 0.125 + acc[2] * 0.875,
             {season_cases}
           ]
         ) AS hw
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days, hw[1] AS level, hw[2] AS trend,
       hw[3] AS season_0, hw[4] AS season_1, hw[5] AS season_2,
       hw[6] AS season_3, hw[7] AS season_4, hw[8] AS season_5,
       hw[9] AS season_6
FROM folded
"""


# ----------------------------------------------- share / concentration


def sql_region_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent KPI: each nation's order revenue as a share of
    its region, plus the region's share of the world — the two-level
    drill-down report. Exact integer cents at every level; each share
    is ONE int64 division."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("rev")
        )
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("region")
    ww = Window.partitionBy()
    return base.select(
        "region",
        "nation",
        (F.col("rev").cast("double") / F.lit(100.0)).alias("revenue"),
        (
            F.col("rev").cast("double")
            / F.sum("rev").over(wr).cast("double")
        ).alias("share_of_region"),
        (
            F.sum("rev").over(wr).cast("double")
            / F.sum("rev").over(ww).cast("double")
        ).alias("region_share_of_world"),
    )


SQL_REGION_SHARE_SQL = """
WITH base AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation,
       CAST(rev AS DOUBLE) / 100.0 AS revenue,
       CAST(rev AS DOUBLE)
         / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
         AS share_of_region,
       CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE)
         / CAST(SUM(rev) OVER () AS DOUBLE) AS region_share_of_world
FROM base
"""


def sql_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation:
    HHI = sum_i share_i^2 over each supplier nation's lineitem revenue
    by supplier — the market-concentration KPI. Computed EXACTLY as
    (sum s_i^2) / S^2 with integer cents: each s_i^2 goes through a
    double AFTER the exact int64 sum (under 2^53 per factor), the
    cross-supplier fold is quantized onto a 2^-20 grid (the ANOVA
    defense), and the statistic is one final division."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    per_supp = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum(cents).cast("long").alias("rev"))
    )
    # normalized share-squared term, quantized so the fold is int64:
    # (rev/S)^2 * 2^20 — rev/S <= 1 so terms stay tiny and exact
    per_nation = per_supp.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev").cast("long").alias("s_tot"),
        F.collect_list(F.struct("s_suppkey", "rev")).alias("rows_"),
    )
    # fold deterministically over the collected per-supplier list (a
    # nation has ~hundreds of suppliers; order by suppkey both sides)
    term = F.aggregate(
        F.transform(
            F.array_sort(F.col("rows_")),
            lambda r: on_grid(
                (
                    r["rev"].cast("double") / F.col("s_tot").cast("double")
                )
                * (
                    r["rev"].cast("double") / F.col("s_tot").cast("double")
                ),
                float(Q20),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return per_nation.select(
        "nation",
        "n_suppliers",
        (F.col("s_tot").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (term.cast("double") / F.lit(float(Q20))).alias("hhi"),
    )


SQL_SUPPLIER_HHI_SQL = """
WITH per_supp AS (
  SELECT n.n_name AS nation, s.s_suppkey,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount)
                             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, s.s_suppkey
),
tot AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(rev) AS BIGINT) AS s_tot
  FROM per_supp GROUP BY nation
)
SELECT t.nation, t.n_suppliers,
       CAST(t.s_tot AS DOUBLE) / 100.0 AS total_revenue,
       CAST(SUM(CAST(FLOOR((CAST(p.rev AS DOUBLE) / CAST(t.s_tot AS DOUBLE))
                           * (CAST(p.rev AS DOUBLE)
                              / CAST(t.s_tot AS DOUBLE))
                           * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / 1048576.0 AS hhi
FROM per_supp p JOIN tot t ON t.nation = p.nation
GROUP BY t.nation, t.n_suppliers, t.s_tot
"""


# ---------------------------------------------------- media entropy


def multimodal_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level Shannon entropy per sniffed media container — the
    compressibility / already-encoded signal a media-ingest pipeline
    uses to route transcode work (real codec payloads sit near 8
    bits/byte; text-ish payloads far lower). Byte histograms are
    exact integer counts extracted in HEX SPACE (DuckDB cannot
    substring BLOBs — the repo's binary-surgery recipe); the entropy
    fold quantizes each n*ln(N/n) term onto the 2^-20 grid (the MI
    defense); bits convert by one shared /ln(2)."""
    from ..operators import multimodal as M

    media = M.sniff_media_type(_media_frame(spark, sf_dir))

    # Byte histograms via per-partition numpy bincount (round 10, guide
    # §4.2): the previous form exploded ONE JVM ROW PER PAYLOAD BYTE
    # (hex split + substr per byte) into the counting agg; a bincount
    # over the raw buffer produces the identical exact integer counts
    # with at most 256 rows per (partition, type) crossing the shuffle.
    # The entropy fold below is unchanged — same n, same nn, same grid.
    def _hist(batches):
        import numpy as np
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            for t, content in zip(pdf["sniffed_type"], pdf["content"]):
                h = acc.get(t)
                if h is None:
                    h = acc[t] = np.zeros(256, np.int64)
                h += np.bincount(
                    np.frombuffer(content, dtype=np.uint8), minlength=256
                )
        for t, h in acc.items():
            nz = np.flatnonzero(h)
            yield pd.DataFrame(
                {
                    "sniffed_type": t,
                    "b": nz.astype(np.int32),
                    "n": h[nz],
                }
            )

    counts = (
        media.select("sniffed_type", "content")
        .mapInPandas(_hist, "sniffed_type string, b int, n long")
        .groupBy("sniffed_type", "b")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    tot = counts.groupBy("sniffed_type").agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_bytes"),
    )
    term = on_grid(
        F.col("n").cast("double")
        * F.log(F.col("nn").cast("double") / F.col("n").cast("double")),
        float(Q20),
    )
    agg = (
        counts.join(F.broadcast(tot), "sniffed_type")
        .groupBy("sniffed_type", "nn", "n_distinct_bytes")
        .agg(F.sum(term).cast("long").alias("hq"))
    )
    h_nats = F.col("hq").cast("double") / (
        F.col("nn").cast("double") * F.lit(float(Q20))
    )
    return agg.select(
        "sniffed_type",
        F.col("nn").alias("total_bytes"),
        "n_distinct_bytes",
        (h_nats / F.lit(float(__import__("math").log(2)))).alias(
            "entropy_bits"
        ),
    )


def _media_frame(spark, sf_dir):
    from .pipeline_ops import _media

    return _media(spark, sf_dir)


MULTIMODAL_ENTROPY_SQL = r"""
WITH media AS (
  SELECT doc_id AS media_id,
         (CASE doc_id % 4
            WHEN 0 THEN '\x89\x50\x4E\x47'::BLOB
            WHEN 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
            WHEN 2 THEN '\x52\x49\x46\x46'::BLOB
            ELSE '\x00\x00\x00\x18'::BLOB END) || encode(text) AS content
  FROM documents
),
sniffed AS (
  SELECT media_id, hex(content) AS hx,
         CASE
           WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hex(content), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
           WHEN substr(hex(content), 1, 8) = '52494646' THEN 'audio/wav'
           WHEN substr(hex(content), 1, 8) IN ('00000018', '00000020')
             THEN 'video/mp4'
           ELSE 'application/octet-stream'
         END AS sniffed_type
  FROM media
),
bytes_ AS (
  SELECT sniffed_type, substr(hx, 2 * i.i - 1, 2) AS b
  FROM sniffed, UNNEST(generate_series(1, len(hx) // 2)) AS i(i)
),
counts AS (
  SELECT sniffed_type, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM bytes_ GROUP BY sniffed_type, b
),
tot AS (
  SELECT sniffed_type, CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes
  FROM counts GROUP BY sniffed_type
)
SELECT c.sniffed_type, t.nn AS total_bytes, t.n_distinct_bytes,
       (CAST(SUM(CAST(FLOOR(CAST(c.n AS DOUBLE)
                            * ln(CAST(t.nn AS DOUBLE)
                                 / CAST(c.n AS DOUBLE))
                            * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
        / (CAST(t.nn AS DOUBLE) * 1048576.0))
       / 0.6931471805599453 AS entropy_bits
FROM counts c JOIN tot t ON t.sniffed_type = c.sniffed_type
GROUP BY c.sniffed_type, t.nn, t.n_distinct_bytes
"""


def events_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICKEY-FULLER unit-root screen per event type: regress the daily
    change Δy on the prior day's level y (with constant, over observed
    days in order — the trading-day convention for gapped series); a
    significantly negative level coefficient rejects the random-walk
    null, i.e. the series mean-reverts and level-based alert thresholds
    are meaningful. The stationarity complement of Mann-Kendall (trend)
    and CUSUM (level shift).

    Exactness: levels rebase by the per-type minimum (keeps every power
    sum far under 2^63 at any sf), all six sufficient statistics are
    int64, and the DECISION is sqrt-free — t² = Sxz²(n−2)/(SxxSzz−Sxz²)
    as one shared rational of exact ints, compared to the squared 5%
    Dickey-Fuller critical value (2.86², constant-only design) with a
    γ<0 sign gate; t_stat itself carries the one sqrt (continuous
    output, no decision rides on it). Scale: one (type, day) agg, a lag
    window on the bounded daily frame, a 5-row final agg."""
    from pyspark.sql import Window

    daily = _daily_cents(spark, sf_dir)
    base = daily.groupBy("event_type").agg(
        F.min("y").cast("long").alias("y0")
    )
    reb = daily.join(F.broadcast(base), "event_type").select(
        "event_type", "d", (F.col("y") - F.col("y0")).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = (
        reb.withColumn("x", F.lag("y").over(w))
        .where(F.col("x").isNotNull())
        .select("event_type", "x", (F.col("y") - F.col("x")).alias("z"))
    )
    agg = pairs.groupBy("event_type").agg(
        *moments("n", sx="x", sxx=("x", "x"), sz="z", szz=("z", "z"), sxz=("x", "z")),
    )
    nd = F.col("n").cast("double")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") ** 2 / nd
    czz = F.col("szz").cast("double") - F.col("sz").cast("double") ** 2 / nd
    cxz = (
        F.col("sxz").cast("double")
        - F.col("sx").cast("double") * F.col("sz").cast("double") / nd
    )
    gamma = F.when(cxx > 0, cxz / cxx)
    t2 = F.when(
        (cxx > 0) & ((cxx * czz - cxz * cxz) > 0),
        cxz * cxz * (nd - 2) / (cxx * czz - cxz * cxz),
    )
    crit2 = F.lit(2.86 * 2.86)
    return agg.select(
        "event_type",
        F.col("n").alias("n_days"),
        gamma.alias("gamma"),
        F.when(
            t2.isNotNull(),
            F.when(gamma < 0, -F.sqrt(t2)).otherwise(F.sqrt(t2)),
        ).alias("t_stat"),
        ((gamma < 0) & (t2 > crit2)).alias("stationary_5pct"),
    ).orderBy("event_type")


EVENTS_ADF_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
reb AS (
  SELECT d.event_type, d.d, d.y - b.y0 AS y
  FROM daily d JOIN (SELECT event_type, CAST(MIN(y) AS BIGINT) AS y0
                     FROM daily GROUP BY event_type) b
    ON b.event_type = d.event_type
),
pairs AS (
  SELECT event_type, x, y - x AS z FROM (
    SELECT event_type, y,
           LAG(y) OVER (PARTITION BY event_type ORDER BY d) AS x
    FROM reb)
  WHERE x IS NOT NULL
),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * z) AS BIGINT) AS sxz
  FROM pairs GROUP BY event_type
),
c AS (
  SELECT event_type, n,
         CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
           AS cxx,
         CAST(szz AS DOUBLE)
           - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)
           AS czz,
         CAST(sxz AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)
           AS cxz
  FROM agg
),
m AS MATERIALIZED (
  SELECT event_type, n,
         CASE WHEN cxx > 0 THEN cxz / cxx END AS gamma,
         CASE WHEN cxx > 0 AND cxx * czz - cxz * cxz > 0 THEN
           cxz * cxz * (CAST(n AS DOUBLE) - 2) / (cxx * czz - cxz * cxz)
         END AS t2
  FROM c
)
SELECT event_type, n AS n_days, gamma,
       CASE WHEN t2 IS NOT NULL THEN
         CASE WHEN gamma < 0 THEN -sqrt(t2) ELSE sqrt(t2) END END AS t_stat,
       (gamma < 0 AND t2 > {2.86 * 2.86!r}) AS stationary_5pct
FROM m
ORDER BY event_type
"""


def events_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL autocorrelation of daily value volume at lags 1-3 via
    Durbin-Levinson over the exact ACF — the AR-order diagnostic that
    separates direct lag effects from propagated ones (PACF cutoff
    picks AR(p); the companion to events_acf's raw persistence view).

    Exactness: r1-r3 come from the ACF's decimal big-power-sum route
    (bit-identical both engines); the Durbin-Levinson recursion is
    float-of-float composition, so each stage materializes before the
    next references it — staged .select here, chained MATERIALIZED
    CTEs in DuckDB (the ICC lesson: inlined big trees drift 1 ulp).
    Scale: the ACF frames plus a 5-row recursion."""
    daily = _daily_cents(spark, sf_dir)
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    dev = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        (F.col("n") * F.col("y") - F.col("s"))
        .cast("decimal(18,0)")
        .alias("dev"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den_dec")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("long").alias("lag"))
    a = dev.select("event_type", "d", F.col("dev").alias("dev_a"))
    b = dev.select(
        "event_type", F.col("d").alias("db"), F.col("dev").alias("dev_b")
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b.withColumnRenamed("event_type", "et_b"),
            (a.event_type == F.col("et_b"))
            & (F.col("db") == a.d + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("dev_a") * F.col("dev_b")).alias("num_dec"))
    )
    d2d = lambda c: c.cast("string").cast("double")  # noqa: E731
    acf = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        F.when(
            d2d(F.col("den_dec")) > 0,
            d2d(F.col("num_dec")) / d2d(F.col("den_dec")),
        ).alias("r"),
    )
    rrow = acf.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in (1, 2, 3)
        ]
    )
    s1 = rrow.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        F.when(
            (1 - F.col("r1") * F.col("r1")) != 0,
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (1 - F.col("r1") * F.col("r1")),
        ).alias("phi22"),
    )
    s2 = s1.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        "phi22",
        (F.col("r1") * (1 - F.col("phi22"))).alias("phi21"),
    )
    return s2.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        F.col("r1").alias("pacf1"),
        F.col("phi22").alias("pacf2"),
        F.when(
            (
                1
                - F.col("phi21") * F.col("r1")
                - F.col("phi22") * F.col("r2")
            )
            != 0,
            (
                F.col("r3")
                - F.col("phi21") * F.col("r2")
                - F.col("phi22") * F.col("r1")
            )
            / (
                1
                - F.col("phi21") * F.col("r1")
                - F.col("phi22") * F.col("r2")
            ),
        ).alias("pacf3"),
    ).orderBy("event_type")


EVENTS_PACF_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT d.event_type, d.d,
         CAST(t.n * d.y - t.s AS DECIMAL(18,0)) AS dev
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
den AS (
  SELECT event_type, SUM(dev * dev) AS den_dec
  FROM dev GROUP BY event_type
),
num AS (
  SELECT a.event_type, l.lag, SUM(a.dev * b.dev) AS num_dec
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS lag) l
  JOIN dev b ON b.event_type = a.event_type AND b.d = a.d + l.lag
  GROUP BY a.event_type, l.lag
),
acf AS (
  SELECT n.event_type, n.lag,
         CASE WHEN CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) > 0 THEN
           CAST(CAST(n.num_dec AS VARCHAR) AS DOUBLE)
           / CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) END AS r
  FROM num n JOIN den d ON d.event_type = n.event_type
),
rrow AS MATERIALIZED (
  SELECT event_type,
         MAX(CASE WHEN lag = 1 THEN r END) AS r1,
         MAX(CASE WHEN lag = 2 THEN r END) AS r2,
         MAX(CASE WHEN lag = 3 THEN r END) AS r3
  FROM acf GROUP BY event_type
),
s1 AS MATERIALIZED (
  SELECT event_type, r1, r2, r3,
         CASE WHEN (1 - r1 * r1) <> 0
              THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS phi22
  FROM rrow
),
s2 AS MATERIALIZED (
  SELECT event_type, r1, r2, r3, phi22,
         r1 * (1 - phi22) AS phi21
  FROM s1
)
SELECT event_type, r1, r2, r3,
       r1 AS pacf1,
       phi22 AS pacf2,
       CASE WHEN (1 - phi21 * r1 - phi22 * r2) <> 0 THEN
         (r3 - phi21 * r2 - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2)
       END AS pacf3
FROM s2
ORDER BY event_type
"""


def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test per event type: is the daily series
    white noise, or is there autocorrelation at ANY of lags 1-7?
    Q = n(n+2) Σ r_k²/(n−k) vs the χ²(7) 5% critical value — the
    closer of the time-series diagnostic suite (ACF: raw persistence;
    PACF: AR order; ADF: unit root; Ljung-Box: any structure at all).

    Exactness: r_k come from the ACF's decimal big-power-sum route
    (bit-identical); each r_k²/(n−k) term is one shared float
    expression quantized onto the 2^-40 grid before the 7-term int64
    sum (floats over parallel rows are not order-free even at 7 rows);
    Q and the flag are one final composition vs the embedded critical
    literal. Scale: the ACF frames plus a 7-row rollup."""
    daily = _daily_cents(spark, sf_dir)
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    dev = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        (F.col("n") * F.col("y") - F.col("s"))
        .cast("decimal(18,0)")
        .alias("dev"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den_dec"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = dev.select("event_type", "d", F.col("dev").alias("dev_a"))
    b = dev.select(
        "event_type", F.col("d").alias("db"), F.col("dev").alias("dev_b")
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b.withColumnRenamed("event_type", "et_b"),
            (a.event_type == F.col("et_b"))
            & (F.col("db") == a.d + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("dev_a") * F.col("dev_b")).alias("num_dec"))
    )
    d2d = lambda c: c.cast("string").cast("double")  # noqa: E731
    grid40 = float(1 << 40)
    r = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n_days",
        F.when(
            d2d(F.col("den_dec")) > 0,
            d2d(F.col("num_dec")) / d2d(F.col("den_dec")),
        ).alias("rk"),
    )
    term = on_grid(
        F.col("rk")
        * F.col("rk")
        / (F.col("n_days") - F.col("lag")).cast("double"),
        grid40,
    )
    agg = r.where(F.col("rk").isNotNull()).groupBy(
        "event_type", "n_days"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lags"),
        F.sum(term).cast("long").alias("t_q"),
    )
    nd = F.col("n_days").cast("double")
    q = nd * (nd + 2) * F.col("t_q").cast("double") / F.lit(grid40)
    crit = F.lit(14.067140449340169)  # chi2 0.95, df=7
    return agg.select(
        "event_type",
        "n_days",
        "n_lags",
        q.alias("q_stat"),
        (q > crit).alias("autocorrelated_5pct"),
    ).orderBy("event_type")


EVENTS_LJUNG_BOX_SQL = f"""
WITH daily AS ({_DAILY_CENTS}),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s
  FROM daily GROUP BY event_type
),
dev AS MATERIALIZED (
  SELECT d.event_type, d.d,
         CAST(t.n * d.y - t.s AS DECIMAL(18,0)) AS dev
  FROM daily d JOIN tot t ON t.event_type = d.event_type
),
den AS (
  SELECT event_type, SUM(dev * dev) AS den_dec,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dev GROUP BY event_type
),
num AS (
  SELECT a.event_type, l.lag, SUM(a.dev * b.dev) AS num_dec
  FROM dev a
  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
  JOIN dev b ON b.event_type = a.event_type AND b.d = a.d + l.lag
  GROUP BY a.event_type, l.lag
),
r AS (
  SELECT n.event_type, n.lag, d.n_days,
         CASE WHEN CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) > 0 THEN
           CAST(CAST(n.num_dec AS VARCHAR) AS DOUBLE)
           / CAST(CAST(d.den_dec AS VARCHAR) AS DOUBLE) END AS rk
  FROM num n JOIN den d ON d.event_type = n.event_type
),
agg AS (
  SELECT event_type, n_days,
         CAST(COUNT(*) AS BIGINT) AS n_lags,
         CAST(SUM(CAST(FLOOR(rk * rk
             / CAST(n_days - lag AS DOUBLE) * {float(1 << 40)!r} + 0.5)
             AS BIGINT)) AS BIGINT) AS t_q
  FROM r WHERE rk IS NOT NULL
  GROUP BY event_type, n_days
)
SELECT event_type, n_days, n_lags,
       CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2)
         * CAST(t_q AS DOUBLE) / {float(1 << 40)!r} AS q_stat,
       (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2)
         * CAST(t_q AS DOUBLE) / {float(1 << 40)!r})
         > 14.067140449340169 AS autocorrelated_5pct
FROM agg
ORDER BY event_type
"""


QUERIES = {
    "events_adf": events_adf,
    "events_pacf": events_pacf,
    "events_ljung_box": events_ljung_box,
    "events_mannwhitney": events_mannwhitney,
    "events_ks_2samp": events_ks_2samp,
    "events_chi2_independence": events_chi2_independence,
    "events_runs_test": events_runs_test,
    "sql_gini_revenue": sql_gini_revenue,
    "sql_pareto_abc": sql_pareto_abc,
    "events_hits": events_hits,
    "events_itemsets3": events_itemsets3,
    "text_ngram_novelty": text_ngram_novelty,
    "sql_copurchase_communities": sql_copurchase_communities,
    "sql_copurchase_reach": sql_copurchase_reach,
    "events_mann_kendall": events_mann_kendall,
    "events_trend_ols": events_trend_ols,
    "text_kappa_langid": text_kappa_langid,
    "events_mutual_information": events_mutual_information,
    "events_bootstrap_ci": events_bootstrap_ci,
    "corpus_split_stratified": corpus_split_stratified,
    "corpus_cross_source_leak": corpus_cross_source_leak,
    "sql_monthly_growth": sql_monthly_growth,
    "events_trimmed_mean": events_trimmed_mean,
    "simsearch_knn_eval": simsearch_knn_eval,
    "events_funnel_significance": events_funnel_significance,
    "events_changepoint": events_changepoint,
    "events_acf": events_acf,
    "events_anova": events_anova,
    "events_brown_forsythe": events_brown_forsythe,
    "events_qq_drift": events_qq_drift,
    "events_burst_hours": events_burst_hours,
    "text_pmi_pairs": text_pmi_pairs,
    "simsearch_range_search": simsearch_range_search,
    "events_pit_enrich": events_pit_enrich,
    "simsearch_mmr": simsearch_mmr,
    "simsearch_rrf": simsearch_rrf,
    "sql_copurchase_modularity": sql_copurchase_modularity,
    "events_holt_winters": events_holt_winters,
    "sql_region_share": sql_region_share,
    "sql_supplier_hhi": sql_supplier_hhi,
    "multimodal_entropy": multimodal_entropy,
}

ORACLES = {
    "events_mannwhitney": ST.MANNWHITNEY_SQL,
    "events_ks_2samp": ST.ks_2samp_sql("click", "purchase"),
    "events_chi2_independence": ST.CHI2_INDEPENDENCE_SQL,
    "events_runs_test": ST.RUNS_TEST_SQL,
    "sql_gini_revenue": SQL_GINI_REVENUE_SQL,
    "sql_pareto_abc": SQL_PARETO_ABC_SQL,
    "events_hits": _events_hits_sql(),
    "events_itemsets3": EVENTS_ITEMSETS3_SQL,
    "text_ngram_novelty": TEXT_NGRAM_NOVELTY_SQL,
    "sql_copurchase_communities": _sql_copurchase_communities_sql(),
    "sql_copurchase_reach": _sql_copurchase_reach_sql(),
    "events_mann_kendall": EVENTS_MANN_KENDALL_SQL,
    "events_trend_ols": EVENTS_TREND_OLS_SQL,
    "text_kappa_langid": _text_kappa_langid_sql(),
    "events_mutual_information": EVENTS_MI_SQL,
    "events_bootstrap_ci": EVENTS_BOOTSTRAP_SQL,
    "events_adf": EVENTS_ADF_SQL,
    "events_pacf": EVENTS_PACF_SQL,
    "events_ljung_box": EVENTS_LJUNG_BOX_SQL,
    "corpus_split_stratified": CORPUS_SPLIT_SQL,
    "corpus_cross_source_leak": CORPUS_LEAK_SQL,
    "sql_monthly_growth": SQL_MONTHLY_GROWTH_SQL,
    "events_trimmed_mean": EVENTS_TRIMMED_MEAN_SQL,
    "simsearch_knn_eval": _simsearch_knn_eval_sql(),
    "events_funnel_significance": _events_funnel_significance_sql(),
    "events_changepoint": EVENTS_CHANGEPOINT_SQL,
    "events_acf": EVENTS_ACF_SQL,
    "events_anova": ST.ANOVA_SQL,
    "events_brown_forsythe": ST.BROWN_FORSYTHE_SQL,
    "events_qq_drift": EVENTS_QQ_DRIFT_SQL,
    "events_burst_hours": EVENTS_BURST_SQL,
    "text_pmi_pairs": TEXT_PMI_SQL,
    "simsearch_range_search": _simsearch_range_search_sql(),
    "events_pit_enrich": EVENTS_PIT_SQL,
    "simsearch_mmr": _simsearch_mmr_sql(),
    "simsearch_rrf": _simsearch_rrf_sql(),
    "sql_copurchase_modularity": _sql_copurchase_modularity_sql(),
    "events_holt_winters": _hw_sql(),
    "sql_region_share": SQL_REGION_SHARE_SQL,
    "sql_supplier_hhi": SQL_SUPPLIER_HHI_SQL,
    "multimodal_entropy": MULTIMODAL_ENTROPY_SQL,
}

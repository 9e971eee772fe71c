"""Order analytics over the TPC-H tables: the ``sql_*`` queries beyond
the relational core.

- the directed repeat-purchase part graph (``_repeat_edges``, oracle
  ``_REPEAT_EDGES_CTE``), one shared pass behind its HITS, PageRank,
  reciprocity, degree-imbalance and funnel-path queries
- co-purchase reads: basket rules, edge Jaccard, rich-club
  coefficient
- concentration and inequality: Theil index, Lorenz deciles, CR4, HHI
  trend
- pricing and supply chain: Fisher price index, price-ladder gaps,
  discount elasticity and ANOVA, bullwhip ratio, backlog aging, monthly
  fill rate, nation trade balance, supplier overlap
- customer and revenue dynamics: inter-order gap dispersion, rank
  momentum, seasonal index, priority trend, balance/spend correlation,
  Shapley attribution, new vs returning revenue, revenue bridge,
  difference-in-differences promo uplift, growth streaks, return rate
  by brand

Exactness contract: the grid contract of ``operators/stats.py`` (money
on the cent grid, float partials on the 2^-20 grid, int64 folds, one
final float expression per result in the oracle's op order); money is
otherwise staged through exact decimals. Transcendentals other
than sqrt go through the libm twin (``functions/libm.py``). Binning
uses integer division on both engines, because DuckDB rounds a
double-to-BIGINT cast where Spark truncates. Possibly-zero
denominators are guarded structurally on both engines. The reference's
scope ends at fixed-threshold detection (AD.java:200); this family is
beyond-reference by design (SURVEY.md §2 extension family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table
from ..operators.stats import Q20, cents, centered, half_up, moments, on_grid


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
    from ..operators.graph import hits_ctes

    edges_cte = _REPEAT_EDGES_CTE
    return f"""
{hits_ctes(edges_cte, iters=4)}
SELECT a.node,
       CAST(a.a AS DOUBLE) / {float(Q20)!r} AS authority,
       CAST(h.h AS DOUBLE) / {float(Q20)!r} AS hub
FROM a4 a JOIN h4 h ON h.node = a.node
ORDER BY authority DESC, a.node LIMIT 100
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


# ------------------------------------------- repeat-purchase pagerank


def sql_repeat_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the DIRECTED repeat-purchase graph (the
    HITS sibling, VERDICT r7 #5 follow-through): which parts accumulate
    purchase-sequence mass when earlier-order parts vote for next-order
    parts. |V| = part catalog (data-scaled) so ``broadcast_scores=False``
    — per round one keyed shuffle join + one dst-keyed agg, no |V|
    broadcast. Edge frame comes from the shared session checkpoint
    (_repeat_edges), so after any other repeat-graph query this
    one pays only the 4 rank rounds.

    Exactness: the pagerank operator contract (2^-30 integer grid,
    oracle unrolls the same 4 rounds); top-100 by exact int rank with
    node tiebreak."""
    from ..operators.graph import pagerank

    ranks = pagerank(
        _repeat_edges(spark, sf_dir), iters=4, broadcast_scores=False
    )
    return ranks.orderBy(F.col("rank").desc(), "node").limit(100)


def _sql_repeat_pagerank_sql() -> str:
    from ..operators.graph import RSCALE, pagerank_ctes

    return f"""
{pagerank_ctes(_REPEAT_EDGES_CTE, iters=4)}
SELECT node, CAST(r AS DOUBLE) / {float(RSCALE)!r} AS rank FROM pr4
ORDER BY rank DESC, node LIMIT 100
"""


# ---------------------------------------------- graph reciprocity


def sql_repeat_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed repeat-purchase graph: the share of
    edges whose reverse edge also exists (A leads to B and B leads to
    A) — high reciprocity means 'bundle mates', low means genuine
    purchase funnels. One self-join of the cached edge frame on the
    reversed key pair + integer counts; the only float is the final
    division. Scale: edge-frame-sized semi join, support-thresholded."""
    e = _repeat_edges(spark, sf_dir).select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_recip = recip.agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    return n_edges.crossJoin(n_recip).select(
        "n_edges",
        "n_recip",
        (
            F.col("n_recip").cast("double") / F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


def _sql_repeat_reciprocity_sql() -> str:
    return f"""
{_REPEAT_EDGES_CTE},
recip AS (
  SELECT e.src, e.dst FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r
                WHERE r.src = e.dst AND r.dst = e.src)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM recip) AS n_recip,
       CAST((SELECT COUNT(*) FROM recip) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM edges) AS DOUBLE) AS reciprocity
"""


# ------------------------------------------ weighted degree imbalance


def sql_repeat_degree_imbalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 parts by |weighted out-degree − weighted in-degree| on
    the repeat-purchase graph: large positive imbalance = gateway
    products (lead to future purchases but aren't led to), negative =
    terminal purchases. Two keyed int sums over the cached edge frame
    + a full-outer merge; all integers until the report."""
    e = _repeat_edges(spark, sf_dir)
    outd = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("long").alias("w_out")
    )
    ind = e.groupBy(F.col("dst").alias("node")).agg(
        F.sum("w").cast("long").alias("w_in")
    )
    merged = (
        outd.join(ind, "node", "full_outer")
        .select(
            "node",
            F.coalesce(F.col("w_out"), F.lit(0)).cast("long").alias("w_out"),
            F.coalesce(F.col("w_in"), F.lit(0)).cast("long").alias("w_in"),
        )
        .withColumn(
            "imbalance", (F.col("w_out") - F.col("w_in")).cast("long")
        )
    )
    return merged.orderBy(
        F.abs(F.col("imbalance")).desc(), F.col("node").asc()
    ).limit(20)


def _sql_repeat_degree_imbalance_sql() -> str:
    return f"""
{_REPEAT_EDGES_CTE},
outd AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS w_out
         FROM edges GROUP BY src),
ind AS (SELECT dst AS node, CAST(SUM(w) AS BIGINT) AS w_in
        FROM edges GROUP BY dst),
merged AS (
  SELECT COALESCE(o.node, i.node) AS node,
         CAST(COALESCE(o.w_out, 0) AS BIGINT) AS w_out,
         CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_in
  FROM outd o FULL OUTER JOIN ind i ON i.node = o.node
)
SELECT node, w_out, w_in,
       CAST(w_out - w_in AS BIGINT) AS imbalance
FROM merged
ORDER BY abs(w_out - w_in) DESC, node ASC
LIMIT 20
"""


# ------------------------------------------- nation trade balance


def sql_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation TRADE BALANCE: revenue earned by the nation's
    suppliers (exports) minus revenue spent by the nation's customers
    (imports) over all lineitems, with the net balance. Two keyed
    join+agg passes over lineitem (supplier side and customer side),
    decimal-staged sums (exact, partition-order-free), broadcast
    nation; the subtraction happens on the decimal grid so the double
    conversion is one final cast per column."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("rev_dec"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    exports = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("rev_dec").alias("exp_dec"))
    )
    imports = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("rev_dec").alias("imp_dec"))
    )
    return (
        exports.join(imports, "n_name", "full_outer")
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("exp_dec"), F.lit(0).cast("decimal(28,4)"))
            .cast("string")
            .cast("double")
            .alias("exports"),
            F.coalesce(F.col("imp_dec"), F.lit(0).cast("decimal(28,4)"))
            .cast("string")
            .cast("double")
            .alias("imports"),
            (
                F.coalesce(F.col("exp_dec"), F.lit(0).cast("decimal(28,4)"))
                - F.coalesce(F.col("imp_dec"), F.lit(0).cast("decimal(28,4)"))
            )
            .cast("string")
            .cast("double")
            .alias("balance"),
        )
        .orderBy("nation")
    )


SQL_NATION_TRADE_BALANCE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
           AS rev_dec
  FROM lineitem
),
exports AS (
  SELECT n.n_name, SUM(li.rev_dec) AS exp_dec
  FROM li
  JOIN supplier s ON s.s_suppkey = li.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name
),
imports AS (
  SELECT n.n_name, SUM(li.rev_dec) AS imp_dec
  FROM li
  JOIN orders o ON o.o_orderkey = li.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
)
SELECT COALESCE(e.n_name, i.n_name) AS nation,
       CAST(CAST(COALESCE(e.exp_dec, 0) AS DECIMAL(28,4)) AS VARCHAR)::DOUBLE
         AS exports,
       CAST(CAST(COALESCE(i.imp_dec, 0) AS DECIMAL(28,4)) AS VARCHAR)::DOUBLE
         AS imports,
       CAST(CAST(COALESCE(e.exp_dec, 0) - COALESCE(i.imp_dec, 0)
                 AS DECIMAL(28,4)) AS VARCHAR)::DOUBLE AS balance
FROM exports e FULL OUTER JOIN imports i ON i.n_name = e.n_name
ORDER BY nation
"""


# -------------------------------------- customer inter-order gap CV


def sql_customer_gap_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap dispersion per market segment: day gaps between
    a customer's consecutive orders (LEAD window, integer days),
    aggregated per segment into n, mean, and coefficient of variation —
    the reorder-regularity signal replenishment models key on.

    Exactness: gaps are exact integers; per-segment int64 sums (s, q);
    mean = s/n and var = q/n − (s/n)² composed by the SAME float
    expression text both engines (the no-overflow variance recipe);
    cv = sqrt(var)/mean — sqrt is correctly rounded everywhere. Scale:
    one per-customer window over the orders table + one segment agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("nxt", F.lead("o_orderdate").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("nxt"), F.col("o_orderdate"))
            .cast("long")
            .alias("gap"),
        )
    )
    per_seg = (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            *moments("n", s="gap", q=("gap", "gap")),
        )
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = (
        F.col("q").cast("double") / F.col("n").cast("double")
        - (F.col("s").cast("double") / F.col("n").cast("double"))
        * (F.col("s").cast("double") / F.col("n").cast("double"))
    )
    return per_seg.select(
        F.col("c_mktsegment").alias("segment"),
        "n",
        mean.alias("mean_gap_days"),
        (F.sqrt(var) / mean).alias("cv"),
    ).orderBy("segment")


SQL_CUSTOMER_GAP_CV = """
WITH seq AS (
  SELECT o_custkey,
         date_diff('day', o_orderdate,
                   LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey))
           AS gap
  FROM orders
),
gaps AS (SELECT o_custkey, CAST(gap AS BIGINT) AS gap
         FROM seq WHERE gap IS NOT NULL),
per_seg AS (
  SELECT c.c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(g.gap) AS BIGINT) AS s,
         CAST(SUM(g.gap * g.gap) AS BIGINT) AS q
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  GROUP BY c.c_mktsegment
)
SELECT c_mktsegment AS segment, n,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_days,
       sqrt(CAST(q AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS cv
FROM per_seg
ORDER BY segment
"""


# ---------------------------------------------- monthly rank momentum


def sql_rank_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue RANK MOMENTUM: each brand's revenue rank in the
    last calendar month of lineitem data vs the month before, with the
    rank delta — the 'movers and shakers' merchandising report. Ranks
    are decided on exact integer cents (one float quantize per line,
    identical both engines) with brand tiebreak, so rank values and
    deltas are engine-free integers. Scale: one data-sized (month,
    brand) agg; the ranking windows run on the brand-month frame."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    bm = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate")).alias("m"),
            "p_brand",
        )
        .agg(F.sum(cents).cast("long").alias("rev"))
    )
    months = bm.select("m").distinct().orderBy(F.col("m").desc()).limit(2)
    last2 = bm.join(F.broadcast(months), "m")
    w = Window.partitionBy("m").orderBy(F.col("rev").desc(), F.col("p_brand"))
    # the brand-month frame is tiny (|brands| x 2): one eager checkpoint
    # so the data-sized (month, brand) agg runs ONCE for both branches
    # instead of being re-derived per side (and the last-month scalar is
    # joined in-plan — no driver collect at DataFrame-build time,
    # round-8 review)
    ranked = last2.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    ).localCheckpoint(eager=True)
    mxf = F.broadcast(months.agg(F.max("m").alias("m_last")))
    cur = (
        ranked.crossJoin(mxf)
        .where(F.col("m") == F.col("m_last"))
        .select(
            "p_brand",
            F.col("rnk").alias("rank_last"),
            F.col("rev").alias("rev_last_cents"),
        )
    )
    prev = (
        ranked.crossJoin(mxf)
        .where(F.col("m") != F.col("m_last"))
        .select("p_brand", F.col("rnk").alias("rank_prev"))
    )
    return (
        cur.join(prev, "p_brand", "inner")
        .select(
            F.col("p_brand").alias("brand"),
            "rank_prev",
            "rank_last",
            (F.col("rank_prev") - F.col("rank_last"))
            .cast("long")
            .alias("rank_gain"),
            (F.col("rev_last_cents").cast("double") / F.lit(100.0)).alias(
                "rev_last"
            ),
        )
        .orderBy(F.col("rank_gain").desc(), "brand")
    )


SQL_RANK_MOMENTUM = """
WITH bm AS (
  SELECT date_trunc('month', l_shipdate) AS m, p.p_brand,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY date_trunc('month', l_shipdate), p.p_brand
),
months AS (SELECT DISTINCT m FROM bm ORDER BY m DESC LIMIT 2),
last2 AS (SELECT bm.* FROM bm JOIN months USING (m)),
ranked AS (
  SELECT m, p_brand, rev,
         CAST(ROW_NUMBER() OVER (PARTITION BY m
                                 ORDER BY rev DESC, p_brand) AS BIGINT) AS rnk
  FROM last2
),
mx AS (SELECT MAX(m) AS m_last FROM months)
SELECT c.p_brand AS brand,
       p.rnk AS rank_prev,
       c.rnk AS rank_last,
       CAST(p.rnk - c.rnk AS BIGINT) AS rank_gain,
       CAST(c.rev AS DOUBLE) / 100.0 AS rev_last
FROM ranked c
JOIN mx ON c.m = mx.m_last
JOIN ranked p ON p.p_brand = c.p_brand AND p.m <> c.m
ORDER BY rank_gain DESC, brand
"""


# ------------------------------------------- supplier catalog overlap


def sql_supplier_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by CATALOG JACCARD (shared parts /
    union parts, derived from lineitem since the synthetic schema
    ships no partsupp) — the supplier-redundancy read procurement
    consolidation starts from. Round-11 shape (VERDICT r10 #3: the
    capped⋈capped token self-join was data-quadratic at sf10 — 28x at
    10x — because the 100x-replica corpus drives every posting list
    to the df cap): the containment rewrite's PER-DOC-ARRAY pattern.
    One groupBy(p) builds each part's sorted supplier array (bounded
    by the df cap 64, enforced by the same d>64 cut — size(ss) <= 64
    replaces the anti-join), pair enumeration is an array-bounded
    transform/slice expression over that array (never a data-sized
    self-join; the flattened pairs feed the partial (sa,sb) aggregate
    directly instead of a join build), and per-supplier sizes reduce
    from the exploded capped arrays — the identical multiset of
    capped (s,p) rows. Integer counts; jaccard is one division;
    minimum overlap 2 bounds the pair frame. The per-part frame is
    consumed by both the pair and the size subtrees, so it is
    checkpointed once (the oracle's MATERIALIZED CTE)."""
    sp = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    )
    # collect_set IS the per-part distinct — the (s, p) DISTINCT and the
    # per-part grouping collapse into ONE exchange (the old shape paid
    # a distinct shuffle and then a groupBy(p) shuffle)
    per_part = (
        sp.groupBy("p")
        .agg(F.expr("sort_array(collect_set(s))").alias("ss"))
        .where(F.size("ss") <= 64)
        .localCheckpoint(eager=True)
    )
    sizes = (
        per_part.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # two NATIVE Generates (posexplode + explode(slice(...))) instead of
    # a nested transform/flatten lambda: higher-order functions run
    # interpreted per element, measured 1.55x slower on the identical
    # 8.7M-pair enumeration at sf0.1 (5.21 vs 3.37 s interleaved)
    shared = (
        per_part.select("ss", F.posexplode("ss").alias("i", "sa"))
        .select(
            "sa",
            F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("sb"),
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= 2)
    )
    na = sizes.select(F.col("s").alias("sa"), F.col("n").alias("na"))
    nb = sizes.select(F.col("s").alias("sb"), F.col("n").alias("nb"))
    return (
        shared.join(na, "sa")
        .join(nb, "sb")
        .select(
            "sa",
            "sb",
            "shared",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "sa", "sb")
        .limit(20)
    )


SQL_SUPPLIER_OVERLAP = """
WITH sp AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
freq AS (SELECT p, COUNT(*) AS d FROM sp GROUP BY p),
capped AS MATERIALIZED (
  SELECT sp.* FROM sp WHERE sp.p NOT IN (SELECT p FROM freq WHERE d > 64)
),
sizes AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM capped GROUP BY s),
shared AS (
  SELECT a.s AS sa, b.s AS sb, CAST(COUNT(*) AS BIGINT) AS shared
  FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s HAVING COUNT(*) >= 2
)
SELECT sa, sb, shared,
       CAST(shared AS DOUBLE) / CAST(na.n + nb.n - shared AS DOUBLE)
         AS jaccard
FROM shared
JOIN sizes na ON na.s = sa
JOIN sizes nb ON nb.s = sb
ORDER BY jaccard DESC, sa, sb
LIMIT 20
"""


# --------------------------------------------- 2-hop purchase funnels


def sql_repeat_funnel_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 TWO-HOP purchase chains src -> mid -> dst on the
    repeat-purchase graph, scored by the bottleneck weight
    LEAST(w1, w2) — the cross-sell sequences a merchandiser would
    stage. One self-join of the session-cached edge frame on the
    middle node (support >= 2 bounds fan-out), integer weights,
    deterministic (score desc, src, mid, dst) top-k heap; trivial
    cycles (dst = src) excluded."""
    e = _repeat_edges(spark, sf_dir)
    e1 = e.select(
        F.col("src"), F.col("dst").alias("mid"), F.col("w").alias("w1")
    )
    e2 = e.select(
        F.col("src").alias("mid"), F.col("dst"), F.col("w").alias("w2")
    )
    return (
        e1.join(e2, "mid")
        .where(F.col("dst") != F.col("src"))
        .select(
            "src",
            "mid",
            "dst",
            "w1",
            "w2",
            F.least(F.col("w1"), F.col("w2")).cast("long").alias("path_w"),
        )
        .orderBy(F.col("path_w").desc(), "src", "mid", "dst")
        .limit(20)
    )


def _sql_repeat_funnel_paths_sql() -> str:
    return f"""
{_REPEAT_EDGES_CTE}
SELECT e1.src, e1.dst AS mid, e2.dst, e1.w AS w1, e2.w AS w2,
       CAST(LEAST(e1.w, e2.w) AS BIGINT) AS path_w
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e2.dst <> e1.src
ORDER BY path_w DESC, e1.src, mid, e2.dst
LIMIT 20
"""


# ------------------------------------------- brand return-rate report


def sql_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURN-RATE by product brand with revenue at risk: per brand the
    line count, returned-line count (l_returnflag = 'R'), the return
    rate, and the decimal-exact returned revenue — the product-quality
    screen merchandising reads next to rank momentum. One broadcast
    part join + one brand agg; integer counts, decimal-staged revenue,
    one division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev_dec = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", rev_dec).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            ).alias("ret_dec"),
        )
    )
    return agg.select(
        F.col("p_brand").alias("brand"),
        "n_lines",
        "n_returned",
        (
            F.col("n_returned").cast("double") / F.col("n_lines").cast("double")
        ).alias("return_rate"),
        F.col("ret_dec").cast("string").cast("double").alias("returned_revenue"),
    ).orderBy(F.col("return_rate").desc(), "brand")


SQL_RETURN_RATE_BY_BRAND = """
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS return_rate,
       CAST(CAST(SUM(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4))
                         - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)
         AS returned_revenue
FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
GROUP BY p.p_brand
ORDER BY return_rate DESC, brand
"""


# ------------------------------------------ classical seasonal index


def sql_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL INDEX of monthly order revenue: the
    ratio-to-centered-moving-average decomposition (the 2x12 MA that
    predates STL) — per calendar month, the mean ratio of actual
    revenue to its 13-month centered average, then normalized so the
    twelve indices average 1. The planning number behind 'August ships
    7% light'.

    Exactness: monthly revenue is exact integer cents (zero-filled
    over the continuous month range); each 2x12 MA denominator
    N_i = c[i-6] + c[i+6] + 2*sum(c[i-5..i+5]) is an int64 fold; each
    ratio divides 24*c_i by N_i once; the per-month mean and the
    normalization are ORDERED folds over month-index-sorted doubles
    (the ewma recipe). Scale: ONE data-sized monthly agg; everything
    after runs on the CALENDAR-bounded month array (80 entries at
    every sf — the bounded-domain contract)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "mi"
        )
    ).agg(
        F.sum(cents("o_totalprice"))
        .cast("long")
        .alias("cents")
    )
    bounds = monthly.agg(
        F.min("mi").alias("mi0"), F.max("mi").alias("mi1")
    )
    months = bounds.select(
        "mi0",
        F.explode(F.sequence(F.col("mi0"), F.col("mi1"))).alias("mi"),
    )
    filled = months.join(monthly, "mi", "left").select(
        "mi0",
        "mi",
        F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("cents"),
    )
    series = filled.groupBy("mi0").agg(
        F.count(F.lit(1)).cast("long").alias("nm"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("mi", "cents"))),
            lambda p: p["cents"],
        ).alias("ys"),
    )
    el = lambda i: F.element_at(F.col("ys"), i)  # noqa: E731
    inner = lambda i: F.aggregate(  # 2*sum of the 11 middles   # noqa: E731
        F.transform(
            F.sequence(i - F.lit(5), i + F.lit(5)), lambda j: el(j)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ratios = series.where(F.col("nm") >= 13).select(
        "mi0",
        "nm",
        F.filter(
            F.transform(
                F.sequence(F.lit(7), (F.col("nm") - 6).cast("int")),
                lambda i: F.struct(
                    (
                        (
                            (F.col("mi0") + i.cast("long") - 1) % 12
                        )
                        + 1
                    ).alias("moy"),
                    i.cast("long").alias("i"),
                    F.when(
                        el(i - F.lit(6))
                        + el(i + F.lit(6))
                        + 2 * inner(i)
                        > 0,
                        (el(i) * 24).cast("double")
                        / (
                            el(i - F.lit(6))
                            + el(i + F.lit(6))
                            + 2 * inner(i)
                        ).cast("double"),
                    ).alias("r"),
                ),
            ),
            lambda s: s["r"].isNotNull(),
        ).alias("rs"),
    )
    per_moy = (
        ratios.select(F.explode("rs").alias("s"))
        .select(
            F.col("s.moy").alias("month_of_year"),
            F.col("s.i").alias("i"),
            F.col("s.r").alias("r"),
        )
        .groupBy("month_of_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ratios"),
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "r"))),
                        lambda p: p["r"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("index_raw"),
        )
    )
    norm = per_moy.agg(
        F.count(F.lit(1)).cast("long").alias("n_moy"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("month_of_year", "index_raw"))
                ),
                lambda p: p["index_raw"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s_raw"),
    )
    return (
        per_moy.crossJoin(F.broadcast(norm))
        .select(
            "month_of_year",
            "n_ratios",
            "index_raw",
            (
                F.col("index_raw")
                * F.col("n_moy").cast("double")
                / F.col("s_raw")
            ).alias("index_norm"),
        )
        .orderBy("month_of_year")
    )


SQL_SEASONAL_INDEX_SQL = """
WITH monthly AS (
  SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
           AS mi,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
bounds AS (SELECT MIN(mi) AS mi0, MAX(mi) AS mi1 FROM monthly),
months AS (
  SELECT b.mi0, UNNEST(generate_series(b.mi0, b.mi1)) AS mi FROM bounds b
),
filled AS (
  SELECT m.mi0, m.mi, CAST(COALESCE(mo.cents, 0) AS BIGINT) AS cents
  FROM months m LEFT JOIN monthly mo ON mo.mi = m.mi
),
series AS (
  SELECT mi0, CAST(COUNT(*) AS BIGINT) AS nm,
         list(cents ORDER BY mi) AS ys
  FROM filled GROUP BY mi0
),
rat AS (
  SELECT u.s.moy AS month_of_year, u.s.i AS i, u.s.r AS r
  FROM (
    SELECT UNNEST(list_filter(
      list_transform(generate_series(7, CAST(nm AS INTEGER) - 6),
        i -> struct_pack(
          moy := ((mi0 + i - 1) % 12) + 1,
          i := CAST(i AS BIGINT),
          r := CASE WHEN ys[i - 6] + ys[i + 6]
                         + 2 * list_reduce(list_prepend(
                             CAST(0 AS BIGINT),
                             list_transform(generate_series(i - 5, i + 5),
                               j -> ys[j])),
                             (acc, x) -> acc + x) > 0
               THEN CAST(ys[i] * 24 AS DOUBLE)
                    / CAST(ys[i - 6] + ys[i + 6]
                           + 2 * list_reduce(list_prepend(
                               CAST(0 AS BIGINT),
                               list_transform(
                                 generate_series(i - 5, i + 5),
                                 j -> ys[j])),
                               (acc, x) -> acc + x) AS DOUBLE)
               END)),
      s -> s.r IS NOT NULL)) AS s
    FROM series WHERE nm >= 13
  ) u
),
per_moy AS (
  SELECT month_of_year, CAST(COUNT(*) AS BIGINT) AS n_ratios,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(r ORDER BY i)), (acc, x) -> acc + x)
           / CAST(COUNT(*) AS DOUBLE) AS index_raw
  FROM rat GROUP BY month_of_year
),
norm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_moy,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list(index_raw ORDER BY month_of_year)),
           (acc, x) -> acc + x) AS s_raw
  FROM per_moy
)
SELECT month_of_year, n_ratios, index_raw,
       index_raw * CAST(n_moy AS DOUBLE) / s_raw AS index_norm
FROM per_moy, norm
ORDER BY month_of_year
"""


# ------------------------------------- edge-Jaccard sparsification


def sql_copurchase_edge_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEIGHBORHOOD-JACCARD histogram of the co-purchase edges — the
    graph-sparsification audit (Satuluri-style local sparsification
    keeps each node's highest-Jaccard edges; this histogram is the
    read that picks the threshold). For edge (x, y):
    J = |N(x) ∩ N(y)| / |N(x) ∪ N(y)| with open neighborhoods (the
    union retains x and y themselves since y ∈ N(x), x ∈ N(y)).

    Exactness: common-neighbor counts come from the triangle-shaped
    two-hop join on the CACHED edge frame; degrees are int64; the
    histogram bin is INTEGER division (10*cn) DIV union — no float
    anywhere. Scale: per-edge fan-out is deg-bounded on the
    support-thresholded graph (the triangles argument); everything
    joins keyed, nothing cartesian."""
    from .relational import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    adj = e.union(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).select(F.col("x").alias("a"), F.col("y").alias("z"))
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    ax = adj.select(F.col("a").alias("x"), "z")
    ay = adj.select(F.col("a").alias("y"), "z")
    cn = (
        e.join(ax, "x")
        .join(ay, ["y", "z"])
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    scored = (
        e.join(cn, ["x", "y"], "left")
        .join(deg.select(F.col("a").alias("x"), F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("a").alias("y"), F.col("deg").alias("dy")), "y")
        .select(
            F.coalesce(F.col("cn"), F.lit(0)).cast("long").alias("cn"),
            (F.col("dx") + F.col("dy")).alias("dsum"),
        )
        .select(
            F.expr("(10 * cn) DIV (dsum - cn)").cast("long").alias("jbin")
        )
    )
    return (
        scored.groupBy("jbin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .orderBy("jbin")
    )


def _sql_copurchase_edge_jaccard_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE

    return f"""
{_COPURCHASE_EDGES_CTE},
adj AS MATERIALIZED (
  SELECT x AS a, y AS z FROM edges
  UNION ALL SELECT y AS a, x AS z FROM edges
),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY a),
cn AS (
  SELECT e.x, e.y, CAST(COUNT(*) AS BIGINT) AS cn
  FROM edges e
  JOIN adj ax ON ax.a = e.x
  JOIN adj ay ON ay.a = e.y AND ay.z = ax.z
  GROUP BY e.x, e.y
),
scored AS (
  SELECT CAST((10 * COALESCE(c.cn, 0))
              // (dx.deg + dy.deg - COALESCE(c.cn, 0)) AS BIGINT) AS jbin
  FROM edges e
  LEFT JOIN cn c ON c.x = e.x AND c.y = e.y
  JOIN deg dx ON dx.a = e.x
  JOIN deg dy ON dy.a = e.y
)
SELECT jbin, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM scored GROUP BY jbin ORDER BY jbin
"""


# ------------------------------------------------------- Theil index


def sql_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T index of order-revenue inequality across customers per
    nation — the decomposable inequality index (unlike gini, national
    Theils aggregate exactly into between/within components), the
    economics companion to sql_gini_revenue over the same base:
    T = (1/n) * sum_i r_i * ln(r_i) with r_i = x_i * n / X.

    Exactness: x_i is exact cents; each ratio composes one exact-int
    product cast once and one correctly-rounded division; ln runs
    through the libm twin (functions/libm.py — bit-matches DuckDB);
    each term quantizes onto the 2^-20 grid BEFORE the per-nation
    int64 sum. ONE final division by 2^20 * n. Scale: one data-sized
    hash agg to the customer dimension; the libm pass is an
    Arrow-vectorized map over the dimension frame."""
    from ..functions.libm import libm_log

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("long")
            .alias("x")
        )
    )
    nat = per_cust.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("x").cast("long").alias("tot"),
    )
    r = (F.col("x").cast("double") * F.col("n_cust").cast("double")) / F.col(
        "tot"
    ).cast("double")
    term = on_grid(r * libm_log(r), float(Q20))
    summed = (
        per_cust.join(F.broadcast(nat), "n_name")
        .select("n_name", "n_cust", term.alias("t"))
        .groupBy("n_name", "n_cust")
        .agg(F.sum("t").cast("long").alias("sq"))
    )
    return summed.select(
        F.col("n_name").alias("nation"),
        F.col("n_cust").alias("n_customers"),
        (
            F.col("sq").cast("double")
            / (F.lit(float(Q20)) * F.col("n_cust").cast("double"))
        ).alias("theil_t"),
    ).orderBy("nation")


SQL_THEIL_INDEX_SQL = f"""
WITH per_cust AS (
  SELECT n.n_name, c.c_custkey,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, c.c_custkey
),
nat AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(x) AS BIGINT) AS tot
  FROM per_cust GROUP BY n_name
),
summed AS (
  SELECT p.n_name, nat.n_cust,
         CAST(SUM(CAST(FLOOR(
             ((CAST(p.x AS DOUBLE) * CAST(nat.n_cust AS DOUBLE))
               / CAST(nat.tot AS DOUBLE))
             * ln((CAST(p.x AS DOUBLE) * CAST(nat.n_cust AS DOUBLE))
                  / CAST(nat.tot AS DOUBLE))
             * {float(Q20)!r} + 0.5) AS BIGINT)) AS BIGINT) AS sq
  FROM per_cust p JOIN nat ON nat.n_name = p.n_name
  GROUP BY p.n_name, nat.n_cust
)
SELECT n_name AS nation, n_cust AS n_customers,
       CAST(sq AS DOUBLE) / ({float(Q20)!r} * CAST(n_cust AS DOUBLE))
         AS theil_t
FROM summed
ORDER BY nation
"""


# --------------------------------------------------- Lorenz deciles


def sql_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE by customer decile: rank buyers by total order
    revenue ascending, cut into 10 equal-count bins, report each bin's
    revenue share and the cumulative share — the curve sql_gini_revenue
    integrates, in the form finance reviews actually read ("the top
    10% of customers carry X% of revenue").

    Exactness: decile assignment is the integer formula
    floor((rank-1)*10/n) over a DETERMINISTIC (revenue, custkey) order
    (no NTILE — engine tie-handling never consulted); shares are exact
    int64 cents with cumulative int64 window sums over the 10-row
    frame, ONE division each. Scale: one data-sized hash agg to the
    customer dimension; the ranking window is dimension-sized (at
    100 TB: a two-pass partition-ranked sort; the decile audit itself
    stays dimension-bounded)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice"))
        .cast("long")
        .alias("x")
    )
    n_tot = per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("tot"),
    )
    w = Window.orderBy(F.asc("x"), F.asc("o_custkey"))
    ranked = per_cust.select(
        "x", (F.row_number().over(w) - 1).cast("long").alias("rk")
    )
    binned = (
        ranked.crossJoin(F.broadcast(n_tot))
        .select(
            # integer DIV both engines: DuckDB CAST(double AS BIGINT)
            # ROUNDS while Spark's cast truncates — never compare there
            F.expr("(rk * 10) DIV n")
            .cast("long")
            .alias("decile"),
            "x",
            "n",
            "tot",
        )
        .groupBy("decile", "n", "tot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("x").cast("long").alias("cents"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        binned.withColumn(
            "cum_cents", F.sum("cents").over(wcum).cast("long")
        )
        .select(
            "decile",
            "n_customers",
            (F.col("cents").cast("double") / F.lit(100.0)).alias(
                "decile_revenue"
            ),
            (
                F.col("cents").cast("double") / F.col("tot").cast("double")
            ).alias("revenue_share"),
            (
                F.col("cum_cents").cast("double")
                / F.col("tot").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


SQL_LORENZ_DECILES_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
),
n_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS tot
  FROM per_cust
),
ranked AS (
  SELECT x,
         CAST(ROW_NUMBER() OVER (ORDER BY x ASC, o_custkey ASC) - 1
              AS BIGINT) AS rk
  FROM per_cust
),
binned AS (
  SELECT CAST((rk * 10) // n AS BIGINT) AS decile, n, tot,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(x) AS BIGINT) AS cents
  FROM ranked CROSS JOIN n_tot
  GROUP BY CAST((rk * 10) // n AS BIGINT), n, tot
)
SELECT decile, n_customers,
       CAST(cents AS DOUBLE) / 100.0 AS decile_revenue,
       CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE) AS revenue_share,
       CAST(CAST(SUM(cents) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
FROM binned
ORDER BY decile
"""


# ------------------------------------------------- rich-club audit


def sql_copurchase_richclub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICH-CLUB coefficient of the co-purchase graph at degree
    thresholds 2/4/8/16: among parts with degree > k, what fraction of
    possible edges exist — "do the hub products interlink, or does the
    catalog star around them?", the top-of-distribution readout the
    global assortativity number blurs.

    Exactness: degrees, qualifying-node counts and club edge counts
    are exact int64 off the SHARED co-purchase edge frame
    (relational._copurchase_edges — session-cached, VERDICT r7 #5);
    phi is ONE division. Scale: degree agg + two keyed joins on the
    support-thresholded edge frame (never data-sized); the threshold
    explode is x4 on the already-bounded frames."""
    from .relational import _copurchase_edges

    ks = [2, 4, 8, 16]
    e = _copurchase_edges(spark, sf_dir).select("x", "y")
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    kdf = spark.createDataFrame(
        [(k,) for k in ks], "k_threshold int"
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(kdf))
        .where(F.col("deg") > F.col("k_threshold"))
        .groupBy("k_threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    edges_k = (
        e.join(deg.withColumnRenamed("node", "x").withColumnRenamed(
            "deg", "dx"
        ), "x")
        .join(
            deg.withColumnRenamed("node", "y").withColumnRenamed(
                "deg", "dy"
            ),
            "y",
        )
        .crossJoin(F.broadcast(kdf))
        .where(
            (F.col("dx") > F.col("k_threshold"))
            & (F.col("dy") > F.col("k_threshold"))
        )
        .groupBy("k_threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        nodes_k.join(edges_k, "k_threshold", "left")
        .select(
            "k_threshold",
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("long")
            .alias("n_edges"),
        )
        .where(F.col("n_nodes") >= 2)
        .withColumn(
            "phi",
            (F.lit(2.0) * F.col("n_edges").cast("double"))
            / (F.col("n_nodes") * (F.col("n_nodes") - 1)).cast("double"),
        )
        .orderBy("k_threshold")
    )


def _sql_copurchase_richclub_sql() -> str:
    from .relational import _COPURCHASE_EDGES_CTE

    return (
        _COPURCHASE_EDGES_CTE
        + """,
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y AS node FROM edges
  ) GROUP BY node
),
ks AS (SELECT unnest([2, 4, 8, 16]) AS k_threshold),
nodes_k AS (
  SELECT ks.k_threshold, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg CROSS JOIN ks WHERE deg.deg > ks.k_threshold
  GROUP BY ks.k_threshold
),
edges_k AS (
  SELECT ks.k_threshold, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM edges e
  JOIN deg dx ON dx.node = e.x
  JOIN deg dy ON dy.node = e.y
  CROSS JOIN ks
  WHERE dx.deg > ks.k_threshold AND dy.deg > ks.k_threshold
  GROUP BY ks.k_threshold
)
SELECT n.k_threshold, n.n_nodes,
       CAST(COALESCE(e.n_edges, 0) AS BIGINT) AS n_edges,
       (2.0 * CAST(COALESCE(e.n_edges, 0) AS DOUBLE))
         / CAST(n.n_nodes * (n.n_nodes - 1) AS DOUBLE) AS phi
FROM nodes_k n LEFT JOIN edges_k e ON e.k_threshold = n.k_threshold
WHERE n.n_nodes >= 2
ORDER BY n.k_threshold
"""
    )


# --------------------------------------------------- CR4 concentration


def sql_cr4_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4 CONCENTRATION RATIO per region: the revenue share of the
    four largest suppliers — the antitrust-style market-structure
    number sql_supplier_hhi summarizes into one index (CR4 reads the
    head directly; regulators quote both).

    Exactness: supplier revenue is exact int64 cents; the top-4 pick
    is a deterministic (revenue DESC, suppkey ASC) row_number; CR4 is
    ONE division. Scale: lineitem collapses to the supplier dimension
    in one hash agg; nation/region dims broadcast; the ranking window
    partitions by region over the supplier-dimension frame."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum(cents).cast("long").alias("rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("r_name", "l_suppkey", "rev")
    )
    w = Window.partitionBy("r_name").orderBy(
        F.desc("rev"), F.asc("l_suppkey")
    )
    ranked = per_supp.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev").cast("long").alias("tot"),
            F.sum(F.when(F.col("rn") <= 4, F.col("rev")).otherwise(0))
            .cast("long")
            .alias("top4"),
        )
        .select(
            F.col("r_name").alias("region"),
            "n_suppliers",
            (F.col("top4").cast("double") / F.lit(100.0)).alias(
                "top4_revenue"
            ),
            (
                F.col("top4").cast("double") / F.col("tot").cast("double")
            ).alias("cr4"),
        )
        .orderBy("region")
    )


SQL_CR4_CONCENTRATION_SQL = """
WITH per_supp AS (
  SELECT r.r_name, li.l_suppkey,
         CAST(SUM(CAST(FLOOR(li.l_extendedprice * (1.0 - li.l_discount)
                             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem li
  JOIN supplier s ON s.s_suppkey = li.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name, li.l_suppkey
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY r_name
                               ORDER BY rev DESC, l_suppkey ASC) AS rn
  FROM per_supp
)
SELECT r_name AS region,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CASE WHEN rn <= 4 THEN rev ELSE 0 END) AS DOUBLE) / 100.0
         AS top4_revenue,
       CAST(SUM(CASE WHEN rn <= 4 THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(SUM(rev) AS DOUBLE) AS cr4
FROM ranked
GROUP BY r_name
ORDER BY region
"""


# ---------------------------------------- Laspeyres / Paasche / Fisher


def sql_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASPEYRES, PAASCHE and FISHER price indices between the first
    and last order year, over parts traded in BOTH — the classical
    "how much did the catalog's price level move" decomposition
    (sql_monthly_growth tracks revenue; these separate price from
    volume).

    Exactness: per-(part, year) quantity and revenue-cents are exact
    int64; base-period value sums (sum p0*q0 = sum rev0, sum p1*q1 =
    sum rev1) are EXACT integers by construction; the two cross terms
    (p1*q0, p0*q1) compose one division + one product per part,
    quantized onto the 2^-20 grid before the int64 fold. Fisher is one
    sqrt of the two ratios. Scale: one data-sized hash agg to the
    (part, year) frame; everything after is part-dimension bounded."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("yr")
    )
    li = load_table(spark, sf_dir, "lineitem")
    qty = half_up(F.col("l_quantity"))
    py = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_partkey", "yr")
        .agg(
            F.sum(qty).cast("long").alias("q"),
            F.sum(cents("l_extendedprice")).cast("long").alias("rev"),
        )
    )
    yrs = py.agg(
        F.min("yr").cast("long").alias("y0"),
        F.max("yr").cast("long").alias("y1"),
    )
    both = (
        py.crossJoin(F.broadcast(yrs))
        .where((F.col("yr") == F.col("y0")) | (F.col("yr") == F.col("y1")))
        .groupBy("l_partkey", "y0", "y1")
        .agg(
            F.sum(F.when(F.col("yr") == F.col("y0"), F.col("q"))).cast(
                "long"
            ).alias("q0"),
            F.sum(F.when(F.col("yr") == F.col("y0"), F.col("rev"))).cast(
                "long"
            ).alias("rev0"),
            F.sum(F.when(F.col("yr") == F.col("y1"), F.col("q"))).cast(
                "long"
            ).alias("q1"),
            F.sum(F.when(F.col("yr") == F.col("y1"), F.col("rev"))).cast(
                "long"
            ).alias("rev1"),
        )
        .where(
            F.col("q0").isNotNull()
            & F.col("q1").isNotNull()
            & (F.col("q0") > 0)
            & (F.col("q1") > 0)
        )
    )
    p0 = F.col("rev0").cast("double") / F.col("q0").cast("double")
    p1 = F.col("rev1").cast("double") / F.col("q1").cast("double")
    t10 = on_grid(p1 * F.col("q0").cast("double"), float(Q20))
    t01 = on_grid(p0 * F.col("q1").cast("double"), float(Q20))
    agg = both.groupBy("y0", "y1").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev0").cast("long").alias("v00"),
        F.sum("rev1").cast("long").alias("v11"),
        F.sum(t10).cast("long").alias("v10q"),
        F.sum(t01).cast("long").alias("v01q"),
    )
    lasp = (F.col("v10q").cast("double") / F.lit(float(Q20))) / F.col(
        "v00"
    ).cast("double")
    paas = F.col("v11").cast("double") / (
        F.col("v01q").cast("double") / F.lit(float(Q20))
    )
    return agg.select(
        F.col("y0").alias("base_year"),
        F.col("y1").alias("compare_year"),
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    )


SQL_PRICE_INDEX_FISHER_SQL = f"""
WITH py AS (
  SELECT l.l_partkey, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
           AS q,
         CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_partkey, CAST(year(o.o_orderdate) AS BIGINT)
),
yrs AS (
  SELECT CAST(MIN(yr) AS BIGINT) AS y0, CAST(MAX(yr) AS BIGINT) AS y1
  FROM py
),
common_parts AS (
  SELECT l_partkey, y0, y1,
         CAST(SUM(CASE WHEN yr = y0 THEN q END) AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN yr = y0 THEN rev END) AS BIGINT) AS rev0,
         CAST(SUM(CASE WHEN yr = y1 THEN q END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN yr = y1 THEN rev END) AS BIGINT) AS rev1
  FROM py CROSS JOIN yrs
  WHERE yr = y0 OR yr = y1
  GROUP BY l_partkey, y0, y1
  HAVING SUM(CASE WHEN yr = y0 THEN q END) > 0
     AND SUM(CASE WHEN yr = y1 THEN q END) > 0
),
agg AS (
  SELECT y0, y1, CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(rev0) AS BIGINT) AS v00,
         CAST(SUM(rev1) AS BIGINT) AS v11,
         CAST(SUM(CAST(FLOOR(
             (CAST(rev1 AS DOUBLE) / CAST(q1 AS DOUBLE))
             * CAST(q0 AS DOUBLE) * {float(Q20)!r} + 0.5) AS BIGINT))
           AS BIGINT) AS v10q,
         CAST(SUM(CAST(FLOOR(
             (CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE))
             * CAST(q1 AS DOUBLE) * {float(Q20)!r} + 0.5) AS BIGINT))
           AS BIGINT) AS v01q
  FROM common_parts GROUP BY y0, y1
)
SELECT y0 AS base_year, y1 AS compare_year, n_parts,
       (CAST(v10q AS DOUBLE) / {float(Q20)!r}) / CAST(v00 AS DOUBLE)
         AS laspeyres,
       CAST(v11 AS DOUBLE) / (CAST(v01q AS DOUBLE) / {float(Q20)!r})
         AS paasche,
       sqrt(((CAST(v10q AS DOUBLE) / {float(Q20)!r})
             / CAST(v00 AS DOUBLE))
            * (CAST(v11 AS DOUBLE)
               / (CAST(v01q AS DOUBLE) / {float(Q20)!r}))) AS fisher
FROM agg
"""


# ------------------------------------- Cochran-Armitage trend test


def sql_priority_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE trend test: does the share of URGENT/HIGH
    priority orders drift monotonically across calendar years? The
    ordered-categories companion to a plain chi-square — years carry
    integer scores, so a monotone mix shift shows up as trend, not
    just heterogeneity.

    Exactness: per-year totals n_i, successes x_i and CENTERED scores
    w_i = year - min_year are exact int64 (centering keeps every
    sufficient statistic < 2^53 at any sf, so the double casts are
    exact); z composes once from the six statistics in the SAME op
    order both engines (the welch_t staging recipe), one sqrt. The
    degenerate frames where var = 0 — a single observed order-year, or
    urgent share exactly 0 or 1 — are filtered structurally in INTEGER
    form on BOTH engines (n_years > 1 AND 0 < xx < nn; with centered
    integer scores and n_years > 1 the score variance term is strictly
    positive), so ANSI Spark never divides by zero (ADVICE r8). Scale:
    one hash agg to the |years| frame."""
    o = load_table(spark, sf_dir, "orders")
    yr = o.select(
        F.year("o_orderdate").cast("long").alias("y"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("is_urgent"),
    )
    y0 = yr.agg(F.min("y").alias("y0"))
    per_year = (
        yr.crossJoin(F.broadcast(y0))
        .select((F.col("y") - F.col("y0")).alias("w"), "is_urgent")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_urgent").cast("long").alias("x"),
        )
    )
    agg = per_year.agg(
        *moments(
            "n_years", nn="n", xx="x", sxw=("x", "w"), snw=("n", "w"),
            snww=("n", "w", "w"),
        ),
    )
    agg = agg.where(
        (F.col("n_years") > 1)
        & (F.col("xx") > 0)
        & (F.col("xx") < F.col("nn"))
    )
    nn = F.col("nn").cast("double")
    xx = F.col("xx").cast("double")
    pbar = xx / nn
    num = F.col("sxw").cast("double") - pbar * F.col("snw").cast("double")
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("snww").cast("double")
            - (
                F.col("snw").cast("double")
                * F.col("snw").cast("double")
            )
            / nn
        )
    )
    return agg.select(
        "n_years",
        F.col("nn").alias("n_orders"),
        pbar.alias("urgent_share"),
        (num / F.sqrt(var)).alias("ca_z"),
    )


SQL_PRIORITY_TREND_SQL = """
WITH yr AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END AS BIGINT) AS is_urgent
  FROM orders
),
y0 AS (SELECT MIN(y) AS y0 FROM yr),
per_year AS (
  SELECT yr.y - y0.y0 AS w,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(is_urgent) AS BIGINT) AS x
  FROM yr CROSS JOIN y0
  GROUP BY yr.y - y0.y0
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_years,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(x) AS BIGINT) AS xx,
         CAST(SUM(x * w) AS BIGINT) AS sxw,
         CAST(SUM(n * w) AS BIGINT) AS snw,
         CAST(SUM(n * w * w) AS BIGINT) AS snww
  FROM per_year
)
SELECT n_years, nn AS n_orders,
       CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE) AS urgent_share,
       (CAST(sxw AS DOUBLE)
        - (CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
          * CAST(snw AS DOUBLE))
         / sqrt((CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
                * (1.0 - CAST(xx AS DOUBLE) / CAST(nn AS DOUBLE))
                * (CAST(snww AS DOUBLE)
                   - (CAST(snw AS DOUBLE) * CAST(snw AS DOUBLE))
                     / CAST(nn AS DOUBLE))) AS ca_z
FROM agg
WHERE n_years > 1 AND xx > 0 AND xx < nn
"""


# -------------------------------------------- acctbal/spend Pearson


def sql_acctbal_spend_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON correlation between a customer's account balance and
    their total order spend, per market segment — the CRM sanity
    check ("does the balance field carry any signal about actual
    spend?") behind segment-level credit policies.

    Exactness: balances and spend quantize to WHOLE DOLLARS (the
    operator's documented grid — cents squared overflow int64 sums on
    big segments; dollars keep sum-of-squares exact through ~sf100,
    and r is grid-invariant up to the shared quantization); all
    five sufficient statistics are int64 hash-agg sums; r composes
    once as (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy -
    Sy^2)) over identically-cast doubles (int64 cross products stay
    exact in double through the customer dimension; the series-
    similarity recipe), with a structural zero-variance guard. Scale:
    orders collapse to the customer dimension in one hash agg; the
    stats agg is segment-keyed."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = o.groupBy("o_custkey").agg(
        F.sum(half_up(F.col("o_totalprice")))
        .cast("long")
        .alias("y")
    )
    j = c.select(
        "c_custkey",
        "c_mktsegment",
        half_up(F.col("c_acctbal")).alias("x"),
    ).join(spend, F.col("c_custkey") == spend.o_custkey)
    agg = j.groupBy("c_mktsegment").agg(
        *moments("n", sx="x", sy="y", sxx=("x", "x"), syy=("y", "y"), sxy=("x", "y")),
    )
    vx = F.col("n").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    vy = F.col("n").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    return (
        agg.where((vx > 0) & (vy > 0))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n").alias("n_customers"),
            (num / (F.sqrt(vx) * F.sqrt(vy))).alias("pearson_r"),
        )
        .orderBy("segment")
    )


SQL_ACCTBAL_SPEND_CORR_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT c.c_mktsegment,
         CAST(FLOOR(c.c_acctbal + 0.5) AS BIGINT) AS x,
         s.y
  FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
),
agg AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM j GROUP BY c_mktsegment
)
SELECT c_mktsegment AS segment, n AS n_customers,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS pearson_r
FROM agg
WHERE CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
ORDER BY segment
"""


# ------------------------------------------ new vs returning split


def sql_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW vs RETURNING revenue split per calendar month — the growth
    dashboard's first row ("is this month's revenue acquisition or
    retention?"). An order is NEW when its month equals the customer's
    first-ever order month (every first-month order counts as new),
    RETURNING otherwise.

    Exactness: months are integer year*100+month; the first month per
    customer is an integer MIN; revenue is exact int64 cents; the
    share is ONE division. Scale: the first-month frame comes from a
    MIN window over (o_custkey) — ONE custkey shuffle of the fact
    table, with per-customer partitions key-bounded (orders per
    customer is small at any sf) — then one (month) hash agg. The
    round-9 sf1 spot-run measured this against the agg+join-back
    formulation (two fact-table shuffles): 7.6 s -> 1.8 s at sf1."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym"),
        cents("o_totalprice").alias("cents"),
    )
    j = o.withColumn(
        "first_ym", F.min("ym").over(Window.partitionBy("o_custkey"))
    ).withColumn(
        "is_new", (F.col("ym") == F.col("first_ym")).cast("int")
    )
    agg = j.groupBy("ym").agg(
        F.sum("is_new").cast("long").alias("n_new_orders"),
        F.sum(1 - F.col("is_new")).cast("long").alias("n_returning_orders"),
        F.sum(F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("new_cents"),
        F.sum(F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("ret_cents"),
    )
    return agg.select(
        "ym",
        "n_new_orders",
        "n_returning_orders",
        (F.col("new_cents").cast("double") / F.lit(100.0)).alias(
            "new_revenue"
        ),
        (F.col("ret_cents").cast("double") / F.lit(100.0)).alias(
            "returning_revenue"
        ),
        (
            F.col("new_cents").cast("double")
            / (F.col("new_cents") + F.col("ret_cents")).cast("double")
        ).alias("new_revenue_share"),
    ).orderBy("ym")


SQL_NEW_VS_RETURNING_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
           AS ym,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
first_m AS (
  SELECT o_custkey, MIN(ym) AS first_ym FROM o GROUP BY o_custkey
),
j AS (
  SELECT o.ym, o.cents,
         CASE WHEN o.ym = f.first_ym THEN 1 ELSE 0 END AS is_new
  FROM o JOIN first_m f ON f.o_custkey = o.o_custkey
),
agg AS (
  SELECT ym,
         CAST(SUM(is_new) AS BIGINT) AS n_new_orders,
         CAST(SUM(1 - is_new) AS BIGINT) AS n_returning_orders,
         CAST(SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS new_cents,
         CAST(SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END) AS BIGINT)
           AS ret_cents
  FROM j GROUP BY ym
)
SELECT ym, n_new_orders, n_returning_orders,
       CAST(new_cents AS DOUBLE) / 100.0 AS new_revenue,
       CAST(ret_cents AS DOUBLE) / 100.0 AS returning_revenue,
       CAST(new_cents AS DOUBLE) / CAST(new_cents + ret_cents AS DOUBLE)
         AS new_revenue_share
FROM agg
ORDER BY ym
"""


# ------------------------------------------------------ HHI trend


def sql_hhi_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN concentration of supplier revenue PER SHIP
    YEAR — the market-structure trend sql_supplier_hhi's single static
    index cannot show ("is the supply base consolidating?").

    Exactness: per-(year, supplier) revenue is exact int64 cents; each
    supplier's share quantizes onto the 2^-20 grid via INTEGER
    division (s * 2^20 DIV total — engine-identical truncation, and
    the bounded-numerator form that stays exact at any sf where the
    earlier int64 sum-of-squares recipe would overflow); HHI is the
    int64 sum of squared quantized shares divided once by 2^40. Scale:
    lineitem collapses to the (year, supplier) dimension in one hash
    agg; everything after is dimension-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    per = li.groupBy(
        F.year("l_shipdate").cast("long").alias("yr"),
        F.col("l_suppkey"),
    ).agg(F.sum(cents).cast("long").alias("rev"))
    tot = per.groupBy("yr").agg(
        F.sum("rev").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    q = (
        per.join(tot, "yr")
        .select(
            "yr",
            "n_suppliers",
            F.expr(f"(rev * {Q20}) DIV tot").cast("long").alias("qs"),
        )
        .groupBy("yr", "n_suppliers")
        .agg(F.sum(F.col("qs") * F.col("qs")).cast("long").alias("hq"))
    )
    return q.select(
        "yr",
        "n_suppliers",
        (F.col("hq").cast("double") / F.lit(float(Q20 * Q20))).alias(
            "hhi"
        ),
    ).orderBy("yr")


SQL_HHI_TREND_SQL = f"""
WITH per AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1, 2
),
tot AS (
  SELECT yr, CAST(SUM(rev) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM per GROUP BY yr
),
q AS (
  SELECT per.yr, tot.n_suppliers,
         CAST(SUM(((per.rev * {Q20}) // tot.tot)
                  * ((per.rev * {Q20}) // tot.tot)) AS BIGINT) AS hq
  FROM per JOIN tot ON tot.yr = per.yr
  GROUP BY per.yr, tot.n_suppliers
)
SELECT yr, n_suppliers,
       CAST(hq AS DOUBLE) / {float(Q20) * float(Q20)!r} AS hhi
FROM q
ORDER BY yr
"""


# --------------------------------------------- discount elasticity


def sql_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOUNT RESPONSE: mean order quantity at each discount level
    plus the OLS slope of mean quantity on the discount percentage —
    the "does discounting move volume?" readout a pricing team reads
    before deepening promotions (TPC-H Q6 asks the revenue side; this
    asks the demand side).

    Exactness: quantity sums and counts are exact int64 per discount
    level (l_discount lands on an exact percent grid, stored x100);
    the OLS slope/intercept/r2 compose from SIX exact integer
    sufficient statistics over the <=11-level frame in one fixed float
    expression (the events_trend_ols recipe). Scale: ONE data-sized
    hash agg to the discount-level dimension; the regression frame is
    11 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        cents("l_discount").alias("pct"),
        half_up(F.col("l_quantity")).alias("qty"),
    )
    lvl = li.groupBy("pct").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty").cast("long").alias("sq"),
    )
    # OLS of y = mean qty per level on x = pct, weighted equally by
    # level (11 points): sufficient stats quantize the means onto the
    # 2^-20 grid as int64 so the fold is order-free.
    ym = F.expr(f"(sq * {Q20}) DIV n").cast("long")
    stats = lvl.select(
        "pct", ym.alias("ymq"), F.col("n"), F.col("sq")
    ).agg(
        *moments(
            "k", sx="pct", sxx=("pct", "pct"), sy="ymq", sxy=("pct", "ymq"), n_rows="n",
            syy=("ymq", "ymq"),
        ),
    )
    stats = stats.where(
        (F.col("k") > 1)
        & (centered("k", "sxx", "sx", "sx") > 0)
    )
    kd = F.col("k").cast("double")
    num = centered("k", "sxy", "sx", "sy").cast("double")
    den = centered("k", "sxx", "sx", "sx").cast("double")
    deny = centered("k", "syy", "sy", "sy").cast("double")
    slope_q = num / den  # grid-units of mean qty per discount point
    return stats.select(
        F.col("k").alias("n_levels"),
        F.col("n_rows").alias("n_lineitems"),
        (slope_q / F.lit(float(Q20))).alias("qty_per_discount_point"),
        (
            (
                F.col("sy").cast("double") / kd
                - (slope_q) * (F.col("sx").cast("double") / kd)
            )
            / F.lit(float(Q20))
        ).alias("intercept_qty"),
        (num * num / (den * deny)).alias("r2"),
    )


SQL_DISCOUNT_ELASTICITY_SQL = f"""
WITH li AS (
  SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS pct,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
),
lvl AS (
  SELECT pct, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qty) AS BIGINT) AS sq
  FROM li GROUP BY pct
),
pts AS (
  SELECT pct, n, CAST((sq * {Q20}) // n AS BIGINT) AS ymq FROM lvl
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(pct) AS BIGINT) AS sx,
         CAST(SUM(pct * pct) AS BIGINT) AS sxx,
         CAST(SUM(ymq) AS BIGINT) AS sy,
         CAST(SUM(pct * ymq) AS BIGINT) AS sxy,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(SUM(ymq * ymq) AS BIGINT) AS syy
  FROM pts
)
SELECT k AS n_levels, n_rows AS n_lineitems,
       (CAST(k * sxy - sx * sy AS DOUBLE)
        / CAST(k * sxx - sx * sx AS DOUBLE)) / {float(Q20)!r}
         AS qty_per_discount_point,
       (CAST(sy AS DOUBLE) / CAST(k AS DOUBLE)
        - (CAST(k * sxy - sx * sy AS DOUBLE)
           / CAST(k * sxx - sx * sx AS DOUBLE))
          * (CAST(sx AS DOUBLE) / CAST(k AS DOUBLE))) / {float(Q20)!r}
         AS intercept_qty,
       (CAST(k * sxy - sx * sy AS DOUBLE)
        * CAST(k * sxy - sx * sy AS DOUBLE))
         / (CAST(k * sxx - sx * sx AS DOUBLE)
            * CAST(k * syy - sy * sy AS DOUBLE)) AS r2
FROM stats
WHERE k > 1 AND k * sxx - sx * sx > 0
"""


# ------------------------------------------- Shapley attribution


_SHAPLEY_CHANNELS = (
    ("click", 1),
    ("view", 2),
    ("signup", 4),
    ("error", 8),
)
# Shapley coalition weights x12 for n = 4 players: |S|! * (n-|S|-1)! / n!
# = 1/4, 1/12, 1/12, 1/4 for |S| = 0..3 -> x12 = 3, 1, 1, 3 (integers).
_SHAPLEY_W12 = (3, 1, 1, 3)


def sql_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SHAPLEY-VALUE channel attribution: credit each touch
    channel (click/view/signup/error) for purchase conversions by its
    average marginal contribution over all 2^4 coalitions — the
    game-theoretic attribution that first/last-touch
    (events_attribution) cannot express. The coalition value v(S) is
    the number of converted users whose ENTIRE touch set lies within S
    (monotone by construction).

    Exactness: per-user touch sets are 4-bit integer masks; v(S) sums
    exact int64 conversion counts over the 16-subset lattice; the
    coalition weights enter x12 as INTEGERS (3,1,1,3), so each
    channel's 12x-Shapley value folds as int64 and the only float is
    ONE final division by 12. Efficiency axiom (sum phi = v(full) -
    v(empty)) is pinned by a unit test. Scale: events collapse to the
    user dimension in one hash agg; everything after runs on <=16-row
    frames (broadcast joins, no cartesian)."""
    e = load_table(spark, sf_dir, "events")
    mask_expr = None
    for name, bit in _SHAPLEY_CHANNELS:
        term = F.max(
            F.when(F.col("event_type") == name, bit).otherwise(0)
        )
        mask_expr = term if mask_expr is None else mask_expr + term
    users = e.groupBy("user_id").agg(
        mask_expr.cast("long").alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    )
    per_mask = users.groupBy("mask").agg(
        F.sum("conv").cast("long").alias("c")
    )
    subsets = spark.range(16).select(F.col("id").cast("long").alias("s"))
    v = (
        subsets.join(
            F.broadcast(per_mask),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
    )
    chan = spark.createDataFrame(
        list(_SHAPLEY_CHANNELS), "channel string, bit long"
    )
    pop = sum(
        (F.col("s").cast("long") / F.lit(1 << b)).cast("long") % 2
        for b in range(4)
    )
    w12 = (
        F.when(pop == 0, _SHAPLEY_W12[0])
        .when(pop == 1, _SHAPLEY_W12[1])
        .when(pop == 2, _SHAPLEY_W12[2])
        .otherwise(_SHAPLEY_W12[3])
    )
    base = (
        F.broadcast(chan)
        .crossJoin(F.broadcast(v.select(F.col("s"), F.col("v").alias("v_s"))))
        .where(F.expr("(s & bit) = 0"))
        .join(
            F.broadcast(
                v.select(
                    F.col("s").alias("s_with"), F.col("v").alias("v_with")
                )
            ),
            F.col("s_with") == F.col("s") + F.col("bit"),
        )
        .select(
            "channel",
            (w12.cast("long") * (F.col("v_with") - F.col("v_s")))
            .cast("long")
            .alias("phi12"),
        )
    )
    return (
        base.groupBy("channel")
        .agg(F.sum("phi12").cast("long").alias("phi12"))
        .select(
            "channel",
            (F.col("phi12").cast("double") / F.lit(12.0)).alias(
                "shapley_conversions"
            ),
        )
        .orderBy("channel")
    )


def _sql_shapley_attribution_sql() -> str:
    chan_rows = ", ".join(
        f"('{n}', {b})" for n, b in _SHAPLEY_CHANNELS
    )
    return f"""
WITH users AS (
  SELECT user_id,
         CAST({" + ".join(
             f"MAX(CASE WHEN event_type = '{n}' THEN {b} ELSE 0 END)"
             for n, b in _SHAPLEY_CHANNELS
         )} AS BIGINT) AS mask,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
),
per_mask AS (
  SELECT mask, CAST(SUM(conv) AS BIGINT) AS c FROM users GROUP BY mask
),
v AS (
  SELECT t.s,
         CAST(COALESCE(SUM(pm.c), 0) AS BIGINT) AS v
  FROM range(0, 16) t(s)
  LEFT JOIN per_mask pm ON (pm.mask & t.s) = pm.mask
  GROUP BY t.s
),
chan(channel, bit) AS (VALUES {chan_rows}),
base AS (
  SELECT chan.channel,
         (CASE ((vs.s // 1) % 2) + ((vs.s // 2) % 2)
               + ((vs.s // 4) % 2) + ((vs.s // 8) % 2)
            WHEN 0 THEN {_SHAPLEY_W12[0]} WHEN 1 THEN {_SHAPLEY_W12[1]}
            WHEN 2 THEN {_SHAPLEY_W12[2]} ELSE {_SHAPLEY_W12[3]} END)
           * (vw.v - vs.v) AS phi12
  FROM chan
  CROSS JOIN v vs
  JOIN v vw ON vw.s = vs.s + chan.bit
  WHERE (vs.s & chan.bit) = 0
)
SELECT channel,
       CAST(SUM(phi12) AS DOUBLE) / 12.0 AS shapley_conversions
FROM base
GROUP BY channel
ORDER BY channel
"""


_Q10 = 1 << 10  # coarser grid for cents-scaled effect partials


# ------------------------------------- YoY price/volume/mix bridge


def sql_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue BRIDGE: decompose each ship-year's
    revenue delta into PRICE effect ((p1-p0)*q0), VOLUME effect
    (p0*(q1-q0)) and MIX/cross effect ((p1-p0)*(q1-q0)), summed over
    brands — the CFO's waterfall ("did we sell more, or sell dearer?").
    Complements sql_new_vs_returning (WHO drives growth) with WHAT
    drives it; sql_price_index_fisher prices a fixed basket, this
    attributes the actual delta.

    Exactness: the (brand, year) frame carries exact int64 qty and
    cents; per-brand unit price and effects are double expressions in
    one fixed op order; per-brand effects are quantized to the 2^-10
    grid so per-year sums are order-independent int64 folds (raw
    double SUM over brands would be partitioning-dependent);
    total_delta is an EXACT int64 cents difference. Brands with a
    missing or zero-qty prior year are excluded from the effect sums
    structurally (LAG year continuity + qty > 0 on both engines).
    Int64 bound: effect*2^10 stays under 2^63 while per-(brand, year)
    revenue is below ~9e15 cents (~90 T$ — re-base to 2^0 past that).
    Scale: ONE data-sized hash agg; everything after runs on the
    |brands| x |years| frame (the sql_rank_momentum contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cents = on_grid(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 100)
    by = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand"), F.year("l_shipdate").cast("int").alias("yr")
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"),
            F.sum(cents).cast("long").alias("c"),
        )
    )
    w = Window.partitionBy("p_brand").orderBy("yr")
    lagged = by.select(
        "p_brand", "yr", "q", "c",
        F.lag("yr").over(w).alias("yr0"),
        F.lag("q").over(w).alias("q0"),
        F.lag("c").over(w).alias("c0"),
    ).where(
        (F.col("yr0") == F.col("yr") - 1)
        & (F.col("q0") > 0)
        & (F.col("q") > 0)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p1 = d("c") / d("q")
    p0 = d("c0") / d("q0")
    eff = lagged.select(
        "yr", "c", "c0",
        on_grid((p1 - p0) * d("q0"), float(_Q10)).alias("price_q"),
        on_grid(p0 * (d("q") - d("q0")), float(_Q10)).alias("vol_q"),
        on_grid((p1 - p0) * (d("q") - d("q0")), float(_Q10)).alias("mix_q"),
    )
    out = eff.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum("price_q").cast("long").alias("pq"),
        F.sum("vol_q").cast("long").alias("vq"),
        F.sum("mix_q").cast("long").alias("mq"),
        F.sum(F.col("c") - F.col("c0")).cast("long").alias("dc"),
    )
    qd = lambda c: F.col(c).cast("double") / F.lit(float(_Q10)) / F.lit(  # noqa: E731
        100.0
    )
    return out.select(
        "yr", "n_brands",
        qd("pq").alias("price_effect"),
        qd("vq").alias("volume_effect"),
        qd("mq").alias("mix_effect"),
        (F.col("dc").cast("double") / F.lit(100.0)).alias("total_delta"),
    ).orderBy("yr")


SQL_REVENUE_BRIDGE_SQL = f"""
WITH by_brand AS (
  SELECT p.p_brand, CAST(year(l_shipdate) AS INT) AS yr,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 100
                             + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY p.p_brand, CAST(year(l_shipdate) AS INT)
),
lagged AS (
  SELECT p_brand, yr, q, c,
         LAG(yr) OVER (PARTITION BY p_brand ORDER BY yr) AS yr0,
         LAG(q) OVER (PARTITION BY p_brand ORDER BY yr) AS q0,
         LAG(c) OVER (PARTITION BY p_brand ORDER BY yr) AS c0
  FROM by_brand
),
eff AS (
  SELECT yr, c, c0,
         CAST(FLOOR((CAST(c AS DOUBLE) / CAST(q AS DOUBLE)
                     - CAST(c0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                    * CAST(q0 AS DOUBLE) * {float(_Q10)} + 0.5)
              AS BIGINT) AS price_q,
         CAST(FLOOR(CAST(c0 AS DOUBLE) / CAST(q0 AS DOUBLE)
                    * (CAST(q AS DOUBLE) - CAST(q0 AS DOUBLE))
                    * {float(_Q10)} + 0.5) AS BIGINT) AS vol_q,
         CAST(FLOOR((CAST(c AS DOUBLE) / CAST(q AS DOUBLE)
                     - CAST(c0 AS DOUBLE) / CAST(q0 AS DOUBLE))
                    * (CAST(q AS DOUBLE) - CAST(q0 AS DOUBLE))
                    * {float(_Q10)} + 0.5) AS BIGINT) AS mix_q
  FROM lagged
  WHERE yr0 = yr - 1 AND q0 > 0 AND q > 0
)
SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_brands,
       CAST(SUM(price_q) AS DOUBLE) / {float(_Q10)} / 100.0
         AS price_effect,
       CAST(SUM(vol_q) AS DOUBLE) / {float(_Q10)} / 100.0
         AS volume_effect,
       CAST(SUM(mix_q) AS DOUBLE) / {float(_Q10)} / 100.0 AS mix_effect,
       CAST(SUM(c - c0) AS DOUBLE) / 100.0 AS total_delta
FROM eff GROUP BY yr ORDER BY yr
"""


# ------------------------------------ promo difference-in-differences


def sql_promo_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift: did PROMO-type parts' mean
    per-lineitem revenue move differently from other parts across the
    1999-01-01 boundary? DiD = (promo_after - promo_before) -
    (other_after - other_before), with a Welch-style SE from the four
    cells' variances — the causal-inference step beyond q14's plain
    promo share (SURVEY §2 q14; the treatment/control x before/after
    design is the standard observational-uplift screen).

    Exactness: per-lineitem revenue on the integer DOLLAR grid
    (FLOOR(x + 0.5)) — the cents grid's sum of squares would overflow
    int64 at ~3e5 rows/cell; dollars hold to ~8e8 rows/cell
    (documented, the corpus_length_lognormal pattern); the four
    (n, s, q) triples come from ONE hash agg, pivoted via MAX(CASE)
    so no cross-group float sums exist; means/variances/z compose in
    one fixed op order with the GREATEST(0.0, ...) radicand clamp
    (ADVICE r8 events_cohens_d lesson) and n > 1 + positive-SE
    structural guards on both engines. Scale: one data-sized agg to 4
    cells; the tail is a 1-row frame."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    dollars = half_up(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    cells = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("is_promo").cast("int").alias("pr"),
            (F.col("l_shipdate") >= F.lit("1999-01-01")).cast("int")
            .alias("af"),
            dollars.alias("v"),
        )
        .groupBy("pr", "af")
        .agg(
            *moments("n", s="v", q=("v", "v")),
        )
    )
    g = lambda pr, af, c: F.max(  # noqa: E731
        F.when((F.col("pr") == pr) & (F.col("af") == af), F.col(c))
    )
    flat = cells.agg(
        g(1, 0, "n").alias("n_pb"), g(1, 0, "s").alias("s_pb"),
        g(1, 0, "q").alias("q_pb"),
        g(1, 1, "n").alias("n_pa"), g(1, 1, "s").alias("s_pa"),
        g(1, 1, "q").alias("q_pa"),
        g(0, 0, "n").alias("n_ob"), g(0, 0, "s").alias("s_ob"),
        g(0, 0, "q").alias("q_ob"),
        g(0, 1, "n").alias("n_oa"), g(0, 1, "s").alias("s_oa"),
        g(0, 1, "q").alias("q_oa"),
    ).where(
        (F.col("n_pb") > 1) & (F.col("n_pa") > 1)
        & (F.col("n_ob") > 1) & (F.col("n_oa") > 1)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = lambda t: d(f"s_{t}") / d(f"n_{t}")  # noqa: E731
    # variance-over-n in one fixed op order, radicand clamped >= 0
    von = lambda t: F.greatest(  # noqa: E731
        F.lit(0.0), d(f"q_{t}") - d(f"s_{t}") * (d(f"s_{t}") / d(f"n_{t}"))
    ) / (d(f"n_{t}") - F.lit(1.0)) / d(f"n_{t}")
    did = (mean("pa") - mean("pb")) - (mean("oa") - mean("ob"))
    se = F.sqrt(von("pa") + von("pb") + von("oa") + von("ob"))
    out = flat.select(
        "n_pb", "n_pa", "n_ob", "n_oa",
        did.alias("did"),
        se.alias("se"),
        (did / se).alias("z_stat"),
    )
    return out.where(F.col("se") > 0)


SQL_PROMO_UPLIFT_DID_SQL = """
WITH cells AS (
  SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS pr,
         CASE WHEN l_shipdate >= DATE '1999-01-01' THEN 1 ELSE 0 END
           AS af,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) + 0.5)
                       AS BIGINT)) AS BIGINT) AS s,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) + 0.5)
                       AS BIGINT)
                  * CAST(FLOOR(l_extendedprice * (1.0 - l_discount) + 0.5)
                         AS BIGINT)) AS BIGINT) AS q
  FROM lineitem li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY 1, 2
),
flat AS (
  SELECT
    MAX(CASE WHEN pr = 1 AND af = 0 THEN n END) AS n_pb,
    MAX(CASE WHEN pr = 1 AND af = 0 THEN s END) AS s_pb,
    MAX(CASE WHEN pr = 1 AND af = 0 THEN q END) AS q_pb,
    MAX(CASE WHEN pr = 1 AND af = 1 THEN n END) AS n_pa,
    MAX(CASE WHEN pr = 1 AND af = 1 THEN s END) AS s_pa,
    MAX(CASE WHEN pr = 1 AND af = 1 THEN q END) AS q_pa,
    MAX(CASE WHEN pr = 0 AND af = 0 THEN n END) AS n_ob,
    MAX(CASE WHEN pr = 0 AND af = 0 THEN s END) AS s_ob,
    MAX(CASE WHEN pr = 0 AND af = 0 THEN q END) AS q_ob,
    MAX(CASE WHEN pr = 0 AND af = 1 THEN n END) AS n_oa,
    MAX(CASE WHEN pr = 0 AND af = 1 THEN s END) AS s_oa,
    MAX(CASE WHEN pr = 0 AND af = 1 THEN q END) AS q_oa
  FROM cells
),
stats AS (
  SELECT n_pb, n_pa, n_ob, n_oa,
         (CAST(s_pa AS DOUBLE) / CAST(n_pa AS DOUBLE)
          - CAST(s_pb AS DOUBLE) / CAST(n_pb AS DOUBLE))
         - (CAST(s_oa AS DOUBLE) / CAST(n_oa AS DOUBLE)
            - CAST(s_ob AS DOUBLE) / CAST(n_ob AS DOUBLE)) AS did,
         SQRT(
           GREATEST(0.0, CAST(q_pa AS DOUBLE)
             - CAST(s_pa AS DOUBLE) * (CAST(s_pa AS DOUBLE)
                                       / CAST(n_pa AS DOUBLE)))
             / (CAST(n_pa AS DOUBLE) - 1.0) / CAST(n_pa AS DOUBLE)
           + GREATEST(0.0, CAST(q_pb AS DOUBLE)
             - CAST(s_pb AS DOUBLE) * (CAST(s_pb AS DOUBLE)
                                       / CAST(n_pb AS DOUBLE)))
             / (CAST(n_pb AS DOUBLE) - 1.0) / CAST(n_pb AS DOUBLE)
           + GREATEST(0.0, CAST(q_oa AS DOUBLE)
             - CAST(s_oa AS DOUBLE) * (CAST(s_oa AS DOUBLE)
                                       / CAST(n_oa AS DOUBLE)))
             / (CAST(n_oa AS DOUBLE) - 1.0) / CAST(n_oa AS DOUBLE)
           + GREATEST(0.0, CAST(q_ob AS DOUBLE)
             - CAST(s_ob AS DOUBLE) * (CAST(s_ob AS DOUBLE)
                                       / CAST(n_ob AS DOUBLE)))
             / (CAST(n_ob AS DOUBLE) - 1.0) / CAST(n_ob AS DOUBLE)
         ) AS se
  FROM flat
  WHERE n_pb > 1 AND n_pa > 1 AND n_ob > 1 AND n_oa > 1
)
SELECT n_pb, n_pa, n_ob, n_oa, did, se, did / se AS z_stat
FROM stats WHERE se > 0
"""


# ---------------------------------------- MoM growth streak islands


def sql_growth_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest month-over-month revenue GROWTH STREAK per nation —
    the gaps-and-islands idiom (streak id = running count of
    non-growth months) that sql_monthly_growth's single-lag delta
    cannot express: a momentum dashboard wants "how long has this
    market grown uninterrupted", not just last month's sign.

    Exactness: everything is int64 — monthly revenue is exact cents,
    the up flag / island ids / streak lengths are integer window
    folds; no floats anywhere. Nations with zero up-months get
    longest_streak 0 via the COALESCEd island join (both engines).
    Scale: orders collapse to the |nations| x |months| frame in ONE
    keyed-join + hash agg pass (customer/nation are dimension joins);
    every window runs on that calendar-bounded frame."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym"),
        cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    nm = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "ym")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("ym")
    flagged = nm.withColumn(
        "up",
        F.when(
            F.col("rev") > F.lag("rev").over(w), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "isl",
        F.sum(1 - F.col("up")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    base = flagged.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum("up").cast("long").alias("n_up_months"),
    )
    runs = (
        flagged.where(F.col("up") == 1)
        .groupBy("n_name", "isl")
        .agg(F.count(F.lit(1)).cast("long").alias("run_len"))
        .groupBy("n_name")
        .agg(F.max("run_len").cast("long").alias("longest"))
    )
    return (
        base.join(runs, "n_name", "left")
        .select(
            "n_name", "n_months", "n_up_months",
            F.coalesce(F.col("longest"), F.lit(0)).cast("long")
            .alias("longest_up_streak"),
        )
        .orderBy("n_name")
    )


SQL_GROWTH_STREAKS_SQL = """
WITH nm AS (
  SELECT n.n_name,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
           AS ym,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, year(o_orderdate) * 100 + month(o_orderdate)
),
flagged AS (
  SELECT n_name, ym, rev,
         CASE WHEN rev > LAG(rev) OVER (PARTITION BY n_name ORDER BY ym)
              THEN 1 ELSE 0 END AS up
  FROM nm
),
islands AS (
  SELECT n_name, ym, up,
         SUM(1 - up) OVER (PARTITION BY n_name ORDER BY ym
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS isl
  FROM flagged
),
base AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months,
         CAST(SUM(up) AS BIGINT) AS n_up_months
  FROM islands GROUP BY n_name
),
runs AS (
  SELECT n_name, CAST(MAX(run_len) AS BIGINT) AS longest
  FROM (
    SELECT n_name, isl, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM islands WHERE up = 1 GROUP BY n_name, isl
  ) GROUP BY n_name
)
SELECT b.n_name, b.n_months, b.n_up_months,
       CAST(COALESCE(r.longest, 0) AS BIGINT) AS longest_up_streak
FROM base b LEFT JOIN runs r ON b.n_name = r.n_name
ORDER BY b.n_name
"""


# ------------------------------------------------ backlog aging as-of


def sql_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging as of the corpus' latest order date —
    the receivables-style bucket read (0-30 / 31-90 / 91-365 / 365+
    days): order count, value, and count share per bucket.

    Exactness: ages are epoch-day integer differences against the
    MAX(o_orderdate) scalar; value is cents int64; share is one final
    division. Scale: one data-sized scan + a 4-row agg; the as-of
    scalar broadcasts."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") != F.lit("F")
    )
    asof = o.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    aged = o.join(F.broadcast(asof)).select(
        F.datediff(F.col("asof"), F.to_date("o_orderdate")).alias("age"),
        cents("o_totalprice").alias("cents"),
    )
    bucket = (
        F.when(F.col("age") <= 30, F.lit("a_0_30"))
        .when(F.col("age") <= 90, F.lit("b_31_90"))
        .when(F.col("age") <= 365, F.lit("c_91_365"))
        .otherwise(F.lit("d_over_365"))
    )
    agg = aged.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    tot = agg.agg(F.sum("n_orders").cast("long").alias("nt"))
    return (
        agg.join(F.broadcast(tot))
        .select(
            "bucket",
            "n_orders",
            "total_cents",
            (
                F.col("n_orders").cast("double") / F.col("nt").cast("double")
            ).alias("count_share"),
        )
        .orderBy("bucket")
    )


_SQL_BACKLOG_AGING = """
WITH open_orders AS (
  SELECT CAST(o_orderdate AS DATE) AS od,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus <> 'F'
),
as_of AS (SELECT MAX(od) AS d0 FROM open_orders),
aged AS (
  SELECT date_diff('day', od, (SELECT d0 FROM as_of)) AS age, cents
  FROM open_orders
),
bucketed AS (
  SELECT CASE WHEN age <= 30 THEN 'a_0_30'
              WHEN age <= 90 THEN 'b_31_90'
              WHEN age <= 365 THEN 'c_91_365'
              ELSE 'd_over_365' END AS bucket,
         cents
  FROM aged
),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM bucketed GROUP BY bucket
)
SELECT bucket, n_orders, total_cents,
       CAST(n_orders AS DOUBLE) /
         CAST((SELECT SUM(n_orders) FROM agg) AS DOUBLE) AS count_share
FROM agg
ORDER BY bucket
"""


# --------------------------------------------- price ladder gap scan


def sql_price_ladder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest within-brand price-point gaps — the assortment-hole
    read: sort each brand's DISTINCT retail price points, take the
    LAG step, rank the 20 widest absolute gaps (price tiebreak).

    Exactness: cents int64; rel_gap is one final division (prev > 0
    structurally guaranteed by the > 0 filter). Scale: the window
    partitions by brand over the DISTINCT price frame (catalog-
    bounded, not data-sized)."""
    p = (
        load_table(spark, sf_dir, "part")
        .select(
            "p_brand",
            cents("p_retailprice").alias("cents"),
        )
        .where(F.col("cents") > 0)
        .distinct()
    )
    w = Window.partitionBy("p_brand").orderBy("cents")
    g = p.select(
        "p_brand",
        F.lag("cents").over(w).alias("prev_cents"),
        F.col("cents").alias("price_cents"),
    ).where(F.col("prev_cents").isNotNull())
    return (
        g.select(
            "p_brand",
            "prev_cents",
            "price_cents",
            (F.col("price_cents") - F.col("prev_cents")).alias("gap_cents"),
            (
                (F.col("price_cents") - F.col("prev_cents")).cast("double")
                / F.col("prev_cents").cast("double")
            ).alias("rel_gap"),
        )
        .orderBy(
            F.col("gap_cents").desc(), "p_brand", "price_cents"
        )
        .limit(20)
    )


_SQL_PRICE_LADDER_GAPS = """
WITH pts AS (
  SELECT DISTINCT p_brand,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
  WHERE CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) > 0
),
lagged AS (
  SELECT p_brand,
         LAG(cents) OVER (PARTITION BY p_brand ORDER BY cents) AS prev_cents,
         cents AS price_cents
  FROM pts
)
SELECT p_brand, prev_cents, price_cents,
       price_cents - prev_cents AS gap_cents,
       CAST(price_cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE)
         AS rel_gap
FROM lagged
WHERE prev_cents IS NOT NULL
ORDER BY gap_cents DESC, p_brand, price_cents
LIMIT 20
"""


# --------------------------------------------- bullwhip amplification


def sql_bullwhip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip effect proxy: variance amplification of ORDERED
    monthly quantity relative to SHIPPED monthly quantity — >1 means
    order placement is noisier than physical fulfilment, the classic
    supply-chain instability read.

    Exactness: l_quantity values are integral doubles -> exact int64;
    monthly totals fold on the UNION month grid (a month missing on
    one side is a real 0); variances use the integer recipe n*Sxx -
    Sx^2; the ratio is ONE final division of exact int64 composites
    (guarded > 0 structurally both engines). Overflow bound: monthly
    totals ~2e5 at sf0.1 -> n*Sxx ~ 3e12; safe to ~sf100, documented.
    Scale: two data-sized hash aggs to month grain; the grid is
    calendar-bounded."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("m"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("q"),
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ship_m"),
    )
    ordered = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("m")
        .agg(F.sum("q").cast("long").alias("qo"))
    )
    shipped = li.groupBy(F.col("ship_m").alias("m")).agg(
        F.sum("q").cast("long").alias("qs")
    )
    grid = (
        ordered.join(shipped, "m", "full")
        .select(
            "m",
            F.coalesce("qo", F.lit(0).cast("long")).alias("qo"),
            F.coalesce("qs", F.lit(0).cast("long")).alias("qs"),
        )
    )
    s = grid.agg(
        *moments("n", so="qo", soo=("qo", "qo"), ss="qs", sss=("qs", "qs")),
    )
    vo = centered("n", "soo", "so", "so")
    vs = centered("n", "sss", "ss", "ss")
    return s.select(
        F.col("n").alias("n_months"),
        vo.cast("long").alias("var_num_ordered"),
        vs.cast("long").alias("var_num_shipped"),
        F.when(vs > 0, vo.cast("double") / vs.cast("double")).alias(
            "bullwhip"
        ),
    )


_SQL_BULLWHIP_SQL = """
WITH li AS (
  SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS q,
         EXTRACT(year FROM l_shipdate) * 100 +
           EXTRACT(month FROM l_shipdate) AS ship_m
  FROM lineitem
),
ordered AS (
  SELECT EXTRACT(year FROM o.o_orderdate) * 100 +
           EXTRACT(month FROM o.o_orderdate) AS m,
         CAST(SUM(li.q) AS BIGINT) AS qo
  FROM li JOIN orders o ON o.o_orderkey = li.l_orderkey
  GROUP BY 1
),
shipped AS (
  SELECT ship_m AS m, CAST(SUM(q) AS BIGINT) AS qs FROM li GROUP BY 1
),
grid AS (
  SELECT COALESCE(o.m, s.m) AS m,
         CAST(COALESCE(o.qo, 0) AS BIGINT) AS qo,
         CAST(COALESCE(s.qs, 0) AS BIGINT) AS qs
  FROM ordered o FULL JOIN shipped s ON s.m = o.m
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qo) AS BIGINT) AS so,
         CAST(SUM(qo * qo) AS BIGINT) AS soo,
         CAST(SUM(qs) AS BIGINT) AS ss,
         CAST(SUM(qs * qs) AS BIGINT) AS sss
  FROM grid
)
SELECT n AS n_months,
       CAST(n * soo - so * so AS BIGINT) AS var_num_ordered,
       CAST(n * sss - ss * ss AS BIGINT) AS var_num_shipped,
       CASE WHEN n * sss - ss * ss > 0 THEN
         CAST(n * soo - so * so AS DOUBLE) /
         CAST(n * sss - ss * ss AS DOUBLE)
       END AS bullwhip
FROM st
"""


# --------------------------------------------- one-way discount ANOVA


def sql_discount_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for discount level across brands —
    "does any brand get systematically different discounts": F =
    (SSB/(k-1)) / (SSW/(N-k)) over the d100 = round(discount*100)
    integer grid, joined lineitem -> part for the brand factor.

    Exactness: per-brand n/S/Q are exact int64; each brand's S^2/n
    term (the one intrinsically rational quantity) is quantized to the
    2^-20 grid BEFORE the cross-brand sum (order-free int64 fold, as
    the module docstring states); SSB/SSW/F compose in ONE float expression shared
    with the oracle; k > 1, N > k, SSW > 0 guarded structurally.
    Scale: one data-sized join+agg to the |brands|-bounded frame
    (25 brands); everything after is constant-size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents("l_discount").alias("d"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    g = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            *moments("ng", sg="d", qg=("d", "d")),
        )
    )
    terms = g.select(
        "ng",
        "sg",
        "qg",
        on_grid(
            (F.col("sg") * F.col("sg")).cast("double")
            / F.col("ng").cast("double"),
            Q20,
        ).alias("tq"),
    )
    s = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").cast("long").alias("q"),
        F.sum("tq").cast("long").alias("a_q"),
    )
    a = F.col("a_q").cast("double") / F.lit(float(Q20))
    ssb = a - (F.col("s") * F.col("s")).cast("double") / F.col("n").cast(
        "double"
    )
    ssw = F.col("q").cast("double") - a
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        (ssb / (F.col("k") - 1).cast("double"))
        / (ssw / (F.col("n") - F.col("k")).cast("double")),
    )
    return s.select(
        F.col("k").alias("n_brands"),
        F.col("n").alias("n_items"),
        f_stat.alias("f_stat"),
    )


_SQL_DISCOUNT_ANOVA = f"""
WITH d AS (
  SELECT p.p_brand, CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(d) AS BIGINT) AS sg,
         CAST(SUM(d * d) AS BIGINT) AS qg
  FROM d GROUP BY p_brand
),
terms AS (
  SELECT ng, sg, qg,
         CAST(FLOOR(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE)
              * {Q20} + 0.5) AS BIGINT) AS tq
  FROM g
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(sg) AS BIGINT) AS s,
         CAST(SUM(qg) AS BIGINT) AS q,
         CAST(SUM(tq) AS BIGINT) AS a_q
  FROM terms
)
SELECT k AS n_brands,
       n AS n_items,
       CASE WHEN k > 1 AND n > k AND
                 CAST(q AS DOUBLE) - CAST(a_q AS DOUBLE) / {float(Q20)!r}
                   > 0
            THEN
         ((CAST(a_q AS DOUBLE) / {float(Q20)!r}
           - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
          / CAST(k - 1 AS DOUBLE))
         / ((CAST(q AS DOUBLE) - CAST(a_q AS DOUBLE) / {float(Q20)!r})
            / CAST(n - k AS DOUBLE))
       END AS f_stat
FROM st
"""


# ---------------------------------------------- monthly fill rate


def sql_fill_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day fulfilment share per order month: fraction of lineitems
    shipped within 30 days of order placement — the service-level
    trend operations watches.

    Exactness: ages are epoch-day integer differences; counts int64;
    one final division per month. Scale: one join + one hash agg to
    the calendar-bounded month grain."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("od"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.to_date("l_shipdate").alias("sd"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.year("od") * 100 + F.month("od")).alias("m"),
        (F.datediff("sd", "od") <= 30).alias("fast"),
    )
    agg = j.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.when(F.col("fast"), 1).otherwise(0))
        .cast("long")
        .alias("n_fast"),
    )
    return agg.select(
        "m",
        "n_items",
        "n_fast",
        (
            F.col("n_fast").cast("double") / F.col("n_items").cast("double")
        ).alias("fill_rate"),
    ).orderBy("m")


_SQL_FILL_RATE_SQL = """
WITH j AS (
  SELECT EXTRACT(year FROM o.o_orderdate) * 100 +
           EXTRACT(month FROM o.o_orderdate) AS m,
         (date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) <= 30) AS fast
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT m,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CASE WHEN fast THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
       CAST(SUM(CASE WHEN fast THEN 1 ELSE 0 END) AS DOUBLE) /
         CAST(COUNT(*) AS DOUBLE) AS fill_rate
FROM j GROUP BY m
ORDER BY m
"""


QUERIES = {
    "sql_copurchase_hits": sql_copurchase_hits,
    "sql_basket_rules": sql_basket_rules,
    "sql_repeat_pagerank": sql_repeat_pagerank,
    "sql_repeat_reciprocity": sql_repeat_reciprocity,
    "sql_repeat_degree_imbalance": sql_repeat_degree_imbalance,
    "sql_nation_trade_balance": sql_nation_trade_balance,
    "sql_customer_gap_cv": sql_customer_gap_cv,
    "sql_rank_momentum": sql_rank_momentum,
    "sql_supplier_overlap": sql_supplier_overlap,
    "sql_repeat_funnel_paths": sql_repeat_funnel_paths,
    "sql_return_rate_by_brand": sql_return_rate_by_brand,
    "sql_seasonal_index": sql_seasonal_index,
    "sql_copurchase_edge_jaccard": sql_copurchase_edge_jaccard,
    "sql_theil_index": sql_theil_index,
    "sql_lorenz_deciles": sql_lorenz_deciles,
    "sql_copurchase_richclub": sql_copurchase_richclub,
    "sql_cr4_concentration": sql_cr4_concentration,
    "sql_price_index_fisher": sql_price_index_fisher,
    "sql_priority_trend": sql_priority_trend,
    "sql_acctbal_spend_corr": sql_acctbal_spend_corr,
    "sql_shapley_attribution": sql_shapley_attribution,
    "sql_new_vs_returning": sql_new_vs_returning,
    "sql_hhi_trend": sql_hhi_trend,
    "sql_discount_elasticity": sql_discount_elasticity,
    "sql_revenue_bridge": sql_revenue_bridge,
    "sql_promo_uplift_did": sql_promo_uplift_did,
    "sql_growth_streaks": sql_growth_streaks,
    "sql_backlog_aging": sql_backlog_aging,
    "sql_price_ladder_gaps": sql_price_ladder_gaps,
    "sql_bullwhip_ratio": sql_bullwhip_ratio,
    "sql_discount_anova": sql_discount_anova,
    "sql_fill_rate_monthly": sql_fill_rate_monthly,
}

ORACLES = {
    "sql_copurchase_hits": _sql_copurchase_hits_sql(),
    "sql_basket_rules": SQL_BASKET_RULES_SQL,
    "sql_repeat_pagerank": _sql_repeat_pagerank_sql(),
    "sql_repeat_reciprocity": _sql_repeat_reciprocity_sql(),
    "sql_repeat_degree_imbalance": _sql_repeat_degree_imbalance_sql(),
    "sql_nation_trade_balance": SQL_NATION_TRADE_BALANCE,
    "sql_customer_gap_cv": SQL_CUSTOMER_GAP_CV,
    "sql_rank_momentum": SQL_RANK_MOMENTUM,
    "sql_supplier_overlap": SQL_SUPPLIER_OVERLAP,
    "sql_repeat_funnel_paths": _sql_repeat_funnel_paths_sql(),
    "sql_return_rate_by_brand": SQL_RETURN_RATE_BY_BRAND,
    "sql_seasonal_index": SQL_SEASONAL_INDEX_SQL,
    "sql_copurchase_edge_jaccard": _sql_copurchase_edge_jaccard_sql(),
    "sql_theil_index": SQL_THEIL_INDEX_SQL,
    "sql_lorenz_deciles": SQL_LORENZ_DECILES_SQL,
    "sql_copurchase_richclub": _sql_copurchase_richclub_sql(),
    "sql_cr4_concentration": SQL_CR4_CONCENTRATION_SQL,
    "sql_price_index_fisher": SQL_PRICE_INDEX_FISHER_SQL,
    "sql_priority_trend": SQL_PRIORITY_TREND_SQL,
    "sql_acctbal_spend_corr": SQL_ACCTBAL_SPEND_CORR_SQL,
    "sql_shapley_attribution": _sql_shapley_attribution_sql(),
    "sql_new_vs_returning": SQL_NEW_VS_RETURNING_SQL,
    "sql_hhi_trend": SQL_HHI_TREND_SQL,
    "sql_discount_elasticity": SQL_DISCOUNT_ELASTICITY_SQL,
    "sql_revenue_bridge": SQL_REVENUE_BRIDGE_SQL,
    "sql_promo_uplift_did": SQL_PROMO_UPLIFT_DID_SQL,
    "sql_growth_streaks": SQL_GROWTH_STREAKS_SQL,
    "sql_backlog_aging": _SQL_BACKLOG_AGING,
    "sql_price_ladder_gaps": _SQL_PRICE_LADDER_GAPS,
    "sql_bullwhip_ratio": _SQL_BULLWHIP_SQL,
    "sql_discount_anova": _SQL_DISCOUNT_ANOVA,
    "sql_fill_rate_monthly": _SQL_FILL_RATE_SQL,
}

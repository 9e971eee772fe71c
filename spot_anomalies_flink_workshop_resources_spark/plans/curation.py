"""Round-6 third-wave surface: corpus boilerplate detection, retrieval
quality evaluation (NDCG), and join-fanout data-quality profiling —
curation/eval primitives a training-data platform runs beside the
dedup/quality operators (reference scope ends at fixed-threshold
detection, AD.java:200; this layer is beyond-reference by design).

Exactness follows the repo recipes: integer sufficient statistics
everywhere, DCG log-discounts embedded as PRECOMPUTED integer weights
(no runtime log on either engine), unit vectors quantized onto the
2^-20 grid before integer dot products, and single final divisions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table

_QSCALE = 1 << 20
_TOKEN_RE = "[a-z0-9]+"

# DCG discount weights 1/log2(r+1) for ranks 1..10, pre-quantized to an
# integer micro-grid so both engines sum EXACT int64 terms (ln/log2 can
# differ by 1 ulp across engines; baking the constants removes the risk).
_DCG_W = [round(_QSCALE / math.log2(r + 1)) for r in range(1, 11)]
_DCG_CUM = [sum(_DCG_W[: k + 1]) for k in range(10)]  # IDCG for k rel


# ---------------------------------------------------------- boilerplate

# corpus_boilerplate and corpus_template_strip consume the SAME 5-gram
# stream and the same flagged-gram derivation — the two most expensive
# bench entries paid the regexp+explode scan twice (VERDICT r6 #3). The
# pass is computed once per (session, sf_dir) as four memo checkpoints.
def _gram_pass(spark: SparkSession, sf_dir: str) -> dict:
    """One shared scan: token counts, positioned 5-grams, per-(source,
    gram) df/position counts, per-source doc counts, and the >5%-df
    flagged (boilerplate) gram set. Each frame is a session memo
    checkpoint (memo.checkpoint: live-block validation, so a frame
    whose blocks were dropped by between-query hygiene silently
    rebuilds); at 100 TB these become a written staging table instead
    (the LSH-index pattern, SCALE.md 'Known costs' #3)."""
    from ..operators.text import token_arrays

    # both the n_toks frame and the 5-gram explode reduce from the
    # shared per-corpus token-array pass (round 11, VERDICT r10 #5)
    d = token_arrays(
        load_table(spark, sf_dir, "documents"), cache_key=sf_dir
    )
    arr = F.col("toks")
    toks = memo.checkpoint(
        spark,
        (sf_dir, "gram_toks"),
        lambda: d.select(
            "doc_id", "source", F.size(arr).cast("long").alias("n_toks")
        ),
    )
    grams = memo.checkpoint(
        spark,
        (sf_dir, "grams"),
        lambda: d.select(
            "doc_id",
            "source",
            F.posexplode(
                F.when(
                    F.size(arr) >= 5,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 4),
                        lambda i: F.concat_ws(" ", F.slice(arr, i, 5)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pos0", "g"),
        ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "g"),
    )

    def build_per_gram() -> DataFrame:
        src_docs = d.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        # two plain hash aggs instead of countDistinct (which expands
        # every row twice): per (source, gram, doc) position counts,
        # then per (source, gram) df = row count, positions = sum
        return (
            grams.groupBy("source", "g", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("pc"))
            .groupBy("source", "g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("pc").cast("long").alias("positions"),
            )
            .join(F.broadcast(src_docs), "source")
        )

    per_gram = memo.checkpoint(spark, (sf_dir, "per_gram"), build_per_gram)
    boiler = memo.checkpoint(
        spark,
        (sf_dir, "boiler"),
        lambda: per_gram.where(F.col("df") * 20 > F.col("n_docs")).select(
            "source", "g"
        ),
    )
    return {"toks": toks, "grams": grams, "per_gram": per_gram, "boiler": boiler}


def corpus_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate profile — the C4-style template filter,
    adapted to the harness corpus (single-line documents, so the unit
    is the 5-gram, not the line): a 5-gram is boilerplate for a source
    when it appears in MORE THAN 5% of that source's documents, and the
    report gives each source's boilerplate mass (distinct grams flagged
    + share of gram positions covered) — the number a curation pipeline
    uses to decide whether a source needs template stripping before
    training.

    Exactness: doc-frequency and position counts are integers; the >5%
    gate is the integer cross-multiplication ``20 * df > n_docs``; the
    coverage share is one final double division. Scale: one explode to
    gram positions (narrow), a (source, gram) hash agg, and a tiny
    per-source rollup — the same shape as the repo's n-gram profiles;
    no data-sized collect, no all-pairs anything. The gram scan + df
    agg are SHARED with :func:`corpus_template_strip` via
    :func:`_gram_pass` (one explode for the pair, VERDICT r6 #3)."""
    flagged = _gram_pass(spark, sf_dir)["per_gram"].withColumn(
        "is_boiler", (F.col("df") * 20 > F.col("n_docs")).cast("long")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum("is_boiler").cast("long").alias("boiler_grams"),
            F.sum("positions").cast("long").alias("gram_positions"),
            F.sum(F.col("is_boiler") * F.col("positions"))
            .cast("long")
            .alias("boiler_positions"),
        )
        .select(
            "source",
            "n_docs",
            "boiler_grams",
            "gram_positions",
            "boiler_positions",
            F.when(
                F.col("gram_positions") > 0,
                F.col("boiler_positions").cast("double")
                / F.col("gram_positions").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_share"),
        )
        .orderBy("source")
    )


CORPUS_BOILERPLATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         regexp_extract_all(lower(text), '{_TOKEN_RE}') AS arr
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, greatest(len(arr) - 4, 0)),
                i -> array_to_string(list_slice(arr, i, i + 4), ' '))) AS g
  FROM toks
),
src_docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
per_gram AS (
  SELECT source, g,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS positions
  FROM grams GROUP BY source, g
),
flagged AS (
  SELECT p.source, p.positions,
         CASE WHEN p.df * 20 > s.n_docs THEN 1 ELSE 0 END AS is_boiler,
         s.n_docs
  FROM per_gram p JOIN src_docs s USING (source)
)
SELECT source,
       MAX(n_docs) AS n_docs,
       CAST(SUM(is_boiler) AS BIGINT) AS boiler_grams,
       CAST(SUM(positions) AS BIGINT) AS gram_positions,
       CAST(SUM(is_boiler * positions) AS BIGINT) AS boiler_positions,
       CASE WHEN SUM(positions) > 0
            THEN CAST(SUM(is_boiler * positions) AS DOUBLE)
                 / CAST(SUM(positions) AS DOUBLE)
            ELSE 0.0 END AS boiler_share
FROM flagged
GROUP BY source
ORDER BY source
"""


# ----------------------------------------------------------------- NDCG


def simsearch_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of brute-force cosine retrieval with same-label relevance
    — the retrieval-quality eval that closes the loop on the ANN
    family: `simsearch_index_quality` measures IVF recall vs brute
    force; this measures whether the embedding space itself ranks
    same-label items first (label = graded-relevance proxy, the
    standard eval when no click log exists).

    Exactness: vectors quantize onto the 2^-20 unit grid (the
    fold-computed norm matches DuckDB's list_sum fold bit-for-bit,
    simsearch.py module contract), so scores are int64 dot products and
    ranking is integer selection with vec_id tiebreaks; the DCG
    discounts 1/log2(r+1) are PRE-QUANTIZED integer literals shared by
    both engines (no runtime transcendental), so DCG/IDCG are int64
    sums and NDCG is one final division. Scale: queries are a fixed
    16-row broadcast against a scan of the vector table; the only
    shuffle is the per-query top-10 rank on 16 keys."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    nrm0 = F.sqrt(
        F.aggregate(
            F.transform(F.col("emb"), lambda x: x * x),
            F.lit(0.0),
            lambda s, v: s + v,
        )
    )
    eu = e.withColumn(
        "nrm", F.when(nrm0 == 0.0, F.lit(1.0)).otherwise(nrm0)
    ).select(
        "vec_id",
        "label",
        F.transform(
            F.col("emb"),
            lambda x: F.floor(x / F.col("nrm") * _QSCALE + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("u"),
    )
    # query panel = vec_id < 16 (harness vec_ids are dense from 0 — the
    # same convention as brute_force_topk/ivfpq): a pushed-down scan
    # filter, NOT a global row_number window (which would single-
    # partition the whole vector table)
    queries = eu.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("u").alias("qu"),
    )
    scored = eu.join(
        F.broadcast(queries), eu.vec_id != queries.query_id
    ).select(
        "query_id",
        "qlabel",
        "vec_id",
        "label",
        F.aggregate(
            F.zip_with(F.col("qu"), F.col("u"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda s, v: s + v,
        ).alias("dot_i"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("dot_i"), F.asc("vec_id")
    )
    top = scored.withColumn("rank", F.row_number().over(wr)).where(
        F.col("rank") <= 10
    )
    wlit = F.array(*[F.lit(w) for w in _DCG_W])
    dcg = top.groupBy("query_id", "qlabel").agg(
        F.sum(
            (F.col("label") == F.col("qlabel")).cast("long")
            * F.element_at(wlit, F.col("rank"))
        )
        .cast("long")
        .alias("dcg_i")
    )
    lbl_n = eu.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_lbl")
    )
    cumlit = F.array(*[F.lit(c) for c in _DCG_CUM])
    return (
        dcg.join(
            F.broadcast(lbl_n), dcg.qlabel == lbl_n.label
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            (F.col("n_lbl") - 1).alias("n_rel"),
            F.when(
                F.col("n_lbl") > 1,
                F.col("dcg_i").cast("double")
                / F.element_at(
                    cumlit, F.least(F.col("n_lbl") - 1, F.lit(10)).cast("int")
                ).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
        .orderBy("query_id")
    )


_W_SQL = "[" + ", ".join(str(w) for w in _DCG_W) + "]"
_CUM_SQL = "[" + ", ".join(str(c) for c in _DCG_CUM) + "]"

SIMSEARCH_NDCG_SQL = f"""
WITH uq AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(generate_series(1, len(embedding)), i ->
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / nrm * {_QSCALE} + 0.5)
                AS BIGINT)) AS u
  FROM (SELECT vec_id, label, embedding,
               CASE WHEN nrm0 = 0 THEN 1.0 ELSE nrm0 END AS nrm
        FROM (SELECT vec_id, label, embedding,
                     sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm0
              FROM embeddings))
),
queries AS (
  SELECT vec_id AS query_id, label AS qlabel, u AS qu
  FROM uq WHERE vec_id < 16
),
scored AS (
  SELECT q.query_id, q.qlabel, v.vec_id, v.label,
         CAST(list_sum(list_transform(generate_series(1, len(v.u)),
              i -> q.qu[i] * v.u[i])) AS BIGINT) AS dot_i
  FROM queries q JOIN uq v ON v.vec_id <> q.query_id
),
top AS (
  SELECT * FROM (
    SELECT query_id, qlabel, label, dot_i,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY dot_i DESC, vec_id ASC) AS rank
    FROM scored)
  WHERE rank <= 10
),
dcg AS (
  SELECT query_id, qlabel,
         CAST(SUM(CASE WHEN label = qlabel
                       THEN ({_W_SQL})[rank] ELSE 0 END) AS BIGINT) AS dcg_i
  FROM top GROUP BY query_id, qlabel
),
lbl_n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_lbl FROM uq GROUP BY label
)
SELECT d.query_id, d.qlabel AS label, l.n_lbl - 1 AS n_rel,
       CASE WHEN l.n_lbl > 1
            THEN CAST(d.dcg_i AS DOUBLE)
                 / CAST(({_CUM_SQL})[LEAST(l.n_lbl - 1, 10)] AS DOUBLE)
            ELSE 0.0 END AS ndcg
FROM dcg d JOIN lbl_n l ON d.qlabel = l.label
ORDER BY d.query_id
"""


# ------------------------------------------------------- join fanout DQ


def dq_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality profile of the star schema's three fact
    relations — per relation: exact join output size (sum over keys of
    left-count x right-count), the worst single-key fanout, orphaned
    child rows, and the expansion ratio vs the child table. This is the
    pre-flight check a pipeline runs before a 100 TB join: a fanout
    spike or orphan mass predicts shuffle skew / silent row loss before
    the job burns cluster-hours.

    Exactness: every figure is an int64 sum/max over per-key counts;
    the ratio is one final division. Scale: one hash agg per side keyed
    on the join key (the same exchange the real join would pay), then a
    key-aligned merge of two count frames — never the join itself."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")

    def profile(child, ckey, parent, pkey, name):
        cc = child.groupBy(F.col(ckey).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("cn")
        )
        pc = parent.groupBy(F.col(pkey).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("pn")
        )
        m = cc.join(pc, "k", "full_outer").select(
            F.coalesce(F.col("cn"), F.lit(0)).alias("cn"),
            F.coalesce(F.col("pn"), F.lit(0)).alias("pn"),
        )
        return m.agg(
            F.lit(name).alias("relation"),
            F.sum("cn").cast("long").alias("child_rows"),
            F.sum("pn").cast("long").alias("parent_rows"),
            F.sum(F.col("cn") * F.col("pn")).cast("long").alias("join_rows"),
            F.max(F.when(F.col("pn") > 0, F.col("cn")).otherwise(0))
            .cast("long")
            .alias("max_key_fanout"),
            F.sum(F.when(F.col("pn") == 0, F.col("cn")).otherwise(0))
            .cast("long")
            .alias("orphan_child_rows"),
        )

    out = (
        profile(l, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(profile(l, "l_partkey", p, "p_partkey", "lineitem->part"))
        .unionAll(
            profile(o, "o_custkey", c, "c_custkey", "orders->customer")
        )
    )
    return out.select(
        "relation",
        "child_rows",
        "parent_rows",
        "join_rows",
        "max_key_fanout",
        "orphan_child_rows",
        (
            F.col("join_rows").cast("double")
            / F.col("child_rows").cast("double")
        ).alias("expansion_ratio"),
    ).orderBy("relation")


_FANOUT_ONE_SQL = """
SELECT '{name}' AS relation,
       CAST(SUM(cn) AS BIGINT) AS child_rows,
       CAST(SUM(pn) AS BIGINT) AS parent_rows,
       CAST(SUM(cn * pn) AS BIGINT) AS join_rows,
       CAST(MAX(CASE WHEN pn > 0 THEN cn ELSE 0 END) AS BIGINT)
         AS max_key_fanout,
       CAST(SUM(CASE WHEN pn = 0 THEN cn ELSE 0 END) AS BIGINT)
         AS orphan_child_rows,
       CAST(SUM(cn * pn) AS DOUBLE) / CAST(SUM(cn) AS DOUBLE)
         AS expansion_ratio
FROM (
  SELECT COALESCE(c.cn, 0) AS cn, COALESCE(p.pn, 0) AS pn
  FROM (SELECT {ckey} AS k, CAST(COUNT(*) AS BIGINT) AS cn
        FROM {child} GROUP BY {ckey}) c
  FULL OUTER JOIN
       (SELECT {pkey} AS k, CAST(COUNT(*) AS BIGINT) AS pn
        FROM {parent} GROUP BY {pkey}) p
  USING (k)
)
"""

DQ_JOIN_FANOUT_SQL = (
    _FANOUT_ONE_SQL.format(
        name="lineitem->orders", child="lineitem", ckey="l_orderkey",
        parent="orders", pkey="o_orderkey",
    )
    + " UNION ALL "
    + _FANOUT_ONE_SQL.format(
        name="lineitem->part", child="lineitem", ckey="l_partkey",
        parent="part", pkey="p_partkey",
    )
    + " UNION ALL "
    + _FANOUT_ONE_SQL.format(
        name="orders->customer", child="orders", ckey="o_custkey",
        parent="customer", pkey="c_custkey",
    )
    + " ORDER BY relation"
)


# ------------------------------------------------------- template strip


def corpus_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER-SIDE twin of :func:`corpus_boilerplate`: how many
    TOKENS would template-stripping actually remove, per source. A
    token is stripped when ANY boilerplate 5-gram occurrence covers it,
    so overlapping flagged grams must be union-ed — per document this
    is the interval-union sweep (each flagged gram at position p covers
    tokens [p, p+4]; covered += p+5 - max(p, running_end)), the same
    recipe as the session-coverage operator.

    Exactness: all counts are integers; the strip share is one final
    division. Scale: the gram explode + (source, gram) df agg from the
    gate, then the flagged positions (a small fraction of gram
    positions) sort per doc in a bounded window — no data-sized sort,
    no all-pairs anything. The gram scan + flagged-gram set are SHARED
    with :func:`corpus_boilerplate` via :func:`_gram_pass` (one explode
    for the pair, VERDICT r6 #3)."""
    shared = _gram_pass(spark, sf_dir)
    toks, grams, boiler = shared["toks"], shared["grams"], shared["boiler"]
    flagged = grams.join(boiler, ["source", "g"], "left_semi")
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = flagged.withColumn(
        "prev_end", F.coalesce(F.max(F.col("pos") + 5).over(wprev), F.lit(0))
    ).select(
        "doc_id",
        "source",
        F.greatest(
            F.col("pos") + 5 - F.greatest(F.col("pos"), F.col("prev_end")),
            F.lit(0),
        ).alias("cov"),
    )
    per_doc = covered.groupBy("doc_id", "source").agg(
        F.sum("cov").cast("long").alias("covered")
    )
    return (
        toks.join(per_doc.select("doc_id", "covered"), "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce(F.col("covered"), F.lit(0)).alias("covered"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("covered") > 0).cast("long"))
            .cast("long")
            .alias("docs_touched"),
            F.sum("n_toks").cast("long").alias("tokens_total"),
            F.sum("covered").cast("long").alias("tokens_stripped"),
        )
        .select(
            "source",
            "n_docs",
            "docs_touched",
            "tokens_total",
            "tokens_stripped",
            F.when(
                F.col("tokens_total") > 0,
                F.col("tokens_stripped").cast("double")
                / F.col("tokens_total").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("strip_share"),
        )
        .orderBy("source")
    )


CORPUS_TEMPLATE_STRIP_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source,
         regexp_extract_all(lower(text), '{_TOKEN_RE}') AS arr
  FROM documents
),
grams AS MATERIALIZED (
  SELECT doc_id, source, u.i AS pos,
         array_to_string(list_slice(arr, u.i, u.i + 4), ' ') AS g
  FROM toks,
       UNNEST(generate_series(1, greatest(len(arr) - 4, 0))) AS u(i)
),
src_docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
boiler AS (
  SELECT p.source, p.g
  FROM (SELECT source, g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM grams GROUP BY source, g) p
  JOIN src_docs s USING (source)
  WHERE p.df * 20 > s.n_docs
),
flagged AS (
  SELECT gr.doc_id, gr.source, gr.pos
  FROM grams gr SEMI JOIN boiler b
    ON gr.source = b.source AND gr.g = b.g
),
covered AS (
  SELECT doc_id, source,
         GREATEST(pos + 5 - GREATEST(pos,
           COALESCE(MAX(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)), 0)
           AS cov
  FROM flagged
),
per_doc AS (
  SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS covered
  FROM covered GROUP BY doc_id
)
SELECT t.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN COALESCE(p.covered, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_touched,
       CAST(SUM(len(t.arr)) AS BIGINT) AS tokens_total,
       CAST(SUM(COALESCE(p.covered, 0)) AS BIGINT) AS tokens_stripped,
       CASE WHEN SUM(len(t.arr)) > 0
            THEN CAST(SUM(COALESCE(p.covered, 0)) AS DOUBLE)
                 / CAST(SUM(len(t.arr)) AS DOUBLE)
            ELSE 0.0 END AS strip_share
FROM toks t LEFT JOIN per_doc p USING (doc_id)
GROUP BY t.source
ORDER BY t.source
"""


# ------------------------------------------- order-cycle percentiles


def sql_order_cycle_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-last-shipment lead time SLA matrix: type-7 interpolated
    p50/p90/p99 days per order priority — the fulfillment dashboard
    row. Reuses the repo's proven type-7 recipe (integer rank split +
    both bracketing order statistics selected by cumulative count on
    the integer day grid; value exact until one division).

    Scale: one (orderkey) agg for last-ship, one (priority, days) grid
    agg, windows on the bounded grid, a 3-rank-per-priority spine
    joined back with min-selection — no global sort, no per-row
    percentile buffering."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    last_ship = l.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    days = (
        o.join(last_ship, o.o_orderkey == last_ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("last_ship"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("d"),
        )
    )
    grid = days.groupBy("o_orderpriority", "d").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = Window.partitionBy("o_orderpriority").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    ns = grid.groupBy("o_orderpriority").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    ks = spark.range(0, 3).select(
        F.element_at(
            F.array(F.lit(50), F.lit(90), F.lit(99)),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("k")
    )
    ranks = (
        ns.crossJoin(F.broadcast(ks))
        .select(
            "o_orderpriority",
            "k",
            "n",
            F.expr("((n - 1) * k) % 100").alias("rem"),
            (F.expr("((n - 1) * k) div 100") + 1).alias("r1"),
            F.least(
                F.expr("((n - 1) * k) div 100") + 2, F.col("n")
            ).alias("r2"),
        )
    )
    x1 = (
        F.broadcast(ranks)
        .join(cum, "o_orderpriority")
        .where(F.col("cum") >= F.col("r1"))
        .groupBy("o_orderpriority", "k", "rem", "n")
        .agg(F.min("d").cast("long").alias("x1"))
    )
    x2 = (
        F.broadcast(ranks)
        .join(cum, "o_orderpriority")
        .where(F.col("cum") >= F.col("r2"))
        .groupBy("o_orderpriority", "k")
        .agg(F.min("d").cast("long").alias("x2"))
    )
    pct = x1.join(F.broadcast(x2), ["o_orderpriority", "k"]).select(
        "o_orderpriority",
        "k",
        "n",
        (
            (
                F.col("x1") * (100 - F.col("rem"))
                + F.col("x2") * F.col("rem")
            ).cast("double")
            / F.lit(100.0)
        ).alias("v"),
    )
    return (
        pct.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            F.max(F.when(F.col("k") == 50, F.col("v"))).alias("p50_days"),
            F.max(F.when(F.col("k") == 90, F.col("v"))).alias("p90_days"),
            F.max(F.when(F.col("k") == 99, F.col("v"))).alias("p99_days"),
        )
        .orderBy("o_orderpriority")
    )


SQL_ORDER_CYCLE_SQL = """
WITH days AS MATERIALIZED (
  SELECT o.o_orderpriority,
         CAST(CAST(ls.last_ship AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS d
  FROM orders o
  JOIN (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey) ls
    ON o.o_orderkey = ls.l_orderkey
),
grid AS (
  SELECT o_orderpriority, d, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM days GROUP BY o_orderpriority, d
),
cum AS (
  SELECT o_orderpriority, d,
         CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM grid
),
ns AS (SELECT o_orderpriority, CAST(SUM(cnt) AS BIGINT) AS n
       FROM grid GROUP BY o_orderpriority),
ranks AS (
  SELECT ns.o_orderpriority, CAST(k.k AS BIGINT) AS k, ns.n,
         ((ns.n - 1) * k.k) % 100 AS rem,
         ((ns.n - 1) * k.k) // 100 + 1 AS r1,
         LEAST(((ns.n - 1) * k.k) // 100 + 2, ns.n) AS r2
  FROM ns CROSS JOIN (SELECT unnest([50, 90, 99]) AS k) k
),
x1 AS (
  SELECT r.o_orderpriority, r.k, r.rem, r.n,
         CAST(MIN(c.d) AS BIGINT) AS x1
  FROM ranks r JOIN cum c
    ON c.o_orderpriority = r.o_orderpriority AND c.cum >= r.r1
  GROUP BY r.o_orderpriority, r.k, r.rem, r.n
),
x2 AS (
  SELECT r.o_orderpriority, r.k, CAST(MIN(c.d) AS BIGINT) AS x2
  FROM ranks r JOIN cum c
    ON c.o_orderpriority = r.o_orderpriority AND c.cum >= r.r2
  GROUP BY r.o_orderpriority, r.k
),
pct AS (
  SELECT x1.o_orderpriority, x1.k, x1.n,
         CAST(x1.x1 * (100 - x1.rem) + x2.x2 * x1.rem AS DOUBLE) / 100.0
           AS v
  FROM x1 JOIN x2
    ON x2.o_orderpriority = x1.o_orderpriority AND x2.k = x1.k
)
SELECT o_orderpriority,
       MAX(n) AS n_orders,
       MAX(CASE WHEN k = 50 THEN v END) AS p50_days,
       MAX(CASE WHEN k = 90 THEN v END) AS p90_days,
       MAX(CASE WHEN k = 99 THEN v END) AS p99_days
FROM pct
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -------------------------------------------------------- entropy rate


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov ENTROPY RATE per state: the conditional entropy
    H(next | cur) of the first-order event-type chain, one row per
    current type — how predictable each state's successor is (the
    information-theoretic summary on top of the transition matrix; a
    spike = behavior shift, near-zero = deterministic funnels).

    Exactness: transition counts are integers (same (ts, event_id) lag
    convention as the transition matrix); each n_ij*ln(n_i/n_ij) term
    quantizes onto the 2^-20 grid before the int64 sum (the MI
    defense); bits convert by one shared /ln(2). Scale: one user-keyed
    window + a (prev, next) hash agg — the |types|^2 frame does the
    rest."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("ni"),
        F.count(F.lit(1)).cast("long").alias("n_next_types"),
    )
    term = F.floor(
        F.col("n").cast("double")
        * F.log(F.col("ni").cast("double") / F.col("n").cast("double"))
        * F.lit(float(_QSCALE))
        + F.lit(0.5)
    ).cast("long")
    ln2 = float(math.log(2))
    return (
        trans.join(F.broadcast(tot), "prev_type")
        .groupBy("prev_type", "ni", "n_next_types")
        .agg(F.sum(term).cast("long").alias("hq"))
        .select(
            "prev_type",
            F.col("ni").alias("n_transitions"),
            "n_next_types",
            (
                F.col("hq").cast("double")
                / (F.col("ni").cast("double") * F.lit(float(_QSCALE)))
                / F.lit(ln2)
            ).alias("h_bits"),
        )
        .orderBy("prev_type")
    )


EVENTS_ENTROPY_RATE_SQL = f"""
WITH trans AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events)
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tot AS (
  SELECT prev_type, CAST(SUM(n) AS BIGINT) AS ni,
         CAST(COUNT(*) AS BIGINT) AS n_next_types
  FROM trans GROUP BY prev_type
)
SELECT t.prev_type, tt.ni AS n_transitions, tt.n_next_types,
       CAST(SUM(CAST(FLOOR(CAST(t.n AS DOUBLE)
                * ln(CAST(tt.ni AS DOUBLE) / CAST(t.n AS DOUBLE))
                * {float(_QSCALE)!r} + 0.5) AS BIGINT)) AS DOUBLE)
         / (CAST(tt.ni AS DOUBLE) * {float(_QSCALE)!r})
         / {float(math.log(2))!r} AS h_bits
FROM trans t JOIN tot tt USING (prev_type)
GROUP BY t.prev_type, tt.ni, tt.n_next_types
ORDER BY t.prev_type
"""


# ---------------------------------------------------- cohort retention


def sql_cohort_retention_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer COHORT RETENTION TRIANGLE: cohort = month of first
    order; for offsets 0..11, the distinct customers ordering again
    that many months later and the share of the cohort they represent
    — the classic BI retention matrix (the order-table complement of
    the event-funnel retention operator).

    Exactness: month indices are integers (y*12+m), active counts are
    COUNT(DISTINCT), retention is one division. Scale: one custkey agg
    for first months, one (cohort, offset, custkey) distinct agg — both
    shuffle on keys the orders join already pays."""
    o = load_table(spark, sf_dir, "orders")
    # 0-based month index so div/mod decode cleanly (y*12+m would label
    # December as January of the next year)
    om = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    d = o.select("o_custkey", om.alias("m"))
    first = d.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    act = (
        d.join(first, "o_custkey")
        .select(
            "o_custkey",
            "m0",
            (F.col("m") - F.col("m0")).alias("offset"),
        )
        .where(F.col("offset") <= 11)
        .groupBy("m0", "offset")
        .agg(F.countDistinct("o_custkey").cast("long").alias("active"))
    )
    base = act.where(F.col("offset") == 0).select(
        F.col("m0").alias("bm0"), F.col("active").alias("cohort_size")
    )
    return (
        act.join(F.broadcast(base), act.m0 == base.bm0)
        .select(
            (F.expr("m0 div 12")).alias("cohort_year"),
            (F.col("m0") % 12 + 1).alias("cohort_month"),
            "offset",
            "active",
            "cohort_size",
            (
                F.col("active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_year", "cohort_month", "offset")
    )


SQL_COHORT_RETENTION_SQL = """
WITH d AS (
  SELECT o_custkey,
         CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
           AS m
  FROM orders
),
first_m AS (
  SELECT o_custkey, MIN(m) AS m0 FROM d GROUP BY o_custkey
),
act AS (
  SELECT f.m0, d.m - f.m0 AS "offset",
         CAST(COUNT(DISTINCT d.o_custkey) AS BIGINT) AS active
  FROM d JOIN first_m f USING (o_custkey)
  WHERE d.m - f.m0 <= 11
  GROUP BY f.m0, d.m - f.m0
),
base AS (
  SELECT m0, active AS cohort_size FROM act WHERE "offset" = 0
)
SELECT a.m0 // 12 AS cohort_year,
       a.m0 % 12 + 1 AS cohort_month,
       a."offset" AS offset,
       a.active,
       b.cohort_size,
       CAST(a.active AS DOUBLE) / CAST(b.cohort_size AS DOUBLE) AS retention
FROM act a JOIN base b USING (m0)
ORDER BY cohort_year, cohort_month, a."offset"
"""


# ------------------------------------------------------- split drift


def corpus_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET-SHIFT AUDIT between the deterministic train and test
    splits: two-sample KS distance on document length plus both means —
    the check a pipeline runs before trusting eval numbers (a split
    whose length distribution drifts from train biases perplexity and
    truncation rates). Composes the stratified-split coin with the
    repo's integer KS recipe.

    Exactness: the split is the md5-rank integer gate; the KS statistic
    maximizes |c1*n2 - c2*n1| over the merged length grid — pure int64
    cross-multiplication, one final division; means are int sums with
    one division each. Scale: the cumulative window runs on the
    distinct-length grid (bounded by the length domain), never the doc
    table."""
    d = load_table(spark, sf_dir, "documents")
    coin = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    nw = Window.partitionBy("lang")
    ranked = d.select(
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(nw).cast("long").alias("n"),
    )
    tagged = ranked.select(
        "x",
        F.when(F.col("rnk") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rnk") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
        .alias("split"),
    ).where(F.col("split") != "val")
    grid = tagged.groupBy("x").agg(
        F.sum((F.col("split") == "train").cast("long"))
        .cast("long")
        .alias("ct"),
        F.sum((F.col("split") == "test").cast("long"))
        .cast("long")
        .alias("cs"),
        F.sum(
            F.when(F.col("split") == "train", F.col("x")).otherwise(0)
        )
        .cast("long")
        .alias("xt"),
        F.sum(F.when(F.col("split") == "test", F.col("x")).otherwise(0))
        .cast("long")
        .alias("xs"),
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        F.sum("ct").over(wc).cast("long").alias("cct"),
        F.sum("cs").over(wc).cast("long").alias("ccs"),
    )
    tot = grid.agg(
        F.sum("ct").cast("long").alias("n_train"),
        F.sum("cs").cast("long").alias("n_test"),
        F.sum("xt").cast("long").alias("sxt"),
        F.sum("xs").cast("long").alias("sxs"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_train", "n_test", "sxt", "sxs")
        .agg(
            F.max(
                F.abs(
                    F.col("cct") * F.col("n_test")
                    - F.col("ccs") * F.col("n_train")
                )
            )
            .cast("long")
            .alias("d_num")
        )
        .select(
            "n_train",
            "n_test",
            (
                F.col("d_num").cast("double")
                / (F.col("n_train") * F.col("n_test")).cast("double")
            ).alias("d_stat"),
            (
                F.col("sxt").cast("double") / F.col("n_train").cast("double")
            ).alias("mean_chars_train"),
            (
                F.col("sxs").cast("double") / F.col("n_test").cast("double")
            ).alias("mean_chars_test"),
        )
    )


CORPUS_SPLIT_DRIFT_SQL = """
WITH ranked AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
              AS BIGINT) AS rnk,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM documents
),
tagged AS (
  SELECT x,
         CASE WHEN rnk * 10 <= n * 8 THEN 'train'
              WHEN rnk * 10 <= n * 9 THEN 'val'
              ELSE 'test' END AS split
  FROM ranked
),
grid AS (
  SELECT x,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
           AS ct,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
           AS cs,
         CAST(SUM(CASE WHEN split = 'train' THEN x ELSE 0 END) AS BIGINT)
           AS xt,
         CAST(SUM(CASE WHEN split = 'test' THEN x ELSE 0 END) AS BIGINT)
           AS xs
  FROM tagged WHERE split <> 'val'
  GROUP BY x
),
cum AS (
  SELECT ct, cs, xt, xs,
         CAST(SUM(ct) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cct,
         CAST(SUM(cs) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ccs
  FROM grid
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS n_train,
         CAST(SUM(cs) AS BIGINT) AS n_test,
         CAST(SUM(xt) AS BIGINT) AS sxt,
         CAST(SUM(xs) AS BIGINT) AS sxs
  FROM grid
)
SELECT t.n_train, t.n_test,
       CAST(MAX(ABS(c.cct * t.n_test - c.ccs * t.n_train)) AS DOUBLE)
         / CAST(t.n_train * t.n_test AS DOUBLE) AS d_stat,
       CAST(t.sxt AS DOUBLE) / CAST(t.n_train AS DOUBLE)
         AS mean_chars_train,
       CAST(t.sxs AS DOUBLE) / CAST(t.n_test AS DOUBLE) AS mean_chars_test
FROM cum c, tot t
GROUP BY t.n_train, t.n_test, t.sxt, t.sxs
"""


# ------------------------------------------------------ price elasticity


def sql_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand DISCOUNT ELASTICITY: least-squares slope of line
    quantity on the discount level (in points), with R² — does a
    deeper discount actually move volume for this brand? The
    trend-OLS recipe on a merchandising axis: all five sufficient
    statistics are int64 sums (discount on the 0-10 point grid,
    quantity integral), slope/R² are one shared float expression, and
    a constant regressor yields NULLs via the same CASE both engines.

    Scale: one brand-keyed hash agg over the lineitem⨝part broadcast
    join — the same single exchange every brand rollup pays."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.floor(F.col("l_discount") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x"),
            F.col("l_quantity").cast("long").alias("y"),
        )
    )
    agg = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return agg.select(
        "p_brand",
        F.col("n").alias("n_lines"),
        F.when(den_x > 0, num / den_x).alias("qty_per_discount_point"),
        F.when((den_x > 0) & (den_y > 0), num * num / (den_x * den_y)).alias(
            "r2"
        ),
    ).orderBy("p_brand")


SQL_PRICE_ELASTICITY_SQL = """
WITH d AS (
  SELECT p_brand,
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
agg AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM d GROUP BY p_brand
)
SELECT p_brand, n AS n_lines,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) END AS qty_per_discount_point,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
         / (CAST(n * sxx - sx * sx AS DOUBLE)
            * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
FROM agg
ORDER BY p_brand
"""


# ----------------------------------------------------------------- ICC


def events_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRACLASS CORRELATION ICC(1) of event values grouped by user —
    how much of the value variance is BETWEEN users vs noise within
    them (repeatability: near 1 = users are stable signatures worth
    per-user features; near 0 = per-user aggregation adds nothing).

    Exactness: per-user sums are int64; the between-group sum of
    squares uses INTEGER division ``(s_g*s_g) div n_g`` per user
    (identical truncation both engines — s_g² can exceed 2^53, so a
    double detour would lose bits), summed as int64; MSB/MSW/n0/ICC
    are one shared float expression. Scale: one user-keyed hash agg +
    one global agg."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("c").cast("long").alias("sg"),
    )
    gstats = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("nn"),
        F.sum("sg").cast("long").alias("s"),
        F.sum(F.expr("(sg * sg) div ng")).cast("long").alias("ssb_num"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
    )
    tot = e.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc")
    )
    j = gstats.crossJoin(F.broadcast(tot))
    ssb = F.col("ssb_num").cast("double") - (
        F.col("s").cast("double") / F.col("nn").cast("double")
    ) * F.col("s").cast("double")
    ssw = F.col("scc").cast("double") - F.col("ssb_num").cast("double")
    msb = ssb / (F.col("k") - 1).cast("double")
    msw = ssw / (F.col("nn") - F.col("k")).cast("double")
    n0 = (
        F.col("nn").cast("double")
        - F.col("sn2").cast("double") / F.col("nn").cast("double")
    ) / (F.col("k") - 1).cast("double")
    icc = (msb - msw) / (msb + (n0 - 1) * msw)
    return j.select(
        F.col("k").alias("n_users"),
        F.col("nn").alias("n_events"),
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        n0.alias("n0"),
        icc.alias("icc1"),
    )


EVENTS_ICC_SQL = """
WITH e AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(c) AS BIGINT) AS sg
  FROM e GROUP BY user_id
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(ng) AS BIGINT) AS nn,
         CAST(SUM(sg) AS BIGINT) AS s,
         CAST(SUM((sg * sg) // ng) AS BIGINT) AS ssb_num,
         CAST(SUM(ng * ng) AS BIGINT) AS sn2
  FROM per_user
),
t AS (SELECT CAST(SUM(c * c) AS BIGINT) AS scc FROM e),
-- MATERIALIZED so icc1 composes from the SAME three projected doubles
-- the output carries (inlining the big tree cost DuckDB 1 ulp vs the
-- Spark/Python composition)
ms AS MATERIALIZED (
  SELECT k AS n_users, nn AS n_events,
         (CAST(ssb_num AS DOUBLE)
          - CAST(s AS DOUBLE) / CAST(nn AS DOUBLE) * CAST(s AS DOUBLE))
           / CAST(k - 1 AS DOUBLE) AS ms_between,
         (CAST(scc AS DOUBLE) - CAST(ssb_num AS DOUBLE))
           / CAST(nn - k AS DOUBLE) AS ms_within,
         (CAST(nn AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(nn AS DOUBLE))
           / CAST(k - 1 AS DOUBLE) AS n0
  FROM g, t
)
SELECT n_users, n_events, ms_between, ms_within, n0,
       (ms_between - ms_within)
         / (ms_between + (n0 - 1) * ms_within) AS icc1
FROM ms
"""


# ---------------------------------------------------------------- Brier


def events_score_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with Murphy decomposition for the error-class score
    (the reliability-diagram framing made a single scalar): raw Brier
    on the normalized score, plus reliability / resolution /
    uncertainty from the 10 calibration bins — rel − res + unc is the
    Brier of the bin-averaged forecast, and (brier_raw − that) is the
    within-bin forecast variance, all reported.

    Exactness: with R = score range, each squared residual
    ((c−mn) − o·R)² is an exact int64 (one division at the end); the
    per-bin decomposition terms square an int64 difference in a single
    shared double op and quantize onto the 2^-20 grid before the
    10-row sum (float sums over parallel rows are not order-free even
    at 10 rows). Scale: one 10-bin hash agg — the reliability-diagram
    plan with two more integer columns."""
    e = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
        F.when(F.col("event_type") == "error", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
    )
    rng = e.agg(
        F.min("c").cast("long").alias("mn"),
        F.max("c").cast("long").alias("mx"),
    )
    b = e.crossJoin(F.broadcast(rng)).select(
        F.expr("((c - mn) * 10) div (mx - mn + 1)").alias("bin"),
        (F.col("c") - F.col("mn")).alias("s"),
        "pos",
        (F.col("mx") - F.col("mn")).alias("r"),
    )
    resid = F.col("s") - F.col("pos") * F.col("r")
    bins = b.groupBy("bin", "r").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("pos").cast("long").alias("np_"),
        F.sum(resid * resid).cast("long").alias("sq"),
    )
    grid = float(_QSCALE)
    # per-bin decomposition terms, quantized before the 10-row sum
    rel_t = F.floor(
        (F.col("ss") - F.col("np_") * F.col("r")).cast("double")
        * (F.col("ss") - F.col("np_") * F.col("r")).cast("double")
        / (F.col("n").cast("double") * F.col("r").cast("double")
           * F.col("r").cast("double"))
        * F.lit(grid)
        + F.lit(0.5)
    ).cast("long")
    tot = bins.groupBy("r").agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("np_").cast("long").alias("p"),
        F.sum("sq").cast("long").alias("sqsum"),
    )
    j = bins.join(F.broadcast(tot), "r")
    res_t = F.floor(
        (F.col("np_") * F.col("nn") - F.col("n") * F.col("p")).cast("double")
        * (F.col("np_") * F.col("nn") - F.col("n") * F.col("p")).cast(
            "double"
        )
        / (
            F.col("n").cast("double")
            * F.col("nn").cast("double")
            * F.col("nn").cast("double")
        )
        * F.lit(grid)
        + F.lit(0.5)
    ).cast("long")
    agg = j.groupBy("r", "nn", "p", "sqsum").agg(
        F.sum(rel_t).cast("long").alias("rel_q"),
        F.sum(res_t).cast("long").alias("res_q"),
    )
    nn_d = F.col("nn").cast("double")
    brier = F.col("sqsum").cast("double") / (
        nn_d * F.col("r").cast("double") * F.col("r").cast("double")
    )
    reliability = F.col("rel_q").cast("double") / (nn_d * F.lit(grid))
    resolution = F.col("res_q").cast("double") / (nn_d * F.lit(grid))
    obar = F.col("p").cast("double") / nn_d
    uncertainty = obar * (1 - obar)
    return agg.select(
        F.col("nn").alias("n_events"),
        brier.alias("brier_raw"),
        reliability.alias("reliability"),
        resolution.alias("resolution"),
        uncertainty.alias("uncertainty"),
        (brier - (reliability - resolution + uncertainty)).alias(
            "within_bin_variance"
        ),
    )


EVENTS_BRIER_SQL = f"""
WITH e AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
         CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS BIGINT)
           AS pos
  FROM events
),
rng AS (SELECT CAST(MIN(c) AS BIGINT) AS mn, CAST(MAX(c) AS BIGINT) AS mx
        FROM e),
b AS (
  SELECT ((c - mn) * 10) // (mx - mn + 1) AS bin,
         c - mn AS s, pos, mx - mn AS r
  FROM e, rng
),
bins AS (
  SELECT bin, r, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS ss,
         CAST(SUM(pos) AS BIGINT) AS np_,
         CAST(SUM((s - pos * r) * (s - pos * r)) AS BIGINT) AS sq
  FROM b GROUP BY bin, r
),
tot AS (
  SELECT r, CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(np_) AS BIGINT) AS p,
         CAST(SUM(sq) AS BIGINT) AS sqsum
  FROM bins GROUP BY r
),
agg AS (
  SELECT t.r, t.nn, t.p, t.sqsum,
         CAST(SUM(CAST(FLOOR(
           CAST(bi.ss - bi.np_ * bi.r AS DOUBLE)
           * CAST(bi.ss - bi.np_ * bi.r AS DOUBLE)
           / (CAST(bi.n AS DOUBLE) * CAST(bi.r AS DOUBLE)
              * CAST(bi.r AS DOUBLE))
           * {float(_QSCALE)!r} + 0.5) AS BIGINT)) AS BIGINT) AS rel_q,
         CAST(SUM(CAST(FLOOR(
           CAST(bi.np_ * t.nn - bi.n * t.p AS DOUBLE)
           * CAST(bi.np_ * t.nn - bi.n * t.p AS DOUBLE)
           / (CAST(bi.n AS DOUBLE) * CAST(t.nn AS DOUBLE)
              * CAST(t.nn AS DOUBLE))
           * {float(_QSCALE)!r} + 0.5) AS BIGINT)) AS BIGINT) AS res_q
  FROM bins bi JOIN tot t ON bi.r = t.r
  GROUP BY t.r, t.nn, t.p, t.sqsum
)
SELECT nn AS n_events,
       CAST(sqsum AS DOUBLE)
         / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE) * CAST(r AS DOUBLE))
         AS brier_raw,
       CAST(rel_q AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_QSCALE)!r})
         AS reliability,
       CAST(res_q AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_QSCALE)!r})
         AS resolution,
       (CAST(p AS DOUBLE) / CAST(nn AS DOUBLE))
         * (1 - CAST(p AS DOUBLE) / CAST(nn AS DOUBLE)) AS uncertainty,
       CAST(sqsum AS DOUBLE)
         / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE) * CAST(r AS DOUBLE))
       - (CAST(rel_q AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_QSCALE)!r})
          - CAST(res_q AS DOUBLE) / (CAST(nn AS DOUBLE) * {float(_QSCALE)!r})
          + (CAST(p AS DOUBLE) / CAST(nn AS DOUBLE))
            * (1 - CAST(p AS DOUBLE) / CAST(nn AS DOUBLE)))
         AS within_bin_variance
FROM agg
"""


# -------------------------------------------------------------- log-rank


def sql_ship_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST between the shipping survival curves of urgent
    (1-URGENT/2-HIGH) and normal-priority orders — the standard
    two-group time-to-event comparison on top of the Kaplan-Meier
    machinery (does priority actually change time-to-first-ship?),
    with right-censoring at the dataset horizon exactly like
    sql_ship_survival.

    Exactness: at-risk and event counts are int64 (cumulative windows
    over the bounded delay-day domain); each event-time's expected
    and variance term is one shared float expression of those ints,
    quantized onto the 2^-20 grid before the int64 sum; the chi²
    statistic is one final composition, and the 5%-level flag compares
    against the embedded 3.841459 literal. Scale: one per-order
    min-shipdate agg (data-sized), then everything lives on the
    bounded day grid."""
    o = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.min("l_shipdate").alias("first_ship"))
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
            F.col("first_ship").isNotNull().cast("long").alias("evented"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("long")
            .alias("g"),
        )
        .where(F.col("t_obs") >= 0)
    )
    totals = subj.agg(
        F.sum("g").cast("long").alias("n1_total"),
        F.sum(1 - F.col("g")).cast("long").alias("n0_total"),
    )
    per_day = subj.groupBy("t_obs").agg(
        F.sum("g").cast("long").alias("exit1"),
        F.sum(1 - F.col("g")).cast("long").alias("exit0"),
        F.sum(F.col("g") * F.col("evented")).cast("long").alias("d1"),
        F.sum((1 - F.col("g")) * F.col("evented")).cast("long").alias("d0"),
    )
    w = Window.orderBy("t_obs").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_day.crossJoin(F.broadcast(totals)).select(
        "t_obs",
        "d1",
        "d0",
        (F.col("n1_total") - F.coalesce(F.sum("exit1").over(w), F.lit(0)))
        .cast("long")
        .alias("n1"),
        (F.col("n0_total") - F.coalesce(F.sum("exit0").over(w), F.lit(0)))
        .cast("long")
        .alias("n0"),
        "n1_total",
        "n0_total",
    )
    grid = float(_QSCALE)
    ev = risk.where((F.col("d1") + F.col("d0")) > 0).select(
        "n1_total",
        "n0_total",
        "d1",
        (F.col("d1") + F.col("d0")).alias("d"),
        (F.col("n1") + F.col("n0")).alias("n"),
        "n1",
    )
    e_term = F.floor(
        F.col("d").cast("double")
        * F.col("n1").cast("double")
        / F.col("n").cast("double")
        * F.lit(grid)
        + F.lit(0.5)
    ).cast("long")
    v_term = F.floor(
        F.when(
            F.col("n") > 1,
            F.col("d").cast("double")
            * (F.col("n1").cast("double") / F.col("n").cast("double"))
            * (1 - F.col("n1").cast("double") / F.col("n").cast("double"))
            * (F.col("n") - F.col("d")).cast("double")
            / (F.col("n") - 1).cast("double"),
        ).otherwise(F.lit(0.0))
        * F.lit(grid)
        + F.lit(0.5)
    ).cast("long")
    agg = ev.groupBy("n1_total", "n0_total").agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(e_term).cast("long").alias("e_q"),
        F.sum(v_term).cast("long").alias("v_q"),
    )
    e1 = F.col("e_q").cast("double") / F.lit(grid)
    v = F.col("v_q").cast("double") / F.lit(grid)
    chi2 = F.when(
        F.col("v_q") > 0,
        (F.col("o1").cast("double") - e1) * (F.col("o1").cast("double") - e1)
        / v,
    )
    return agg.select(
        F.col("n1_total").alias("n_urgent"),
        F.col("n0_total").alias("n_normal"),
        F.col("o1").alias("observed_urgent_events"),
        e1.alias("expected_urgent_events"),
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841458820694124)).alias("significant_5pct"),
    )


SQL_SHIP_LOGRANK_SQL = f"""
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
         CAST(CASE WHEN li.first_ship IS NOT NULL THEN 1 ELSE 0 END
              AS BIGINT) AS evented,
         CAST(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS BIGINT) AS g
  FROM orders o
  LEFT JOIN li ON o.o_orderkey = li.l_orderkey
  CROSS JOIN h
),
subj2 AS (SELECT * FROM subj WHERE t_obs >= 0),
totals AS (
  SELECT CAST(SUM(g) AS BIGINT) AS n1_total,
         CAST(SUM(1 - g) AS BIGINT) AS n0_total
  FROM subj2
),
per_day AS (
  SELECT t_obs,
         CAST(SUM(g) AS BIGINT) AS exit1,
         CAST(SUM(1 - g) AS BIGINT) AS exit0,
         CAST(SUM(g * evented) AS BIGINT) AS d1,
         CAST(SUM((1 - g) * evented) AS BIGINT) AS d0
  FROM subj2 GROUP BY t_obs
),
risk AS (
  SELECT t_obs, d1, d0,
         t.n1_total - COALESCE(CAST(SUM(exit1) OVER (ORDER BY t_obs
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS n1,
         t.n0_total - COALESCE(CAST(SUM(exit0) OVER (ORDER BY t_obs
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS n0,
         t.n1_total, t.n0_total
  FROM per_day CROSS JOIN totals t
),
ev AS (
  SELECT n1_total, n0_total, d1, d1 + d0 AS d, n1 + n0 AS n, n1
  FROM risk WHERE d1 + d0 > 0
),
agg AS (
  SELECT n1_total, n0_total,
         CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(CAST(FLOOR(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
             / CAST(n AS DOUBLE) * {float(_QSCALE)!r} + 0.5) AS BIGINT))
           AS BIGINT) AS e_q,
         CAST(SUM(CAST(FLOOR((CASE WHEN n > 1 THEN
             CAST(d AS DOUBLE)
             * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (1 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
             * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
             ELSE 0.0 END) * {float(_QSCALE)!r} + 0.5) AS BIGINT))
           AS BIGINT) AS v_q
  FROM ev GROUP BY n1_total, n0_total
)
SELECT n1_total AS n_urgent, n0_total AS n_normal,
       o1 AS observed_urgent_events,
       CAST(e_q AS DOUBLE) / {float(_QSCALE)!r} AS expected_urgent_events,
       CASE WHEN v_q > 0 THEN
         (CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / {float(_QSCALE)!r})
         * (CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / {float(_QSCALE)!r})
         / (CAST(v_q AS DOUBLE) / {float(_QSCALE)!r}) END AS chi2,
       CASE WHEN v_q > 0 THEN
         ((CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / {float(_QSCALE)!r})
          * (CAST(o1 AS DOUBLE) - CAST(e_q AS DOUBLE) / {float(_QSCALE)!r})
          / (CAST(v_q AS DOUBLE) / {float(_QSCALE)!r}))
         > 3.841458820694124 END AS significant_5pct
FROM agg
"""


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by its unigram log-likelihood ratio under the TARGET distribution
    (here: the English subcorpus) vs the REST, and keep the top-k most
    target-like — the published shape for tilting a raw crawl toward a
    target domain before pretraining.

    Exactness: per-token Laplace-smoothed log-ratio
    ln((ct+1)/(Nt+V)) - ln((cr+1)/(Nr+V)) is computed once on the
    VOCAB-bounded frame via platform-libm ln (bit-matches DuckDB),
    quantized to the 2^-20 grid; per-doc scores are then exact int64
    sums of tf * lr_q, so ranking and the final double weight are
    engine-identical.

    At 100 TB: one token explode -> (doc, tok) tf agg (the only
    data-sized shuffle) -> vocab-keyed log-ratio frame joined back
    (broadcast while the vocab fits, shuffle join otherwise) -> int64
    doc sums -> TakeOrdered top-k. The paper's hashed n-gram trick
    (bucket grams into 10k hash features) drops in by replacing tok
    with a hash-mod before the vocab agg if vocab size ever dominates.

    Output: (doc_id, source, lang, weight) — top 25 by weight.
    """
    score = _dsir_scores(spark, sf_dir)
    return (
        score.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(25)
        .select(
            "doc_id",
            "source",
            "lang",
            (F.col("s").cast("double") / F.lit(1048576.0)).alias("weight"),
        )
    )


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR log-likelihood-ratio scores on the 2^-20
    integer grid — the shared frame behind corpus_dsir_select (top-k
    selection) and corpus_stats.corpus_dsir_ess (effective sample size).
    Returns (doc_id, source, lang, s) with s an exact int64."""
    from ..functions.libm import libm_log

    from ..operators.text import token_arrays

    toks = token_arrays(
        load_table(spark, sf_dir, "documents"), cache_key=sf_dir
    ).selectExpr("doc_id", "source", "lang", "explode(toks) AS tok")
    # materialized once: both the vocab branch and the scoring join read
    # pt — without the checkpoint Catalyst re-derives the explode+agg
    # twice (same index-reuse pattern as the LSH shingle frame)
    pt = (
        toks.groupBy("doc_id", "source", "lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    vocab = pt.groupBy("tok").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(F.col("lang") != "en", F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cr"),
    )
    totals = vocab.agg(
        F.sum("ct").cast("long").alias("nt"),
        F.sum("cr").cast("long").alias("nr"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    lr = (
        vocab.crossJoin(F.broadcast(totals))
        .withColumn(
            "lr",
            libm_log(
                (F.col("ct") + 1).cast("double")
                / (F.col("nt") + F.col("v")).cast("double")
            )
            - libm_log(
                (F.col("cr") + 1).cast("double")
                / (F.col("nr") + F.col("v")).cast("double")
            ),
        )
        .select(
            "tok",
            F.floor(F.col("lr") * F.lit(1048576.0) + F.lit(0.5)).alias("lr_q"),
        )
    )
    return (
        pt.join(lr, "tok")
        .groupBy("doc_id", "source", "lang")
        .agg(F.sum(F.col("tf") * F.col("lr_q")).cast("long").alias("s"))
    )


# Shared CTE chain ending at score(doc_id, source, lang, s) — the SQL
# twin of _dsir_scores, reused by corpus_stats' ESS oracle.
DSIR_SCORE_CTES = f"""
WITH toks AS (
  SELECT doc_id, source, lang,
         unnest(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS tok
  FROM documents
),
pt AS MATERIALIZED (
  SELECT doc_id, source, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, source, lang, tok
),
vocab AS MATERIALIZED (
  SELECT tok,
         CAST(SUM(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS ct,
         CAST(SUM(CASE WHEN lang <> 'en' THEN tf ELSE 0 END) AS BIGINT) AS cr
  FROM pt GROUP BY tok
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt,
         CAST(SUM(cr) AS BIGINT) AS nr,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
),
lr AS MATERIALIZED (
  SELECT tok,
         CAST(floor(
           (ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
            - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)))
           * 1048576.0 + 0.5) AS BIGINT) AS lr_q
  FROM vocab, tot
),
score AS (
  SELECT doc_id, source, lang, CAST(SUM(tf * lr_q) AS BIGINT) AS s
  FROM pt JOIN lr USING (tok)
  GROUP BY doc_id, source, lang
)"""

CORPUS_DSIR_SQL = f"""{DSIR_SCORE_CTES}
SELECT doc_id, source, lang, CAST(s AS DOUBLE) / 1048576.0 AS weight
FROM score
ORDER BY s DESC, doc_id ASC
LIMIT 25
"""


QUERIES = {
    "corpus_boilerplate": corpus_boilerplate,
    "corpus_dsir_select": corpus_dsir_select,
    "corpus_template_strip": corpus_template_strip,
    "simsearch_ndcg": simsearch_ndcg,
    "dq_join_fanout": dq_join_fanout,
    "sql_order_cycle_percentiles": sql_order_cycle_percentiles,
    "events_entropy_rate": events_entropy_rate,
    "sql_cohort_retention_matrix": sql_cohort_retention_matrix,
    "corpus_split_drift": corpus_split_drift,
    "sql_price_elasticity": sql_price_elasticity,
    "events_icc": events_icc,
    "events_score_brier": events_score_brier,
    "sql_ship_logrank": sql_ship_logrank,
}

ORACLES = {
    "corpus_boilerplate": CORPUS_BOILERPLATE_SQL,
    "corpus_dsir_select": CORPUS_DSIR_SQL,
    "corpus_template_strip": CORPUS_TEMPLATE_STRIP_SQL,
    "simsearch_ndcg": SIMSEARCH_NDCG_SQL,
    "dq_join_fanout": DQ_JOIN_FANOUT_SQL,
    "sql_order_cycle_percentiles": SQL_ORDER_CYCLE_SQL,
    "events_entropy_rate": EVENTS_ENTROPY_RATE_SQL,
    "sql_cohort_retention_matrix": SQL_COHORT_RETENTION_SQL,
    "corpus_split_drift": CORPUS_SPLIT_DRIFT_SQL,
    "sql_price_elasticity": SQL_PRICE_ELASTICITY_SQL,
    "events_icc": EVENTS_ICC_SQL,
    "events_score_brier": EVENTS_BRIER_SQL,
    "sql_ship_logrank": SQL_SHIP_LOGRANK_SQL,
}

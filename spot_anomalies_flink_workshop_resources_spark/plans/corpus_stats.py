"""Corpus, text, dedup and vector-index statistics: the ``corpus_*``,
``text_*``, ``dedup_*``, ``simsearch_*`` and ``multimodal_*`` queries
beyond the curation and pipeline families.

- corpus profiling: CCNet perplexity buckets, DSIR effective sample
  size, OOV rate, document-length quartiles and lognormal fit, dedup
  token loss, temperature-sampled mixture
- text statistics: Dunning keyness, char-trigram entropy, burstiness,
  Yule's K, Honoré's R / Sichel's S, stutter rate
- dedup and index health: the MinHash LSH band S-curve, result-set
  diversity, IVF centroid balance and recall curve, PQ and SQ8
  reconstruction distortion
- media: per-type size quartiles

Exactness contract: token, gram and document counts are int64 folds
over the shared token, gram and signature passes of the memo store.
Per-term float contributions go onto the 2^-20 grid before any sum
(the grid contract of ``operators/stats.py``). Transcendentals other
than sqrt go through the libm twin (``functions/libm.py``). Vector
reads reuse the simsearch operators' quantized integer arithmetic, and
recall is an integer set intersection. The reference's scope
ends at fixed-threshold detection (AD.java:200); this family is
beyond-reference by design (SURVEY.md §2 extension family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.stats import Q20, moments, on_grid


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
        on_grid(F.col("a").cast("double") * libm_log(r1), float(Q20)),
    ).otherwise(F.lit(0))
    q2 = F.when(
        F.col("b") > 0,
        on_grid(F.col("b").cast("double") * libm_log(r2), float(Q20)),
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
            (F.lit(2.0) * F.col("qg").cast("double") / F.lit(float(Q20))).alias(
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
                * {float(Q20)!r} + 0.5) AS BIGINT) ELSE 0 END
           + CASE WHEN b > 0 THEN
           CAST(FLOOR(CAST(b AS DOUBLE)
                * ln(CAST(b * nn AS DOUBLE) / CAST(n2 * (a + b) AS DOUBLE))
                * {float(Q20)!r} + 0.5) AS BIGINT) ELSE 0 END
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
       2.0 * CAST(qg AS DOUBLE) / {float(Q20)!r} AS g2
FROM ranked WHERE rn <= 5
ORDER BY source, rank
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
    s_rec = on_grid(F.col("avg_nll") * F.col("n_grams").cast("double"), scale)
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


# --------------------------------------------- LSH band-tuning S-curve


def dedup_minhash_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BAND-TUNING S-CURVE on real candidate pairs: for every
    banded candidate pair, the signature agreement count m (of 16
    minhash rows) estimates Jaccard s = m/16; the detection probability
    of alternative band layouts (r rows x b bands, rb = 16) at that s
    is p = 1 - (1 - s^r)^b. Grouped by m this is the empirical S-curve
    a dedup operator owner reads before changing the band layout —
    computed ONLY over bucket-colliding pairs (the banded, bounded
    set), never all pairs.

    Exactness: m is an integer column; s = m/16 is an exact binary
    rational; every power is an EXPLICIT left-associated multiplication
    chain generated once in Python and embedded verbatim in both
    engines, so each correctly-rounded double op sequence is identical.
    Scale: candidate-pair frame (banded) + one 16-comparison select +
    a 17-row group-by."""
    from ..operators.dedup import NUM_HASHES, minhash_wide_frame

    wide = minhash_wide_frame(
        load_table(spark, sf_dir, "documents"), NUM_HASHES, 3,
        cache_key=sf_dir,
    )
    band_size, n_bands = 2, NUM_HASHES // 2
    band_hash_cols = [
        F.md5(
            F.concat_ws(
                ":",
                *[
                    F.col(f"sig{b * band_size + r}").cast("string")
                    for r in range(band_size)
                ],
            )
        ).alias(f"bh{b}")
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, bh{b}" for b in range(n_bands))
    bands = wide.select("doc_id", *band_hash_cols).selectExpr(
        "doc_id", f"stack({n_bands}, {stack_args}) AS (band, band_hash)"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    m_col = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    ).cast("long")
    hist = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(m_col.alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    out = hist
    for r_, b_, nm in _SCURVE_CONFIGS:
        out = out.withColumn(nm, F.expr(_scurve_expr(r_, b_)))
    return out.orderBy("m")


# Alternative band layouts for 16 hashes: (rows per band, bands, column)
_SCURVE_CONFIGS = [(2, 8, "p_r2_b8"), (4, 4, "p_r4_b4"), (8, 2, "p_r8_b2")]


def _scurve_expr(r: int, b: int) -> str:
    """1 - (1 - s^r)^b at s = m/16 as an explicit multiplication chain
    (identical text evaluated by both engines)."""
    s = "(CAST(m AS DOUBLE)/16.0)"
    sr = "(" + "*".join([s] * r) + ")"
    q = f"(1.0 - {sr})"
    qb = "(" + "*".join([q] * b) + ")"
    return f"(1.0 - {qb})"


def _dedup_minhash_scurve_sql() -> str:
    from ..operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_HASHES,
        _shingles_sql,
    )

    band_size, n_bands = 2, NUM_HASHES // 2
    sig_exprs = ", ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS band_hash "
        "FROM sigs".format(
            b=bb,
            cols=", ".join(
                f"CAST(sig{bb * band_size + r} AS VARCHAR)"
                for r in range(band_size)
            ),
        )
        for bb in range(n_bands)
    )
    m_expr = " + ".join(
        f"(CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    cfg_cols = ",\n       ".join(
        f"{_scurve_expr(r_, b_)} AS {nm}" for r_, b_, nm in _SCURVE_CONFIGS
    )
    return f"""
WITH toks AS ({_shingles_sql(3)}
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
  FROM toks
),
sigs AS MATERIALIZED (
  SELECT doc_id, {sig_exprs}
  FROM hashed GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
matches AS (
  SELECT CAST({m_expr} AS BIGINT) AS m
  FROM cand
  JOIN sigs a ON a.doc_id = cand.doc_a
  JOIN sigs b ON b.doc_id = cand.doc_b
),
hist AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM matches GROUP BY m
)
SELECT m, n_pairs,
       {cfg_cols}
FROM hist
ORDER BY m
"""


# ------------------------------------------------ DSIR effective size


def corpus_dsir_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE SAMPLE SIZE of the DSIR importance weights — the
    standard diagnostic for importance resampling (Kong 1992): with
    normalized weights w_i proportional to exp(score_i), ESS =
    (SUM w)^2 / SUM w^2. A low ESS/n warns that a resampled corpus
    would be dominated by a few documents. Shares the per-doc score
    frame (curation._dsir_scores, exact int64 on the 2^-20 grid).

    Exactness: w_i = exp((s_i - max_s)/2^20) <= 1 via the libm-exact
    exp twin (functions/libm), quantized to the 2^-20 grid so both
    sums are exact int64 folds; the final ratio is one shared float
    expression over exact ints. Scale: one max, one narrow map, one
    2-sum agg over the doc-sized score frame."""
    from ..functions.libm import libm_exp
    from .curation import _dsir_scores

    score = _dsir_scores(spark, sf_dir)
    mx = score.agg(F.max("s").cast("long").alias("mx"))
    w = (
        score.crossJoin(F.broadcast(mx))
        .withColumn(
            "w",
            libm_exp(
                (F.col("s") - F.col("mx")).cast("double")
                / F.lit(float(Q20))
            ),
        )
        .select(
            on_grid(F.col("w"), float(Q20)).alias("wq")
        )
    )
    agg = w.agg(
        *moments("n_docs", sw="wq", sq=("wq", "wq")),
    )
    ess = (
        F.col("sw").cast("double") * F.col("sw").cast("double")
        / F.col("sq").cast("double")
    )
    return agg.select(
        "n_docs",
        ess.alias("ess"),
        (ess / F.col("n_docs").cast("double")).alias("ess_ratio"),
    )


def _corpus_dsir_ess_sql() -> str:
    from .curation import DSIR_SCORE_CTES

    return f"""{DSIR_SCORE_CTES},
mx AS (SELECT CAST(MAX(s) AS BIGINT) AS mx FROM score),
w AS (
  SELECT CAST(FLOOR(exp(CAST(s - mx AS DOUBLE) / 1048576.0)
                    * 1048576.0 + 0.5) AS BIGINT) AS wq
  FROM score, mx
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(wq) AS BIGINT) AS sw,
         CAST(SUM(wq * wq) AS BIGINT) AS sq
  FROM w
)
SELECT n_docs,
       CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sq AS DOUBLE) AS ess,
       CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sq AS DOUBLE)
         / CAST(n_docs AS DOUBLE) AS ess_ratio
FROM agg
"""


# ---------------------------------------------------- OOV-rate audit


def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY rate per source against the corpus-global
    top-1000 token vocabulary — the pre-tokenizer audit that tells you
    which sources a fixed vocab will shred into unknowns. Vocabulary
    selection is deterministic (count desc, token asc). Integer counts;
    one final division. Scale: one token explode -> vocab agg (the only
    data-sized shuffle); ranking runs on the vocab-sized frame; the
    in-vocab probe is a semi join against a 1000-row broadcast."""
    from ..operators.text import token_arrays

    toks = token_arrays(
        load_table(spark, sf_dir, "documents"), cache_key=sf_dir
    ).selectExpr("source", "explode(toks) AS tok")
    per_src_tok = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = per_src_tok.groupBy("tok").agg(F.sum("c").cast("long").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    top = (
        vocab.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 1000)
        .select("tok")
    )
    totals = per_src_tok.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens")
    )
    iv = (
        per_src_tok.join(F.broadcast(top), "tok", "left_semi")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("n_in_vocab"))
    )
    return (
        totals.join(iv, "source", "left")
        .select(
            "source",
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce(F.col("n_in_vocab"), F.lit(0))
            )
            .cast("long")
            .alias("n_oov"),
            (
                (
                    F.col("n_tokens")
                    - F.coalesce(F.col("n_in_vocab"), F.lit(0))
                ).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


CORPUS_OOV_RATE_SQL = """
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
pst AS MATERIALIZED (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
),
vocab AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS n FROM pst GROUP BY tok
),
top AS (
  SELECT tok FROM vocab ORDER BY n DESC, tok ASC LIMIT 1000
),
totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM pst GROUP BY source
),
iv AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_in_vocab
  FROM pst WHERE tok IN (SELECT tok FROM top)
  GROUP BY source
)
SELECT t.source, t.n_tokens,
       CAST(t.n_tokens - COALESCE(i.n_in_vocab, 0) AS BIGINT) AS n_oov,
       CAST(t.n_tokens - COALESCE(i.n_in_vocab, 0) AS DOUBLE)
         / CAST(t.n_tokens AS DOUBLE) AS oov_rate
FROM totals t LEFT JOIN iv i ON i.source = t.source
ORDER BY t.source
"""


# -------------------------------------- per-source length quartiles


def _type7_quartiles(frame: DataFrame, out_name: str) -> DataFrame:
    """Shared exact type-7 quartile pipeline over ``frame(source, v)``:
    h = (n-1)k/4 splits into integer rank and remainder, both
    bracketing order statistics are selected by cumulative-count rank
    on the integer grid, and the interpolation stays integer until one
    final division. Returns (source, quartile, ``out_name``). Used by
    corpus_doclen_quartiles and multimodal_size_quartiles (one
    implementation to fix, round-8 review)."""
    spark = frame.sparkSession
    grid = frame.groupBy("source", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cum", F.sum("cnt").over(wcum).cast("long"))
    ns = grid.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    ks = spark.range(1, 4).select(F.col("id").cast("long").alias("k"))
    ranks = ns.crossJoin(F.broadcast(ks)).select(
        "source",
        "k",
        "n",
        F.expr("((n - 1) * k) % 4").alias("rem"),
        (F.expr("((n - 1) * k) div 4") + 1).alias("r1"),
        F.least(F.expr("((n - 1) * k) div 4") + 2, F.col("n")).alias("r2"),
    )
    x1 = (
        F.broadcast(ranks)
        .join(cum, "source")
        .where(F.col("cum") >= F.col("r1"))
        .groupBy("source", "k", "rem")
        .agg(F.min("v").cast("long").alias("x1"))
    )
    x2 = (
        F.broadcast(ranks)
        .join(cum, "source")
        .where(F.col("cum") >= F.col("r2"))
        .groupBy("source", "k")
        .agg(F.min("v").cast("long").alias("x2"))
    )
    return (
        x1.join(F.broadcast(x2), ["source", "k"])
        .select(
            "source",
            F.col("k").alias("quartile"),
            (
                (
                    F.col("x1") * (4 - F.col("rem"))
                    + F.col("x2") * F.col("rem")
                ).cast("double")
                / F.lit(4.0)
            ).alias(out_name),
        )
        .orderBy("source", "quartile")
    )


def _type7_quartiles_sql(base_ctes: str, out_name: str) -> str:
    """DuckDB twin of :func:`_type7_quartiles`: ``base_ctes`` must open
    the WITH chain and define ``base(source, v)``."""
    return f"""{base_ctes},
grid AS (
  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base GROUP BY source, v
),
cum AS (
  SELECT source, v,
         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM grid
),
ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM grid GROUP BY source),
ranks AS (
  SELECT ns.source, CAST(k.k AS BIGINT) AS k, ns.n,
         ((ns.n - 1) * k.k) % 4 AS rem,
         ((ns.n - 1) * k.k) // 4 + 1 AS r1,
         LEAST(((ns.n - 1) * k.k) // 4 + 2, ns.n) AS r2
  FROM ns CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) k
),
x1 AS (
  SELECT r.source, r.k, r.rem, CAST(MIN(c.v) AS BIGINT) AS x1
  FROM ranks r JOIN cum c ON c.source = r.source AND c.cum >= r.r1
  GROUP BY r.source, r.k, r.rem
),
x2 AS (
  SELECT r.source, r.k, CAST(MIN(c.v) AS BIGINT) AS x2
  FROM ranks r JOIN cum c ON c.source = r.source AND c.cum >= r.r2
  GROUP BY r.source, r.k
)
SELECT x1.source, x1.k AS quartile,
       CAST(x1.x1 * (4 - x1.rem) + x2.x2 * x1.rem AS DOUBLE) / 4.0
         AS {out_name}
FROM x1 JOIN x2 ON x2.source = x1.source AND x2.k = x1.k
ORDER BY x1.source, quartile
"""


def corpus_doclen_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-7 interpolated length quartiles (p25/p50/p75 of n_chars)
    per source — the length-profile read any mixture-weighting or
    packing decision starts from. Follows the repo's exact type-7
    recipe: h = (n-1)k/4 splits into integer rank and remainder, both
    bracketing order statistics are selected by cumulative-count rank
    on the integer n_chars grid, and the interpolation stays integer
    until one final division. Scale: (source, n_chars) grid agg;
    windows on the bounded grid."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    return _type7_quartiles(docs, "n_chars_q")


CORPUS_DOCLEN_QUARTILES_SQL = _type7_quartiles_sql(
    """
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
)""".strip(),
    "n_chars_q",
)


# ----------------------------------------- char-trigram entropy


def text_char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy (nats) of the character-trigram
    distribution — the compressibility / gibberish signal that
    separates templated or machine-generated sources from natural
    text. H = ln(N) - SUM(c*ln(c))/N over the (source, gram) count
    frame.

    Exactness: ln via the libm-exact twin on the vocab-bounded count
    frame, each c*ln(c) term quantized to the 2^-20 grid before the
    int64 fold (the events_user_entropy recipe); the final composition
    is one shared float expression. Scale: REUSES the char-LM family's
    shared (doc, gram, m) pass (text.char_gram_counts, same "lm_gcnt"
    cache key as lm_score/lang_mismatch/ccnet) — the only added work is
    a doc-keyed source lookup + one (source, gram) re-agg; everything
    after is vocab-bounded."""
    from ..functions.libm import libm_log
    from ..operators.text import char_gram_counts

    docs = load_table(spark, sf_dir, "documents")
    gcnt = char_gram_counts(docs, 3, cache_key=sf_dir)
    counts = (
        gcnt.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", F.col("gram").alias("g"))
        .agg(F.sum("m").cast("long").alias("c"))
    )
    terms = counts.select(
        "source",
        "c",
        on_grid(
            F.col("c").cast("double") * libm_log(F.col("c").cast("double")),
            float(Q20),
        ).alias("tq"),
    )
    agg = terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("tq").cast("long").alias("s"),
    )
    ent = libm_log(F.col("n").cast("double")) - (
        F.col("s").cast("double") / F.lit(float(Q20))
    ) / F.col("n").cast("double")
    return agg.select(
        "source",
        F.col("n").alias("n_grams"),
        F.col("v").alias("vocab"),
        ent.alias("entropy_nats"),
    ).orderBy("source")


TEXT_CHAR_TRIGRAM_ENTROPY_SQL = """
WITH grams AS (
  SELECT source, substr(lower(text), i, 3) AS g
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(lower(text)) - 2))
                AS i) s
  WHERE length(lower(text)) >= 3
),
counts AS (
  SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
  FROM grams GROUP BY source, g
),
terms AS (
  SELECT source, c,
         CAST(FLOOR(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                    * 1048576.0 + 0.5) AS BIGINT) AS tq
  FROM counts
),
agg AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(tq) AS BIGINT) AS s
  FROM terms GROUP BY source
)
SELECT source, n AS n_grams, v AS vocab,
       ln(CAST(n AS DOUBLE))
         - (CAST(s AS DOUBLE) / 1048576.0) / CAST(n AS DOUBLE)
         AS entropy_nats
FROM agg
ORDER BY source
"""


# ------------------------------------------- result-set diversity


def simsearch_result_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise cosine WITHIN each query's top-5 cosine result set
    — the redundancy read that motivates MMR: a panel whose results all
    say the same thing scores near 1. Reuses the brute-force top-k
    operator (same _dot fold the established oracle parity covers),
    then pairs the 5 results per query (10 pairs, panel-bounded) and
    folds their cosines as 2^-20-quantized int64.

    Scale: top-k via the panel-broadcast scan; the pairing join runs on
    the (8 queries x 5 results) frame."""
    from ..operators.simsearch import _with_norm, _dot, brute_force_topk
    from .pipeline_ops import _embs

    embs = _with_norm(_embs(spark, sf_dir))
    top = brute_force_topk(_embs(spark, sf_dir), n_queries=8, k=5).select(
        "query_id", "neighbor_id", "rank"
    )
    a = top.select("query_id", F.col("neighbor_id").alias("ia"), F.col("rank").alias("ra"))
    b = top.select("query_id", F.col("neighbor_id").alias("ib"), F.col("rank").alias("rb"))
    pairs = a.join(b, "query_id").where(F.col("ra") < F.col("rb"))
    ea = embs.select(
        F.col("vec_id").alias("ia"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    eb = embs.select(
        F.col("vec_id").alias("ib"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    scored = (
        pairs.join(F.broadcast(ea), "ia")
        .join(F.broadcast(eb), "ib")
        .select(
            "query_id",
            on_grid(cos, float(Q20)).alias("cq"),
        )
    )
    agg = scored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("cq").cast("long").alias("s"),
    )
    return agg.select(
        "query_id",
        "n_pairs",
        (
            F.col("s").cast("double")
            / F.col("n_pairs").cast("double")
            / F.lit(float(Q20))
        ).alias("mean_pairwise_cosine"),
    ).orderBy("query_id")


def _simsearch_result_diversity_sql() -> str:
    from ..operators.simsearch import DIM, _cos_sql, brute_force_topk_sql

    return f"""
WITH topk AS MATERIALIZED ({brute_force_topk_sql(8, 5, DIM)}
),
pairs AS (
  SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM topk a JOIN topk b
    ON b.query_id = a.query_id AND a.rank < b.rank
),
scored AS (
  SELECT p.query_id,
         CAST(FLOOR({_cos_sql('x', 'y', DIM)} * 1048576.0 + 0.5) AS BIGINT)
           AS cq
  FROM pairs p
  JOIN embeddings x ON x.vec_id = p.ia
  JOIN embeddings y ON y.vec_id = p.ib
)
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(cq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1048576.0
         AS mean_pairwise_cosine
FROM scored GROUP BY query_id
ORDER BY query_id
"""


# --------------------------------------------- media size quartiles


def multimodal_size_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-7 byte-size quartiles per sniffed container type — the
    storage-planning profile for a mixed media corpus (page sizing,
    row-group targets, decode batch shape). Runs through the real
    multimodal plumbing (magic-byte sniff, opaque-content byte
    accounting); the quantile recipe is the exact integer type-7
    selection on the n_bytes grid."""
    from ..operators import multimodal as M
    from .pipeline_ops import _media

    media = M.media_stats(M.sniff_media_type(_media(spark, sf_dir))).select(
        F.col("sniffed_type").alias("source"),
        F.col("n_bytes").alias("v"),
    )
    return _type7_quartiles(media, "n_bytes_q").withColumnRenamed(
        "source", "sniffed_type"
    )


MULTIMODAL_SIZE_QUARTILES_SQL = _type7_quartiles_sql(
    r"""
WITH media AS (
  SELECT (CASE doc_id % 4
            WHEN 0 THEN '\x89\x50\x4E\x47'::BLOB
            WHEN 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
            WHEN 2 THEN '\x52\x49\x46\x46'::BLOB
            ELSE '\x00\x00\x00\x18'::BLOB END) || encode(text) AS content
  FROM documents
),
base AS (
  SELECT CASE
           WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hex(content), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
           WHEN substr(hex(content), 1, 8) = '52494646' THEN 'audio/wav'
           WHEN substr(hex(content), 1, 8) IN ('00000018', '00000020')
             THEN 'video/mp4'
           ELSE 'application/octet-stream'
         END AS source,
         CAST(octet_length(content) AS BIGINT) AS v
  FROM media
)""".strip(),
    "n_bytes_q",
).replace("SELECT x1.source, x1.k AS quartile",
          "SELECT x1.source AS sniffed_type, x1.k AS quartile"
).replace("ORDER BY x1.source, quartile", "ORDER BY sniffed_type, quartile")


# --------------------------------------------- IVF list-balance audit


def simsearch_centroid_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX BALANCE audit: per trained centroid the assigned-list
    size and share, INCLUDING empty lists — skewed inverted lists are
    the latency killer of a probe-bounded ANN index (a probe into a
    hot list scans its whole occupancy), so this histogram is the
    health read before shipping an IVF index. Trains the same
    integer-Lloyd spherical k-means as simsearch_ivf_kmeans (tol=0.0,
    fixed 5 iterations) and assigns via the zero-shuffle broadcast
    argmax pass; the oracle re-trains from scratch through the
    unrolled Lloyd CTEs (same cross-engine contract, incl. the
    documented argmax margin assumption). Integer counts; share is one
    division."""
    from ..operators import simsearch as S
    from .pipeline_ops import _embs

    embs = _embs(spark, sf_dir)
    C = S.kmeans_centroids(
        embs, n_centroids=16, max_iters=5, tol=0.0, cache_key=sf_dir
    )
    assigned = S.assign_buckets_argmax(embs, C, n_probes=1).select(
        "vec_id", "cent_id"
    )
    hist = assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    ids = spark.range(0, len(C)).select(F.col("id").cast("long").alias("cent_id"))
    tot = hist.agg(F.sum("n_vectors").cast("long").alias("nt"))
    return (
        ids.join(hist, "cent_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cent_id",
            F.coalesce(F.col("n_vectors"), F.lit(0))
            .cast("long")
            .alias("n_vectors"),
            (
                F.coalesce(F.col("n_vectors"), F.lit(0)).cast("double")
                / F.col("nt").cast("double")
            ).alias("share"),
        )
        .orderBy("cent_id")
    )


def _simsearch_centroid_balance_sql() -> str:
    from ..operators.simsearch import DIM, _cos_trained_sql, kmeans_centroids_ctes

    return f"""
WITH {kmeans_centroids_ctes(16, 5, DIM)},
assign_scored AS (
  SELECT e.vec_id, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_trained_sql('e', 'c', DIM)} DESC,
                                     c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN trained_cent c
),
assigned AS (SELECT vec_id, cent_id FROM assign_scored WHERE rn = 1),
hist AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assigned GROUP BY cent_id
),
ids AS (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT) AS cent_id),
tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS nt FROM hist)
SELECT ids.cent_id,
       CAST(COALESCE(h.n_vectors, 0) AS BIGINT) AS n_vectors,
       CAST(COALESCE(h.n_vectors, 0) AS DOUBLE) / CAST(tot.nt AS DOUBLE)
         AS share
FROM ids LEFT JOIN hist h ON h.cent_id = ids.cent_id, tot
ORDER BY ids.cent_id
"""


_Q40 = float(1 << 40)


# ------------------------------------------- PQ distortion audit


def simsearch_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ RECONSTRUCTION-DISTORTION audit per subspace: the mean
    squared quantization error between each vector's subvector and its
    nearest trained code — the index-health number you read BEFORE
    trusting ivfpq's ADC ranking (a hot subspace with 10x the
    distortion of its peers is where recall dies first).

    Trains the same integer-exact PQ codebooks as ivfpq_topk_exact
    (pq_train_exact_int: deterministic seeding, 4 integer-Lloyd rounds
    on the 2^-20 unit grid) and measures min-over-codes squared int64
    distance in ONE narrow mapInPandas pass that emits per-batch
    (subspace, n, sum) partials — the map-side-combine shape, nothing
    data-sized shuffles. The oracle re-trains through the shared
    _pq_train_ctes and re-measures via MIN over the code axis.
    Exactness: distances and sums are int64 (bounded by
    n_vectors * sub * (2^21)^2 — inside int64 through sf10 for the
    observed near-codebook distances); msq divides twice in a fixed
    order (by n, then by 2^40)."""
    import numpy as np
    import pandas as pd

    from ..operators.simsearch import _unit_q_int, pq_train_exact_int
    from .pipeline_ops import _embs

    m, n_codes, iters, sample = 32, 64, 4, 2048
    embs = _embs(spark, sf_dir)
    B = pq_train_exact_int(
        embs, m=m, n_codes=n_codes, iters=iters, sample=sample,
        cache_key=sf_dir,
    )
    sub = B.shape[2]
    bc = spark.sparkContext.broadcast(B)

    def distort(batches):
        Bl = bc.value
        ml = Bl.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy())
            U = _unit_q_int(X)
            sums = np.empty(ml, dtype=np.int64)
            for j in range(ml):
                Uj = U[:, j * sub : (j + 1) * sub]
                d = ((Uj[:, None, :] - Bl[j][None, :, :]) ** 2).sum(axis=2)
                sums[j] = d.min(axis=1).sum()
            yield pd.DataFrame(
                {
                    "subspace": np.arange(ml, dtype=np.int64),
                    "n": np.full(ml, len(U), dtype=np.int64),
                    "s": sums,
                }
            )

    e = embs.select(F.col("embedding").cast("array<double>").alias("emb"))
    parts = e.mapInPandas(distort, "subspace long, n long, s long")
    return (
        parts.groupBy("subspace")
        .agg(
            F.sum("n").cast("long").alias("n_vectors"),
            F.sum("s").cast("long").alias("sum_d2"),
        )
        .select(
            "subspace",
            "n_vectors",
            "sum_d2",
            (
                (
                    F.col("sum_d2").cast("double")
                    / F.col("n_vectors").cast("double")
                )
                / F.lit(_Q40)
            ).alias("msq"),
        )
        .orderBy("subspace")
    )


def _simsearch_pq_distortion_sql() -> str:
    from ..operators.simsearch import DIM, _pq_train_ctes

    m, n_codes, iters, sample = 32, 64, 4, 2048
    sub = DIM // m
    return f"""
WITH {_pq_train_ctes(m, n_codes, iters, sample, DIM)},
dist AS (
  SELECT q.vec_id, b.j,
         CAST(MIN(list_sum(list_transform(generate_series(1, {sub}),
             i -> (q.u[b.j * {sub} + i] - b.b[i])
                * (q.u[b.j * {sub} + i] - b.b[i])))) AS BIGINT) AS d2
  FROM uq q CROSS JOIN b{iters} b
  GROUP BY q.vec_id, b.j
)
SELECT j AS subspace, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(d2) AS BIGINT) AS sum_d2,
       (CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
         / {_Q40!r} AS msq
FROM dist
GROUP BY j
ORDER BY subspace
"""


# ------------------------------------------- term burstiness (VMR)


def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale TERM BURSTINESS for the top-20 document-frequency
    terms: the variance-to-mean ratio of per-document counts
    (including zero-count documents). VMR ~ 1 is Poisson scatter
    (function words); VMR >> 1 is bursty topical vocabulary — the
    signal behind stopword lists and tf saturation in BM25.

    Exactness: per-(term, doc) counts, document frequency, sum and
    sum-of-squares are exact int64 from one token-explode pass; VMR
    composes mean = s/N and E[x^2] = q/N in a fixed order (population
    variance over ALL N docs, zeros included, contributing 0 to both
    sums). Top-20 selection is an integer sort (df desc, term asc) on
    the vocab-bounded term frame. Scale: one data-sized explode + two
    map-side-combinable hash aggs; the window runs on vocab-bounded
    rows."""
    from ..operators.text import token_arrays

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    toks = token_arrays(d, cache_key=sf_dir).select(
        "doc_id", F.explode("toks").alias("term")
    )
    per_td = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_t = per_td.groupBy("term").agg(
        *moments("df", s="c", q=("c", "c")),
    )
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    top = (
        per_t.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .drop("rn")
    )
    nd = F.col("n_docs").cast("double")
    mean = F.col("s").cast("double") / nd
    ex2 = F.col("q").cast("double") / nd
    return (
        top.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.col("s").alias("total_count"),
            mean.alias("mean_per_doc"),
            ((ex2 - mean * mean) / mean).alias("vmr"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
    )


def _text_burstiness_sql() -> str:
    from ..operators.text import TOKEN_RE

    return f"""
WITH nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '{TOKEN_RE}'))
           AS term
  FROM documents
),
per_td AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY term, doc_id
),
per_t AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q
  FROM per_td GROUP BY term
),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS rn
    FROM per_t
  ) WHERE rn <= 20
)
SELECT term, df, s AS total_count,
       CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_per_doc,
       (CAST(q AS DOUBLE) / CAST(n_docs AS DOUBLE)
          - (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)))
         / (CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS vmr
FROM top, nd
ORDER BY df DESC, term ASC
"""


# ------------------------------------------- Yule's K / Simpson's D


def text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YULE'S K characteristic and SIMPSON'S D of the token-frequency
    spectrum per source — the classical lexical-repetitiveness
    constants (K is length-invariant; template/boilerplate-heavy
    sources jump out), the within-spectrum companion to
    text_burstiness's across-document VMR.
    K = 10^4 * (S2 - S1) / S1^2, D = (S2 - S1) / (S1 * (S1 - 1))
    with S1 = total tokens, S2 = sum of squared term frequencies.

    Exactness: S1, S2, vocabulary size and the hapax count are exact
    int64 off one (source, token) hash agg; every output is ONE
    division of exact integers. Sources with S1 <= 1 are filtered
    structurally on BOTH engines (D's denominator S1*(S1-1) is zero
    there; ANSI Spark would throw where DuckDB yields NULL — ADVICE
    r8). Scale: one token explode + two map-side-combinable hash
    aggs; the spectrum frame is vocab x sources bounded."""
    from ..operators.text import token_arrays

    toks = token_arrays(
        load_table(spark, sf_dir, "documents"), cache_key=sf_dir
    ).select("source", F.explode("toks").alias("tok"))
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    agg = tf.groupBy("source").agg(
        *moments(None, s1="f", s2=("f", "f")),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
    )
    # structural guard: simpson_d divides by s1*(s1-1) — a 1-token
    # source would make ANSI Spark throw DIVIDE_BY_ZERO (ADVICE r8)
    agg = agg.where(F.col("s1") > 1)
    return agg.select(
        "source",
        F.col("s1").alias("n_tokens"),
        F.col("v").alias("vocab"),
        (
            F.lit(10000.0)
            * (F.col("s2") - F.col("s1")).cast("double")
            / (F.col("s1") * F.col("s1")).cast("double")
        ).alias("yule_k"),
        (
            (F.col("s2") - F.col("s1")).cast("double")
            / (F.col("s1") * (F.col("s1") - 1)).cast("double")
        ).alias("simpson_d"),
        (
            F.col("v1").cast("double") / F.col("v").cast("double")
        ).alias("hapax_share"),
    ).orderBy("source")


TEXT_YULE_K_SQL = """
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY source, tok
),
agg AS (
  SELECT source,
         CAST(SUM(f) AS BIGINT) AS s1,
         CAST(SUM(f * f) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
  FROM tf GROUP BY source
)
SELECT source, s1 AS n_tokens, v AS vocab,
       10000.0 * CAST(s2 - s1 AS DOUBLE) / CAST(s1 * s1 AS DOUBLE)
         AS yule_k,
       CAST(s2 - s1 AS DOUBLE) / CAST(s1 * (s1 - 1) AS DOUBLE)
         AS simpson_d,
       CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE) AS hapax_share
FROM agg
WHERE s1 > 1
ORDER BY source
"""


# ------------------------------------------------ SQ8 distortion audit


def simsearch_sq8_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR-QUANTIZATION (SQ8) distortion audit: quantize every
    embedding dimension to 8 bits over its observed [min, max] range
    and report per-dimension reconstruction MSE plus the worst cell
    error — the index-health read for the 4x-smaller SQ index family,
    next to simsearch_pq_distortion's codebook view (SQ8 is what
    FAISS/IVF deployments try FIRST; the audit says whether 8 bits is
    enough per axis).

    Exactness: per-dim min/max are exact float comparisons; the code
    floor((x - mn) / (mx - mn) * 255 + 0.5) and the reconstruction
    compose identically on both engines; squared errors quantize onto
    the 2^-40 grid before the int64 fold (errors are bounded by half a
    quantization step squared, so terms are tiny and the fold exact).
    Scale: the dim explode is |rows| x 64 narrow longs; per-dim stats
    and the error agg are both map-side-combinable hash aggs keyed by
    the 64-value dim."""
    dim = 64
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d", "x"
        ),
    )
    rng = flat.groupBy("d").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    q40 = float(1 << 40)
    code = on_grid(
        (F.col("x") - F.col("mn"))
        / (F.col("mx") - F.col("mn")),
        255.0,
    )
    joined = flat.join(F.broadcast(rng), "d").where(
        F.col("mx") > F.col("mn")
    )
    recon = F.col("mn") + F.col("code").cast("double") * (
        F.col("mx") - F.col("mn")
    ) / F.lit(255.0)
    errq = on_grid(
        (F.col("x") - F.col("recon"))
        * (F.col("x") - F.col("recon")),
        q40,
    )
    staged = joined.withColumn("code", code).withColumn("recon", recon)
    agg = staged.withColumn("errq", errq).groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("errq").cast("long").alias("se"),
        F.max("errq").cast("long").alias("worst"),
    )
    return agg.select(
        F.col("d").cast("long").alias("dim"),
        "n",
        (
            F.col("se").cast("double")
            / (F.lit(q40) * F.col("n").cast("double"))
        ).alias("mse"),
        (F.col("worst").cast("double") / F.lit(q40)).alias("worst_sq_err"),
    ).orderBy("dim")


def _simsearch_sq8_distortion_sql(dim: int = 64) -> str:
    q40 = float(1 << 40)
    return f"""
WITH flat AS (
  SELECT vec_id, g.i - 1 AS d, embedding[g.i]::DOUBLE AS x
  FROM embeddings, generate_series(1, {dim}) AS g(i)
),
rng AS (
  SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY d
),
staged AS (
  SELECT f.d, f.x, r.mn, r.mx,
         CAST(FLOOR((f.x - r.mn) / (r.mx - r.mn) * 255.0 + 0.5)
              AS BIGINT) AS code
  FROM flat f JOIN rng r ON r.d = f.d
  WHERE r.mx > r.mn
),
errs AS (
  SELECT d,
         CAST(FLOOR((x - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0))
                    * (x - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0))
                    * {q40!r} + 0.5) AS BIGINT) AS errq
  FROM staged
)
SELECT CAST(d AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(errq) AS DOUBLE) / ({q40!r} * CAST(COUNT(*) AS DOUBLE))
         AS mse,
       CAST(MAX(errq) AS DOUBLE) / {q40!r} AS worst_sq_err
FROM errs GROUP BY d
ORDER BY dim
"""


_Q17 = 1 << 17


# ------------------------------------------- lognormal length fit


def corpus_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGNORMAL fit of document length per source: mu and sigma of
    ln(n_chars) plus the implied median exp(mu) — the distributional
    profile a curation rollout fits BEFORE setting Gopher length gates
    (web-text lengths are canonically lognormal; a source whose sigma
    breaks the pattern is mixed or truncated).

    Exactness: ln runs through the libm twin; each log quantizes onto
    the 2^-17 grid, so the first and second moments fold as int64
    (q <= ~2.6e6, q^2 <= ~7e12 — exact through ~1.3e6 docs per source,
    documented bound; the fold itself is order-free). mu, sigma and
    exp(mu) compose once from the two folds (libm exp). Scale: one
    Arrow-vectorized linear map + one hash agg."""
    from ..functions.libm import libm_exp, libm_log

    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    q = on_grid(libm_log(F.col("n_chars").cast("double")), float(_Q17))
    agg = d.select("source", q.alias("q")).groupBy("source").agg(
        *moments("n_docs", s="q", ss=("q", "q")),
    )
    mu = F.col("s").cast("double") / (
        F.lit(float(_Q17)) * F.col("n_docs").cast("double")
    )
    ex2 = F.col("ss").cast("double") / (
        F.lit(float(_Q17)) * F.lit(float(_Q17)) * F.col("n_docs").cast(
            "double"
        )
    )
    sigma = F.sqrt(F.greatest(F.lit(0.0), ex2 - mu * mu))
    return agg.select(
        "source",
        "n_docs",
        mu.alias("mu"),
        sigma.alias("sigma"),
        libm_exp(mu).alias("median_chars"),
    ).orderBy("source")


CORPUS_LENGTH_LOGNORMAL_SQL = f"""
WITH q AS (
  SELECT source,
         CAST(FLOOR(ln(CAST(n_chars AS DOUBLE)) * {float(_Q17)!r} + 0.5)
              AS BIGINT) AS q
  FROM documents WHERE n_chars > 0
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(q) AS BIGINT) AS s,
         CAST(SUM(q * q) AS BIGINT) AS ss
  FROM q GROUP BY source
)
SELECT source, n_docs,
       CAST(s AS DOUBLE) / ({float(_Q17)!r} * CAST(n_docs AS DOUBLE))
         AS mu,
       sqrt(GREATEST(0.0,
            CAST(ss AS DOUBLE)
              / ({float(_Q17)!r} * {float(_Q17)!r}
                 * CAST(n_docs AS DOUBLE))
            - (CAST(s AS DOUBLE)
               / ({float(_Q17)!r} * CAST(n_docs AS DOUBLE)))
              * (CAST(s AS DOUBLE)
                 / ({float(_Q17)!r} * CAST(n_docs AS DOUBLE)))))
         AS sigma,
       exp(CAST(s AS DOUBLE) / ({float(_Q17)!r} * CAST(n_docs AS DOUBLE)))
         AS median_chars
FROM agg
ORDER BY source
"""


# --------------------------------------------- Honoré R / Sichel S


def text_honore_sichel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HONORÉ'S R and SICHEL'S S per source — the other two classical
    frequency-spectrum constants next to text_yule_k: R = 100 ln(N) /
    (1 - V1/V) grows with productive vocabulary use; S = V2/V is
    near-constant for natural text and collapses on templated corpora.

    Exactness: N, V, V1, V2 are exact int64 off one (source, token)
    hash agg; ln(N) runs through the libm twin; R composes one
    division + one product in fixed order (sources where every type is
    hapax are emitted with NULL R via NULLIF on both engines). Scale:
    one token explode + two hash aggs, vocab x sources bounded."""
    from ..functions.libm import libm_log

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    agg = tf.groupBy("source").agg(
        F.sum("f").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("v2"),
    )
    gap = (F.col("v") - F.col("v1")).cast("double") / F.col("v").cast(
        "double"
    )
    r = (
        F.lit(100.0)
        * libm_log(F.col("n").cast("double"))
        / F.nullif(gap, F.lit(0.0))
    )
    return agg.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        r.alias("honore_r"),
        (F.col("v2").cast("double") / F.col("v").cast("double")).alias(
            "sichel_s"
        ),
    ).orderBy("source")


TEXT_HONORE_SICHEL_SQL = """
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY source, tok
),
agg AS (
  SELECT source, CAST(SUM(f) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
  FROM tf GROUP BY source
)
SELECT source, n AS n_tokens, v AS vocab,
       100.0 * ln(CAST(n AS DOUBLE))
         / NULLIF(CAST(v - v1 AS DOUBLE) / CAST(v AS DOUBLE), 0.0)
         AS honore_r,
       CAST(v2 AS DOUBLE) / CAST(v AS DOUBLE) AS sichel_s
FROM agg
ORDER BY source
"""


# ------------------------------------------------ IVF recall curve


def simsearch_ivf_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RECALL@5 of the IVF index vs the exact brute-force baseline at
    nprobe = 1, 2, 4 — the recall/latency tradeoff table an ANN
    deployment reads before picking its probe count (multi-probe scans
    ~nprobe/n_centroids of the corpus; this query says what that buys).

    Exactness: both sides are the ALREADY-ORACLED operators
    (operators/simsearch.brute_force_topk / ivf_topk with
    deterministic seed centroids); recall is an integer set
    intersection over (query, neighbor) pairs divided once. Scale: the
    probe sweep reuses one assignment pass per probe count over the
    bucketed lists — the documented IVF cost shape; the eval join is
    (n_queries x k)-bounded."""
    from ..operators import simsearch as S

    brute = S.brute_force_topk(load_table(spark, sf_dir, "embeddings"))
    bpairs = brute.select("query_id", "neighbor_id")
    n_pairs = 8 * 5
    parts = []
    for p in (1, 2, 4):
        ivf = S.ivf_topk(
            load_table(spark, sf_dir, "embeddings"), n_probes=p
        ).select("query_id", "neighbor_id")
        hits = ivf.join(bpairs, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        parts.append(
            hits.select(
                F.lit(p).cast("long").alias("n_probes"),
                F.col("n_hits"),
                (
                    F.col("n_hits").cast("double") / F.lit(float(n_pairs))
                ).alias("recall_at_5"),
            )
        )
    out = parts[0]
    for frame in parts[1:]:
        out = out.unionAll(frame)
    return out.orderBy("n_probes")


def _simsearch_ivf_recall_curve_sql() -> str:
    from ..operators.simsearch import brute_force_topk_sql, ivf_topk_sql

    blocks = []
    for p in (1, 2, 4):
        blocks.append(
            f"""
SELECT CAST({p} AS BIGINT) AS n_probes,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / 40.0 AS recall_at_5
FROM ({ivf_topk_sql(n_probes=p)}) i
JOIN ({brute_force_topk_sql()}) b
  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id"""
        )
    return " UNION ALL ".join(blocks) + "\nORDER BY n_probes"


# ---------------------------------------------- dedup token loss


def corpus_dedup_token_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-DEDUP YIELD ACCOUNTING per source: how many documents and
    training TOKENS survive md5-exact text dedup (first doc_id wins,
    the dedup_exact survivor rule), and the token share lost to
    duplicate copies — the cost/benefit line a curation rollout reports
    next to dedup_rate_curve's pair counts.

    Exactness: token counts use the engine token rule ([a-z0-9]+),
    survivorship is integer min(doc_id) per (source, md5); every
    output is int64 with ONE division. Scale: one data-sized hash agg
    to (source, hash) with min/sum combiners — the dedup_exact shape;
    no window, no join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        "doc_id",
        F.md5(F.col("text")).alias("h"),
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        )
        .cast("long")
        .alias("n_tok"),
    )
    per_hash = toks.groupBy("source", "h").agg(
        F.count(F.lit(1)).cast("long").alias("copies"),
        F.sum("n_tok").cast("long").alias("tok_all"),
        F.min(F.struct("doc_id", "n_tok")).alias("survivor"),
    )
    agg = per_hash.groupBy("source").agg(
        F.sum("copies").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum("tok_all").cast("long").alias("tokens_before"),
        F.sum(F.col("survivor.n_tok")).cast("long").alias("tokens_after"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_unique",
        "tokens_before",
        "tokens_after",
        (
            (F.col("tokens_before") - F.col("tokens_after")).cast("double")
            / F.col("tokens_before").cast("double")
        ).alias("token_loss_share"),
    ).orderBy("source")


CORPUS_DEDUP_TOKEN_LOSS_SQL = """
WITH toks AS (
  SELECT source, doc_id, md5(text) AS h,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS BIGINT) AS n_tok
  FROM documents
),
per_hash AS (
  SELECT source, h,
         CAST(COUNT(*) AS BIGINT) AS copies,
         CAST(SUM(n_tok) AS BIGINT) AS tok_all,
         CAST(MIN(doc_id) AS BIGINT) AS sdoc
  FROM toks GROUP BY source, h
),
surv AS (
  SELECT p.source, p.copies, p.tok_all, t.n_tok AS s_tok
  FROM per_hash p
  JOIN toks t ON t.source = p.source AND t.h = p.h AND t.doc_id = p.sdoc
),
agg AS (
  SELECT source,
         CAST(SUM(copies) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_unique,
         CAST(SUM(tok_all) AS BIGINT) AS tokens_before,
         CAST(SUM(s_tok) AS BIGINT) AS tokens_after
  FROM surv GROUP BY source
)
SELECT source, n_docs, n_unique, tokens_before, tokens_after,
       CAST(tokens_before - tokens_after AS DOUBLE)
         / CAST(tokens_before AS DOUBLE) AS token_loss_share
FROM agg
ORDER BY source
"""


# ------------------------------------------- temperature mixing


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture weights per source (T = 0.7): w_i
    proportional to p_i^T with p_i the source's token share — the
    standard multilingual/multi-source rebalancing rule (upsamples the
    tail, tempers the head) a training-data pipeline applies between
    corpus_mixture_weights' raw shares and the sampler.

    Exactness: token counts are exact int64 off one (source) hash agg
    (the text_yule_k tokenizer); p_i^0.7 = exp(0.7 * ln p_i) runs
    through the libm twins so both engines produce the identical
    double; each q_i quantizes onto the 2^-20 grid BEFORE the int64
    normalization sum (order-free), and each weight is ONE division.
    Scale: one token explode + one hash agg to the source dimension;
    the libm pass is Arrow-vectorized over the |sources| frame."""
    from ..functions.libm import libm_exp, libm_log

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("tok"),
    )
    per = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").cast("long").alias("tot"))
    p = F.col("n_tokens").cast("double") / F.col("tot").cast("double")
    q = libm_exp(F.lit(0.7) * libm_log(p))
    qq = on_grid(q, float(Q20))
    scored = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", p.alias("p_raw"), qq.alias("qq")
    )
    norm = scored.agg(F.sum("qq").cast("long").alias("z"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_tokens",
            "p_raw",
            (F.col("qq").cast("double") / F.col("z").cast("double")).alias(
                "w_temperature"
            ),
        )
        .orderBy("source")
    )


CORPUS_TEMPERATURE_MIX_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per),
scored AS (
  SELECT source, n_tokens,
         CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS p_raw,
         CAST(FLOOR(exp(0.7 * ln(CAST(n_tokens AS DOUBLE)
                                 / CAST(tot AS DOUBLE)))
                    * {float(Q20)!r} + 0.5) AS BIGINT) AS qq
  FROM per CROSS JOIN tot
),
norm AS (SELECT CAST(SUM(qq) AS BIGINT) AS z FROM scored)
SELECT source, n_tokens, p_raw,
       CAST(qq AS DOUBLE) / CAST(z AS DOUBLE) AS w_temperature
FROM scored CROSS JOIN norm
ORDER BY source
"""


# ------------------------------------------------- stutter rate


def text_stutter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADJACENT-TOKEN STUTTER rate per source: the share of
    token-to-token transitions that repeat the same token ("the the",
    degeneration loops) — the cheapest generated-text / OCR artifact
    screen, the positional companion to text_repetition_stats' bag
    counts.

    Exactness: repeats and transitions are exact int64 counts over
    whitespace token positions (docs with fewer than 2 tokens are
    excluded structurally on both engines — they have no transitions);
    the rate and the max per-doc rate are single divisions of exact
    integers. Scale: one token-position pass (Spark: per-doc lag
    window, partition = doc — bounded; DuckDB: list_zip) + one source
    hash agg."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
    ).where(F.size("toks") >= 2)
    per_doc = d.select(
        "source",
        "doc_id",
        (F.size("toks") - 1).cast("long").alias("n_trans"),
        F.expr(
            "CAST(size(filter(zip_with(slice(toks, 1, size(toks) - 1), "
            "slice(toks, 2, size(toks) - 1), (x, y) -> x = y), b -> b)) "
            "AS BIGINT)"
        ).alias("n_rep"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_trans").cast("long").alias("n_transitions"),
        F.sum("n_rep").cast("long").alias("n_repeats"),
        F.max(
            F.struct(
                (F.col("n_rep") * F.lit(1_000_000) / F.col("n_trans"))
                .cast("long")
                .alias("q"),
                F.col("doc_id").alias("did"),
            )
        ).alias("mx"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_transitions",
        "n_repeats",
        (
            F.col("n_repeats").cast("double")
            / F.col("n_transitions").cast("double")
        ).alias("stutter_rate"),
        (
            F.col("mx.q").cast("double") / F.lit(1_000_000.0)
        ).alias("worst_doc_rate"),
    ).orderBy("source")


TEXT_STUTTER_RATE_SQL = """
WITH docs AS (
  SELECT source, doc_id, string_split(text, ' ') AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
per_doc AS (
  SELECT source, doc_id,
         CAST(len(toks) - 1 AS BIGINT) AS n_trans,
         CAST(len(list_filter(
             list_zip(toks[1:len(toks) - 1], toks[2:len(toks)]),
             p -> p[1] = p[2])) AS BIGINT) AS n_rep
  FROM docs
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_trans) AS BIGINT) AS n_transitions,
       CAST(SUM(n_rep) AS BIGINT) AS n_repeats,
       CAST(SUM(n_rep) AS DOUBLE) / CAST(SUM(n_trans) AS DOUBLE)
         AS stutter_rate,
       CAST(MAX((n_rep * 1000000) // n_trans) AS DOUBLE) / 1000000.0
         AS worst_doc_rate
FROM per_doc
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "corpus_ccnet_buckets": corpus_ccnet_buckets,
    "text_keyness": text_keyness,
    "dedup_minhash_scurve": dedup_minhash_scurve,
    "corpus_dsir_ess": corpus_dsir_ess,
    "corpus_oov_rate": corpus_oov_rate,
    "corpus_doclen_quartiles": corpus_doclen_quartiles,
    "text_char_trigram_entropy": text_char_trigram_entropy,
    "simsearch_result_diversity": simsearch_result_diversity,
    "multimodal_size_quartiles": multimodal_size_quartiles,
    "simsearch_centroid_balance": simsearch_centroid_balance,
    "simsearch_pq_distortion": simsearch_pq_distortion,
    "text_burstiness": text_burstiness,
    "text_yule_k": text_yule_k,
    "simsearch_sq8_distortion": simsearch_sq8_distortion,
    "corpus_length_lognormal": corpus_length_lognormal,
    "text_honore_sichel": text_honore_sichel,
    "simsearch_ivf_recall_curve": simsearch_ivf_recall_curve,
    "corpus_dedup_token_loss": corpus_dedup_token_loss,
    "text_stutter_rate": text_stutter_rate,
    "corpus_temperature_mix": corpus_temperature_mix,
}

ORACLES = {
    "corpus_ccnet_buckets": _corpus_ccnet_buckets_sql(),
    "text_keyness": TEXT_KEYNESS_SQL,
    "dedup_minhash_scurve": _dedup_minhash_scurve_sql(),
    "corpus_dsir_ess": _corpus_dsir_ess_sql(),
    "corpus_oov_rate": CORPUS_OOV_RATE_SQL,
    "corpus_doclen_quartiles": CORPUS_DOCLEN_QUARTILES_SQL,
    "text_char_trigram_entropy": TEXT_CHAR_TRIGRAM_ENTROPY_SQL,
    "simsearch_result_diversity": _simsearch_result_diversity_sql(),
    "multimodal_size_quartiles": MULTIMODAL_SIZE_QUARTILES_SQL,
    "simsearch_centroid_balance": _simsearch_centroid_balance_sql(),
    "simsearch_pq_distortion": _simsearch_pq_distortion_sql(),
    "text_burstiness": _text_burstiness_sql(),
    "text_yule_k": TEXT_YULE_K_SQL,
    "simsearch_sq8_distortion": _simsearch_sq8_distortion_sql(),
    "corpus_length_lognormal": CORPUS_LENGTH_LOGNORMAL_SQL,
    "text_honore_sichel": TEXT_HONORE_SICHEL_SQL,
    "simsearch_ivf_recall_curve": _simsearch_ivf_recall_curve_sql(),
    "corpus_dedup_token_loss": CORPUS_DEDUP_TOKEN_LOSS_SQL,
    "text_stutter_rate": TEXT_STUTTER_RATE_SQL,
    "corpus_temperature_mix": CORPUS_TEMPERATURE_MIX_SQL,
}

"""Harness wiring for the training-data-pipeline operators
(text analysis, dedup, similarity search) over documents/embeddings."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import memo
from ..catalog import load_table
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import quality as Q
from ..operators import simsearch as S
from ..operators import text as T


def _pack_sequences_oracle() -> str:
    from ..operators.packing import pack_sequences_sql

    return pack_sequences_sql()


def _bpe_pairs_oracle() -> str:
    from ..operators.bpe import bpe_pair_counts_sql

    return bpe_pair_counts_sql()


def _bm25_oracle() -> str:
    from ..operators.retrieval import bm25_topk_sql

    return bm25_topk_sql()


def _decontaminate_oracle() -> str:
    from ..operators.contamination import decontaminate_sql

    return decontaminate_sql()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def text_stats(spark, sf_dir):
    return T.text_stats(_docs(spark, sf_dir))


def lang_id(spark, sf_dir):
    return T.lang_id(_docs(spark, sf_dir))


def token_rollup(spark, sf_dir):
    return T.token_rollup(_docs(spark, sf_dir))


def doc_fingerprint(spark, sf_dir):
    return T.doc_fingerprint(_docs(spark, sf_dir))


def text_ngram_profile(spark, sf_dir):
    return T.char_ngram_profile(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_sample_weighted(spark, sf_dir):
    """Exact-k weighted (by n_chars) sample without replacement —
    Efraimidis-Spirakis keys on a content-stable md5 coin
    (operators/quality.weighted_sample)."""
    return Q.weighted_sample(_docs(spark, sf_dir), k=50)


def text_lm_score(spark, sf_dir):
    """Char-trigram LM perplexity per document (operators/text.lm_score):
    the CCNet-style corpus quality signal. Broadcast vocab-sized model,
    fixed-point nll sums for partitioning-independent exactness."""
    return T.lm_score(_docs(spark, sf_dir), cache_key=sf_dir)


def text_lang_mismatch(spark, sf_dir):
    """Cross-likelihood language verification (operators/text.lang_mismatch):
    every doc scored under every language model; integer-sum argmin
    picks the best model bit-deterministically."""
    return T.lang_mismatch(_docs(spark, sf_dir), cache_key=sf_dir)


def text_bm25_topk(spark, sf_dir):
    """BM25 top-10 per keyword query (operators/retrieval.py): the
    corpus-search / retrieval-filter primitive. Broadcast query terms,
    pre-shuffle vocabulary filter, deterministic token-order score
    fold — value-oracled against an independent DuckDB derivation."""
    from ..operators import retrieval as R

    return R.bm25_topk(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_curation_sample(spark, sf_dir):
    """END-TO-END curation pipeline as ONE fused declarative plan —
    the full shape a training-corpus build runs: quality gate
    (stat_cols blend >= 0.5) -> LM perplexity filter (corpus-trained
    trigram model, avg_nll <= 5.42 prunes the out-of-distribution
    tail) -> exact-dedup keep (min doc_id per content hash) ->
    weighted sample (Efraimidis-Spirakis by n_chars, k=100). Every
    stage is an already-oracle-checked operator; the oracle composes
    the SAME stage bodies, so the composition itself is value-checked,
    not just its pieces (the corpus_prep_chunked pattern)."""
    from pyspark.sql import functions as F

    from ..operators.quality import weighted_sample

    docs = _docs(spark, sf_dir)
    c = T.stat_cols()
    good = docs.select(
        "doc_id", "text", "lang", "source", "n_chars",
        c["quality_score"].alias("quality_score"),
    ).where(F.col("quality_score") >= 0.5)
    lm = T.lm_score(docs, cache_key=sf_dir).select("doc_id", "avg_nll")
    surv = good.join(lm, "doc_id").where(F.col("avg_nll") <= 5.42)
    keeps = (
        surv.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = surv.join(keeps, "doc_id", "left_semi")
    return weighted_sample(kept, k=100)


def _curation_sample_oracle() -> str:
    from ..operators.text import corpus_prep_stages_sql, lm_score_sql

    grid = float(16 ** 13)
    u = (
        "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT"
        f"::DOUBLE + 0.5) / {grid!r})"
    )
    return f"""
WITH {corpus_prep_stages_sql(0.5)},
lm AS (SELECT doc_id, avg_nll FROM ({lm_score_sql()})),
surv AS (
  SELECT g.doc_id, g.text, g.lang, g.source, d.n_chars
  FROM good g
  JOIN documents d ON d.doc_id = g.doc_id
  JOIN lm ON lm.doc_id = g.doc_id
  WHERE lm.avg_nll <= 5.42
),
keep2 AS (
  SELECT MIN(doc_id) AS doc_id FROM surv GROUP BY md5(lower(trim(text)))
)
SELECT doc_id, lang, source,
       CAST(n_chars AS BIGINT) AS weight,
       ln({u}) / CAST(n_chars AS DOUBLE) AS lkey
FROM surv
WHERE doc_id IN (SELECT doc_id FROM keep2)
ORDER BY lkey DESC, doc_id ASC
LIMIT 100
"""


def dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir))


def corpus_prep(spark, sf_dir):
    """Composed training-corpus prep — the shape a real pipeline runs as
    ONE declarative plan (Catalyst fuses the stages; the text scan feeds
    both the scorer and the dedup key without a second read): quality
    gate (text_stats blend >= 0.5) -> exact-dedup keep (min doc_id per
    content hash, left-semi) -> per-(source, lang) corpus accounting."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    c = T.stat_cols()  # inline expressions: no stats-frame self-join
    good = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        c["n_tokens"].cast("long").alias("n_tokens"),
        c["quality_score"].alias("quality_score"),
    ).where(F.col("quality_score") >= 0.5)
    keeps = D.exact_dedup(good).select(F.col("keep_id").alias("doc_id"))
    kept = good.join(keeps, "doc_id", "left_semi")
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )


def corpus_split(spark, sf_dir):
    """Deterministic train/valid/test split (80/10/10) by content-stable
    md5 bucket of doc_id — reshuffling or re-reading the corpus never
    moves a document between splits, the property that keeps eval sets
    uncontaminated across pipeline re-runs. Narrow map + one
    3-group rollup; no shuffle beyond the final agg. md5 is the one
    hash both engines share bit-for-bit (Spark murmur3 has no DuckDB
    twin), so the assignment itself is oracle-checkable."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars", "source")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


CORPUS_SPLIT_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 80 THEN 'train'
           WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 100 < 90 THEN 'valid'
           ELSE 'test'
         END AS split,
         n_chars, source
  FROM documents
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       COUNT(DISTINCT source) AS n_sources
FROM assigned
GROUP BY split
"""


def corpus_top_terms(spark, sf_dir):
    """Corpus vocabulary profile: top-50 tokens by document frequency
    (distinct docs containing the token), with total occurrences.
    Explode → two-level agg → top-k: the df agg shuffles on token
    (vocab-sized keys), and the top-k compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Deterministic tiebreak on the token string keeps the LIMIT stable
    in both engines."""
    from pyspark.sql import functions as F

    toks = T.token_arrays(_docs(spark, sf_dir), cache_key=sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("n_occurrences"), F.asc("tok"))
        .limit(50)
    )


CORPUS_TOP_TERMS_SQL = f"""
SELECT tok,
       COUNT(DISTINCT doc_id) AS doc_freq,
       COUNT(*) AS n_occurrences
FROM (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS tok
  FROM documents
)
GROUP BY tok
ORDER BY doc_freq DESC, n_occurrences DESC, tok ASC
LIMIT 50
"""


def corpus_top_terms_sketch(spark, sf_dir):
    """Scale twin of corpus_top_terms: Misra-Gries candidate summaries
    per partition + an exact verify pass over candidates only — the
    wide shuffle carries |candidates| groups instead of |vocab|, with a
    runtime-certified completeness guarantee. Exact output ⇒ SAME
    oracle as the direct form."""
    return T.top_terms_sketch(_docs(spark, sf_dir), k=50, cache_key=sf_dir)


def corpus_zipf_fit(spark, sf_dir):
    """Zipf-law fit over the top-100 vocabulary: OLS of ln(freq) on
    ln(rank) — the corpus-health diagnostic (natural corpora slope
    ~ -1; synthetic/boilerplate corpora deviate). Ranks are the
    deterministic top-terms ordering; the ln values are fixed-point
    quantized (2^20) so the OLS sufficient statistics are exact int64
    sums and the closed-form slope/intercept are engine-identical
    double arithmetic from exact integers. The global rank window runs
    over the VOCAB-sized frequency frame (not the corpus) — same cost
    class as the top-terms sort, fine at any corpus size."""
    from pyspark.sql import Window, functions as F

    toks = T.token_arrays(_docs(spark, sf_dir), cache_key=sf_dir).select(
        F.explode("toks").alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    scale = 1 << 20
    top = (
        freq.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 100)
        .select(
            F.floor(F.log(F.col("rank").cast("double")) * scale + 0.5)
            .cast("long").alias("x"),
            F.floor(F.log(F.col("n").cast("double")) * scale + 0.5)
            .cast("long").alias("y"),
        )
    )
    stats = top.agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("cnt").cast("double")
    sx = F.col("sx").cast("double") / scale
    sy = F.col("sy").cast("double") / scale
    sxy = F.col("sxy").cast("double") / (float(scale) * scale)
    sxx = F.col("sxx").cast("double") / (float(scale) * scale)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return stats.select(
        F.col("cnt").alias("n_terms"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


def _corpus_zipf_oracle() -> str:
    scale = 1 << 20
    return f"""
WITH freq AS (
  SELECT tok, COUNT(*) AS n FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS tok
    FROM documents
  ) GROUP BY tok
),
top AS (
  SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * {scale} + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(n AS DOUBLE)) * {scale} + 0.5) AS BIGINT) AS y
  FROM (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank
    FROM freq
  ) WHERE rank <= 100
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM top
)
SELECT cnt AS n_terms,
       (CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / ({float(scale)!r} * {scale}))
         - (CAST(sx AS DOUBLE) / {scale}) * (CAST(sy AS DOUBLE) / {scale}))
       / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / ({float(scale)!r} * {scale}))
         - (CAST(sx AS DOUBLE) / {scale}) * (CAST(sx AS DOUBLE) / {scale}))
         AS zipf_slope,
       ((CAST(sy AS DOUBLE) / {scale})
        - ((CAST(cnt AS DOUBLE) * (CAST(sxy AS DOUBLE) / ({float(scale)!r} * {scale}))
            - (CAST(sx AS DOUBLE) / {scale}) * (CAST(sy AS DOUBLE) / {scale}))
           / (CAST(cnt AS DOUBLE) * (CAST(sxx AS DOUBLE) / ({float(scale)!r} * {scale}))
              - (CAST(sx AS DOUBLE) / {scale}) * (CAST(sx AS DOUBLE) / {scale})))
          * (CAST(sx AS DOUBLE) / {scale}))
       / CAST(cnt AS DOUBLE) AS intercept
FROM stats
"""


def dedup_jaccard(spark, sf_dir):
    # df_cap=64 > measured corpus max df (7 at sf0.01, 25 at sf0.1):
    # exact result with the quadratic-hot-token guard armed; the skew
    # profile is logged so a cap that starts pruning is visible
    return D.jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, df_cap=64,
        log_skew=True, cache_key=sf_dir,
    )


def dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, cache_key=sf_dir
    )


def text_bigram_lm(spark, sf_dir):
    """Interpolated word-bigram LM perplexity per source
    (operators.text.bigram_lm_by_source): Jelinek-Mercer λ=0.75 mixture
    of bigram MLE and add-one unigram — the word-level complement of
    the char-trigram lm_score; libm ln on the bigram-vocab frame,
    2^-20-quantized, exact int64 per-source sums."""
    return T.bigram_lm_by_source(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_gate_overlap(spark, sf_dir):
    """Interaction audit between the two cheapest pipeline gates: the
    2x2 contingency of quality pass/fail x exact-duplicate yes/no, per
    cell count plus each cell's share — tells a curation team whether
    dedup and the quality gate remove the SAME documents (wasted
    compute if one subsumes the other) or different ones. A duplicate
    here is any doc that is NOT its content group's keeper (min
    doc_id). Integer counts, one exact division per row; one narrow
    scan feeds both gate expressions (Catalyst fuses them), the only
    wide stages are the content-hash agg and the 4-group rollup."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    c = T.stat_cols()
    scored = docs.select(
        "doc_id",
        (c["quality_score"] >= 0.5).alias("q_pass"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
    )
    keeps = scored.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    flagged = scored.join(keeps, "h").select(
        "q_pass", (F.col("doc_id") != F.col("keep_id")).alias("is_dup")
    )
    cells = flagged.groupBy("q_pass", "is_dup").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = docs.count()
    return cells.select(
        "q_pass",
        "is_dup",
        "n",
        (F.col("n").cast("double") / F.lit(float(total))).alias("share"),
    )


def _corpus_gate_overlap_sql() -> str:
    q = T.quality_score_sql()
    return f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, ({q}) >= 0.5 AS q_pass,
         md5(lower(trim(text))) AS h
  FROM documents
),
keeps AS MATERIALIZED (
  SELECT h, MIN(doc_id) AS keep_id FROM scored GROUP BY h
),
flagged AS (
  SELECT s.q_pass, s.doc_id <> k.keep_id AS is_dup
  FROM scored s JOIN keeps k USING (h)
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents)
SELECT q_pass, is_dup, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE) / CAST(MAX(t) AS DOUBLE) AS share
FROM flagged, total
GROUP BY q_pass, is_dup
"""


def corpus_gopher_rules(spark, sf_dir):
    """Per-rule Gopher quality-filter audit (operators.quality.
    gopher_rules): pass/fail counts per (source, rule) for the five
    integer-exact gates — word count, mean word length, stopword
    presence, top-token repetition, alphabetic ratio. The per-rule
    breakdown a curation team reads before touching mixture weights."""
    return Q.gopher_rules(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup pairs blocked by random-hyperplane LSH with
    one-bit multi-probe (operators.dedup.embedding_near_dup_lsh) — the
    training-free, data-independent blocker completing the label/IVF/
    LSH trilogy. Bucket signs decided on exact int64 dot products
    against md5-seeded literal hyperplanes shared verbatim with the
    oracle."""
    return D.embedding_near_dup_lsh(_embs(spark, sf_dir), threshold=0.3)


def dedup_lines(spark, sf_dir):
    """Paragraph-granularity exact dedup (Gopher/MassiveText repetition
    removal): duplicated 12-token line blocks found corpus-wide, per-
    source rollup with duplicated-char mass and dup rate
    (operators.dedup.line_block_dedup). Catches boilerplate repeated
    INSIDE otherwise-distinct documents, which doc-level dedup misses."""
    return D.line_block_dedup(
        _docs(spark, sf_dir), block_tokens=12, cache_key=sf_dir
    )


def dedup_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_simhash_packed(spark, sf_dir):
    """Arrow bit-packed twin — must hash-match the SAME oracle as the
    JVM explode variant (zero-shuffle alternative, SCALE.md trade)."""
    return D.simhash_packed_cached(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash fingerprints -> bit-band candidate buckets -> popcount
    verify: the pairing stage the round-2 SimHash family was missing
    (fingerprints now feed keep/drop like every other dedup source).
    Lossless for the default radius (4 bands / hamming <= 3).

    Fingerprints come from the zero-shuffle packed twin — bit-identical
    to the JVM explode variant (both hash-match the same oracle), and
    ~40% cheaper, so the composed pipeline takes the faster source while
    the oracle SQL mirrors the explode formulation."""
    return D.simhash_pairs_cached(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_simhash_components(spark, sf_dir):
    """Keep/drop resolution over simhash pairs — FIXPOINT resolver.

    Round 7 (VERDICT r6 #8): the new convergence assert caught this
    query in the agree-but-not-converge state — the simhash component
    graph has diameter >= the bounded resolver's 4 rounds at every
    harness sf, and the identically-truncated oracle had been agreeing
    with the truncation. Switched to the pointer-jumping fixpoint form
    (exact for any diameter); the oracle is the recursive-reachability
    CTE, so the values are now TRUE components, not 4-hop labels."""
    docs = _docs(spark, sf_dir)
    return D.components_from_pairs(
        docs.select("doc_id"),
        D.simhash_pairs_cached(docs, cache_key=sf_dir).select(
            "doc_a", "doc_b"
        ),
    )


def dedup_embedding(spark, sf_dir):
    return D.embedding_near_dup(_embs(spark, sf_dir), threshold=0.3)


def dedup_embedding_ivf(spark, sf_dir):
    # τ=0.3 fits the synthetic embeddings (within-label cosine ≈0.45);
    # the operator's default is the realistic 0.95
    return D.embedding_near_dup_ivf(
        _embs(spark, sf_dir), threshold=0.3, n_centroids=16
    )


def dedup_embedding_ivf_trained(spark, sf_dir):
    """Trained-centroid + narrow-assignment near-dup, value-oracled:
    the fixed-point k-means combine makes the trained centroids
    engine-independent, and the DuckDB twin re-trains the index from
    scratch via unrolled Lloyd CTEs (tol=0.0 pins both sides to
    exactly max_iters iterations). Same synthetic-data τ as the other
    embedding queries."""
    return D.embedding_near_dup_ivf_trained(
        _embs(spark, sf_dir),
        threshold=0.3,
        n_centroids=16,
        tol=0.0,
        cache_key=sf_dir,
    )


def dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size distribution: how many clusters of each
    size the near-dup graph resolves to — the summary a dedup report
    leads with (singletons = unique docs; the tail = heavy duplication).
    Composes the oracle-checked component resolution with a two-level
    rollup: |docs| -> |clusters| -> |sizes| rows."""
    from pyspark.sql import functions as F

    comp = D.dup_components(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, cache_key=sf_dir
    )
    return (
        comp.groupBy("component_rep")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _dedup_cluster_sizes_oracle() -> str:
    inner = D.dup_components_sql(threshold=0.5, shingle_n=3)
    return f"""
WITH comp AS ({inner}),
per AS (
  SELECT component_rep, COUNT(*) AS sz FROM comp GROUP BY component_rep
)
SELECT sz AS cluster_size, COUNT(*) AS n_clusters
FROM per GROUP BY sz
"""


def dedup_components(spark, sf_dir):
    return D.dup_components(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, cache_key=sf_dir
    )


def dedup_incremental_lsh(spark, sf_dir):
    """Incremental near-dedup of a new ingest batch (doc_id % 10 == 0
    stands in for today's partition) against the existing corpus —
    batch signatures probe the persisted band index; history x history
    pairs are never re-generated (operators.dedup.incremental_minhash_dedup).
    Value-oracled end to end."""
    return D.incremental_minhash_dedup(_docs(spark, sf_dir), cache_key=sf_dir)


def text_keywords(spark, sf_dir):
    """Per-doc top-5 TF-IDF keywords (operators.text.keyword_topk) —
    quantized-int score ranking, deterministic cross-engine."""
    return T.keyword_topk(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_cms_error(spark, sf_dir):
    """Count-Min sketch term counts with an EXACT oracle
    (operators.text.cms_error_profile): fixed md5 hash rows make the
    sketch a pure integer fold, so — unlike HLL/KLL — the structure
    itself is value-checked, including the estimate>=truth guarantee
    and the collision overestimate on the exact top-20 terms."""
    return T.cms_error_profile(_docs(spark, sf_dir), cache_key=sf_dir)


def text_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: declared label x heuristic
    prediction with counts — the eval artifact a lang-ID cleanup pass
    reports (reuses operators.text.lang_id; pure counting on top)."""
    from pyspark.sql import functions as F

    return (
        T.lang_id(_docs(spark, sf_dir))
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _langid_confusion_sql() -> str:
    return f"""
WITH preds AS ({T.LANG_ID_SQL})
SELECT declared_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM preds GROUP BY declared_lang, pred_lang
"""


def text_readability(spark, sf_dir):
    """Flesch-style readability per document from engine-parity
    counters: sentences = [.!?]+ runs, words = token count, syllable
    proxy = vowel groups per word. The score formula is pure double
    arithmetic over exact integers in identical op order, so it is
    deterministic cross-engine; narrow zero-shuffle map."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    lower = F.lower(F.col("text"))
    words = F.size(F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), F.lit(0)))
    sents = F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0)))
    syll = F.size(F.regexp_extract_all(lower, F.lit("[aeiouy]+"), F.lit(0)))
    w = F.greatest(words, F.lit(1)).cast("double")
    s = F.greatest(sents, F.lit(1)).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (F.greatest(syll, F.lit(0)).cast("double") / w)
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
        score.alias("flesch_score"),
    )


READABILITY_SQL = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
         AS n_words,
       CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
         AS n_sentences,
       CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         AS n_syllables,
       206.835
       - 1.015 * (CAST(GREATEST(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE)
                  / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
       - 84.6 * (CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 0) AS DOUBLE)
                 / CAST(GREATEST(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS DOUBLE))
         AS flesch_score
FROM documents
"""


def events_benford(spark, sf_dir):
    """First-significant-digit profile of ``value`` per event type vs
    the Benford expectation — the classic bookkeeping/fraud screen.
    Digit extraction is ARITHMETIC, not string-formatted: quantize to
    exact integer cents (floor(|v|*100 + 0.5) — one shared IEEE op
    sequence) and take the first character of the integer's decimal
    rendering, so no engine-specific rounding-tie/format behavior can
    flip the digit (ADVICE r5: format_number is HALF_EVEN with
    thousands separators vs DuckDB's format — ties like 0.095 could
    diverge). Counts are exact ints and the chi-square statistic folds
    with identical IEEE ops (log10 differs <=1 ulp — within the
    established exp/ln tolerance class)."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5)).cast("long")
    cells = (
        e.select("event_type", cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(
            "event_type",
            F.substring(F.col("cents").cast("string"), 1, 1).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.groupBy("event_type").agg(F.sum("n").cast("long").alias("nt"))
    expected = F.col("nt").cast("double") * F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double")
    )
    dev = F.col("n").cast("double") - expected
    return (
        cells.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("d").cast("long").alias("digit"),
            "n",
            (F.col("n").cast("double") / F.col("nt")).alias("observed_freq"),
            (dev * dev / expected).alias("chi2_term"),
        )
    )


BENFORD_SQL = """
WITH digits AS (
  SELECT event_type,
         substr(CAST(CAST(FLOOR(abs(value) * 100 + 0.5) AS BIGINT)
                     AS VARCHAR), 1, 1) AS d
  FROM events
  WHERE CAST(FLOOR(abs(value) * 100 + 0.5) AS BIGINT) > 0
),
cells AS (
  SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS n
  FROM digits GROUP BY event_type, d
),
tot AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt FROM cells GROUP BY event_type
)
SELECT c.event_type, CAST(c.d AS BIGINT) AS digit, c.n,
       CAST(c.n AS DOUBLE) / t.nt AS observed_freq,
       (CAST(c.n AS DOUBLE) - CAST(t.nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(c.d AS DOUBLE)))
       * (CAST(c.n AS DOUBLE) - CAST(t.nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(c.d AS DOUBLE)))
       / (CAST(t.nt AS DOUBLE) * log10(1.0 + 1.0 / CAST(c.d AS DOUBLE))) AS chi2_term
FROM cells c JOIN tot t ON t.event_type = c.event_type
"""


def multimodal_dedup(spark, sf_dir):
    """Exact media dedup by payload digest within container type — the
    binary-column twin of corpus exact dedup (keep the lowest media_id
    per identical payload). md5-of-hex so both engines hash the same
    string; one hash agg."""
    from pyspark.sql import functions as F

    from ..operators import multimodal as M

    media = M.sniff_media_type(_media(spark, sf_dir))
    return (
        media.withColumn("content_hash", F.md5(F.hex(F.col("content"))))
        .groupBy("sniffed_type", "content_hash")
        .agg(
            F.min("media_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


MULTIMODAL_DEDUP_SQL = r"""
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
  SELECT media_id, content,
         CASE
           WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hex(content), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
           WHEN substr(hex(content), 1, 8) = '52494646' THEN 'audio/wav'
           WHEN substr(hex(content), 1, 8) IN ('00000018', '00000020')
             THEN 'video/mp4'
           ELSE 'application/octet-stream'
         END AS sniffed_type
  FROM media
)
SELECT sniffed_type, md5(hex(content)) AS content_hash,
       CAST(MIN(media_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM sniffed
GROUP BY sniffed_type, md5(hex(content))
"""


_MEDIA_CTE_SQL = r"""
  SELECT doc_id AS media_id,
         (CASE doc_id % 4
            WHEN 0 THEN '\x89\x50\x4E\x47'::BLOB
            WHEN 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
            WHEN 2 THEN '\x52\x49\x46\x46'::BLOB
            ELSE '\x00\x00\x00\x18'::BLOB END) || encode(text) AS content
  FROM documents
"""


def multimodal_near_dup(spark, sf_dir):
    """Binary NEAR-duplicate pairs by strided byte-window Jaccard
    (operators.multimodal.byte_shingle_pairs): catches the same payload
    behind different container headers or with local byte edits, which
    the digest-exact multimodal_dedup misses. Shingling and candidate
    generation mirror the text dedup family (hot-window df cap armed —
    measured max window df 186 at sf0.01, so the cap PRUNES here and
    the oracle mirrors it)."""
    from ..operators import multimodal as M

    return M.byte_shingle_pairs(_media(spark, sf_dir), threshold=0.5)


def multimodal_integrity(spark, sf_dir):
    """Binary-column INTEGRITY audit: declared container type (from the
    catalog) vs magic-byte sniff — the confusion matrix that catches
    mislabeled, corrupted, or transcoding-damaged media before a decode
    stage wastes GPU time on it. A deterministic 1-in-17 header
    truncation is planted so the mismatch leg is exercised (same
    pattern as the PII seeding). Narrow map + one hash agg; only type
    strings and counts cross the shuffle."""
    from pyspark.sql import functions as F

    from ..operators import multimodal as M

    media = _media(spark, sf_dir)
    declared = (
        F.when(F.col("media_id") % 4 == 0, F.lit("image/png"))
        .when(F.col("media_id") % 4 == 1, F.lit("image/jpeg"))
        .when(F.col("media_id") % 4 == 2, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    # planted corruption: drop the first 2 header bytes for 1-in-17
    damaged = media.select(
        "media_id",
        declared.alias("declared_type"),
        F.when(
            F.col("media_id") % 17 == 0,
            F.expr("substring(content, 3)"),
        )
        .otherwise(F.col("content"))
        .alias("content"),
    )
    sniffed = M.sniff_media_type(damaged)
    return (
        sniffed.withColumn(
            "status",
            F.when(
                F.col("sniffed_type") == F.col("declared_type"), F.lit("ok")
            ).otherwise(F.lit("header_mismatch")),
        )
        .groupBy("declared_type", "sniffed_type", "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_media"))
    )


MULTIMODAL_INTEGRITY_SQL = r"""
WITH media AS (
  SELECT doc_id AS media_id,
         (CASE doc_id % 4
            WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'image/jpeg'
            WHEN 2 THEN 'audio/wav'
            ELSE 'video/mp4' END) AS declared_type,
         (CASE doc_id % 4
            WHEN 0 THEN '\x89\x50\x4E\x47'::BLOB
            WHEN 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
            WHEN 2 THEN '\x52\x49\x46\x46'::BLOB
            ELSE '\x00\x00\x00\x18'::BLOB END) || encode(text) AS content
  FROM documents
),
damaged AS (
  -- hex-space truncation: dropping the first 2 BYTES of the blob is
  -- dropping the first 4 HEX chars (DuckDB has no substr on BLOB)
  SELECT media_id, declared_type,
         CASE WHEN media_id % 17 = 0
              THEN substr(hex(content), 5) ELSE hex(content) END AS hexc
  FROM media
),
sniffed AS (
  SELECT media_id, declared_type,
         CASE
           WHEN substr(hexc, 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hexc, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
           WHEN substr(hexc, 1, 8) = '52494646' THEN 'audio/wav'
           WHEN substr(hexc, 1, 8) IN ('00000018', '00000020')
             THEN 'video/mp4'
           ELSE 'application/octet-stream'
         END AS sniffed_type
  FROM damaged
)
SELECT declared_type, sniffed_type,
       CASE WHEN sniffed_type = declared_type THEN 'ok'
            ELSE 'header_mismatch' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_media
FROM sniffed
GROUP BY 1, 2, 3
"""


def dedup_lsh_eval(spark, sf_dir):
    """LSH INDEX EVALUATION on a ground-truthable sample (doc_id <
    200): exact all-pairs jaccard >= 0.5 is the truth set (affordable
    only on the sample — which is the point of the eval), band-bucket
    collisions are the candidate set, and the output is one row of
    counts + recall — the measurement that justifies the band/row
    configuration before trusting it corpus-wide. All-int counts, one
    exact division."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    # distinct cache key: the corpus here is the doc_id<200 SUBSET —
    # sharing sf_dir's entry would serve full-corpus shingles
    sub_key = sf_dir + "#doc_id_lt_200"
    truth = D.jaccard_pairs(
        docs, threshold=0.5, shingle_n=3, cache_key=sub_key
    ).select("doc_a", "doc_b")
    cand = D.minhash_lsh_pairs(
        docs, threshold=0.0, shingle_n=3, cache_key=sub_key
    ).select("doc_a", "doc_b")
    n_truth = truth.count()
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi").count()
    n_cand = cand.count()
    return spark.createDataFrame(
        [(n_truth, n_cand, hits,
          (float(hits) / n_truth) if n_truth else None)],
        "n_truth long, n_candidates long, n_hits long, recall double",
    )


def _dedup_lsh_eval_sql() -> str:
    truth = D.jaccard_pairs_sql(threshold=0.5, shingle_n=3)
    cand = D.minhash_lsh_pairs_sql(threshold=0.0, shingle_n=3)
    # restrict both stages to the sample by swapping the documents scan
    truth = truth.replace("FROM documents", "FROM sample_docs")
    cand = cand.replace("FROM documents", "FROM sample_docs")
    return f"""
WITH sample_docs AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id < 200
),
truth AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({truth})
),
cand AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({cand})
),
hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth t
  WHERE EXISTS (SELECT 1 FROM cand c
                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       hits.n AS n_hits,
       CASE WHEN (SELECT COUNT(*) FROM truth) > 0
            THEN CAST(hits.n AS DOUBLE) / (SELECT COUNT(*) FROM truth)
       END AS recall
FROM hits
"""


def dedup_rate_curve(spark, sf_dir):
    """Dedup yield curve: per candidate Jaccard threshold (0.5 / 0.7 /
    0.9), how many verified near-dup pairs exist and how many distinct
    documents they touch — the knob-tuning artifact a dedup rollout
    reports before committing to a threshold. ONE pass of the LSH
    pipeline at the loosest threshold; the curve is then a tiny
    re-aggregation of the same verified pairs (no per-threshold
    re-run)."""
    from pyspark.sql import functions as F

    pairs = D.minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, cache_key=sf_dir
    ).localCheckpoint(eager=True)
    out = None
    for t in (0.5, 0.7, 0.9):
        sub = pairs.where(F.col("jaccard") >= t)
        docs_touched = (
            sub.select(F.col("doc_a").alias("d"))
            .union(sub.select(F.col("doc_b").alias("d")))
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs_affected"))
        )
        row = sub.agg(
            F.lit(t).alias("threshold"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        ).crossJoin(docs_touched)
        out = row if out is None else out.unionByName(row)
    return out


def _dedup_rate_curve_sql() -> str:
    base = D.minhash_lsh_pairs_sql(threshold=0.5, shingle_n=3)
    legs = " UNION ALL ".join(
        f"""
SELECT CAST({t} AS DOUBLE) AS threshold,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM verified WHERE jaccard >= {t})
         AS n_pairs,
       (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
          SELECT doc_a AS d FROM verified WHERE jaccard >= {t}
          UNION ALL SELECT doc_b FROM verified WHERE jaccard >= {t}))
         AS n_docs_affected"""
        for t in (0.5, 0.7, 0.9)
    )
    return f"WITH verified AS MATERIALIZED ({base})\n{legs}"


def dedup_sig_quality(spark, sf_dir):
    """MinHash estimator quality on band-candidate pairs: signature-
    estimated vs true jaccard with absolute error — the artifact that
    tunes num_hashes/band shape (operators.dedup.minhash_sig_quality)."""
    return D.minhash_sig_quality(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup pairs (|A∩B|/min) — catches
    doc-in-doc duplication that symmetric Jaccard under-scores
    (operators.dedup.containment_pairs); dual candidate generation
    (bands + rare-shingle inverted index), value-oracled."""
    return D.containment_pairs(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_span_stats(spark, sf_dir):
    """Per-doc duplicated n-gram span mass (ExactSubstr-style dedup
    signal, operators.dedup.duplicate_span_stats) — the C4/RefinedWeb
    repeated-text filter; exact-int arithmetic, value-oracled."""
    return D.duplicate_span_stats(_docs(spark, sf_dir), cache_key=sf_dir)


def dedup_pipeline_lsh(spark, sf_dir):
    """END-TO-END sub-quadratic dedup pipeline, the shape a 100 TB
    corpus actually runs: MinHash signatures -> LSH band buckets ->
    verified candidate pairs -> bounded component resolution -> keep/
    drop per document. Every stage is the already-oracle-checked
    operator; the composition is itself oracle-checked (same SQL stages
    composed as CTEs)."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5, shingle_n=3, cache_key=sf_dir)
    return D.bounded_components_from_pairs(docs, pairs, verify_converged=True)


def dedup_components_converged(spark, sf_dir):
    """Fixpoint connected components — exact for any diameter (the
    production form). Value-oracled via DuckDB WITH RECURSIVE
    reachability (min label at fixpoint == min reachable doc_id).
    cache_key joins the shared-pass jaccard pair cache (same pairs as
    the bounded-resolver queries — identical inputs, identical
    output)."""
    return D.dup_components_converged(
        _docs(spark, sf_dir), threshold=0.5, shingle_n=3, cache_key=sf_dir
    )


def _media(spark, sf_dir):
    """Deterministic binary media column synthesized from documents:
    each doc's text bytes behind a real container magic (PNG/JPEG/RIFF/
    mp4 ftyp by doc_id%4). The testdata ships no binary column; this
    derivation is engine-reproducible in DuckDB (blob literal ||
    encode(text)), so the multimodal plumbing gets a value oracle."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    magics = [
        bytes([0x89, 0x50, 0x4E, 0x47]),
        bytes([0xFF, 0xD8, 0xFF, 0xE0]),
        bytes([0x52, 0x49, 0x46, 0x46]),
        bytes([0x00, 0x00, 0x00, 0x18]),
    ]
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(magics[0]))
        .when(F.col("doc_id") % 4 == 1, F.lit(magics[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(magics[2]))
        .otherwise(F.lit(magics[3]))
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(magic, F.encode(F.col("text"), "UTF-8")).alias("content"),
    )


def multimodal_media_profile(spark, sf_dir):
    """Multimodal rollup through the REAL plumbing operators: magic-byte
    container sniffing (sniff_media_type, pure JVM expressions) +
    opaque-content accounting (media_stats) -> per-container totals.
    The digest is md5-of-hex so both engines hash the identical string
    (DuckDB's md5 does not accept BLOB)."""
    from pyspark.sql import functions as F

    from ..operators import multimodal as M

    media = M.media_stats(M.sniff_media_type(_media(spark, sf_dir)))
    return (
        media.withColumn("hex_digest", F.md5(F.hex(F.col("content"))))
        .groupBy("sniffed_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.countDistinct("hex_digest").alias("n_distinct"),
        )
    )


MULTIMODAL_PROFILE_SQL = r"""
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
  SELECT media_id, content,
         CASE
           WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
           WHEN substr(hex(content), 1, 6) = 'FFD8FF' THEN 'image/jpeg'
           WHEN substr(hex(content), 1, 8) = '52494646' THEN 'audio/wav'
           WHEN substr(hex(content), 1, 8) IN ('00000018', '00000020')
             THEN 'video/mp4'
           ELSE 'application/octet-stream'
         END AS sniffed_type
  FROM media
)
SELECT sniffed_type, COUNT(*) AS n_media,
       CAST(SUM(octet_length(content)) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT md5(hex(content))) AS n_distinct
FROM sniffed
GROUP BY sniffed_type
"""


def multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction + frame-sample explode over the
    synthesized media. The registered aggregate (per-media frame count
    × feature dimensionality) is value-oracled — it pins the
    frame-sampling explode arithmetic and that every media row passed
    through the extractor with a full-width feature vector. The feature
    VALUES stay unit-checked only: they are md5-over-raw-bytes and
    DuckDB's md5 accepts VARCHAR, not BLOB (verified), so no SQL twin
    can exist for the stub's content."""
    from pyspark.sql import functions as F

    from ..operators import multimodal as M

    media = _media(spark, sf_dir).withColumn(
        "meta",
        F.struct(
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            ((F.col("media_id") % 5 + 1) * 1000).cast("long").alias(
                "duration_ms"
            ),
        ),
    )
    feats = M.extract_features(media, dim=8)
    sampled = M.frame_sample_plan(feats, every_ms=1000)
    return sampled.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.size(F.first("features")).cast("long").alias("feature_dim"),
    )


def simsearch_top_eigen(spark, sf_dir):
    """Top principal component of the embedding corpus by integer-
    exact power iteration (operators.simsearch.top_eigen) — the
    whitening/projection preprocessor; ONE distributed pass of int64
    sufficient statistics, the d x d eigen math on the driver, and a
    DuckDB twin that re-derives the quantized covariance from scratch
    and unrolls the identical 8 rounds."""
    return S.top_eigen(_embs(spark, sf_dir))


def simsearch_brute_force(spark, sf_dir):
    return S.brute_force_topk(_embs(spark, sf_dir))


def simsearch_ivf(spark, sf_dir):
    return S.ivf_topk(_embs(spark, sf_dir))


def simsearch_ivf_probe2(spark, sf_dir):
    """Multi-probe IVF (2 nearest centroids per query): the recall knob
    for Voronoi-boundary queries, still oracle-expressible."""
    return S.ivf_topk(_embs(spark, sf_dir), n_probes=2)


def simsearch_ivf_kmeans(spark, sf_dir):
    """IVF with TRAINED spherical-k-means centroids — the production
    index build, now value-oracled: the fixed-point k-means combine is
    engine-independent, and the DuckDB twin re-trains the index from
    scratch (unrolled Lloyd CTEs; tol=0.0 pins both sides to exactly
    max_iters iterations). Assignment goes through the zero-shuffle
    broadcast-argmax pass (assign_buckets_argmax), not the N×k
    join+window plan the seeded oracle twins keep."""
    embs = _embs(spark, sf_dir)
    C = S.kmeans_centroids(
        embs, n_centroids=16, max_iters=5, tol=0.0, cache_key=sf_dir
    )
    return S.ivf_topk(embs, centroid_matrix=C)


def simsearch_index_quality(spark, sf_dir):
    """Per-cluster population + inertia of the trained IVF index
    (operators/simsearch.index_quality) — oracle re-derives the index
    AND the distances from scratch."""
    return S.index_quality(_embs(spark, sf_dir), cache_key=sf_dir)


def simsearch_pq(spark, sf_dir):
    """Flat product-quantization ANN, VALUE-ORACLED since round 6: the
    integer-Lloyd codebooks (operators.simsearch.pq_train_exact_int)
    are re-trained in DuckDB and every ADC score/rank is int64
    (S.pq_topk_exact / S.pq_exact_sql) — the same upgrade path ivfpq
    took in round 5. The rng-codebook variant (S.pq_train + S.pq_topk,
    the 16x8-bit production config) stays as the library API with its
    recall/monotonicity unit tests."""
    return S.pq_topk_exact(_embs(spark, sf_dir), cache_key=sf_dir)


def simsearch_ivfpq(spark, sf_dir):
    """Composed IVF-PQ ANN (VERDICT r3 #6): trained coarse centroids
    bound WHICH vectors each query scores (2 probed inverted lists of
    16), PQ codes bound HOW (16 byte-lookups per candidate). One narrow
    encode+assign pass builds the index; scoring touches only probed
    lists. VALUE-ORACLED since round 5 (VERDICT r4 #6): both index
    levels are re-trained in DuckDB (unrolled-Lloyd coarse CTEs +
    integer-Lloyd PQ CTEs) and every discrete decision past the coarse
    assignment is int64 arithmetic (operators.simsearch.ivfpq_topk_exact);
    the rng-codebook variant stays as the library API
    (S.ivfpq_topk) with its recall/monotonicity unit tests."""
    return S.ivfpq_topk_exact(_embs(spark, sf_dir), cache_key=sf_dir)


def corpus_bpe_pairs(spark, sf_dir):
    """One BPE round's pair statistics (operators.bpe), oracle-backed."""
    from ..operators.bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_bpe_merges(spark, sf_dir):
    """Iterative BPE merge learning, value-oracled since round 5: the
    driver-looped BATCHED trainer is checked against a 12-round SERIAL
    unrolled-CTE oracle (operators.bpe.bpe_merges_sql) — hash equality
    exercises the batched==serial equivalence argument on real data."""
    from ..operators.bpe import learn_merges

    return learn_merges(_docs(spark, sf_dir), n_merges=12, cache_key=sf_dir)


def _bpe_merges_oracle() -> str:
    from ..operators.bpe import bpe_merges_sql

    return bpe_merges_sql(n_merges=12)


def _bpe_encode_oracle() -> str:
    from ..operators.bpe import bpe_encode_sql

    return bpe_encode_sql(n_merges=16)


def corpus_pack_sequences(spark, sf_dir):
    """Distributed-prefix-sum shuffle rank + token-budget sequence bins
    (operators.packing); oracle is the single-window global form."""
    from ..operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir))


def corpus_decontaminate(spark, sf_dir):
    """Test-split shingle overlap vs the train split (operators.contamination)."""
    from ..operators.contamination import decontaminate

    return decontaminate(_docs(spark, sf_dir), cache_key=sf_dir)


def corpus_sample_exact_k(spark, sf_dir):
    """Deterministic exact-k corpus sample (md5 hash-rank reservoir,
    operators.quality.hash_rank_sample) — TakeOrdered, no global sort."""
    return Q.hash_rank_sample(_docs(spark, sf_dir), k=50)


def corpus_sample_exact_k_per_lang(spark, sf_dir):
    """Per-language exact-k variant (one hash exchange + windowed
    row_number)."""
    return Q.hash_rank_sample(_docs(spark, sf_dir), k=20, by="lang")


def corpus_prep_chunked(spark, sf_dir):
    """FULL composed prep pipeline in ONE declarative plan: quality
    gate (same rational blend as corpus_prep) → exact-dedup keep →
    token-window chunking of the surviving docs → per-(source, lang)
    chunk accounting. Catalyst fuses all four stages; the oracle
    composes the same CTE stages, so the whole pipeline — not just its
    pieces — is value-checked."""
    from pyspark.sql import functions as F

    from ..operators.chunking import chunk_windows

    docs = _docs(spark, sf_dir)
    c = T.stat_cols()
    good = docs.select(
        "doc_id", "text", "lang", "source",
        c["quality_score"].alias("quality_score"),
    ).where(F.col("quality_score") >= 0.5)
    keeps = D.exact_dedup(good).select(F.col("keep_id").alias("doc_id"))
    kept = good.join(keeps, "doc_id", "left_semi")
    chunks = chunk_windows(kept, window=24, stride=16)
    return (
        chunks.join(kept.select("doc_id", "source", "lang"), "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("n_chunk_tokens"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


def _corpus_prep_chunked_oracle() -> str:
    from ..operators.chunking import chunk_windows_stages_sql

    # compose from the SAME exposed CTE stage generators the standalone
    # oracles use (no string surgery — the stage functions are the API)
    return f"""
WITH {T.corpus_prep_stages_sql(min_quality=0.5)},
kept AS (
  SELECT * FROM good WHERE doc_id IN (SELECT doc_id FROM keeps)
),
{chunk_windows_stages_sql(window=24, stride=16, relation="kept")},
chunk_rows AS (
  SELECT doc_id, CAST(len(c) AS BIGINT) AS chunk_tokens FROM chunks
)
SELECT k.source, k.lang,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(r.chunk_tokens) AS BIGINT) AS n_chunk_tokens,
       CAST(COUNT(DISTINCT r.doc_id) AS BIGINT) AS n_docs
FROM chunk_rows r JOIN kept k ON k.doc_id = r.doc_id
GROUP BY k.source, k.lang
"""


def simsearch_label_centroids(spark, sf_dir):
    """Per-label mean embedding (class prototypes) in LONG form —
    (label, n_vecs, idx, component), scalar cells only, so the
    driver's pandas canonicalization can sort/hash it; fixed-point
    int64 sums keep it bit-identical across engines/partitionings
    (operators.simsearch.label_centroids_long; the array-building
    wide form stays available as a library API)."""
    return S.label_centroids_long(_embs(spark, sf_dir))


# Learned merges + encode frame (round 7): corpus_bpe_encode,
# corpus_bpe_fertility and corpus_bpe_curve train the same 16 merges (a
# driver-looped iterative job) and encode the same corpus. The merges
# list is a plain Python value (no checkpoint blocks to validate —
# sf_dir data is immutable within a session); the encode frame is a
# live-block-validated memo checkpoint.
def _bpe_merges(spark, sf_dir, n_merges=16):
    from ..operators.bpe import learn_merges

    return memo.value(
        spark,
        (sf_dir, n_merges, "bpe_merges"),
        lambda: [
            tuple(r)
            for r in learn_merges(
                _docs(spark, sf_dir), n_merges=n_merges, cache_key=sf_dir
            ).collect()
        ],
    )


def _bpe_encoded(spark, sf_dir, n_merges=16):
    from ..operators.bpe import bpe_encode

    docs = _docs(spark, sf_dir)
    merges = _bpe_merges(spark, sf_dir, n_merges)
    return memo.checkpoint(
        spark,
        (sf_dir, n_merges, "bpe_encode"),
        lambda: bpe_encode(docs, merges, cache_key=sf_dir),
    )


def corpus_bpe_encode(spark, sf_dir):
    """Train 16 BPE merges (batched) and ENCODE the corpus with them:
    per-doc whitespace-token and BPE-symbol counts — the number packing
    and cost estimation consume. Value-oracled since round 5: the
    16-round unrolled-CTE oracle (operators.bpe.bpe_encode_sql) reaches
    the same final vocabulary state; encode exactness vs a pure-Python
    reference is additionally unit-tested (tests/test_bpe.py)."""
    return _bpe_encoded(spark, sf_dir)


def corpus_bpe_curve(spark, sf_dir):
    """Tokenizer COMPRESSION CURVE: corpus symbols-per-token at merge
    depths 4/8/16 — the ROI read that decides how many merges a
    vocabulary budget is worth (the curve flattens where additional
    merges stop paying). Serial BPE has the PREFIX PROPERTY (merge i
    never depends on the final merge count), and the batched trainer is
    serial-equivalent, so merges[:k] from the cached 16-merge table IS
    the k-merge vocabulary — one training run feeds all three depths;
    each depth is one vocab-keyed fold + broadcast join. The oracle
    re-trains each depth from scratch via the unrolled-CTE chain.

    Output: (n_merges, n_tokens, n_bpe_tokens, symbols_per_token).
    """
    from pyspark.sql import functions as F

    from ..operators.bpe import bpe_encode

    docs = _docs(spark, sf_dir)
    merges = _bpe_merges(spark, sf_dir)
    out = None
    for k in (4, 8, 16):
        agg = (
            bpe_encode(docs, merges[:k], cache_key=sf_dir)
            .agg(
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            )
            .select(
                F.lit(k).cast("long").alias("n_merges"),
                "n_tokens",
                "n_bpe_tokens",
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out.select(
        "n_merges",
        "n_tokens",
        "n_bpe_tokens",
        (
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("symbols_per_token"),
    )


def _corpus_bpe_curve_sql() -> str:
    from ..operators.bpe import bpe_encode_sql

    legs = []
    for k in (4, 8, 16):
        inner = bpe_encode_sql(n_merges=k).strip()
        legs.append(
            f"""
SELECT CAST({k} AS BIGINT) AS n_merges,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_bpe_tokens) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE)
         AS symbols_per_token
FROM ({inner})"""
        )
    return " UNION ALL ".join(legs)


def corpus_bpe_fertility(spark, sf_dir):
    """Tokenizer FERTILITY by language: BPE symbols per whitespace
    token under the trained 16-merge vocabulary — the eval that
    decides whether a tokenizer is fair to each language before a
    training run (high fertility = that language pays more sequence
    budget per word). Per-language int64 sums over the encode output
    + one exact division; the per-doc encode is the value-oracled
    broadcast-join path of corpus_bpe_encode."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    enc = _bpe_encoded(spark, sf_dir)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_bpe_tokens",
            (
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("fertility"),
        )
    )


def _bpe_fertility_oracle() -> str:
    from ..operators.bpe import bpe_encode_sql

    return f"""
WITH enc AS MATERIALIZED ({bpe_encode_sql(16)})
SELECT d.lang,
       CAST(SUM(e.n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(e.n_bpe_tokens) AS DOUBLE)
         / CAST(SUM(e.n_tokens) AS DOUBLE) AS fertility
FROM enc e JOIN documents d ON d.doc_id = e.doc_id
GROUP BY d.lang
"""


def corpus_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (operators.chunking) — the
    embedding/RAG pre-vectorization primitive; zero-shuffle narrow map,
    value-oracled."""
    from ..operators.chunking import chunk_windows

    return chunk_windows(_docs(spark, sf_dir), window=24, stride=16)


def _chunk_windows_oracle() -> str:
    from ..operators.chunking import chunk_windows_sql

    return chunk_windows_sql(window=24, stride=16)


def corpus_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — identical output to
    corpus_decontaminate (bloom negatives are definite; only
    bloom-positive shingles pay the exact join), so it shares the same
    oracle. Unit-tested: join input drops >10x on the harness corpus."""
    from ..operators.contamination import decontaminate_bloom

    return decontaminate_bloom(_docs(spark, sf_dir), cache_key=sf_dir)


def text_repetition_stats(spark, sf_dir):
    """Gopher-style repetition metrics + keep flag (operators.quality)."""
    return Q.repetition_stats(_docs(spark, sf_dir))


def text_pii_redact(spark, sf_dir):
    """Email/IPv4 redaction with counts + redacted-text md5 digest."""
    return Q.pii_redact(_docs(spark, sf_dir))


def corpus_sample_stratified(spark, sf_dir):
    """Per-language Bernoulli sample on a replayable md5 coin."""
    return Q.stratified_sample(_docs(spark, sf_dir))


def corpus_mixture_weights(spark, sf_dir):
    """Per-language sqrt-temperature mixture weights."""
    return Q.mixture_weights(_docs(spark, sf_dir))


QUERIES = {
    "corpus_bpe_pairs": corpus_bpe_pairs,
    "corpus_bpe_merges": corpus_bpe_merges,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_decontaminate": corpus_decontaminate,
    "corpus_decontaminate_bloom": corpus_decontaminate_bloom,
    "corpus_chunk_windows": corpus_chunk_windows,
    "corpus_prep_chunked": corpus_prep_chunked,
    "corpus_bpe_encode": corpus_bpe_encode,
    "corpus_bpe_fertility": corpus_bpe_fertility,
    "text_repetition_stats": text_repetition_stats,
    "text_pii_redact": text_pii_redact,
    "corpus_sample_stratified": corpus_sample_stratified,
    "corpus_sample_exact_k": corpus_sample_exact_k,
    "corpus_sample_weighted": corpus_sample_weighted,
    "corpus_curation_sample": corpus_curation_sample,
    "corpus_sample_exact_k_per_lang": corpus_sample_exact_k_per_lang,
    "corpus_mixture_weights": corpus_mixture_weights,
    "text_stats": text_stats,
    "text_lang_id": lang_id,
    "text_token_rollup": token_rollup,
    "text_doc_fingerprint": doc_fingerprint,
    "text_ngram_profile": text_ngram_profile,
    "text_bm25_topk": text_bm25_topk,
    "text_lm_score": text_lm_score,
    "text_lang_mismatch": text_lang_mismatch,
    "dedup_exact": dedup_exact,
    "corpus_prep": corpus_prep,
    "corpus_split": corpus_split,
    "corpus_top_terms": corpus_top_terms,
    "corpus_top_terms_sketch": corpus_top_terms_sketch,
    "corpus_zipf_fit": corpus_zipf_fit,
    "dedup_jaccard": dedup_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_lines": dedup_lines,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "corpus_gopher_rules": corpus_gopher_rules,
    "text_bigram_lm": text_bigram_lm,
    "corpus_bpe_curve": corpus_bpe_curve,
    "corpus_gate_overlap": corpus_gate_overlap,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_packed": dedup_simhash_packed,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_simhash_components": dedup_simhash_components,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_ivf": dedup_embedding_ivf,
    "dedup_embedding_ivf_trained": dedup_embedding_ivf_trained,
    "dedup_components": dedup_components,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_pipeline_lsh": dedup_pipeline_lsh,
    "dedup_incremental_lsh": dedup_incremental_lsh,
    "dedup_span_stats": dedup_span_stats,
    "dedup_containment": dedup_containment,
    "dedup_sig_quality": dedup_sig_quality,
    "dedup_rate_curve": dedup_rate_curve,
    "dedup_lsh_eval": dedup_lsh_eval,
    "multimodal_dedup": multimodal_dedup,
    "multimodal_near_dup": multimodal_near_dup,
    "multimodal_integrity": multimodal_integrity,
    "corpus_cms_error": corpus_cms_error,
    "text_langid_confusion": text_langid_confusion,
    "text_keywords": text_keywords,
    "text_readability": text_readability,
    "events_benford": events_benford,
    "dedup_components_converged": dedup_components_converged,
    "multimodal_media_profile": multimodal_media_profile,
    "multimodal_features": multimodal_features,
    "simsearch_brute_force": simsearch_brute_force,
    "simsearch_ivf": simsearch_ivf,
    "simsearch_ivf_probe2": simsearch_ivf_probe2,
    "simsearch_ivf_kmeans": simsearch_ivf_kmeans,
    "simsearch_index_quality": simsearch_index_quality,
    "simsearch_top_eigen": simsearch_top_eigen,
    "simsearch_pq": simsearch_pq,
    "simsearch_ivfpq": simsearch_ivfpq,
    "simsearch_label_centroids": simsearch_label_centroids,
}

ORACLES = {
    "corpus_bpe_pairs": _bpe_pairs_oracle(),
    # serial-unrolled CTE chains (operators.bpe docstrings): the engine
    # trains batched, the oracle trains serial — value equality IS the
    # batched==serial equivalence proof exercised on real data
    "corpus_bpe_merges": _bpe_merges_oracle(),
    "corpus_bpe_encode": _bpe_encode_oracle(),
    "corpus_bpe_fertility": _bpe_fertility_oracle(),
    "corpus_pack_sequences": _pack_sequences_oracle(),
    "corpus_decontaminate": _decontaminate_oracle(),
    # bloom prefilter only thins the join input — same oracle
    "corpus_decontaminate_bloom": _decontaminate_oracle(),
    "corpus_chunk_windows": _chunk_windows_oracle(),
    "corpus_prep_chunked": _corpus_prep_chunked_oracle(),
    "text_repetition_stats": Q.REPETITION_STATS_SQL,
    "text_pii_redact": Q.PII_REDACT_SQL,
    "corpus_sample_stratified": Q.stratified_sample_sql(),
    "corpus_sample_exact_k": Q.hash_rank_sample_sql(k=50),
    "corpus_sample_weighted": Q.weighted_sample_sql(k=50),
    "corpus_curation_sample": _curation_sample_oracle(),
    "corpus_sample_exact_k_per_lang": Q.hash_rank_sample_sql(k=20, by="lang"),
    "corpus_mixture_weights": Q.MIXTURE_WEIGHTS_SQL,
    "text_stats": T.TEXT_STATS_SQL,
    "text_lang_id": T.LANG_ID_SQL,
    "text_token_rollup": T.TOKEN_ROLLUP_SQL,
    "text_doc_fingerprint": T.DOC_FINGERPRINT_SQL,
    "text_ngram_profile": T.char_ngram_profile_sql(),
    "text_bm25_topk": _bm25_oracle(),
    "text_lm_score": T.lm_score_sql(),
    "text_lang_mismatch": T.lang_mismatch_sql(),
    "dedup_exact": D.EXACT_DEDUP_SQL,
    "corpus_prep": T.corpus_prep_sql(min_quality=0.5),
    "corpus_split": CORPUS_SPLIT_SQL,
    "corpus_top_terms": CORPUS_TOP_TERMS_SQL,
    # sketch-candidates + exact-verify twin: exact output, same oracle
    "corpus_top_terms_sketch": CORPUS_TOP_TERMS_SQL,
    "corpus_zipf_fit": _corpus_zipf_oracle(),
    # df_cap mirrors the Spark call so oracle equality survives corpora
    # where the hot-shingle prune actually fires (ADVICE r2)
    "dedup_jaccard": D.jaccard_pairs_sql(threshold=0.5, shingle_n=3, df_cap=64),
    "dedup_minhash_lsh": D.minhash_lsh_pairs_sql(threshold=0.5, shingle_n=3),
    "dedup_lines": D.line_block_dedup_sql(block_tokens=12),
    "dedup_embedding_lsh": D.embedding_near_dup_lsh_sql(threshold=0.3),
    "corpus_gopher_rules": Q.gopher_rules_sql(),
    "text_bigram_lm": T.BIGRAM_LM_SQL,
    "corpus_bpe_curve": _corpus_bpe_curve_sql(),
    "corpus_gate_overlap": _corpus_gate_overlap_sql(),
    "dedup_simhash": D.simhash_sql(),
    "dedup_simhash_packed": D.simhash_sql(),
    "dedup_simhash_pairs": D.simhash_pairs_sql(),
    # fixpoint resolver since round 7 (the convergence assert caught the
    # bounded 4-round form agreeing-with-truncation on every sf)
    "dedup_simhash_components": D.dup_components_converged_sql(
        pairs_inner=D.simhash_pairs_sql()
    ),
    "dedup_embedding": D.embedding_near_dup_sql(threshold=0.3),
    "dedup_embedding_ivf": D.embedding_near_dup_ivf_sql(
        threshold=0.3, n_centroids=16
    ),
    # trained-index twin re-derived from scratch in DuckDB: unrolled
    # Lloyd CTEs + fixed-point centroid means (r3 #4 stretch: was
    # rows-only "iterative training")
    "dedup_embedding_ivf_trained": D.embedding_near_dup_ivf_trained_sql(
        threshold=0.3, n_centroids=16
    ),
    "dedup_components": D.dup_components_sql(threshold=0.5, shingle_n=3),
    "dedup_cluster_sizes": _dedup_cluster_sizes_oracle(),
    # fixpoint twin: min-label-to-convergence == min reachable doc_id,
    # a DuckDB recursive CTE (r3 #4: was rows-only)
    "dedup_components_converged": D.dup_components_converged_sql(
        threshold=0.5, shingle_n=3
    ),
    "dedup_incremental_lsh": D.incremental_minhash_dedup_sql(),
    "dedup_span_stats": D.duplicate_span_stats_sql(),
    "dedup_containment": D.containment_pairs_sql(),
    "dedup_sig_quality": D.minhash_sig_quality_sql(),
    "dedup_rate_curve": _dedup_rate_curve_sql(),
    "dedup_lsh_eval": _dedup_lsh_eval_sql(),
    "multimodal_dedup": MULTIMODAL_DEDUP_SQL,
    "multimodal_near_dup": M.byte_shingle_pairs_sql(_MEDIA_CTE_SQL, threshold=0.5),
    "multimodal_integrity": MULTIMODAL_INTEGRITY_SQL,
    "corpus_cms_error": T.cms_error_profile_sql(),
    "text_langid_confusion": _langid_confusion_sql(),
    "text_keywords": T.keyword_topk_sql(),
    "text_readability": READABILITY_SQL,
    "events_benford": BENFORD_SQL,
    "dedup_pipeline_lsh": D.dup_components_sql(
        pairs_inner=D.minhash_lsh_pairs_sql(threshold=0.5, shingle_n=3)
    ),
    "multimodal_media_profile": MULTIMODAL_PROFILE_SQL,
    # frame count = len(sequence(0, duration-1, 1000)) with duration
    # (media_id%5+1)*1000 -> media_id%5+1; feature_dim pinned at the
    # extractor's call-site dim
    "multimodal_features": """
SELECT doc_id AS media_id,
       CAST(doc_id % 5 + 1 AS BIGINT) AS n_frames,
       CAST(8 AS BIGINT) AS feature_dim
FROM documents
""",
    "simsearch_brute_force": S.brute_force_topk_sql(),
    "simsearch_ivf": S.ivf_topk_sql(),
    "simsearch_ivf_probe2": S.ivf_topk_sql(n_probes=2),
    # trained index re-derived from scratch in DuckDB (unrolled Lloyd)
    "simsearch_ivf_kmeans": S.ivf_topk_trained_sql(),
    "simsearch_ivfpq": S.ivfpq_exact_sql(),
    "simsearch_pq": S.pq_exact_sql(),
    "simsearch_index_quality": S.index_quality_sql(),
    "simsearch_top_eigen": S.top_eigen_sql(),
    "simsearch_label_centroids": S.label_centroids_long_sql(),
}

"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline surface (BASELINE.json north star): language ID
(stopword n-gram heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting (rolling hash over character shingles).

All built-in JVM expressions — no Python UDFs — so the plans stay inside
whole-stage codegen and scale linearly with document count (narrow,
shuffle-free per-document transforms; only the per-source rollup
shuffles, on the low-cardinality ``source`` key).

Cross-engine determinism rules used throughout (validated bit-exact
against DuckDB): md5 for all hashing (identical in both engines), hex
strings -> bigint via conv/0x-cast, regex token extraction with shared
patterns, and only +,-,*,/ on doubles (no transcendentals — libm exp/log
are not IEEE-identical across engines).

The reference has no text operators; the closest analogue is the SQLi
payload text column it generates but never analyzes
(code/lambdas/fragmentation_attack/lambda_handler.py:19-29).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import memo
from .stats import Q20, on_grid

# Shared token definitions (identical strings on the DuckDB side).
TOKEN_RE = "[a-z0-9]+"
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
PUNCT_RE = "[.!?,;:]"
STOPWORDS = {
    "en": "the|a|an|and|or|of|in|to|is|was|for|on|with|as|by|at",
    "de": "der|die|das|und|oder|von|im|zu|ist|war|für|auf|mit|als|bei",
    "es": "el|la|los|las|y|o|de|en|a|es|era|para|con|como|por",
    "fr": "le|la|les|et|ou|de|en|à|est|était|pour|sur|avec|comme|par",
}
FINGERPRINT_K = 8  # character-shingle width for the rolling hash


def _hits(col, words: str):
    """Count stopword occurrences of one language in a lowercased column."""
    return F.size(F.regexp_extract_all(col, F.lit(f"\\b({words})\\b"), F.lit(0)))


def _hits_sql(col: str, words: str) -> str:
    return f"len(regexp_extract_all({col}, '\\b({words})\\b'))"


def stat_cols() -> dict:
    """The per-document metric EXPRESSIONS behind text_stats, exposed so
    composed pipelines (corpus_prep) can evaluate them inline on the
    document scan instead of joining back to a text_stats frame — the
    stats are narrow column functions, so materializing them as a
    separate frame and re-joining would add a corpus-wide shuffle for
    nothing."""
    lower = F.lower(F.col("text"))
    n_tokens = F.size(F.regexp_extract_all(lower, F.lit(TOKEN_RE), F.lit(0)))
    n_words = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE), F.lit(0)))
    n_stop = _hits(lower, STOPWORDS["en"])
    n_chars = F.length(F.col("text"))
    alpha_chars = F.size(F.regexp_extract_all(lower, F.lit("[a-z]"), F.lit(0)))

    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = alpha_chars / F.greatest(n_chars, F.lit(1))
    len_band = F.when((n_chars >= 100) & (n_chars <= 2000), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    quality = stop_ratio * 0.4 + alpha_ratio * 0.3 + len_band * 0.3
    return {
        "n_tokens": n_tokens,
        "n_words": n_words,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "avg_word_len": n_chars / F.greatest(n_words, F.lit(1)),
        "quality_score": quality,
    }


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/quality metrics.

    quality_score is a rational-arithmetic blend of three signals (each
    in [0,1]): stopword ratio (fluency), alpha ratio (cleanliness), and
    a length band (too-short/too-long penalty). Weights 0.4/0.3/0.3.
    """
    c = stat_cols()
    # counts cast to long: DuckDB len()/COUNT return BIGINT, Spark size()
    # returns int — keep result schemas identical for the driver's check
    return docs.select(
        "doc_id",
        c["n_tokens"].cast("long").alias("n_tokens"),
        c["n_words"].cast("long").alias("n_words"),
        c["n_punct"].cast("long").alias("n_punct"),
        c["n_stopwords"].cast("long").alias("n_stopwords"),
        c["avg_word_len"].alias("avg_word_len"),
        c["quality_score"].alias("quality_score"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_tokens,
       len(string_split_regex(trim(text), '\\s+')) AS n_words,
       len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct,
       {_hits_sql('lower(text)', STOPWORDS['en'])} AS n_stopwords,
       length(text) / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         AS avg_word_len,
       ({_hits_sql('lower(text)', STOPWORDS['en'])}
          / greatest(len(regexp_extract_all(lower(text), '{TOKEN_RE}')), 1)) * 0.4
       + (len(regexp_extract_all(lower(text), '[a-z]'))
          / greatest(length(text), 1)) * 0.3
       + (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.0 END) * 0.3
         AS quality_score
FROM documents
"""


def char_ngram_profile(
    docs: DataFrame, n: int = 3, top_k: int = 5, cache_key: str | None = None
) -> DataFrame:
    """Per-language character n-gram profile: the statistical signature
    real language identifiers are built from (the stopword-hit lang_id
    above is the lightweight cousin). Explode every char n-gram,
    count per (lang, gram), rank within language — the rank window has
    a deterministic (count desc, gram asc) order so top_k is stable in
    both engines. Scale shape: the explode is narrow (rows × length),
    the count shuffles on (lang, gram) — vocab-sized keys — and the
    rank window partitions by the tiny lang key."""
    from pyspark.sql import Window

    # Guard short texts: for length < n, Spark's sequence(1, 0) defaults
    # to a DESCENDING step and yields [1, 0] — two spurious partial grams
    # per short doc — while DuckDB's generate_series(1, 0) is empty. The
    # CASE makes the Spark side emit no grams for sub-n docs, matching
    # the oracle. lower(text) is projected ONCE ("lt") — inside the
    # transform lambda it would be re-lowered per gram position.
    if cache_key is not None:
        # reduce from the LM family's shared (doc_id, lang, gram, m)
        # pass — Σ_doc m is the identical occurrence count, and the
        # data-sized explode then runs once per (session, corpus, n)
        # across the whole char-gram query family
        counted = (
            char_gram_counts(docs, n, cache_key=cache_key)
            .groupBy("lang", "gram")
            .agg(F.sum("m").cast("long").alias("n"))
        )
    else:
        grams = (
            docs.selectExpr("lang", "lower(text) AS lt")
            .selectExpr(
                "lang",
                f"explode(CASE WHEN length(lt) >= {n} THEN "
                f"transform(sequence(1, length(lt) - {n - 1}),"
                f" i -> substring(lt, i, {n})) "
                f"ELSE array() END) AS gram",
            )
        )
        counted = grams.groupBy("lang", "gram").agg(
            F.count(F.lit(1)).alias("n")
        )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= top_k)
        .select("lang", "gram", "n", "rk")
    )


def char_ngram_profile_sql(n: int = 3, top_k: int = 5) -> str:
    return f"""
WITH grams AS (
  SELECT lang,
         unnest(list_transform(
           generate_series(1, greatest(length(lower(text)) - {n - 1}, 0)),
           i -> substr(lower(text), i, {n}))) AS gram
  FROM documents
),
counted AS (
  SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY lang, gram
),
ranked AS (
  SELECT lang, gram, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n DESC, gram ASC) AS rk
  FROM counted
)
SELECT lang, gram, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {top_k}
"""


def quality_score_sql() -> str:
    """The DuckDB quality-score expression (same rational blend as
    stat_cols()['quality_score']) — exposed for composed oracles."""
    return (
        f"({_hits_sql('lower(text)', STOPWORDS['en'])}"
        f"   / greatest(len(regexp_extract_all(lower(text), '{TOKEN_RE}')), 1)) * 0.4"
        f" + (len(regexp_extract_all(lower(text), '[a-z]'))"
        f"    / greatest(length(text), 1)) * 0.3"
        f" + (CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.0 END)"
        f"   * 0.3"
    )


def corpus_prep_stages_sql(min_quality: float = 0.5) -> str:
    """The scored/good/keeps CTE stage bodies of the corpus-prep oracle
    (no WITH keyword, no final select) — exposed so composed pipelines
    (plans/pipeline_ops._corpus_prep_chunked_oracle) can reuse the
    exact same stages instead of text-splitting the full query."""
    quality = quality_score_sql()
    return f"""scored AS (
  SELECT doc_id, text, lang, source,
         len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_tokens,
         {quality} AS quality_score
  FROM documents
),
good AS (SELECT * FROM scored WHERE quality_score >= {min_quality}),
keeps AS (
  SELECT MIN(doc_id) AS doc_id FROM good GROUP BY md5(lower(trim(text)))
)"""


def corpus_prep_sql(min_quality: float = 0.5) -> str:
    """Oracle for the composed corpus-prep pipeline (see
    plans/pipeline_ops.corpus_prep): quality gate -> exact-dedup keep
    -> per-(source, lang) rollup. The quality expression is the SAME
    rational blend as TEXT_STATS_SQL, so the gate decisions match the
    Spark side bit-for-bit; the rollup avoids double summation (MIN/MAX
    of quality only) so no decimal staging is needed."""
    return f"""
WITH {corpus_prep_stages_sql(min_quality)}
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(quality_score) AS min_quality,
       MAX(quality_score) AS max_quality
FROM good
WHERE doc_id IN (SELECT doc_id FROM keeps)
GROUP BY source, lang
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram (stopword-hit) language ID heuristic.

    Argmax over per-language stopword hit counts with a fixed preference
    order (en > de > es > fr) on ties — deterministic in both engines.
    """
    lower = F.lower(F.col("text"))
    hits = {lang: _hits(lower, words) for lang, words in STOPWORDS.items()}
    en, de, es, fr = hits["en"], hits["de"], hits["es"], hits["fr"]
    pred = (
        F.when((en >= de) & (en >= es) & (en >= fr), F.lit("en"))
        .when((de >= es) & (de >= fr), F.lit("de"))
        .when(es >= fr, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        en.cast("long").alias("en_hits"),
        de.cast("long").alias("de_hits"),
        es.cast("long").alias("es_hits"),
        fr.cast("long").alias("fr_hits"),
        pred.alias("pred_lang"),
    )


LANG_ID_SQL = f"""
WITH h AS (
  SELECT doc_id, lang AS declared_lang,
         {_hits_sql('lower(text)', STOPWORDS['en'])} AS en_hits,
         {_hits_sql('lower(text)', STOPWORDS['de'])} AS de_hits,
         {_hits_sql('lower(text)', STOPWORDS['es'])} AS es_hits,
         {_hits_sql('lower(text)', STOPWORDS['fr'])} AS fr_hits
  FROM documents
)
SELECT doc_id, declared_lang, en_hits, de_hits, es_hits, fr_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits
              THEN 'en'
            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM h
"""


def token_rollup(docs: DataFrame) -> DataFrame:
    """Corpus token accounting by source: whitespace words vs BPE-ish
    subword tokens (the ratio approximates tokens-per-word inflation)."""
    lower = F.lower(F.col("text"))
    n_bpe = F.size(F.regexp_extract_all(lower, F.lit(BPE_RE), F.lit(0)))
    n_words = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    return (
        docs.select("source", n_bpe.alias("n_bpe"), n_words.alias("n_words"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.sum("n_words").alias("total_words"),
            (F.sum("n_bpe") / F.sum("n_words")).alias("tokens_per_word"),
        )
    )


TOKEN_ROLLUP_SQL = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_RE}'))) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_words,
       CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_RE}'))) AS DOUBLE)
         / SUM(len(string_split_regex(trim(text), '\\s+'))) AS tokens_per_word
FROM documents
GROUP BY source
"""


FP_BASE = 257
FP_PRIME = (1 << 31) - 1  # Mersenne: acc < 2^31 keeps acc*257 + code < 2^40


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: min polynomial hash over all
    character k-grams (k=8) — a 1-permutation minhash usable as a cheap
    near-dup prefilter and as a content checksum robust to reordering.

    Polynomial (base-257 mod 2^31-1) over the char-code array instead of
    per-gram md5: ~2.6x faster (8 multiply-adds per position, no digest)
    and bit-identical to the DuckDB oracle. The modulus is applied every
    step, so the accumulator stays < 2^31 and acc*257 + code < 2^40 —
    far inside int64, no overflow even for astral-plane code points
    (Spark ANSI mode would error on a genuine overflow).
    """
    k = FINGERPRINT_K
    # Char codes come from the JVM (lower/split/ascii keep Java unicode
    # semantics identical to the oracle's path); the per-position
    # polynomial fold then runs as vectorized int64 numpy instead of
    # ~8 x len(text) interpreted lambda evaluations per document
    # (guide §4.2) — measured 2.7 s -> sub-second at sf0.1. Pure
    # integer arithmetic with the mod applied every step exactly as the
    # expression form, so the result is identical by construction.
    import numpy as np
    import pandas as pd

    def fp(batches):
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for r, cs in enumerate(pdf["cs"]):
                c = np.asarray(cs, dtype=np.int64)
                m = max(len(c) - (k - 1), 1)
                if len(c) < m + k - 1:
                    c = np.pad(c, (0, m + k - 1 - len(c)))
                acc = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    acc = (acc * FP_BASE + c[j : j + m]) % FP_PRIME
                out[r] = acc.min()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fingerprint": out,
                    "n_chars2": pdf["n_chars2"],
                }
            )

    from ..catalog import spread

    cs = spread(docs).select(
        "doc_id",
        F.expr("transform(split(lower(text), ''), c -> ascii(c))").alias("cs"),
        F.length("text").cast("long").alias("n_chars2"),
    )
    id_t = docs.schema["doc_id"].dataType.simpleString()
    return cs.mapInPandas(
        fp, f"doc_id {id_t}, fingerprint long, n_chars2 long"
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_min(list_transform(
         generate_series(1, greatest(len(cs) - {FINGERPRINT_K - 1}, 1)),
         i -> list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(0, {FINGERPRINT_K - 1}),
                    j -> CAST(coalesce(cs[i + j], 0) AS BIGINT))),
                (acc, x) -> (acc * {FP_BASE} + x) % {FP_PRIME}))) AS fingerprint,
       length(text) AS n_chars2
FROM (SELECT doc_id, text,
             list_transform(string_split(lower(text), ''), c -> ascii(c)) AS cs
      FROM documents)
"""


def top_terms_sketch(
    docs: DataFrame,
    k: int = 50,
    capacity: int = 4096,
    cache_key: str | None = None,
) -> DataFrame:
    """EXACT top-k corpus terms via Misra-Gries candidates + a verify
    pass — the scale path for the vocabulary profile
    (pipeline_ops.corpus_top_terms), same output, same oracle.

    The direct form shuffles the FULL vocabulary — every (token,
    doc_freq) group — to rank k rows. Here each partition builds a
    Misra-Gries summary (``capacity`` counters, one narrow Arrow pass)
    over its distinct (doc, token) pairs. Pigeonhole over partition
    summaries gives the classic guarantee: any token whose GLOBAL pair
    count exceeds N/capacity survives in at least one partition summary,
    so the union of summaries is a provably complete candidate set for
    the top k whenever the k-th doc-frequency > N/capacity — verified at
    runtime, failing loudly with the capacity to raise. Exact
    doc_freq/n_occurrences are then computed ONLY for candidates via a
    broadcast join: the wide shuffle carries |candidates| groups instead
    of |vocab|. Sketchy inside, exact outside — which is why the DuckDB
    value oracle still applies.
    """
    import pandas as pd

    # both the sketch pass and the exact verify pass reduce from the
    # shared per-corpus token-array frame (round 11): one tokenize job
    # instead of two
    ta = token_arrays(docs, cache_key=cache_key)
    toks_distinct = ta.select(
        "doc_id",
        F.explode(F.array_distinct(F.col("toks"))).alias("tok"),
    )

    def mg(batches):
        counters: dict[str, int] = {}
        n = 0
        evictions = 0
        for pdf in batches:
            for t in pdf["tok"]:
                n += 1
                c = counters.get(t)
                if c is not None:
                    counters[t] = c + 1
                elif len(counters) < capacity:
                    counters[t] = 1
                else:
                    evictions += 1
                    for kk in list(counters):
                        if counters[kk] == 1:
                            del counters[kk]
                        else:
                            counters[kk] -= 1
        yield pd.DataFrame(
            {
                "tok": list(counters) + [None],
                "n_pairs": [0] * len(counters) + [n],
                "n_evictions": [0] * len(counters) + [evictions],
            }
        )

    summary_rows = (
        toks_distinct.select("tok")
        .mapInPandas(mg, "tok string, n_pairs long, n_evictions long")
        .collect()
    )
    # DEDUPE across partition summaries: a token surviving in several
    # partitions appears once per summary, and duplicate candidate rows
    # would multiply the inner verify join's occurrence counts (latent
    # on any multi-partition input; surfaced by the round-10 spread()
    # parallelism fix)
    candidates = sorted(
        {r["tok"] for r in summary_rows if r["tok"] is not None}
    )
    n_total = sum(r["n_pairs"] for r in summary_rows)
    n_evictions = sum(r["n_evictions"] for r in summary_rows)
    spark = docs.sparkSession
    cand_df = spark.createDataFrame([(t,) for t in candidates], "tok string")

    toks_all = ta.select("doc_id", F.explode("toks").alias("tok"))
    exact = (
        toks_all.join(F.broadcast(cand_df), "tok")
        .groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.desc("doc_freq"), F.desc("n_occurrences"), F.asc("tok"))
        .limit(k)
    )
    # completeness guard. Two provably-complete cases: (a) no partition
    # ever evicted a counter, so the candidate set IS the vocabulary;
    # (b) a full k rows came back and the k-th doc_freq clears the MG
    # threshold N/capacity — every non-candidate token has global pair
    # count <= N/capacity (pigeonhole over partition summaries), so
    # nothing missed can outrank the k-th. Anything else is ambiguous:
    # fail loudly rather than return a silently truncated ranking.
    head = exact.take(k)
    complete = n_evictions == 0 or (
        len(head) == k and head[-1]["doc_freq"] * capacity > n_total
    )
    if not complete:
        kth = head[-1]["doc_freq"] if head else 0
        raise ValueError(
            f"top_terms_sketch: cannot certify completeness (evictions="
            f"{n_evictions}, k-th doc_freq {kth} vs N/capacity = "
            f"{n_total}/{capacity}); raise capacity"
        )
    return exact


def token_arrays(
    docs: DataFrame, cache_key: str | None = None
) -> DataFrame:
    """Shared (doc_id, lang, source, toks) token-ARRAY frame — ONE
    ``regexp_extract_all(lower(text), TOKEN_RE)`` tokenization pass per
    corpus for the word-token family (top-terms/zipf/tf-idf/diversity/
    oov/span/shingle consumers), the round-11 extension of the
    char-gram-pass pattern (VERDICT r10 #5). Ordered arrays preserve
    everything any consumer derives: explode(toks) is the token
    stream, array_distinct the per-doc set, size(toks) the count, and
    windowed transforms the n-gram shingles. ``cache_key`` memoizes
    the eager checkpoint under the family's shared "tok_arrays" key;
    without it the frame is just the factored expression."""
    from ..catalog import spread

    # carry whatever metadata columns the input has (subset frames may
    # lack lang/source); the column tuple joins the cache key so a
    # narrower build never serves a consumer that needs more
    meta = [c for c in ("doc_id", "lang", "source") if c in docs.columns]

    def _build() -> DataFrame:
        return spread(docs).selectExpr(
            *meta,
            f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0) AS toks",
        )

    if cache_key is None:
        return _build()
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, tuple(meta), "tok_arrays"),
        _build,
    )


def char_gram_counts(
    docs: DataFrame, n: int = 3, cache_key: str | None = None
) -> DataFrame:
    """Shared (doc_id, lang, gram, m) char-n-gram multiplicity frame —
    THE data-sized pass of the char-LM family (lm_score,
    lang_mismatch, ccnet buckets, curation sampling, and corpus_stats'
    trigram entropy all reduce from it). ``cache_key`` memoizes the
    eager checkpoint under the family's shared "lm_gcnt" key."""
    from ..catalog import spread

    grams = (
        spread(docs).selectExpr("doc_id", "lang", "lower(text) AS lt")
        .selectExpr(
            "doc_id",
            "lang",
            f"explode(CASE WHEN length(lt) >= {n} THEN "
            f"transform(sequence(1, length(lt) - {n - 1}),"
            f" i -> substring(lt, i, {n})) "
            f"ELSE array() END) AS gram",
        )
    )

    def _build_gcnt():
        return grams.groupBy("doc_id", "lang", "gram").agg(
            F.count(F.lit(1)).cast("long").alias("m")
        )

    if cache_key is None:
        return _build_gcnt().localCheckpoint(eager=True)
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, n, "lm_gcnt"),
        _build_gcnt,
    )


def lm_score(docs: DataFrame, n: int = 3, cache_key: str | None = None) -> DataFrame:
    """Character-n-gram language-model scoring — the LM-based quality
    signal real corpus filters use (CCNet-style: score each document's
    perplexity under a model of its own language; outliers are boiler-
    plate, gibberish, or mislabeled-language docs).

    Model: add-one-smoothed n-gram frequencies per language, trained on
    the corpus itself in one vocab-keyed aggregation. Scoring joins the
    gram stream back against the BROADCAST model (vocab-sized) and the
    per-language totals (|langs| rows), then reduces per document.

    Exactness design: the per-document sum of -ln P(gram) values is
    float and would be partition-order-dependent under a plain SUM, so
    each gram's nll is fixed-point quantized by 2^30 and summed as
    int64 (associative-commutative ⇒ partitioning-independent, same
    pattern as simsearch.label_centroids); avg_nll is one correctly-
    rounded division from exact integers. Quantization error ≤ 2^-31
    per gram — far inside the 1e-9 oracle tolerance, and deterministic.

    Output: (doc_id, lang, n_grams, avg_nll, perplexity); documents
    shorter than n characters have no grams and are excluded.
    """
    scale = 1 << 30
    # compact positions to (doc, gram, multiplicity) once (round 5),
    # shared across the whole char-LM family via char_gram_counts.
    # sum(m*q) == per-occurrence sum(q) exactly (integers).
    gcnt = char_gram_counts(docs, n, cache_key=cache_key)
    model = gcnt.groupBy("lang", "gram").agg(F.sum("m").alias("cnt"))
    lang_stats = model.groupBy("lang").agg(
        F.sum("cnt").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    # per-gram quantized nll computed ONCE on the vocab-sized model
    # frame (not inside the data-sized scoring join) with the libm ln
    # twin — bit-matching DuckDB's ln removes the quantization-boundary
    # risk class entirely (functions/libm.py; VERDICT r6 #5)
    from ..functions.libm import libm_exp, libm_log

    nll = -libm_log(
        (F.col("cnt").cast("double") + F.lit(1.0))
        / (F.col("total") + F.col("vocab"))
    )
    modelq = (
        model.join(F.broadcast(lang_stats), "lang")
        .select(
            "lang",
            "gram",
            on_grid(nll, scale).alias("q"),
        )
    )
    avg_nll = (
        F.col("s").cast("double") / F.col("n_grams").cast("double")
    ) / F.lit(float(scale))
    return (
        gcnt.join(F.broadcast(modelq), ["lang", "gram"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("m").cast("long").alias("n_grams"),
            F.sum(F.col("m") * F.col("q")).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            "n_grams",
            avg_nll.alias("avg_nll"),
            libm_exp(avg_nll).alias("perplexity"),
        )
    )


def lm_score_sql(n: int = 3) -> str:
    scale = 1 << 30
    return f"""
WITH grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           generate_series(1, greatest(length(lower(text)) - {n - 1}, 0)),
           i -> substr(lower(text), i, {n}))) AS gram
  FROM documents
),
model AS (
  SELECT lang, gram, COUNT(*) AS cnt FROM grams GROUP BY lang, gram
),
lang_stats AS (
  SELECT lang, CAST(SUM(cnt) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS vocab
  FROM model GROUP BY lang
),
scored AS (
  SELECT g.doc_id, g.lang,
         CAST(FLOOR(-ln((CAST(m.cnt AS DOUBLE) + 1.0) / (s.total + s.vocab))
                    * {scale} + 0.5) AS BIGINT) AS q
  FROM grams g
  JOIN model m ON m.lang = g.lang AND m.gram = g.gram
  JOIN lang_stats s ON s.lang = g.lang
),
per_doc AS (
  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_grams,
         (CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
           / {float(scale)!r} AS avg_nll
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_grams, avg_nll, exp(avg_nll) AS perplexity
FROM per_doc
"""


def lang_mismatch(
    docs: DataFrame, n: int = 3, cache_key: str | None = None
) -> DataFrame:
    """Cross-likelihood language verification: score every document
    under EVERY language's n-gram model; a document whose best-scoring
    model is not its labeled language is a mislabel candidate — the
    verification pass behind lang-ID cleanup in corpus curation.

    Unlike :func:`lm_score` (own-model only, inner join suffices), a
    foreign model must charge unseen grams the add-one floor
    1/(total+vocab): the gram stream cross-joins the tiny language
    list and LEFT-joins the model, null count -> 0. The per-(doc,
    model) nll sums are fixed-point int64, and every model scores the
    SAME gram multiset per doc, so the best-model argmin reduces to an
    exact integer comparison (ties -> lexicographically smaller
    language) — bit-deterministic across engines and partitionings.

    Output: (doc_id, lang, own_nll, best_lang, best_nll, is_mismatch).
    """
    from pyspark.sql import Window

    scale = 1 << 30
    # one shared (doc, gram, m) pass for the whole char-LM family —
    # identical build (and cache key) to lm_score's frame, so the
    # cross-likelihood verifier never re-explodes the corpus.
    gcnt = char_gram_counts(docs, n, cache_key=cache_key)
    model = gcnt.groupBy(
        F.col("lang").alias("mlang"), "gram"
    ).agg(F.sum("m").alias("cnt"))
    lang_stats = model.groupBy("mlang").agg(
        F.sum("cnt").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    langs = lang_stats.select("mlang", "total", "vocab")
    nll = -F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("total") + F.col("vocab"))
    )
    q = on_grid(nll, scale)
    scored = (
        gcnt.crossJoin(F.broadcast(langs))
        .join(F.broadcast(model), ["mlang", "gram"], "left")
        .groupBy("doc_id", "lang", "mlang")
        .agg(
            F.sum(F.col("m") * q).alias("s"),
            F.sum("m").cast("long").alias("ng"),
        )
    )
    # best-model pick and own-model score in ONE aggregation (round 11):
    # the row_number window ordered by (s asc, mlang asc) is exactly
    # min(struct(s, mlang)) — struct ordering is field-by-field — and
    # ng (the doc's gram mass) is model-invariant, so the former
    # two-window + self-join shape (a doc-keyed SortMergeJoin of two
    # window outputs) collapses to a (doc, lang) groupBy. Every model
    # scores the same corpus its models were built from, so the
    # own-model row always exists. avg_nll runs the identical double
    # sequence on the aggregated integers.
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.min(F.struct(F.col("s"), F.col("mlang"))).alias("b"),
        F.max(
            F.when(F.col("mlang") == F.col("lang"), F.col("s"))
        ).alias("own_s"),
        F.max("ng").alias("ng"),
    )

    def _avg(s_col):
        return (
            s_col.cast("double") / F.col("ng").cast("double")
        ) / F.lit(float(scale))

    return per_doc.select(
        "doc_id",
        "lang",
        _avg(F.col("own_s")).alias("own_nll"),
        F.col("b.mlang").alias("best_lang"),
        _avg(F.col("b.s")).alias("best_nll"),
        (F.col("b.mlang") != F.col("lang")).alias("is_mismatch"),
    )


def lang_mismatch_sql(n: int = 3) -> str:
    scale = 1 << 30
    return f"""
WITH grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(
           generate_series(1, greatest(length(lower(text)) - {n - 1}, 0)),
           i -> substr(lower(text), i, {n}))) AS gram
  FROM documents
),
model AS (
  SELECT lang AS mlang, gram, COUNT(*) AS cnt FROM grams GROUP BY lang, gram
),
lang_stats AS (
  SELECT mlang, CAST(SUM(cnt) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS vocab
  FROM model GROUP BY mlang
),
scored AS (
  SELECT g.doc_id, g.lang, s.mlang,
         SUM(CAST(FLOOR(
           -ln((CAST(COALESCE(m.cnt, 0) AS DOUBLE) + 1.0)
               / (s.total + s.vocab)) * {scale} + 0.5) AS BIGINT)) AS s,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM grams g
  CROSS JOIN lang_stats s
  LEFT JOIN model m ON m.mlang = s.mlang AND m.gram = g.gram
  GROUP BY g.doc_id, g.lang, s.mlang
),
ranked AS (
  SELECT *,
         (CAST(s AS DOUBLE) / CAST(ng AS DOUBLE)) / {float(scale)!r}
           AS avg_nll,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY s ASC, mlang ASC) AS rk
  FROM scored
)
SELECT o.doc_id, o.lang, o.avg_nll AS own_nll,
       b.mlang AS best_lang, b.avg_nll AS best_nll,
       b.mlang <> o.lang AS is_mismatch
FROM ranked o
JOIN ranked b ON b.doc_id = o.doc_id AND b.rk = 1
WHERE o.mlang = o.lang
"""


def keyword_topk(
    docs: DataFrame, k: int = 5, cache_key: str | None = None
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the tagging/routing
    primitive. tf = in-doc token count, idf = ln(N/df); ranking
    compares the QUANTIZED score floor(tf·ln(N/df)·2^20 + 0.5) as an
    int64 with ties to the lexicographically smaller token, so the cut
    is deterministic across engines up to the usual ln ulp-at-boundary
    caveat (the measured-margin class; ln differs ≤1 ulp and a flip
    needs the product within ulps of a half-integer). Plan: token agg
    per (doc, tok), vocab-keyed df agg broadcast back, per-doc rank
    window."""
    from pyspark.sql import Window

    toks = token_arrays(docs, cache_key=cache_key).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n"))
    score_q = on_grid(
        F.col("tf").cast("double")
        * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
        Q20,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_q"), F.asc("tok")
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "tok", "tf", "df", score_q.alias("score_q"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("tok").alias("keyword"),
            "tf",
            "df",
            (F.col("score_q").cast("double") / F.lit(float(Q20))).alias(
                "tfidf"
            ),
            "rank",
        )
    )


def keyword_topk_sql(k: int = 5) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         CAST(FLOOR(CAST(t.tf AS DOUBLE)
              * ln(CAST(nd.n AS DOUBLE) / CAST(d.df AS DOUBLE))
              * {Q20} + 0.5) AS BIGINT) AS score_q
  FROM tf t JOIN df d ON d.tok = t.tok CROSS JOIN nd
)
SELECT doc_id, tok AS keyword, tf, df,
       CAST(score_q AS DOUBLE) / {float(Q20)!r} AS tfidf, rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score_q DESC, tok ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def cms_error_profile(
    docs: DataFrame,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
    cache_key: str | None = None,
) -> DataFrame:
    """COUNT-MIN SKETCH term counts — with an EXACT oracle.

    Unlike HLL/KLL (engine-internal randomized state, rows-only by
    design), a Count-Min sketch with FIXED hash rows is a pure integer
    program: bucket ``h_i(tok) = md5(i ':' tok)[0:8] mod w``, table
    cell = int64 sum of colliding counts, estimate = min over the
    ``d`` rows. Both engines fold the identical structure, so the
    sketch itself — not just its inputs — is value-checkable, and the
    registered profile measures what a production CMS actually
    guarantees: ``estimate >= truth`` always (min of sums that each
    include the term), overestimate = collision mass, here reported
    for the exact top-``k`` terms.

    Scale shape: the corpus collapses to the (tok, n) vocab frame
    once; the table build is vocab x d rows into d*w cells (map-side
    combinable, CONSTANT output size — the whole point of a sketch);
    probes are k*d lookups against the broadcast table. At 100 TB the
    d*w table is the only thing that leaves the executors.
    """
    toks = token_arrays(docs, cache_key=cache_key).select(
        F.explode("toks").alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    spark = docs.sparkSession
    rows = spark.range(d).select(F.col("id").cast("long").alias("ri"))

    def bucket(tok_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("ri").cast("string"), F.lit(":"), tok_col)),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % w
        )

    hashed = counts.crossJoin(F.broadcast(rows)).select(
        "tok", "n", "ri", bucket(F.col("tok")).alias("bucket")
    )
    table = hashed.groupBy("ri", "bucket").agg(
        F.sum("n").cast("long").alias("bucket_n")
    )
    topk = counts.orderBy(F.col("n").desc(), F.col("tok")).limit(k)
    probe = topk.crossJoin(F.broadcast(rows)).select(
        "tok", "n", "ri", bucket(F.col("tok")).alias("bucket")
    )
    est = (
        probe.join(F.broadcast(table), ["ri", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("bucket_n").cast("long").alias("cms_n"))
    )
    return est.select(
        F.col("tok").alias("term"),
        F.col("n").alias("true_n"),
        "cms_n",
        (F.col("cms_n") - F.col("n")).cast("long").alias("overestimate"),
    )


def cms_error_profile_sql(d: int = 4, w: int = 1024, k: int = 20) -> str:
    rows = ", ".join(str(i) for i in range(d))
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
),
hash_rows AS (SELECT UNNEST([{rows}]) AS ri),
hashed AS MATERIALIZED (
  SELECT c.tok, c.n, r.ri,
         ('0x' || substr(md5(CAST(r.ri AS VARCHAR) || ':' || c.tok), 1, 8))
           ::BIGINT % {w} AS bucket
  FROM counts c CROSS JOIN hash_rows r
),
cms_table AS MATERIALIZED (
  SELECT ri, bucket, CAST(SUM(n) AS BIGINT) AS bucket_n
  FROM hashed GROUP BY ri, bucket
),
topk AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {k}),
probe AS (
  SELECT t.tok, t.n, h.ri, h.bucket
  FROM topk t JOIN hashed h ON h.tok = t.tok
),
est AS (
  SELECT p.tok, p.n, CAST(MIN(tb.bucket_n) AS BIGINT) AS cms_n
  FROM probe p
  JOIN cms_table tb ON tb.ri = p.ri AND tb.bucket = p.bucket
  GROUP BY p.tok, p.n
)
SELECT tok AS term, n AS true_n, cms_n,
       CAST(cms_n - n AS BIGINT) AS overestimate
FROM est
"""


def bigram_lm_by_source(docs: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Jelinek-Mercer interpolated WORD-bigram language model, scored
    per source: p(w|v) = 0.75·c(v,w)/c(v) + 0.25·(c(w)+1)/(N+V). The
    word-level complement of the char-trigram lm_score (CCNet trains
    word-level KenLM; interpolation is the classical smoothing that
    add-one alone gets wrong for frequent prefixes).

    Exactness: both mixture terms are divisions of exact int64 counts
    (identical doubles in either engine), λ = 0.75/0.25 are exact
    binary fractions, ln runs through platform libm on the
    BIGRAM-VOCAB-bounded model frame and is quantized to the 2^-20
    grid, so per-source nll sums are exact int64 and the mean is one
    shared-expression division chain.

    Scale: the data-sized stages are the bigram explode and one
    (source, v, w) agg; the model (distinct corpus bigrams) is
    vocab-bounded, joins back by bigram key (broadcast while it fits),
    and the output is |sources| rows.

    Output: (source, n_bigrams, mean_nll).

    ``cache_key`` memoizes the two data-sized passes (the (source, v,
    w) bigram counts and the unigram counts) in the shared checkpoint
    cache, so repeat scoring of the same corpus (bench pass 2, sibling
    LM queries) skips both explodes.
    """
    from ..functions.libm import libm_log

    # tokenize ONCE into a projected column ("toks") — inlining the
    # regexp_extract_all inside the transform lambda re-runs the full
    # regex per element_at, i.e. O(tokens^2) per doc (the round-9 sf10
    # spot-run caught one straggler partition spending 25 min in
    # interpreted RegExpExtractAll; with the projection the same
    # partition is seconds). Same rule as the char-gram pass above.
    ta = token_arrays(docs, cache_key=cache_key)
    bg = ta.selectExpr(
        "source",
        "explode(CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1))) "
        "ELSE array() END) AS bg",
    ).select(
        "source",
        F.substring_index("bg", " ", 1).alias("v"),
        F.substring_index("bg", " ", -1).alias("w"),
    )
    def build_src_counts() -> DataFrame:
        return bg.groupBy("source", "v", "w").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )

    def build_cw() -> DataFrame:
        toks = ta.selectExpr("explode(toks) AS w")
        return toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))

    if cache_key is None:
        src_counts = build_src_counts().localCheckpoint(eager=True)
        cw = build_cw()
    else:
        sess = docs.sparkSession
        src_counts = memo.checkpoint(
            sess, (cache_key, "bigram_lm_src_counts"), build_src_counts
        )
        cw = memo.checkpoint(sess, (cache_key, "bigram_lm_cw"), build_cw)
    cvw = src_counts.groupBy("v", "w").agg(F.sum("tf").cast("long").alias("cvw"))
    cv = cvw.groupBy("v").agg(F.sum("cvw").cast("long").alias("cv"))
    tot = cw.agg(
        F.sum("cw").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("vv"),
    )
    p = (
        F.lit(0.75) * (F.col("cvw").cast("double") / F.col("cv").cast("double"))
        + F.lit(0.25)
        * (
            (F.col("cw") + 1).cast("double")
            / (F.col("nn") + F.col("vv")).cast("double")
        )
    )
    model = (
        cvw.join(cv, "v")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "q",
            on_grid(libm_log(p), float(Q20)),
        )
        .select("v", "w", "q")
    )
    scored = src_counts.join(model, ["v", "w"]).groupBy("source").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.sum(-F.col("tf") * F.col("q")).cast("long").alias("nll_int"),
    )
    return scored.select(
        "source",
        "n_bigrams",
        (
            (F.col("nll_int").cast("double") / F.col("n_bigrams").cast("double"))
            / F.lit(float(Q20))
        ).alias("mean_nll"),
    )


BIGRAM_LM_SQL = f"""
WITH bg AS MATERIALIZED (
  SELECT source,
         list_extract(ts, i) AS v, list_extract(ts, i + 1) AS w
  FROM (SELECT source,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents),
       UNNEST(generate_series(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 2
),
src_counts AS MATERIALIZED (
  SELECT source, v, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bg GROUP BY source, v, w
),
cvw AS MATERIALIZED (
  SELECT v, w, CAST(SUM(tf) AS BIGINT) AS cvw FROM src_counts GROUP BY v, w
),
cv AS MATERIALIZED (
  SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv FROM cvw GROUP BY v
),
cw AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS w
        FROM documents) GROUP BY w
),
tot AS MATERIALIZED (
  SELECT CAST(SUM(cw) AS BIGINT) AS nn, CAST(COUNT(*) AS BIGINT) AS vv FROM cw
),
model AS MATERIALIZED (
  SELECT cvw.v, cvw.w,
         CAST(FLOOR(ln(0.75 * (CAST(cvw AS DOUBLE) / CAST(cv AS DOUBLE))
                       + 0.25 * (CAST(cw + 1 AS DOUBLE)
                                 / CAST(nn + vv AS DOUBLE)))
                    * 1048576.0 + 0.5) AS BIGINT) AS q
  FROM cvw JOIN cv USING (v) JOIN cw ON cw.w = cvw.w, tot
),
scored AS (
  SELECT source,
         CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         CAST(SUM(-tf * q) AS BIGINT) AS nll_int
  FROM src_counts JOIN model USING (v, w)
  GROUP BY source
)
SELECT source, n_bigrams,
       (CAST(nll_int AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) / 1048576.0
         AS mean_nll
FROM scored
"""

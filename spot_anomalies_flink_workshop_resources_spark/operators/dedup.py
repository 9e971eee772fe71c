"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Training-data-pipeline surface: exact dedup (hash groups), n-gram/token
Jaccard near-dup (inverted-index self-join), MinHash+LSH (shingle →
minhash signature → banded buckets → candidate join → verify), SimHash
(bitwise majority fingerprint), and embedding-cosine near-dup (blocked
pairwise).

Scale notes (100 TB design):
- The inverted-index join shuffles on token; ultra-common tokens create
  skew — production config would frequency-prune tokens with document
  frequency above a cap before the join (see ``df_cap`` parameter) and
  let AQE skew-split the rest.
- MinHash bands bound candidate generation to documents sharing a band
  bucket — the classic sub-quadratic path; the verify join only touches
  candidate pairs.
- SimHash is a narrow per-document transform plus one (doc,bit) shuffle;
  at extreme scale the bit explode (×32) trades shuffle volume for
  staying fully in JVM built-ins (the pandas-UDF alternative halves
  shuffle bytes but leaves codegen).
- Everything is md5-based so the DuckDB oracle reproduces results
  bit-for-bit (Spark's murmur3 ``hash()`` has no DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import memo
from .text import TOKEN_RE

NUM_HASHES = 16
BAND_SIZE = 2  # 8 bands x 2 rows: P(candidate) = 1-(1-j^2)^8 ≈ 0.90 at j=0.5

# universal-hash family for the minhash signature: one md5 per shingle,
# then sig_i = (A[i]*h + B[i]) mod P per seed — 16x fewer md5 calls than
# seeded-md5, pure int64 arithmetic (A < 2^30, h < 2^32 keeps A*h < 2^62,
# inside int64 for Spark's ANSI overflow check), identical in DuckDB.
MINHASH_P = (1 << 61) - 1
_UH_RNG = __import__("random").Random(0xC0FFEE)
MINHASH_A = [(_UH_RNG.getrandbits(29) * 2 + 1) for _ in range(NUM_HASHES)]
MINHASH_B = [_UH_RNG.getrandbits(30) for _ in range(NUM_HASHES)]


def _hex32(col):
    """First 32 bits of md5 as bigint — identical in Spark and DuckDB."""
    return F.expr(
        f"CAST(conv(substr(md5({col}), 1, 8), 16, 10) AS BIGINT)"
    )


def _tokens(
    docs: DataFrame, distinct: bool = True, cache_key: str | None = None
) -> DataFrame:
    # one shared tokenization pass per corpus (round 11, VERDICT r10
    # #5): the ordered token-array frame is the factored
    # regexp_extract_all — identical expression, explode unchanged
    from .text import token_arrays

    toks = F.col("toks")
    if distinct:
        toks = F.array_distinct(toks)
    return token_arrays(docs, cache_key=cache_key).select(
        "doc_id", F.explode(toks).alias("tok")
    )


def _shingles(docs: DataFrame, n: int, cache_key: str | None = None) -> DataFrame:
    """Distinct word n-gram shingles per document (n=1 → token set).

    n≥2 shingling is what keeps the inverted-index join sub-quadratic on
    small-vocabulary corpora: unigram posting lists grow with corpus
    size, n-gram posting lists stay short. try_element_at returns null
    past the end (ANSI-safe), and concat_ws drops nulls — matching
    DuckDB's out-of-range list index semantics. Tokenization reduces
    from the shared per-corpus token-array pass (round 11).
    """
    from .text import token_arrays

    if n == 1:
        return _tokens(docs, cache_key=cache_key)
    parts = ", ".join(f"try_element_at(ts, i + {j})" for j in range(n))
    return token_arrays(docs, cache_key=cache_key).selectExpr(
        "doc_id", "toks AS ts"
    ).selectExpr(
        "doc_id",
        f"explode(array_distinct(transform("
        f"sequence(1, greatest(size(ts) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', {parts})))) AS tok",
    )


def _shingles_sql(n: int) -> str:
    """DuckDB CTE body producing (doc_id, tok) shingle rows."""
    if n == 1:
        return (
            f"SELECT doc_id, unnest(list_distinct("
            f"regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS tok FROM documents"
        )
    parts = ", ".join(f"ts[i + {j}]" for j in range(n))
    return f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ts) - {n - 1}, 1)),
           i -> concat_ws(' ', {parts})))) AS tok
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents)"""


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash of normalized text.

    Returns one row per distinct content: the representative (min doc_id)
    and the duplicate count. A pipeline keeps ``keep_id`` rows.
    """
    h = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        docs.select(h.alias("content_hash"), F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(lower(trim(text))) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_dups
FROM documents
GROUP BY md5(lower(trim(text)))
"""


def line_block_dedup(
    docs: DataFrame, block_tokens: int = 12, cache_key: str | None = None
) -> DataFrame:
    """Paragraph-level EXACT dedup (Gopher / MassiveText "repetition
    removal" granularity): duplicate text is usually a boilerplate
    paragraph repeated across pages, not a whole duplicated document —
    doc-level dedup misses it entirely. The corpus here has no newline
    structure, so the paragraph stand-in is the deterministic 12-token
    line block (same computation, fixed boundaries).

    Plan: token array -> per-doc fixed blocks (one narrow posexplode;
    trailing partial block kept) -> first occurrence per block text =
    row_number over (doc_id, blk_idx) within the block partition ->
    per-source rollup of block/dup counts, duplicated chars, dup rate.

    At 100 TB: the only wide stage is the hash exchange on block text
    (then row_number within each tiny block group — partition size =
    block multiplicity); the rollup is a map-side-combined agg over
    |sources| keys. No all-pairs anything; skew bounded because a
    block repeated k times costs k rows in one group.

    Output: (source, n_blocks, n_dups, dup_chars, dup_rate).
    """
    bt = block_tokens
    # the token arrays reduce from the shared per-corpus tokenize pass
    # (operators/text.token_arrays) — identical factored expression
    from .text import token_arrays

    base = (
        token_arrays(docs, cache_key)
        .select("doc_id", "source", F.col("toks").alias("ts"))
        .where(F.size("ts") >= 1)
    )
    n_blocks = F.expr(f"(size(ts) + {bt - 1}) div {bt}")
    blocks = base.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_blocks - 1).cast("int")),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("ts"), i * bt + 1, bt)
                ),
            )
        ).alias("blk_idx", "blk"),
    )
    w = Window.partitionBy("blk").orderBy("doc_id", "blk_idx")
    marked = blocks.withColumn("rn", F.row_number().over(w))
    dup = F.when(F.col("rn") > 1, F.lit(1)).otherwise(F.lit(0))
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(dup).cast("long").alias("n_dups"),
        F.sum(dup * F.length("blk")).cast("long").alias("dup_chars"),
    )
    return agg.select(
        "source",
        "n_blocks",
        "n_dups",
        "dup_chars",
        (F.col("n_dups").cast("double") / F.col("n_blocks").cast("double")).alias(
            "dup_rate"
        ),
    )


def line_block_dedup_sql(block_tokens: int = 12) -> str:
    """DuckDB oracle twin of :func:`line_block_dedup` — dup_rate is one
    exact-integer double division, bit-identical across engines."""
    bt = block_tokens
    return f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
  FROM documents
),
blocks AS (
  SELECT doc_id, source, i AS blk_idx,
         array_to_string(list_slice(ts, i*{bt}+1, (i+1)*{bt}), ' ') AS blk
  FROM toks, UNNEST(generate_series(0, (len(ts) + {bt - 1}) // {bt} - 1)) AS t(i)
  WHERE len(ts) >= 1
),
marked AS (
  SELECT source, blk,
         row_number() OVER (PARTITION BY blk ORDER BY doc_id, blk_idx) AS rn
  FROM blocks
)
SELECT source,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(SUM(CASE WHEN rn > 1 THEN length(blk) ELSE 0 END) AS BIGINT)
         AS dup_chars,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM marked
GROUP BY source
"""


# Shared shingle index (round 7 — the gram-pass fusion pattern,
# plans/curation._gram_pass): most registered dedup queries re-derive
# the SAME (doc_id, shingle) checkpoint over the same corpus; callers
# that know their corpus identity pass ``cache_key`` (the sf_dir) and
# the explode+md5 pass runs once per (session, corpus, n) through the
# session memo store (memo.checkpoint).


def shingle_frame(
    docs: DataFrame, n: int, cache_key: str | None = None
) -> DataFrame:
    if cache_key is None:
        return _shingles(docs, n).localCheckpoint(eager=True)
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, n, "shingles"),
        lambda: _shingles(docs, n, cache_key=cache_key),
    )


def minhash_wide_frame(
    docs: DataFrame,
    num_hashes: int,
    shingle_n: int,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-doc minhash signature frame (doc_id, sig0..sigN) — the
    second shared pass of the LSH family: all signature positions as
    min-aggregates of ONE groupBy over the md5-hashed shingle index (no
    seed explode — 16x less shuffle volume than the seeded layout).
    Memoized per (session, corpus, params) like the shingle index."""
    def build() -> DataFrame:
        toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
        hashed = toks.withColumn("h", _hex32("tok"))
        sig_aggs = [
            F.min(
                F.expr(f"({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}")
            ).alias(f"sig{i}")
            for i in range(num_hashes)
        ]
        return hashed.groupBy("doc_id").agg(*sig_aggs)

    if cache_key is None:
        return build()
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, num_hashes, shingle_n, "wide"),
        build,
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: int | None = None,
    shingle_n: int = 3,
    log_skew: bool = False,
    cache_key: str | None = None,
) -> DataFrame:
    """N-gram-shingle Jaccard near-duplicate pairs via inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|); emitted for pairs ≥
    threshold. ``df_cap`` drops shingles with document frequency
    above the cap before the join — the skew/scale control: ONE
    ultra-common shingle of df d contributes d² candidate pairs, so an
    uncapped hot token is quadratic at corpus scale. A cap above the
    corpus max-df is a no-op (exact result); the flagship harness call
    uses 64 vs measured max df 7 (sf0.01) / 25 (sf0.1), so its oracle
    stays hash-exact with the guard armed. ``log_skew`` emits the
    posting-list profile (max/p99 df, shingles dropped) — one extra
    vocab-sized aggregation job.
    """
    # The (doc_id, shingle) index feeds counts + BOTH sides of the
    # self-join (and the df prune when capped): materialize it once so
    # the regexp/transform/explode shingling pass runs once, not 3-4×
    # (measured 2.2× end-to-end at sf0.1) — same index-reuse pattern as
    # minhash_lsh_pairs.
    toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
    if df_cap is not None:
        # CAPPED path (round 11): per-shingle sorted doc ARRAYS — the
        # supplier-overlap/containment pattern. One groupBy(tok) builds
        # each posting list (collect_set IS the distinct + grouping in
        # one exchange), the cap is a size() filter instead of a
        # freq-join, pair enumeration is an array-bounded double
        # Generate (never a data-sized self-join build), and per-doc
        # counts reduce from the exploded capped arrays — the identical
        # capped (doc, tok) multiset, so counts and pair counts match
        # the join form row for row. Arrays are bounded by the cap, so
        # the shape is safe at any corpus scale.
        per_tok = toks.groupBy("tok").agg(
            F.expr("sort_array(collect_set(doc_id))").alias("ds")
        ).localCheckpoint(eager=True)
        if log_skew:
            import logging

            s = per_tok.agg(
                F.max(F.size("ds")).alias("max_df"),
                F.expr(
                    "CAST(percentile(size(ds), 0.99) AS DOUBLE)"
                ).alias("p99_df"),
                F.sum(
                    F.when(F.size("ds") > df_cap, 1).otherwise(0)
                ).alias("n_dropped"),
                F.count(F.lit(1)).alias("n_shingles"),
            ).collect()[0]
            logging.getLogger(__name__).info(
                "jaccard_pairs posting lists: max_df=%s p99_df=%s "
                "dropped=%s/%s at df_cap=%s",
                s["max_df"], s["p99_df"], s["n_dropped"], s["n_shingles"], df_cap,
            )
        capped = per_tok.where(F.size("ds") <= df_cap)
        counts = (
            capped.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        common = (
            capped.select("ds", F.posexplode("ds").alias("i", "da"))
            .select(
                "da",
                F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("db"),
            )
            .groupBy(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a = toks.alias("a")
        b = toks.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_sql(
    threshold: float = 0.5, shingle_n: int = 3, df_cap: int | None = None
) -> str:
    """Oracle twin of :func:`jaccard_pairs`. ``df_cap`` must mirror the
    Spark call: when the cap is armed, hot shingles (document frequency
    > cap) are pruned BEFORE counts and the intersection join on both
    sides, so oracle equality holds even on corpora where the cap
    actually fires (ADVICE r2: an uncapped oracle silently diverges the
    moment a shingle's df crosses the cap)."""
    capped = (
        f""",
capped AS (
  SELECT t.doc_id, t.tok FROM toks t
  JOIN (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= {df_cap}) f
    ON t.tok = f.tok
)"""
        if df_cap is not None
        else ""
    )
    src = "capped" if df_cap is not None else "toks"
    return f"""
WITH toks AS ({_shingles_sql(shingle_n)}
){capped},
counts AS (SELECT doc_id, COUNT(*) AS n FROM {src} GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
  FROM {src} a JOIN {src} b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= {threshold}
"""


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate detection.

    shingle (tokens) → ``num_hashes`` minhash signature (seeded md5) →
    bands of ``band_size`` rows hashed to buckets → candidate pairs share
    a bucket → verified with TRUE token-set Jaccard ≥ threshold.

    Sub-quadratic: only bucket-colliding pairs reach the verify join.
    The shingle index is materialized ONCE (``localCheckpoint``) and
    reused by the signature build, the per-doc counts, and both sides of
    the verify join — otherwise Catalyst re-derives the shingling
    subplan four times. At 100 TB swap the in-memory checkpoint for
    ``persist(StorageLevel.DISK_ONLY)`` or a written-out index table.
    """
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
    wide = minhash_wide_frame(
        docs, num_hashes, shingle_n, cache_key=cache_key
    )
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
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    common = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b")) & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_sql(
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
) -> str:
    n_bands = num_hashes // band_size
    sig_exprs = ", ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(sig{b * band_size + r} AS VARCHAR)"
                for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH toks AS ({_shingles_sql(shingle_n)}
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
sigs AS (
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
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b AND ta.tok = tb.tok
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= {threshold}
"""


def simhash(
    docs: DataFrame, bits: int = 32, cache_key: str | None = None
) -> DataFrame:
    """Per-document SimHash fingerprint (token multiplicity weighted).

    For each bit b: sum ±1 over token hashes' bit b; fingerprint bit is 1
    iff the sum is positive. Near-dups then differ in few bits (hamming).
    """
    toks = _tokens(docs, distinct=False, cache_key=cache_key).withColumn(
        "h", _hex32("tok")
    )
    contrib = (
        toks.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))))
        .select(
            "doc_id",
            "b",
            F.expr("CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END").alias("contrib"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    return contrib.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END")
        ).alias("simhash")
    )


def simhash_packed(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Bit-packed Arrow twin of :func:`simhash` — identical output, no
    (doc, bit) explode.

    The JVM variant pays a ×``bits`` row explode through the shuffle to
    stay in built-in expressions; this one computes each document's
    fingerprint in a single NumPy pass inside ``mapInPandas``
    (tokenize → md5 → unpack hash bits into a ±1 matrix → column sum →
    pack), so shuffle volume drops from N·bits rows to zero (the op is
    fully narrow). Same tokenizer regex and the same first-32-md5-bits
    hash, so it hash-matches the SAME DuckDB oracle as ``simhash``.
    Choose per workload: JVM explode when Python workers are the scarce
    resource, packed when shuffle is (SCALE.md trade).
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    token_re = re.compile(TOKEN_RE)

    def pack(batches):
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = token_re.findall(str(text).lower())
                hs = np.array(
                    [
                        int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                        for t in toks
                    ],
                    dtype=np.int64,
                )
                if len(hs):
                    # (n_tokens, bits) of ±1, column-summed then packed
                    bit_mat = ((hs[:, None] >> np.arange(bits)) & 1) * 2 - 1
                    s = bit_mat.sum(axis=0)
                    fp = int(((s > 0).astype(np.int64) << np.arange(bits)).sum())
                else:
                    fp = 0
                ids.append(doc_id)
                hashes.append(fp)
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    return docs.select("doc_id", "text").mapInPandas(
        pack, "doc_id long, simhash long"
    )


def simhash_packed_cached(
    docs: DataFrame, bits: int = 32, cache_key: str | None = None
) -> DataFrame:
    """Memoized eager checkpoint of :func:`simhash_packed` — the
    fingerprint frame is recomputed (tokenize + md5 per token in
    Python) by every simhash-family query over the same corpus; one
    build per (session, corpus, bits) as a memo checkpoint (live-block
    validation)."""
    if cache_key is None:
        return simhash_packed(docs, bits=bits).localCheckpoint(eager=True)
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, bits, "simhash_packed"),
        lambda: simhash_packed(docs, bits=bits),
    )


def simhash_pairs_cached(
    docs: DataFrame,
    bands: int = 4,
    bits: int = 32,
    max_hamming: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """Memoized (fingerprints -> band buckets -> popcount-verified
    pairs) frame: dedup_simhash_pairs and the components resolver both
    need the same 83k-pair frame at sf0.1 — one build per (session,
    corpus, params)."""
    if cache_key is None:
        fps = simhash_packed_cached(docs, bits=bits, cache_key=None)
        return simhash_pairs(fps, bands=bands, bits=bits, max_hamming=max_hamming)
    # Consult the pairs-level cache FIRST (ADVICE r7): a valid pairs hit
    # must not pay a fingerprint rebuild when the fps entry was evicted
    # but the pairs entry survived. The fingerprint frame is built
    # lazily inside the builder (which itself goes through the fps
    # cache, so a live fps entry is still reused on a pairs miss).
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, bands, bits, max_hamming, "simhash_pairs"),
        lambda: simhash_pairs(
            simhash_packed_cached(docs, bits=bits, cache_key=cache_key),
            bands=bands,
            bits=bits,
            max_hamming=max_hamming,
        ),
    )


def simhash_sql(bits: int = 32) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
contrib AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, generate_series(0, {bits - 1}) AS g(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         AS BIGINT) AS simhash
FROM contrib
GROUP BY doc_id
"""


def simhash_pairs(
    fingerprints: DataFrame,
    bands: int = 4,
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs from SimHash fingerprints: bit-band
    bucketing + exact popcount verify — the stage that turns the
    fingerprint column into actionable dup pairs (round-2 gap: the
    SimHash family dead-ended at fingerprints).

    The ``bits``-bit fingerprint is split into ``bands`` equal bit
    bands; two documents are candidates iff they agree exactly on at
    least one band. By pigeonhole, any pair within hamming distance
    ``bands - 1`` MUST share an untouched band, so with the defaults
    (4 bands, max_hamming 3) recall is exactly 1.0 — the banded plan is
    sub-quadratic AND lossless for the radius it verifies. Candidates
    are then verified with ``bit_count(a XOR b) <= max_hamming`` (one
    JVM instruction per pair).

    Scale shape mirrors minhash LSH: the band explode is ×``bands``
    narrow rows, the candidate self-join shuffles on (band, band_val)
    buckets (hot buckets = genuinely-similar clusters), and the verify
    join touches only candidates. Input: (doc_id, simhash) from
    :func:`simhash` or :func:`simhash_packed`.

    Output: (doc_a, doc_b, hamming), feedable to
    :func:`bounded_components_from_pairs` / :func:`components_from_pairs`.
    """
    assert bits % bands == 0
    width = bits // bands
    mask = (1 << width) - 1
    fp = fingerprints.select("doc_id", "simhash")
    stack_args = ", ".join(
        f"{b}, shiftright(simhash, {b * width}) & {mask}" for b in range(bands)
    )
    banded = fp.selectExpr(
        "doc_id", f"stack({bands}, {stack_args}) AS (band, band_val)"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_sql(
    bands: int = 4, bits: int = 32, max_hamming: int = 3
) -> str:
    """Oracle twin of :func:`simhash_pairs` over :func:`simhash`'s
    fingerprints — same banded stages as CTEs (DuckDB: xor + bit_count,
    both bigint-exact)."""
    width = bits // bands
    mask = (1 << width) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * width}) & {mask} AS band_val "
        f"FROM fp"
        for b in range(bands)
    )
    return f"""
WITH fp AS ({simhash_sql(bits)}
),
banded AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
FROM cand
JOIN fp fa ON fa.doc_id = doc_a
JOIN fp fb ON fb.doc_id = doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {max_hamming}
"""


# Vectorized within-block pairwise-cosine path (round 10, guide §4.2).
# The join+fold form evaluates aggregate(zip_with(...)) per pair — ~13M
# interpreted lambda calls for 200k pairs of 64-dim vectors, measured
# 2.5 s at sf0.1 vs 0.36 s for one numpy pass per dimension. Bit-exact
# by construction: the numpy loop applies acc = acc + a_j*b_j in the
# SAME left-to-right order as the fold (each multiply and add is one
# correctly-rounded IEEE op in both engines, no FMA, no reassociation),
# norms arrive precomputed from the identical JVM fold, and division /
# comparison are single ops — verified by full tuple equality against
# the join+fold output and by the unchanged DuckDB oracles.
_MAX_BLOCKED_PAIR_VECTORS = 16384


def _blocked_cosine_pairs(
    e: DataFrame, block_col: str, threshold: float, out_block_col: str
) -> tuple[DataFrame | None, DataFrame]:
    """Within-block pairs with cosine >= threshold from a
    (vec_id, <block_col>, emb, norm) frame, one vectorized task per
    block. Returns ``(pairs, e_materialized)``; ``pairs`` is None when
    the largest COUNTED block exceeds ``_MAX_BLOCKED_PAIR_VECTORS`` — a
    hot block's n² pairs belong in the distributed join, which spreads
    them across tasks, not in one task's matrix (the
    single-task-fixpoint switch pattern); callers fall back to the
    join+fold form OVER ``e_materialized`` so the checkpointed vectors
    are reused rather than orphaned (ADVICE r10). Null block keys are
    dropped up front: the fallback's equi-join (and the oracles) reject
    them, so both physical shapes must agree (ADVICE r10)."""
    import numpy as np
    import pandas as pd

    e = (
        e.select("vec_id", block_col, "emb", "norm")
        .where(F.col(block_col).isNotNull())
        .localCheckpoint(eager=True)
    )
    mx = (
        e.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .first()["m"]
    )
    if mx is not None and mx > _MAX_BLOCKED_PAIR_VECTORS:
        return None, e
    idt = e.schema["vec_id"].dataType.simpleString()
    bdt = e.schema[block_col].dataType.simpleString()
    thr = float(threshold)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        A = np.stack(pdf["emb"].to_numpy())
        norm = pdf["norm"].to_numpy()
        n, d = A.shape
        ids = pdf["vec_id"].to_numpy()
        outs = []
        # row-chunked so a large (but under-cap) block bounds its
        # temporary matrices to chunk x n
        chunk = max(1, min(n, (1 << 22) // max(n, 1)))
        for s in range(0, n, chunk):
            rows = slice(s, min(s + chunk, n))
            acc = np.zeros((rows.stop - rows.start, n))
            for j in range(d):
                acc = acc + np.multiply.outer(A[rows, j], A[:, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cosm = acc / np.multiply.outer(norm[rows], norm)
            # Spark orders NaN above every double, so the JVM filter
            # keeps NaN cosines (zero-norm vectors); mirror that
            ri, ci = np.nonzero(
                ((cosm >= thr) | np.isnan(cosm))
                & (np.arange(n)[None, :] > np.arange(rows.start, rows.stop)[:, None])
            )
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": ids[ri + rows.start],
                        "vec_b": ids[ci],
                        out_block_col: pdf[block_col].to_numpy()[ri + rows.start],
                        "cosine": cosm[ri, ci],
                    }
                )
            )
        return pd.concat(outs) if outs else pd.DataFrame(
            {
                "vec_a": ids[:0],
                "vec_b": ids[:0],
                out_block_col: pdf[block_col].to_numpy()[:0],
                "cosine": np.zeros(0),
            }
        )

    return (
        e.groupBy(block_col).applyInPandas(
            per_block,
            f"vec_a {idt}, vec_b {idt}, {out_block_col} {bdt}, cosine double",
        ),
        e,
    )


def embedding_near_dup(
    embeddings: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    Blocking bounds the pairwise work to within-block pairs (at scale the
    block key would be an LSH/IVF bucket — see simsearch.ivf_topk). sqrt
    is IEEE-exact, so cosine matches the oracle bit-for-bit.

    Note: τ=0.3 suits the harness's synthetic embeddings (within-label
    cosine tops out ≈0.45); real near-dup pipelines use τ≈0.95.
    """
    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v
    )
    e = e.withColumn("norm", F.sqrt(dot(F.col("emb"), F.col("emb"))))
    blocked, e = _blocked_cosine_pairs(e, "label", threshold, "label")
    if blocked is not None:
        return blocked
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_sql(threshold: float = 0.3) -> str:
    dot = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> {x}.embedding[i]::DOUBLE * {y}.embedding[i]::DOUBLE))"
    )
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       {dot.format(x='a', y='b')}
         / (sqrt({dot.format(x='a', y='a')}) * sqrt({dot.format(x='b', y='b')}))
         AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {dot.format(x='a', y='b')}
        / (sqrt({dot.format(x='a', y='a')}) * sqrt({dot.format(x='b', y='b')}))
      >= {threshold}
"""


def embedding_near_dup_ivf(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
) -> DataFrame:
    """Embedding near-dup pairs blocked by IVF bucket — the scale path.

    Label blocking (``embedding_near_dup``) depends on a trusted,
    bounded label column; this variant derives the block from the data:
    every vector is assigned to its nearest seed centroid (same
    deterministic assignment as ``simsearch.ivf_topk``) and pairwise
    comparison happens only within a bucket — O(N²/k) instead of
    unbounded label blocks. Near-identical vectors land in the same
    bucket with high probability (they agree on nearest-centroid unless
    they straddle a Voronoi boundary — the standard IVF recall trade;
    production raises recall by probing 2-3 nearest centroids).

    Default τ=0.95 is the realistic near-dup bar; the harness query
    passes the synthetic-data τ. Oracle: same bucketing in DuckDB SQL —
    dot products fold left-to-right in both engines, bit-identical.
    """
    from .simsearch import _dot, _with_norm

    e = _with_norm(embeddings)
    cent = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos_c = _dot(F.col("emb"), F.col("c_emb")) / (F.col("norm") * F.col("c_norm"))
    from pyspark.sql import Window

    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    assigned = (
        e.join(F.broadcast(cent))
        .select("vec_id", "emb", "norm", "cent_id", cos_c.alias("c_cos"))
        .withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .drop("rn", "c_cos")
    )
    blocked, assigned = _blocked_cosine_pairs(
        assigned, "cent_id", threshold, "centroid_id"
    )
    if blocked is not None:
        return blocked
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cent_id").alias("centroid_id"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_ivf_sql(
    threshold: float = 0.95, n_centroids: int = 16, dim: int = 64
) -> str:
    from .simsearch import _cos_sql

    return f"""
WITH assign_scored AS (
  SELECT e.vec_id, c.vec_id AS cent_id,
         {_cos_sql('e', 'c', dim)} AS c_cos
  FROM embeddings e
  JOIN embeddings c ON c.vec_id < {n_centroids}
),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY c_cos DESC, cent_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
)
SELECT aa.vec_id AS vec_a, bb.vec_id AS vec_b,
       aa.cent_id AS centroid_id,
       {_cos_sql('a', 'b', dim)} AS cosine
FROM assigned aa
JOIN assigned bb ON aa.cent_id = bb.cent_id AND aa.vec_id < bb.vec_id
JOIN embeddings a ON a.vec_id = aa.vec_id
JOIN embeddings b ON b.vec_id = bb.vec_id
WHERE {_cos_sql('a', 'b', dim)} >= {threshold}
"""


def _rhp_planes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic random-hyperplane coefficients: md5-seeded ints in
    [-32768, 32768), computed in Python and embedded as LITERALS in both
    the Spark expression and the SQL oracle (the integer-DCG recipe) —
    no runtime hashing has to agree across engines."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:8], 16) % 65536)
            - 32768
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs blocked by RANDOM-HYPERPLANE LSH — the
    third blocker of the family (label: trusted metadata; IVF:
    data-derived Voronoi; RHP-LSH: data-INDEPENDENT, no training pass
    at all — the right choice for a first pass over a never-seen
    corpus or a streaming ingest where centroids don't exist yet).

    Each vector gets an ``n_planes``-bit signature (sign of the dot
    product against fixed md5-seeded integer hyperplanes); candidates
    share a bucket at Hamming distance <= 1 (exact bucket + one-bit
    multi-probe, the standard recall lever). Signs are decided on
    EXACT int64 dot products (2^-20-quantized components x integer
    plane coefficients), so bucket assignment is engine-identical by
    construction; the cosine verify is the family's ordered-fold form.

    At 100 TB: signature build is a narrow map (n_planes x dim integer
    mults per row); the probe join is bucket-keyed with expected bucket
    size N/2^n_planes — grow n_planes with corpus size to hold bucket
    size constant, exactly like adding LSH bands.

    Output: (vec_a, vec_b, cosine) for same/adjacent-bucket pairs with
    cosine >= threshold.
    """
    planes = _rhp_planes(n_planes, dim)
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn(
        "vq",
        F.expr("transform(emb, x -> CAST(floor(x * 1048576.0 + 0.5) AS BIGINT))"),
    )
    bits = []
    for p, coeffs in enumerate(planes):
        lit = "array(" + ", ".join(f"{c}L" for c in coeffs) + ")"
        dot = (
            f"aggregate(zip_with(vq, {lit}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    e = e.withColumn(
        "bucket", F.expr(" + ".join(bits)).cast("long")
    ).localCheckpoint(eager=True)
    probe_arr = "array(bucket" + "".join(
        f", bucket ^ {1 << p}" for p in range(n_planes)
    ) + ")"
    probes = e.select(
        "vec_id", F.explode(F.expr(probe_arr)).alias("pbucket")
    )
    cand = (
        probes.alias("a")
        .join(
            e.select("vec_id", "bucket").alias("b"),
            (F.col("a.pbucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p_, q_: p_ * q_), F.lit(0.0), lambda s, v: s + v
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.sqrt(dot(F.col("emb_a"), F.col("emb_a")))
        * F.sqrt(dot(F.col("emb_b"), F.col("emb_b")))
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_lsh_sql(
    threshold: float = 0.3, n_planes: int = 8, dim: int = 64
) -> str:
    """DuckDB oracle twin of :func:`embedding_near_dup_lsh` — identical
    literal hyperplanes; DuckDB's ^ is POWER, so bit flips use xor()."""
    from .simsearch import _cos_sql

    planes = _rhp_planes(n_planes, dim)
    bits = []
    for p, coeffs in enumerate(planes):
        lit = "[" + ", ".join(str(c) for c in coeffs) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, {dim}), "
            f"j -> vq[j] * ({lit})[j]))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(bits)
    probe_list = "[bucket" + "".join(
        f", xor(bucket, {1 << p})" for p in range(n_planes)
    ) + "]"
    return f"""
WITH vqs AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(x::DOUBLE * 1048576.0 + 0.5) AS BIGINT)) AS vq
  FROM embeddings
),
buckets AS MATERIALIZED (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM vqs
),
probes AS (
  SELECT vec_id, unnest({probe_list}) AS pbucket FROM buckets
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM probes a JOIN buckets b
    ON a.pbucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT cand.vec_a, cand.vec_b, {_cos_sql('a', 'b', dim)} AS cosine
FROM cand
JOIN embeddings a ON a.vec_id = cand.vec_a
JOIN embeddings b ON b.vec_id = cand.vec_b
WHERE {_cos_sql('a', 'b', dim)} >= {threshold}
"""


def embedding_near_dup_ivf_trained(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    max_iters: int = 5,
    n_probes: int = 1,
    tol: float = 1e-6,
    cache_key: str | None = None,
) -> DataFrame:
    """Production form of :func:`embedding_near_dup_ivf`: trained
    spherical-k-means centroids + the zero-shuffle broadcast-argmax
    assignment (``simsearch.assign_buckets_argmax``), then within-bucket
    pairwise cosine.

    vs the seeded/window twin (kept as the SQL-oracle form): buckets are
    data-balanced (trained centroids) and the assignment stage exchanges
    NOTHING instead of shuffling N×k scored rows through a vec_id
    window. ``n_probes`` is the recall knob for near-dups straddling a
    Voronoi boundary: each vector's ``n_probes`` nearest buckets all
    act as candidate blocks, a pair is a candidate when EITHER side
    probes the other's index bucket, and candidates dedupe before the
    cosine verify — candidate work scales ~linearly with probes, still
    O(N²·p/k). The fixed-point-quantized k-means combine makes the
    trained centroids engine-independent, so the single-probe form is
    value-oracle-checkable against the unrolled-Lloyd DuckDB twin
    (:func:`embedding_near_dup_ivf_trained_sql`; pass ``tol=0.0`` so
    both sides run exactly ``max_iters`` iterations); multi-probe
    bucketing equivalence and probe-recall stay unit-tested.
    """
    from .simsearch import _dot, assign_buckets_argmax, kmeans_centroids

    C = kmeans_centroids(
        embeddings,
        n_centroids=n_centroids,
        max_iters=max_iters,
        tol=tol,
        cache_key=cache_key,
    )
    assigned = assign_buckets_argmax(embeddings, C, n_probes=max(n_probes, 1))
    # JVM-fold norms for the verify cosine: bit-identical to the
    # oracle's list_sum fold (numpy norms differ in the last ulp)
    assigned = assigned.withColumn(
        "norm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
    )
    index = assigned.where(F.col("rn") == 1)
    if n_probes <= 1:
        blocked, index = _blocked_cosine_pairs(
            index, "cent_id", threshold, "centroid_id"
        )
        if blocked is not None:
            return blocked
        a, b = index.alias("a"), index.alias("b")
        cos = _dot(F.col("a.emb"), F.col("b.emb")) / (
            F.col("a.norm") * F.col("b.norm")
        )
        return (
            a.join(
                b,
                (F.col("a.cent_id") == F.col("b.cent_id"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.col("a.cent_id").alias("centroid_id"),
                cos.alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )
    # multi-probe: candidate pairs from (probe bucket == index bucket) in
    # either direction, deduped, then one verify join per side for the
    # vectors (the index frame is the deduped per-vector source)
    probes = assigned.select("vec_id", "cent_id")
    idx_b = index.select(
        F.col("vec_id").alias("_iv"), F.col("cent_id").alias("_ic")
    )
    cand = (
        probes.join(
            idx_b,
            (F.col("cent_id") == F.col("_ic"))
            & (F.col("vec_id") != F.col("_iv")),
        )
        .select(
            F.least("vec_id", "_iv").alias("vec_a"),
            F.greatest("vec_id", "_iv").alias("vec_b"),
        )
        .distinct()
    )
    va = index.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("_ea"),
        F.col("norm").alias("_na"),
        F.col("cent_id").alias("_ca"),
    )
    vb = index.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("_eb"),
        F.col("norm").alias("_nb"),
    )
    cos = _dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.col("_ca").alias("centroid_id"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_ivf_trained_sql(
    threshold: float = 0.95,
    n_centroids: int = 16,
    max_iters: int = 5,
    dim: int = 64,
) -> str:
    """DuckDB value oracle for the single-probe trained-IVF near-dup:
    re-trains the k-means index from scratch (unrolled Lloyd CTEs,
    bit-identical centroids via the fixed-point mean — see
    ``simsearch.kmeans_centroids``), re-assigns buckets, and re-verifies
    within-bucket cosines. Fully independent of the engine run."""
    from .simsearch import _cos_sql, _cos_trained_sql, kmeans_centroids_ctes

    return f"""
WITH {kmeans_centroids_ctes(n_centroids, max_iters, dim)},
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_trained_sql('e', 'c', dim)} DESC,
                                       c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN trained_cent c
  ) WHERE rn = 1
)
SELECT aa.vec_id AS vec_a, bb.vec_id AS vec_b,
       aa.cent_id AS centroid_id,
       {_cos_sql('a', 'b', dim)} AS cosine
FROM assigned aa
JOIN assigned bb ON aa.cent_id = bb.cent_id AND aa.vec_id < bb.vec_id
JOIN embeddings a ON a.vec_id = aa.vec_id
JOIN embeddings b ON b.vec_id = bb.vec_id
WHERE {_cos_sql('a', 'b', dim)} >= {threshold}
"""


def dup_components(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    rounds: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution: the keep/drop decision a dedup
    pipeline actually executes.

    Near-dup pairs (token-shingle Jaccard >= threshold) form a graph;
    each connected component keeps exactly one representative (min
    doc_id). Components are resolved with ``rounds`` synchronous
    min-label-propagation steps — exact whenever the component diameter
    is < rounds (harness data: max component size 4 → diameter <= 3).
    A production variant iterates to fixpoint with a convergence check
    (or large/small-star steps); the bounded form keeps the operator
    expressible for the DuckDB oracle, which runs the SAME rounds.

    Output: (doc_id, component_rep, is_kept).
    """
    pairs = jaccard_pairs(
        docs, threshold=threshold, shingle_n=shingle_n, cache_key=cache_key
    )
    if cache_key is None:
        return bounded_components_from_pairs(docs, pairs, rounds=rounds)
    # Three registered queries (components, cluster_sizes, canonical)
    # resolve the IDENTICAL (corpus, threshold, n, rounds) component
    # assignment; the doc-sized resolved frame joins the shared-pass
    # cache so the propagation rounds run once per (session, corpus).
    return memo.checkpoint(
        docs.sparkSession,
        (cache_key, threshold, shingle_n, rounds, "dup_components"),
        lambda: bounded_components_from_pairs(docs, pairs, rounds=rounds),
    )


# single-task fixpoint bound shared with operators.graph (round 10):
# below this COUNTED edge volume every propagation round runs as
# vectorized numpy in ONE executor task (identical min-label integer
# semantics, zero per-round shuffles/actions); above it the distributed
# rounds run unchanged — the 100 TB shape. Only pair-CONNECTED nodes
# ever iterate, so the edge count bounds the task's working set.
from .graph import MAX_SINGLE_TASK_EDGES as _MAX_SINGLE_TASK_EDGES
from .graph import cached_count as _graph_cached_count


def _components_single_task(
    edges: DataFrame,
    id_type: str,
    rounds: int,
    pointer_jump: bool,
    track_converged: bool,
) -> DataFrame:
    """Label propagation over a doubled edge list ``edges(s, d)`` in one
    vectorized task. Works in INDEX space over the sorted endpoint ids
    (np.unique sorts ascending, so index-min == id-min for numeric and
    lexicographic ids alike — the same ordering F.least uses).

    Per round: neighbor-min (``np.minimum.at`` — the groupBy-min), then
    optionally ONE pointer-jump hop (``rep := rep[rep]``), exactly the
    distributed round body. Emits ``(doc_id, rep, flag)`` where flag is
    ``converged`` (fixpoint form: no label moved in the final round) or
    ``still_moving`` (bounded form: some edge still has
    ``rep[d] < rep[s]``) — the caller checks it EAGERLY driver-side so
    the refuse-to-lie raise keeps its build-time RuntimeError contract.
    """

    def run(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        s = np.concatenate([c["s"].to_numpy() for c in chunks])
        d = np.concatenate([c["d"].to_numpy() for c in chunks])
        ids = np.unique(s)  # doubled edges: unique srcs == all endpoints
        n = len(ids)
        si = np.searchsorted(ids, s)
        di = np.searchsorted(ids, d)
        rep = np.arange(n, dtype=np.int64)
        converged = False
        for _ in range(rounds):
            m = np.full(n, n, dtype=np.int64)  # sentinel: > any index
            np.minimum.at(m, si, rep[di])
            stepped = np.minimum(rep, np.where(m == n, rep, m))
            if pointer_jump:
                new = np.minimum(stepped, stepped[stepped])
            else:
                new = stepped
            changed = int((new != rep).sum())
            rep = new
            if track_converged and changed == 0:
                converged = True
                break
        if track_converged:
            flag = converged
        else:
            flag = bool((rep[di] < rep[si]).any())  # still moving?
        yield pd.DataFrame(
            {"doc_id": ids, "rep": ids[rep], "flag": np.full(n, flag)}
        )

    return edges.coalesce(1).mapInPandas(
        run, f"doc_id {id_type}, rep {id_type}, flag boolean"
    )


def bounded_components_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    rounds: int = 4,
    verify_converged: bool = False,
) -> DataFrame:
    """Bounded min-label propagation over an explicit (doc_a, doc_b)
    pair frame — the SQL-expressible keep/drop resolver shared by every
    near-dup pair source (jaccard, minhash-LSH); exact for component
    diameter < rounds. See :func:`dup_components` for semantics and
    :func:`components_from_pairs` for the fixpoint production form.

    ``verify_converged=True`` (the kcore fixpoint pattern, VERDICT r6
    #8): after the bounded rounds, one extra neighbor-min pass checks
    that no label would still move — a bounded unroll whose oracle
    truncates IDENTICALLY can agree-but-not-converge, and this is the
    assert that refuses that silent state. Costs one checkpoint + one
    cheap join count on the materialized labels. Default ``False``
    because truncation-at-``rounds`` is this resolver's DOCUMENTED
    contract (the fragmenting-chain test pins it; the fixpoint form is
    the companion for unbounded diameter) — callers that EXPECT
    convergence (the registered pipeline queries) turn it on."""
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    # the edge set is loop-invariant: materialize once (otherwise every
    # propagation round re-runs the whole pair-finding subplan) and
    # truncate lineage for the iterative joins — standard practice for
    # iterative dataframe algorithms
    edges = edges.localCheckpoint(eager=True)
    # single-task fast path (round 10, guide §2.4): when the COUNTED
    # pair graph fits one task, run every propagation round as
    # vectorized numpy in a single executor task — identical integer
    # min-label semantics, zero per-round shuffles. Only pair-connected
    # nodes iterate (isolated docs re-enter below, exactly as the
    # distributed left-join leaves them at rep = doc_id), so the edge
    # count bounds the task. Past the bound the distributed rounds run
    # unchanged — the 100 TB shape.
    if _graph_cached_count(edges) <= _MAX_SINGLE_TASK_EDGES:
        id_type = docs.schema["doc_id"].dataType.simpleString()
        out = _components_single_task(
            edges, id_type, rounds, pointer_jump=False, track_converged=False
        )
        if verify_converged:
            out = out.localCheckpoint(eager=True)
            if not out.where(F.col("flag")).isEmpty():
                raise RuntimeError(
                    "bounded_components_from_pairs labels still moving "
                    f"after rounds={rounds} (component diameter >= "
                    "rounds); raise rounds (and the oracle unroll) or "
                    "use components_from_pairs for the fixpoint form"
                )
        endpoints = edges.select(F.col("s").alias("doc_id")).distinct()
        isolated = docs.select("doc_id").join(endpoints, "doc_id", "left_anti")
        return (
            out.select("doc_id", "rep")
            .unionByName(
                isolated.select("doc_id", F.col("doc_id").alias("rep"))
            )
            .select(
                "doc_id",
                F.col("rep").alias("component_rep"),
                (F.col("doc_id") == F.col("rep")).alias("is_kept"),
            )
        )
    labels = docs.select("doc_id", F.col("doc_id").alias("rep"))
    for _ in range(rounds):
        neigh = (
            edges.join(labels.withColumnRenamed("doc_id", "d_id"),
                       F.col("d") == F.col("d_id"))
            .groupBy("s")
            .agg(F.min("rep").alias("nrep"))
        )
        labels = (
            labels.join(neigh, labels.doc_id == neigh.s, "left")
            .select(
                "doc_id",
                F.least(F.col("rep"), F.coalesce(F.col("nrep"), F.col("rep"))).alias("rep"),
            )
        )
    if verify_converged:
        labels = labels.localCheckpoint(eager=True)
        still_moving = (
            edges.join(
                labels.select(F.col("doc_id").alias("d_id"),
                              F.col("rep").alias("drep")),
                F.col("d") == F.col("d_id"),
            )
            .join(
                labels.select(F.col("doc_id").alias("s_id"),
                              F.col("rep").alias("srep")),
                F.col("s") == F.col("s_id"),
            )
            .where(F.col("drep") < F.col("srep"))
        )
        if not still_moving.isEmpty():
            raise RuntimeError(
                "bounded_components_from_pairs labels still moving after "
                f"rounds={rounds} (component diameter >= rounds); raise "
                "rounds (and the oracle unroll) or use "
                "components_from_pairs for the fixpoint form"
            )
    return labels.select(
        "doc_id",
        F.col("rep").alias("component_rep"),
        (F.col("doc_id") == F.col("rep")).alias("is_kept"),
    )


def dup_components_converged(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_rounds: int = 50,
    cache_key: str | None = None,
) -> DataFrame:
    """Fixpoint variant of :func:`dup_components` — exact for ANY
    component diameter, the production form at 100 TB where dup graphs
    have long chains.

    Each round does (a) neighbor-min propagation and (b) pointer
    jumping (``rep := rep of rep``), so labels converge in
    O(log diameter) rounds rather than O(diameter); a changed-label
    count per round stops the loop at fixpoint. Every round's labels are
    ``localCheckpoint``-ed: the convergence count is one cheap action on
    a materialized frame, and lineage stays flat across iterations.
    Value-oracled by :func:`dup_components_converged_sql` (min label at
    fixpoint == min reachable doc_id, a DuckDB recursive CTE), plus
    unit tests (diameter-6 chain, two components, ring).
    """
    pairs = jaccard_pairs(
        docs, threshold=threshold, shingle_n=shingle_n, cache_key=cache_key
    )
    return components_from_pairs(
        docs.select("doc_id"),
        pairs.select("doc_a", "doc_b"),
        max_rounds=max_rounds,
    )


def components_from_pairs(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Connected components over an explicit undirected pair list.

    ``nodes``: one column ``doc_id``; ``pairs``: columns
    ``doc_a``/``doc_b``. See :func:`dup_components_converged` for the
    algorithm; factored out so any near-dup pair source (jaccard,
    minhash-LSH, simhash, embedding) can feed the same keep/drop
    resolution, and so convergence is unit-testable on crafted graphs.
    """
    edges = pairs.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
    )
    edges = edges.localCheckpoint(eager=True)
    # only PAIR-CONNECTED nodes need iteration — everything else is its
    # own component by definition and re-enters after the loop (round
    # 7: shrinks every round's join/count frames from |docs| to
    # |endpoints|, the dominant cost when duplicates are sparse)
    endpoints = edges.select(F.col("s").alias("doc_id")).distinct()
    # isolated is consumed exactly once (the final union) and derives
    # only from the already-checkpointed edge frame — materializing it
    # eagerly was one whole extra job per resolution for no reuse
    isolated = nodes.select("doc_id").join(endpoints, "doc_id", "left_anti")
    # single-task fast path (round 10, guide §2.4): same rounds —
    # neighbor-min + ONE pointer-jump hop, changed-count early stop —
    # as vectorized numpy in one task when the counted edge frame fits;
    # the convergence flag rides out on every row and is checked
    # EAGERLY here so the refuse-to-lie raise stays a build-time
    # RuntimeError exactly as in the distributed form.
    if _graph_cached_count(edges) <= _MAX_SINGLE_TASK_EDGES:
        id_type = nodes.schema["doc_id"].dataType.simpleString()
        out = _components_single_task(
            edges, id_type, max_rounds, pointer_jump=True,
            track_converged=True,
        ).localCheckpoint(eager=True)
        if not out.where(~F.col("flag")).isEmpty():
            raise RuntimeError(
                "components_from_pairs did not reach its label fixpoint "
                f"within max_rounds={max_rounds}; raise the bound "
                "(pointer jumping converges in O(log diameter) rounds)"
            )
        return (
            out.select("doc_id", "rep")
            .unionByName(
                isolated.select("doc_id", F.col("doc_id").alias("rep"))
            )
            .select(
                "doc_id",
                F.col("rep").alias("component_rep"),
                (F.col("doc_id") == F.col("rep")).alias("is_kept"),
            )
        )
    labels = endpoints.select("doc_id", F.col("doc_id").alias("rep"))
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_rounds):
        neigh = (
            edges.join(
                labels.select(F.col("doc_id").alias("d_id"), "rep"),
                F.col("d") == F.col("d_id"),
            )
            .groupBy("s")
            .agg(F.min("rep").alias("nrep"))
        )
        # old_rep rides along so the convergence check is a filter on the
        # checkpointed frame, not an extra join against the prior labels
        stepped = labels.join(neigh, labels.doc_id == neigh.s, "left").select(
            "doc_id",
            F.least(F.col("rep"), F.coalesce(F.col("nrep"), F.col("rep"))).alias(
                "rep"
            ),
            F.col("rep").alias("old_rep"),
        )
        # ONE pointer-jump hop per round: a second hop was measured
        # SLOWER end-to-end at sf0.1 (7.5 s vs 5.7 s loop) — the extra
        # |endpoints|-sized shuffle per round costs more than the
        # rounds it saves on this graph's label-crawl profile
        jumped = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("doc_id").alias("j_id"), F.col("rep").alias("j_rep")
                ),
                F.col("a.rep") == F.col("j_id"),
                "left",
            )
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.least(
                    F.col("a.rep"), F.coalesce(F.col("j_rep"), F.col("a.rep"))
                ).alias("rep"),
                F.col("a.old_rep").alias("old_rep"),
            )
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.where(F.col("rep") != F.col("old_rep")).count()
        labels = jumped.select("doc_id", "rep")
        if changed == 0:
            converged = True
            break
    # fixpoint-verification (the kcore pattern, graph.py — VERDICT r6
    # #8): a bounded loop that exits by exhaustion has NOT proven its
    # labels stable; refusing beats silently returning a mid-flight
    # labeling. changed == 0 in the last executed round IS the proof.
    if not converged:
        raise RuntimeError(
            "components_from_pairs did not reach its label fixpoint "
            f"within max_rounds={max_rounds}; raise the bound (pointer "
            "jumping converges in O(log diameter) rounds)"
        )
    return labels.unionByName(
        isolated.select("doc_id", F.col("doc_id").alias("rep"))
    ).select(
        "doc_id",
        F.col("rep").alias("component_rep"),
        (F.col("doc_id") == F.col("rep")).alias("is_kept"),
    )


def dup_components_converged_sql(
    threshold: float = 0.5,
    shingle_n: int = 3,
    pairs_inner: str | None = None,
) -> str:
    """Oracle for the FIXPOINT components resolver
    (:func:`dup_components_converged`): min-label propagation run to
    convergence assigns each node the minimum doc_id among all nodes
    reachable from it, which DuckDB expresses directly as a recursive
    reachability CTE (UNION dedups visited (src, dst) pairs, so the
    recursion terminates on cyclic graphs). The oracle enumerates
    O(Σ component_size²) reachability rows — fine at oracle scale,
    and exactly the point: the Spark side runs the O(log diameter)
    pointer-jumping form instead."""
    inner = (
        pairs_inner
        if pairs_inner is not None
        else jaccard_pairs_sql(threshold=threshold, shingle_n=shingle_n)
    ).strip()
    return f"""
WITH RECURSIVE pairs AS ({inner}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.d AS dst
  FROM reach r JOIN edges e ON e.s = r.dst
)
SELECT src AS doc_id, MIN(dst) AS component_rep, src = MIN(dst) AS is_kept
FROM reach
GROUP BY src
"""


def dup_components_sql(
    threshold: float = 0.5,
    shingle_n: int = 3,
    rounds: int = 4,
    pairs_inner: str | None = None,
) -> str:
    """Oracle for the bounded components resolver. ``pairs_inner``
    swaps the pair source (default: jaccard; pass
    ``minhash_lsh_pairs_sql(...)`` for the LSH-fed pipeline)."""
    inner = (
        pairs_inner
        if pairs_inner is not None
        else jaccard_pairs_sql(threshold=threshold, shingle_n=shingle_n)
    ).strip()
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(
            f"l{i} AS (\n"
            f"  SELECT l.doc_id,\n"
            f"         LEAST(l.rep, COALESCE(MIN(r.rep), l.rep)) AS rep\n"
            f"  FROM {prev} l\n"
            f"  LEFT JOIN edges e ON e.s = l.doc_id\n"
            f"  LEFT JOIN {prev} r ON r.doc_id = e.d\n"
            f"  GROUP BY l.doc_id, l.rep\n"
            f")"
        )
        prev = f"l{i}"
    return f"""
WITH pairs AS ({inner}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
l0 AS (SELECT doc_id, doc_id AS rep FROM documents),
{', '.join(steps)}
SELECT doc_id, rep AS component_rep, doc_id = rep AS is_kept FROM {prev}
"""


def incremental_minhash_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    split_mod: int = 10,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """Incremental near-dedup: dedupe a NEW BATCH of documents against
    the EXISTING corpus without re-pairing the corpus with itself — the
    production shape for a daily-ingest pipeline, where the historical
    band index is a persisted table that only ever gets appended.

    Split rule (harness stand-in for an ingest date): ``doc_id %
    split_mod == 0`` is the new batch; everything else is history. The
    batch's band signatures probe the full band index (batch->history
    AND batch->earlier-batch-doc candidates; history x history pairs
    are never generated — that work was paid when history was
    ingested). Candidates verify with true shingle Jaccard >=
    threshold, and each duplicate batch doc reports its BEST match
    (highest jaccard, ties to the lower partner id — jaccard is one
    exact-int division, so the ordering is engine-identical).

    Output: (doc_id, dup_of, jaccard) — one row per batch doc that
    duplicates something older.

    At 100 TB: per-increment cost is O(|batch| signatures) + band
    probes into a bucketed index table + a verify join that touches
    only candidates' shingle sets; the corpus is never rescanned.
    """
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
    wide = minhash_wide_frame(
        docs, num_hashes, shingle_n, cache_key=cache_key
    )
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
    batch = bands.where(F.col("doc_id") % split_mod == 0)
    cand = (
        batch.alias("a")
        .join(
            bands.alias("p"),
            (F.col("a.band") == F.col("p.band"))
            & (F.col("a.band_hash") == F.col("p.band_hash"))
            & (
                (F.col("p.doc_id") % split_mod != 0)
                | (F.col("p.doc_id") < F.col("a.doc_id"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("batch_id"),
            F.col("p.doc_id").alias("partner"),
        )
        .distinct()
    )
    counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    common = (
        cand.join(ta, F.col("ta.doc_id") == F.col("batch_id"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("partner"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("batch_id", "partner")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("batch_id"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("partner"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    verified = (
        common.join(ca, "batch_id")
        .join(cb, "partner")
        .select("batch_id", "partner", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.desc("jaccard"), F.asc("partner")
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("batch_id").alias("doc_id"),
            F.col("partner").alias("dup_of"),
            "jaccard",
        )
    )


def incremental_minhash_dedup_sql(
    threshold: float = 0.5,
    split_mod: int = 10,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
) -> str:
    n_bands = num_hashes // band_size
    sig_exprs = ", ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(sig{b * band_size + r} AS VARCHAR)"
                for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH toks AS MATERIALIZED ({_shingles_sql(shingle_n)}
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
sigs AS MATERIALIZED (
  SELECT doc_id, {sig_exprs}
  FROM hashed GROUP BY doc_id
),
bands AS MATERIALIZED (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id, p.doc_id AS partner
  FROM bands a
  JOIN bands p ON a.band = p.band AND a.band_hash = p.band_hash
              AND (p.doc_id % {split_mod} != 0 OR p.doc_id < a.doc_id)
  WHERE a.doc_id % {split_mod} = 0
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
common AS (
  SELECT c.doc_id, c.partner, COUNT(*) AS cc
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_id
  JOIN toks tb ON tb.doc_id = c.partner AND ta.tok = tb.tok
  GROUP BY c.doc_id, c.partner
),
verified AS (
  SELECT m.doc_id, m.partner,
         CAST(cc AS DOUBLE) / (ca.n + cb.n - cc) AS jaccard
  FROM common m
  JOIN counts ca ON ca.doc_id = m.doc_id
  JOIN counts cb ON cb.doc_id = m.partner
  WHERE CAST(cc AS DOUBLE) / (ca.n + cb.n - cc) >= {threshold}
)
SELECT doc_id, partner AS dup_of, jaccard FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY jaccard DESC, partner ASC) AS rn
  FROM verified
) WHERE rn = 1
"""


def duplicate_span_stats(
    docs: DataFrame,
    n: int = 8,
    keep_max_frac: float = 0.3,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-document duplicated-span mass — the ExactSubstr-style dedup
    signal (Lee et al. 2022) at word-n-gram granularity: what fraction
    of a document's (overlapping, ALL-occurrence) word ``n``-grams
    appear anywhere else in the corpus (another doc, or repeated
    within the same doc)?

    Production suffix-array ExactSubstr finds arbitrary-length repeated
    spans; the distributed approximation fixes the span length at
    ``n`` words, which upper-bounds it: every repeated span of >= n
    words contributes its covering n-grams here. Plan: positional
    n-gram explode (narrow) -> (gram, doc) counts -> gram totals
    (vocab-keyed agg) -> join back on gram (vocab-keyed) -> per-doc
    rollup. Exactness: counts and the dup fraction are exact-int
    arithmetic and one correctly-rounded division.

    Output: (doc_id, n_grams, n_dup_grams, dup_frac, keep) — docs with
    < n words emit n_grams = 0, NULL dup_frac, keep = true.
    """
    # the token arrays reduce from the shared per-corpus tokenize pass
    # (operators/text.token_arrays) — identical factored expression;
    # token_arrays applies spread() itself, so map parallelism holds
    from .text import token_arrays

    parts = ", ".join(f"try_element_at(ts, i + {j})" for j in range(n))
    grams = token_arrays(docs, cache_key).selectExpr(
        "doc_id", "toks AS ts"
    ).selectExpr(
        "doc_id",
        f"explode(CASE WHEN size(ts) >= {n} THEN transform("
        f"sequence(1, size(ts) - {n - 1}), i -> concat_ws(' ', {parts})) "
        f"ELSE array() END) AS gram",
    )
    per_gd = grams.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).alias("m")
    )
    totals = per_gd.groupBy("gram").agg(F.sum("m").alias("total"))
    stats = (
        per_gd.join(totals, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("total") >= 2, F.col("m")).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
    )
    all_docs = docs.select("doc_id")
    out = all_docs.join(stats, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce(F.col("n_dup_grams"), F.lit(0).cast("long")).alias(
            "n_dup_grams"
        ),
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_dup_grams") / F.col("n_grams")
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        frac.alias("dup_frac"),
        F.coalesce(frac <= keep_max_frac, F.lit(True)).alias("keep"),
    )


def duplicate_span_stats_sql(n: int = 8, keep_max_frac: float = 0.3) -> str:
    parts = ", ".join(f"ts[i + {j}]" for j in range(n))
    return f"""
WITH grams AS MATERIALIZED (
  SELECT doc_id,
         unnest(CASE WHEN len(ts) >= {n} THEN list_transform(
            generate_series(1, len(ts) - {n - 1}),
            i -> concat_ws(' ', {parts})) ELSE [] END) AS gram
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS ts
        FROM documents)
),
per_gd AS (
  SELECT gram, doc_id, COUNT(*) AS m FROM grams GROUP BY gram, doc_id
),
totals AS (
  SELECT gram, SUM(m) AS total FROM per_gd GROUP BY gram
),
stats AS (
  SELECT g.doc_id,
         CAST(SUM(g.m) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN t.total >= 2 THEN g.m ELSE 0 END) AS BIGINT)
           AS n_dup_grams
  FROM per_gd g JOIN totals t ON t.gram = g.gram
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       COALESCE(s.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN COALESCE(s.n_grams, 0) > 0
            THEN CAST(s.n_dup_grams AS DOUBLE) / s.n_grams END AS dup_frac,
       COALESCE(CASE WHEN COALESCE(s.n_grams, 0) > 0
            THEN CAST(s.n_dup_grams AS DOUBLE) / s.n_grams END
            <= {keep_max_frac}, TRUE) AS keep
FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
"""


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    shingle_n: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: ``|A∩B| / min(|A|,|B|)``
    — catches a document embedded inside a larger one (quotes,
    concatenations, boilerplate wrapping), which symmetric Jaccard
    structurally under-scores (a 100-shingle doc inside a 1000-shingle
    doc has jaccard ≤ 0.1 but containment 1.0).

    Candidate generation is PREFIX FILTERING (the PPJoin family, Xiao
    et al.): order every document's shingles by the global (df, tok)
    order — rarest first — and emit its first ``sz - ceil(τ·sz) + 1``
    as the prefix. GUARANTEED recall: for a qualifying pair let S be
    the smaller side; if B missed ALL of S's prefix, the intersection
    fits inside S's remaining ``ceil(τ·sz) - 1`` shingles —
    contradiction with ``|∩| ≥ ceil(τ·sz)``. So candidates =
    prefix ⋈ full posting lists, and the fan-out concentrates on each
    doc's RAREST shingles (short posting lists) by construction. The
    prefix length uses integer arithmetic (``(7·sz+9) div 10`` for
    τ=0.7) so the cut is engine-exact; verify counts and both scores
    are exact-int arithmetic.

    Output: (doc_a, doc_b, jaccard, containment) for pairs with
    containment ≥ threshold.

    Scale shape (round-10 rewrite; the round-9 sf10 run spilled >40 GB
    and exhausted disk — SCALE.md round-9 table):
    - The per-doc (df, tok) ranking is a HASH AGGREGATE
      (``sort_array(collect_list(...))`` — per-row sort bounded by the
      doc's own shingle count) instead of a corpus-wide
      ``row_number`` window, which sorted the entire data-sized
      shingle frame on (doc_id, df, tok) and was the first spill.
    - Candidates join the prefix of the SMALLER side only against the
      posting list of the not-smaller side (recall needs only the min
      side's prefix), with the PPJoin POSITIONAL filter
      ``rn_t ≤ sz_t − ⌈τ·sz_p⌉ + 1`` (prefix-prefix theorem: for any
      total token order, |A∩B| ≥ t forces the length-(|A|−t+1) and
      length-(|B|−t+1) prefixes to intersect) — both prune candidates
      WITHOUT losing a qualifying pair, so the verify stage sees a
      strictly smaller superset and the output is bit-identical.
    - Verify is ``size(array_intersect(arr_a, arr_b))`` over per-doc
      sorted shingle ARRAYS (one row per doc, array bounded by doc
      length) — replacing the cand ⋈ toks ⋈ toks re-explode whose
      pairs×tokens frame was the second (fatal) sort spill.
    """
    assert abs(threshold - 0.7) < 1e-9, "integer prefix math is for τ=0.7"
    toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        toks.join(freq.hint("shuffle_hash"), "tok")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(df, tok))),"
                " x -> x.tok)"
            ).alias("arr")
        )
        .select("doc_id", "arr", F.size("arr").alias("sz"))
        # four consumers (prefix, posting, both verify sides) — without
        # materialization each re-runs the toks⋈freq + sorted
        # collect_list aggregation (the frame is doc-sized: one array
        # row per doc)
        .localCheckpoint(eager=True)
    )
    # prefix length k = sz - ceil(0.7*sz) + 1; ceil via (7*sz+9) div 10
    prefix = per_doc.select(
        F.col("doc_id").alias("doc_p"),
        F.col("sz").alias("sz_p"),
        F.explode(
            F.expr("slice(arr, 1, sz - (7 * sz + 9) div 10 + 1)")
        ).alias("tok"),
    )
    posting = per_doc.select(
        F.col("doc_id").alias("doc_t"),
        F.col("sz").alias("sz_t"),
        F.posexplode("arr").alias("pos", "tok"),
    )
    cand = (
        prefix.join(posting, "tok")
        .where(
            (F.col("doc_p") != F.col("doc_t"))
            & (F.col("sz_p") <= F.col("sz_t"))
            & (
                F.col("pos") + 1
                <= F.col("sz_t") - F.expr("(7 * sz_p + 9) div 10") + 1
            )
        )
        .select(
            F.least("doc_p", "doc_t").alias("doc_a"),
            F.greatest("doc_p", "doc_t").alias("doc_b"),
        )
        .distinct()
    )
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("sz").alias("na"),
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("sz").alias("nb"),
    )
    c = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = c / (F.col("na") + F.col("nb") - c)
    cont = c / F.least("na", "nb")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b", jac.alias("jaccard"), cont.alias("containment")
        )
        .where(F.col("containment") >= threshold)
    )


def containment_pairs_sql(
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> str:
    return f"""
WITH toks AS MATERIALIZED ({_shingles_sql(shingle_n)}
),
freq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
ranked AS (
  SELECT t.doc_id, t.tok,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rn,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
  FROM toks t JOIN freq f ON f.tok = t.tok
),
prefix AS MATERIALIZED (
  SELECT doc_id, tok FROM ranked
  WHERE rn <= sz - ((7 * sz + 9) // 10) + 1
),
cand AS (
  SELECT DISTINCT LEAST(p.doc_id, t.doc_id) AS doc_a,
                  GREATEST(p.doc_id, t.doc_id) AS doc_b
  FROM prefix p JOIN toks t ON t.tok = p.tok AND t.doc_id <> p.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b AND ta.tok = tb.tok
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard,
       CAST(c AS DOUBLE) / LEAST(ca.n, cb.n) AS containment
FROM common
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / LEAST(ca.n, cb.n) >= {threshold}
"""


def minhash_sig_quality(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
    cache_key: str | None = None,
) -> DataFrame:
    """Index-quality diagnostic for the MinHash/LSH family: for every
    band-candidate pair, the signature-ESTIMATED jaccard (matching
    signature positions / num_hashes — what the index 'believes')
    against the TRUE shingle jaccard, with the absolute estimation
    error. This is the artifact that tunes num_hashes/band shape in
    production: estimator bias/variance measured on the live corpus.
    All counts are exact ints; both scores are single exact-int
    divisions."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    toks = shingle_frame(docs, shingle_n, cache_key=cache_key)
    wide = minhash_wide_frame(
        docs, num_hashes, shingle_n, cache_key=cache_key
    )
    if cache_key is None:
        wide = wide.localCheckpoint(eager=True)
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
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
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
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    counts = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    common = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    true_j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    est_j = matches.cast("double") / F.lit(float(num_hashes))
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", est_j.alias("est_jaccard"))
        .join(common, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce(true_j, F.lit(0.0)).alias("true_jaccard"),
            F.abs(
                F.col("est_jaccard") - F.coalesce(true_j, F.lit(0.0))
            ).alias("abs_err"),
        )
    )


def minhash_sig_quality_sql(
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    shingle_n: int = 3,
) -> str:
    n_bands = num_hashes // band_size
    sig_exprs = ", ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS band_hash "
        "FROM sigs".format(
            b=b,
            cols=", ".join(
                f"CAST(sig{b * band_size + r} AS VARCHAR)"
                for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
WITH toks AS MATERIALIZED ({_shingles_sql(shingle_n)}
),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
),
sigs AS MATERIALIZED (
  SELECT doc_id, {sig_exprs}
  FROM hashed GROUP BY doc_id
),
bands AS MATERIALIZED (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b AND ta.tok = tb.tok
  GROUP BY doc_a, doc_b
)
SELECT cd.doc_a, cd.doc_b,
       CAST(({match_sum}) AS DOUBLE) / {float(num_hashes)!r} AS est_jaccard,
       COALESCE(CAST(m.c AS DOUBLE) / (ca.n + cb.n - m.c), 0.0) AS true_jaccard,
       ABS(CAST(({match_sum}) AS DOUBLE) / {float(num_hashes)!r}
           - COALESCE(CAST(m.c AS DOUBLE) / (ca.n + cb.n - m.c), 0.0)) AS abs_err
FROM cand cd
JOIN sigs sa ON sa.doc_id = cd.doc_a
JOIN sigs sb ON sb.doc_id = cd.doc_b
LEFT JOIN common m ON m.doc_a = cd.doc_a AND m.doc_b = cd.doc_b
JOIN counts ca ON ca.doc_id = cd.doc_a
JOIN counts cb ON cb.doc_id = cd.doc_b
"""

"""Similarity search over the ``embeddings`` table (array<float> column).

Training-data-pipeline surface: approximate-nearest-neighbor retrieval.
Two strategies:

- ``brute_force_topk``: exact cosine top-k — queries broadcast against
  all candidates, rank per query. The correctness baseline; cost is
  O(|Q|·N·dim) and fully scan-parallel (no shuffle until the per-query
  top-k, which partitions on the small query-id key).
- ``ivf_topk``: IVF-style bucketed search — every vector is assigned to
  its nearest centroid (a deterministic seed set of vectors), and a
  query only scans its own centroid's bucket: the O(N/k) scale path.
  Recall < 1 by construction (documented approximation).

Dot products use double arithmetic folded left-to-right
(``aggregate(zip_with(...))``), which matches DuckDB's
``list_sum(list_transform(...))`` bit-for-bit; sqrt is IEEE-exact.
All ranks are deterministic: ties break on vec_id.

At 100 TB: brute force becomes a broadcast-join map stage (queries are
small); IVF reduces scanned candidates k-fold and its bucket assignment
is one narrow pass — both avoid any N×N shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import memo

DIM = 64  # harness embedding dimensionality (all sf)


def _dot(x, y):
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda s, v: s + v)


def _with_norm(embeddings: DataFrame) -> DataFrame:
    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    return e.withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))


_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, {dim}), "
    "i -> {x}.embedding[i]::DOUBLE * {y}.embedding[i]::DOUBLE))"
)


def _cos_sql(x: str, y: str, dim: int = DIM) -> str:
    d = _DOT_SQL.format(dim=dim, x=x, y=y)
    nx = _DOT_SQL.format(dim=dim, x=x, y=x)
    ny = _DOT_SQL.format(dim=dim, x=y, y=y)
    return f"{d} / (sqrt({nx}) * sqrt({ny}))"


# Shared trained index (round 10, guide §1.2/§2.1 — the shingle-index
# pattern applied to driver-side trainer ARTIFACTS): five registered
# queries retrain the identical (corpus, params) centroid matrix and
# three retrain the identical PQ codebooks per bench pass. Callers that
# know their corpus identity pass ``cache_key`` (the sf_dir) and the
# Lloyd loop runs once per (session, corpus, params) — within-run reuse
# only, never a cross-run memo. Values are small numpy matrices
# (k x dim / m x codes x sub), marked read-only before sharing.
def _train_cached(spark, key: tuple, builder):
    hit = memo.value(spark, key, builder)
    hit.setflags(write=False)
    return hit


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: vectors with vec_id < n_queries are the query
    set; returns each query's k nearest other vectors."""
    e = _with_norm(embeddings)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def brute_force_topk_sql(n_queries: int = 8, k: int = 5, dim: int = DIM) -> str:
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q', 'e', dim)} AS cosine
  FROM embeddings q
  JOIN embeddings e ON q.vec_id <> e.vec_id
  WHERE q.vec_id < {n_queries}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_iters: int = 5,
    tol: float = 1e-6,
    cache_key: str | None = None,
):
    """Distributed spherical (cosine) k-means — the production centroid
    step for the IVF index (Lloyd's iterations).

    ``cache_key`` (the corpus identity, e.g. the sf_dir) memoizes the
    trained matrix per (session, corpus, params) — see
    ``_train_cached``; ``None`` always retrains.

    Scale shape mirrors the IPInsights trainer: per iteration the k×dim
    centroid matrix is broadcast, every partition computes cosine
    assignments and per-cluster partial sums/counts in one NumPy pass
    inside ``mapInPandas``, and only k×partitions partial rows return to
    the driver for the combine — no N×k shuffle, no posexplode of the
    vector column, data never leaves the executors. Empty clusters keep
    their previous centroid. Stops early when the max centroid shift
    (L2) drops below ``tol`` (pass ``tol=0.0`` to run exactly
    ``max_iters`` iterations — required when checking against the
    unrolled-SQL oracle, which has no early stop).

    Exactness design (same pattern as :func:`label_centroids`): the
    per-cluster mean is computed over components fixed-point quantized
    by 2^20 — the int64 partial sums are associative-commutative, so
    the combine is independent of partition count and collect order,
    and the final ``(sum / count) / 2^20`` is one correctly-rounded
    double division from exact integer inputs. The trained centroids
    are therefore bit-identical across partitionings AND across
    engines: ``kmeans_centroids_ctes`` re-derives the same matrix in
    DuckDB SQL, making trained-index queries value-oracle-checkable
    (≤5e-7 per-component quantization — far below any clustering
    signal).

    MARGIN ASSUMPTION (cross-engine caveat): the per-iteration
    assignment argmax compares cosines computed by NumPy BLAS here vs
    a sequential ``list_sum`` fold in the oracle CTEs; those differ in
    final ulps (~1e-13 accumulated over dim=64). Cross-engine
    bit-identity of the TRAINED matrix therefore additionally requires
    that no vector's top-1 vs top-2 cosine gap falls inside that ulp
    band in any iteration — an exact tie is measure-zero for real
    data, and ``tests/test_pipeline_ops.py::
    test_kmeans_assignment_margin_dwarfs_ulp_noise`` measures the
    actual minimum gap on the harness corpus (≥1e-6, seven orders
    above the noise) so the assumption is verified on the data the
    oracles run against rather than merely assumed.

    Returns a (n_centroids, dim) NumPy array ordered by centroid id.
    """
    import numpy as np
    import pandas as pd

    if cache_key is not None:
        return _train_cached(
            embeddings.sparkSession,
            ("kmeans", cache_key, n_centroids, max_iters, float(tol)),
            lambda: kmeans_centroids(
                embeddings, n_centroids, max_iters, tol, cache_key=None
            ),
        )

    scale = 1 << 20
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    seeds = (
        e.where(F.col("vec_id") < n_centroids).orderBy("vec_id").collect()
    )
    C = np.stack([np.asarray(r["emb"]) for r in seeds])
    spark = embeddings.sparkSession
    sc = spark.sparkContext
    kk = n_centroids
    for _ in range(max_iters):
        bc = sc.broadcast(C)

        def partial(batches, _bc=bc):
            Cl = _bc.value
            cn = np.linalg.norm(Cl, axis=1)
            sums = np.zeros((len(Cl), Cl.shape[1]), dtype=np.int64)
            cnts = np.zeros(kk, dtype=np.int64)
            for pdf in batches:
                X = np.stack(pdf["emb"].to_numpy())
                xn = np.linalg.norm(X, axis=1)
                cos = (X @ Cl.T) / (xn[:, None] * cn[None, :])
                a = cos.argmax(axis=1)
                Xq = np.floor(X * scale + 0.5).astype(np.int64)
                np.add.at(sums, a, Xq)
                cnts += np.bincount(a, minlength=kk)
            yield pd.DataFrame(
                {"cid": np.arange(kk), "vsum": list(sums), "cnt": cnts}
            )

        rows = e.mapInPandas(
            partial, "cid int, vsum array<long>, cnt long"
        ).collect()
        bc.unpersist()
        sums = np.zeros((kk, C.shape[1]), dtype=np.int64)
        cnts = np.zeros(kk, dtype=np.int64)
        for r in rows:
            sums[r["cid"]] += np.asarray(r["vsum"], dtype=np.int64)
            cnts[r["cid"]] += r["cnt"]
        means = (
            sums.astype(np.float64) / np.maximum(cnts, 1)[:, None]
        ) / float(scale)
        newC = np.where(cnts[:, None] > 0, means, C)
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift < tol:
            break
    return C


def kmeans_centroids_ctes(
    n_centroids: int = 16, max_iters: int = 5, dim: int = DIM
) -> str:
    """DuckDB CTE chain re-deriving :func:`kmeans_centroids` exactly —
    ``max_iters`` Lloyd iterations unrolled (SQL has no loop; the Spark
    side must be called with ``tol=0.0`` so neither engine early-stops).

    Mirrors stage-for-stage: seed centroids = vectors with
    ``vec_id < k`` ordered by vec_id; assignment = cosine argmax with
    ties to the lower centroid id; update = fixed-point-quantized mean
    (bit-identical to the engine's int64-sum combine, see
    :func:`kmeans_centroids`); empty clusters keep their previous
    centroid. Ends with ``trained_cent(cent_id, c_emb, c_norm)``.
    """
    scale = 1 << 20
    parts = [
        f"""pts AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
ptsn AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS vn
  FROM pts
),
cent0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS c
  FROM pts WHERE vec_id < {n_centroids}
)"""
    ]
    for i in range(1, max_iters + 1):
        prev = f"cent{i - 1}"
        parts.append(
            f""",
asg{i} AS (
  SELECT vec_id, cid, v FROM (
    SELECT p.vec_id, c.cid, p.v,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, {dim}),
                                              j -> p.v[j] * c.c[j]))
                      / (p.vn * sqrt(list_sum(list_transform(c.c, x -> x * x))))
                      DESC,
                      c.cid ASC) AS rn
    FROM ptsn p CROSS JOIN {prev} c
  ) WHERE rn = 1
),
cent{i} AS (
  SELECT pc.cid, COALESCE(m.c, pc.c) AS c
  FROM {prev} pc LEFT JOIN (
    SELECT cid, list(mu ORDER BY idx) AS c FROM (
      SELECT a.cid, t.idx,
             (CAST(SUM(CAST(FLOOR(a.v[t.idx] * {scale} + 0.5) AS BIGINT))
                   AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS mu
      FROM asg{i} a CROSS JOIN generate_series(1, {dim}) AS t(idx)
      GROUP BY a.cid, t.idx
    ) GROUP BY cid
  ) m ON m.cid = pc.cid
)"""
        )
    parts.append(
        f""",
trained_cent AS (
  SELECT cid AS cent_id, c AS c_emb,
         sqrt(list_sum(list_transform(c, x -> x * x))) AS c_norm
  FROM cent{max_iters}
)"""
    )
    return "".join(parts)


def _cos_trained_sql(e: str, c: str, dim: int = DIM) -> str:
    """Cosine between an embeddings row alias and a trained_cent alias."""
    d = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> {e}.embedding[j]::DOUBLE * {c}.c_emb[j]))"
    )
    ne = _DOT_SQL.format(dim=dim, x=e, y=e)
    return f"{d} / (sqrt({ne}) * {c}.c_norm)"


def ivf_topk_trained_sql(
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    max_iters: int = 5,
    dim: int = DIM,
    n_probes: int = 1,
) -> str:
    """Value oracle for the TRAINED-centroid ``ivf_topk`` path: DuckDB
    re-trains the k-means index from scratch (unrolled Lloyd CTEs),
    re-assigns buckets, and re-ranks — fully independent of the engine.
    """
    return f"""
WITH {kmeans_centroids_ctes(n_centroids, max_iters, dim)},
assign_scored AS (
  SELECT e.vec_id, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_trained_sql('e', 'c', dim)} DESC,
                                     c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN trained_cent c
),
assigned AS (
  SELECT vec_id, cent_id FROM assign_scored WHERE rn = 1
),
probes AS (
  SELECT vec_id, cent_id FROM assign_scored WHERE rn <= {n_probes}
),
scored AS (
  SELECT qa.vec_id AS query_id, ea.cent_id AS centroid_id,
         ea.vec_id AS neighbor_id,
         {_cos_sql('q', 'e', dim)} AS cosine
  FROM probes qa
  JOIN embeddings q ON q.vec_id = qa.vec_id
  JOIN assigned ea ON ea.cent_id = qa.cent_id AND ea.vec_id <> qa.vec_id
  JOIN embeddings e ON e.vec_id = ea.vec_id
  WHERE qa.vec_id < {n_queries}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, centroid_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {k}
"""


def assign_buckets_argmax(
    embeddings: DataFrame, C, n_probes: int = 1
) -> DataFrame:
    """Narrow IVF bucket assignment against a broadcast centroid matrix.

    One ``mapInPandas`` pass: each partition loads the broadcast k×dim
    matrix, computes all cosines in a single NumPy matmul, and emits each
    vector's ``n_probes`` nearest centroids (ties broken on lower
    cent_id via a stable sort, matching the window form's ordering).

    This is the production assignment path (VERDICT r2 #3): the
    join+window form the SQL oracles mirror materializes N×k rows
    through a ``row_number`` window partitioned by vec_id — a full
    shuffle of N×k rows just to take rn<=p. Here nothing is exchanged
    at all: the pass is narrow (Arrow in, Arrow out, ×n_probes rows),
    exactly like the ``kmeans_centroids`` partial-sum stage.

    Returns (vec_id, emb, norm, cent_id, rn) with rn in 1..n_probes.
    """
    import numpy as np
    import pandas as pd

    C = np.asarray(C, dtype=np.float64)
    k = len(C)
    p = min(n_probes, k)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((C, np.linalg.norm(C, axis=1)))

    def assign(batches):
        Cl, Cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy())
            xn = np.linalg.norm(X, axis=1)
            cos = (X @ Cl.T) / (xn[:, None] * Cn[None, :])
            order = np.argsort(-cos, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), p),
                    "emb": [e for e in pdf["emb"] for _ in range(p)],
                    "norm": np.repeat(xn, p),
                    "cent_id": order.ravel().astype("int64"),
                    "rn": np.tile(np.arange(1, p + 1), len(pdf)).astype("int32"),
                }
            )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return e.mapInPandas(
        assign, "vec_id long, emb array<double>, norm double, cent_id long, rn int"
    )


def centroids_frame(spark, C) -> DataFrame:
    """(k, dim) centroid matrix -> (cent_id, c_emb, c_norm) DataFrame."""
    import math

    rows = [
        (i, [float(x) for x in C[i]], math.sqrt(float((C[i] * C[i]).sum())))
        for i in range(len(C))
    ]
    return spark.createDataFrame(
        rows, "cent_id long, c_emb array<double>, c_norm double"
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    n_probes: int = 1,
    centroid_matrix=None,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Default centroids are the vectors with vec_id < n_centroids
    (deterministic seeding, SQL-oracle-expressible) assigned through a
    join+window plan the DuckDB oracle mirrors stage-for-stage. Pass
    ``centroid_matrix=kmeans_centroids(...)`` for the trained
    production index: assignment then runs through
    :func:`assign_buckets_argmax` — a zero-shuffle narrow pass instead
    of the N×k window exchange (VERDICT r2 #3); same bucketing
    semantics, better-balanced buckets. (``centroids`` as a DataFrame
    keeps the window plan — the oracle-expressible twin.) Every vector
    joins its nearest centroid's inverted list; a query scans its
    ``n_probes`` nearest centroids' lists (multi-probe: the standard
    recall knob for vectors near Voronoi boundaries — scanned work
    scales linearly with probes, still O(N·p/c) total).
    """
    if centroid_matrix is not None:
        scored = assign_buckets_argmax(
            embeddings, centroid_matrix, n_probes=max(n_probes, 1)
        )
        # recompute the vector norms with the JVM fold: the output
        # cosine is then bit-identical to the oracle's list_sum fold
        # (the numpy norm from the assignment pass differs in the last
        # ulp — fine for bucketing, not for the value hash)
        scored = scored.withColumn(
            "norm", F.sqrt(_dot(F.col("emb"), F.col("emb")))
        )
    else:
        e = _with_norm(embeddings)
        cent = (
            centroids
            if centroids is not None
            else e.where(F.col("vec_id") < n_centroids).select(
                F.col("vec_id").alias("cent_id"),
                F.col("emb").alias("c_emb"),
                F.col("norm").alias("c_norm"),
            )
        )
        cos_c = _dot(F.col("emb"), F.col("c_emb")) / (
            F.col("norm") * F.col("c_norm")
        )
        wa = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
        scored = (
            e.join(F.broadcast(cent))
            .select("vec_id", "emb", "norm", "cent_id", cos_c.alias("c_cos"))
            .withColumn("rn", F.row_number().over(wa))
            .drop("c_cos")
        )
    # index side: every vector lives in exactly ONE bucket (rn=1), so
    # multi-probe queries can never see a neighbor twice
    assigned = scored.where(F.col("rn") == 1).drop("rn")
    q = scored.where(
        (F.col("rn") <= n_probes) & (F.col("vec_id") < n_queries)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("cent_id").alias("q_cent"),
    )
    cos = _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("q_cent") == F.col("cent_id"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select(
            "query_id",
            F.col("cent_id").alias("centroid_id"),
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def ivf_topk_sql(
    n_queries: int = 8, k: int = 5, n_centroids: int = 16, dim: int = DIM,
    n_probes: int = 1,
) -> str:
    return f"""
WITH assign_scored AS (
  SELECT e.vec_id, c.vec_id AS cent_id,
         {_cos_sql('e', 'c', dim)} AS c_cos,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_sql('e', 'c', dim)} DESC,
                                     c.vec_id ASC) AS rn
  FROM embeddings e
  JOIN embeddings c ON c.vec_id < {n_centroids}
),
assigned AS (
  SELECT vec_id, cent_id FROM assign_scored WHERE rn = 1
),
probes AS (
  SELECT vec_id, cent_id FROM assign_scored WHERE rn <= {n_probes}
),
scored AS (
  SELECT qa.vec_id AS query_id, ea.cent_id AS centroid_id,
         ea.vec_id AS neighbor_id,
         {_cos_sql('q', 'e', dim)} AS cosine
  FROM probes qa
  JOIN embeddings q ON q.vec_id = qa.vec_id
  JOIN assigned ea ON ea.cent_id = qa.cent_id AND ea.vec_id <> qa.vec_id
  JOIN embeddings e ON e.vec_id = ea.vec_id
  WHERE qa.vec_id < {n_queries}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, centroid_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {k}
"""


def label_centroids(embeddings: DataFrame, dim: int = DIM) -> DataFrame:
    """Per-label element-wise mean embedding — the class-prototype /
    cluster-summary primitive (mean pooling over a group's vectors).

    Exactness design: float sums are partition-order-dependent in a
    distributed engine, so a naive double mean would hash-diverge from
    the single-threaded oracle — and even decimal casts disagree at the
    last digit (Spark converts float→decimal through the shortest
    string repr, DuckDB rounds the binary value; observed 1-ulp
    divergence). Components are instead fixed-point quantized by a
    POWER OF TWO: v·2^20 is an exact double product on any engine,
    floor(·+0.5) is deterministic, the int64 sums are
    associative-commutative, and the final mean is one correctly-
    rounded double division followed by an exact 2^-20 scale. Mean of
    the 2^-20-quantized components (≤5e-7 absolute quantization per
    component — negligible for a prototype vector), bit-identical
    across engines and partitionings by construction.

    Plan shape: posexplode (narrow, ×dim rows) → hash agg on
    (label, idx) — |labels|·dim grouping keys, map-side partials —
    → groupBy(label) array rebuild with array_sort, one more
    vocab-sized exchange. Output: (label, n_vecs, centroid).
    """
    scale = 1 << 20
    e = embeddings.select(
        "label",
        F.posexplode(F.col("embedding")).alias("idx", "v"),
    )
    q = F.floor(F.col("v").cast("double") * scale + F.lit(0.5)).cast("long")
    per_idx = e.groupBy("label", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s"),
    )
    mean = (F.col("s").cast("double") / F.col("n")) / F.lit(float(scale))
    return (
        per_idx.select("label", "idx", "n", mean.alias("m"))
        .groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct("idx", "m"))
            ).alias("_pairs"),
        )
        .select(
            "label",
            "n_vecs",
            F.transform(F.col("_pairs"), lambda p: p["m"]).alias("centroid"),
        )
    )


def label_centroids_long(embeddings: DataFrame, dim: int = DIM) -> DataFrame:
    """Long-form twin of :func:`label_centroids`: one row per
    (label, idx) with SCALAR cells only — ``(label, n_vecs, idx,
    component)``.

    Same fixed-point int64 exactness design (see
    :func:`label_centroids`); same information, just unpivoted. This
    is the driver-facing registration: result frames are canonicalized
    through pandas ``sort_values``, which cannot sort ``array<double>``
    cells, so the wide form stays a library-only API while this shape
    carries the oracle. Plan shape is strictly simpler than the wide
    form — posexplode (narrow) then ONE hash agg on (label, idx); no
    second exchange to rebuild the array.
    """
    scale = 1 << 20
    e = embeddings.select(
        "label",
        F.posexplode(F.col("embedding")).alias("idx", "v"),
    )
    q = F.floor(F.col("v").cast("double") * scale + F.lit(0.5)).cast("long")
    per_idx = e.groupBy("label", "idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(q).cast("long").alias("s"),
    )
    comp = (F.col("s").cast("double") / F.col("n_vecs")) / F.lit(float(scale))
    return per_idx.select(
        "label",
        "n_vecs",
        F.col("idx").cast("long").alias("idx"),
        comp.alias("component"),
    )


def label_centroids_long_sql(dim: int = DIM) -> str:
    scale = 1 << 20
    return f"""
WITH ex AS (
  SELECT label, CAST(u.i - 1 AS BIGINT) AS idx,
         CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * {scale} + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, UNNEST(generate_series(1, {dim})) AS u(i)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, idx,
       (CAST(SUM(q) AS DOUBLE) / COUNT(*)) / {float(scale)!r} AS component
FROM ex GROUP BY label, idx
"""


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 2048,
    iters: int = 10,
    seed: int = 7,
):
    """Train product-quantization codebooks: split the ``dim``-d space
    into ``m`` subspaces and k-means each subspace to ``n_codes``
    centroids.

    Codebooks train on a driver-side SAMPLE (the standard production
    shape — codebook quality needs thousands of vectors, not the
    corpus): one bounded ``limit(sample)`` collect, then pure-NumPy
    Lloyd's per subspace. Vectors are L2-NORMALIZED before training /
    encoding / querying, so ADC's L2 ordering coincides with the cosine
    ordering every other ANN op here uses. Returns a
    (m, n_codes, dim/m) array. Encoding and scoring (below) stay fully
    distributed.
    """
    import numpy as np

    rows = (
        embeddings.select(F.col("embedding").cast("array<double>").alias("emb"))
        .limit(sample)
        .collect()
    )
    X = _unit_rows(np.stack([np.asarray(r["emb"]) for r in rows]))
    dim = X.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(len(Xj), size=n_codes, replace=len(Xj) < n_codes)]
        for _ in range(iters):
            d = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(n_codes):
                mask = a == c
                if mask.any():
                    C[c] = Xj[mask].mean(axis=0)
        books[j] = C
    return books


def _unit_rows(X):
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def pq_encode(embeddings: DataFrame, codebooks) -> DataFrame:
    """Encode each vector into m one-byte codes (nearest sub-centroid
    per subspace) — a narrow broadcast + mapInPandas pass, zero
    shuffle. 64-d float64 vectors compress 64x (512 B -> 8 B)."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks))

    def encode(batches):
        B = bc.value
        m, n_codes, sub = B.shape
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(np.stack(pdf["emb"].to_numpy()))
            codes = np.empty((len(X), m), dtype=np.int64)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d = ((Xj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return e.mapInPandas(encode, "vec_id long, codes array<long>")


def pq_encode_with_buckets(
    embeddings: DataFrame, codebooks, centroid_matrix
) -> DataFrame:
    """PQ-encode AND IVF-assign every vector in ONE narrow mapInPandas
    pass (both the codebooks and the coarse centroid matrix ride the
    same broadcast): the inverted-list index of a composed IVF-PQ ANN.
    Zero shuffle; output (vec_id, cent_id, codes) is the narrow frame a
    layout write would range-partition by cent_id."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    B = np.asarray(codebooks)
    C = np.asarray(centroid_matrix, dtype=np.float64)
    bc = spark.sparkContext.broadcast((B, C, np.linalg.norm(C, axis=1)))

    def encode(batches):
        Bl, Cl, Cn = bc.value
        m, n_codes, sub = Bl.shape
        for pdf in batches:
            if not len(pdf):
                continue
            X0 = np.stack(pdf["emb"].to_numpy())
            xn = np.linalg.norm(X0, axis=1)
            cos = (X0 @ Cl.T) / (
                np.where(xn == 0, 1.0, xn)[:, None] * Cn[None, :]
            )
            cent = np.argsort(-cos, axis=1, kind="stable")[:, 0]
            X = _unit_rows(X0)
            codes = np.empty((len(X), m), dtype=np.int64)
            for j in range(m):
                Xj = X[:, j * sub : (j + 1) * sub]
                d = ((Xj[:, None, :] - Bl[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cent_id": cent.astype("int64"),
                    "codes": list(codes),
                }
            )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return e.mapInPandas(encode, "vec_id long, cent_id long, codes array<long>")


def ivfpq_topk(
    embeddings: DataFrame,
    codebooks=None,
    centroid_matrix=None,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 2,
) -> DataFrame:
    """Composed IVF-PQ approximate top-k — the standard production ANN
    form (VERDICT r3 #6): coarse IVF probing bounds WHICH vectors are
    scored (``n_probes`` inverted lists per query instead of the whole
    corpus), PQ-ADC bounds HOW each is scored (m byte-code lookups
    instead of a dim-length dot product). vs ``pq_topk``'s scan-all-ADC
    this cuts scored candidates to ~n_probes/n_centroids of the corpus;
    vs ``ivf_topk`` it compresses the scanned lists 32-64x.

    Plan shape: one narrow encode+assign pass over the corpus
    (:func:`pq_encode_with_buckets`), then one mapInPandas over the
    code frame where each query ADC-scores ONLY rows in its probed
    buckets (probe sets + LUTs broadcast; per-query output is its
    probed-list candidates, not N); final per-query rank is the only
    exchange, carrying candidate rows ~N·p/c. Approximate by
    construction ⇒ rows-only driver check; recall floor + probe
    monotonicity unit-tested against brute force.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    if centroid_matrix is None:
        centroid_matrix = kmeans_centroids(embeddings, n_centroids=n_centroids)
    if codebooks is None:
        codebooks = pq_train(embeddings)
    B = np.asarray(codebooks)
    C = np.asarray(centroid_matrix, dtype=np.float64)
    m, n_codes, sub = B.shape
    p = min(n_probes, len(C))

    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    Q0 = np.stack([np.asarray(r["emb"]) for r in q_rows])
    # probe sets: same stable-argsort cosine ordering as the index pass
    qn = np.linalg.norm(Q0, axis=1)
    cn = np.linalg.norm(C, axis=1)
    q_cos = (Q0 @ C.T) / (np.where(qn == 0, 1.0, qn)[:, None] * cn[None, :])
    probes = np.argsort(-q_cos, axis=1, kind="stable")[:, :p]
    # ADC lookup tables over the L2-normalized queries
    Q = _unit_rows(Q0)
    lut = np.empty((len(Q), m, n_codes))
    for j in range(m):
        Qj = Q[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = ((Qj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast((q_ids, probes, lut))

    def score(batches):
        ids, P, L = bc.value
        jj = np.arange(m)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())
            cents = pdf["cent_id"].to_numpy()
            vids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(ids):
                mask = np.isin(cents, P[qi])
                if not mask.any():
                    continue
                cm = codes[mask]
                d = L[qi][jj, cm].sum(axis=1)
                out_q.append(np.full(len(cm), qid))
                out_n.append(vids[mask])
                out_d.append(d)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_d),
                }
            )

    index = pq_encode_with_buckets(embeddings, B, C)
    scored = index.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def pq_topk(
    embeddings: DataFrame,
    codebooks,
    n_queries: int = 8,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via asymmetric distance computation (ADC):
    queries stay exact, candidates are scored from their PQ codes
    through per-query lookup tables.

    Per query: an (m, n_codes) table of squared sub-distances to every
    sub-centroid; a candidate's approximate squared L2 distance is the
    sum of m table lookups on its codes — no decompression, no
    per-pair float math beyond the lookups. The scoring pass is one
    mapInPandas over the (narrow) code frame with the tiny LUT stack
    broadcast; only n_queries×k result rows shuffle for the final rank.
    Approximate by construction ⇒ rows-only driver check; recall vs
    brute force is unit-tested.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    B = np.asarray(codebooks)
    m, n_codes, sub = B.shape
    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    Q = _unit_rows(np.stack([np.asarray(r["emb"]) for r in q_rows]))
    # LUT[q, j, c] = ||Q[q, sub_j] - B[j, c]||^2
    lut = np.empty((len(Q), m, n_codes))
    for j in range(m):
        Qj = Q[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = ((Qj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast((q_ids, lut))

    def score(batches):
        ids, L = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n, m)
            # dist[q, i] = sum_j L[q, j, codes[i, j]]
            d = L[:, np.arange(codes.shape[1])[None, :], codes].sum(axis=2)
            n = codes.shape[0]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(ids)),
                    "adc_dist": d.ravel(),
                }
            )

    codes = pq_encode(embeddings, B)
    scored = codes.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def index_quality(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_iters: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """Trained-index quality report: per-cluster population and inertia
    (sum of squared L2 distance to the trained centroid) — the metrics
    an IVF index build logs to decide k and spot degenerate clusters.

    Exactness: the trained centroids are engine-identical (fixed-point
    Lloyd combine); each vector's squared distance is a JVM
    sequential fold (bit-equal to the oracle's list_sum), quantized by
    2^20 and summed as int64 so the per-cluster reduction is
    partition-order free. Plan: one broadcast-argmax assignment pass +
    one k-group agg — nothing wide beyond k rows.
    """
    C = kmeans_centroids(
        embeddings,
        n_centroids=n_centroids,
        max_iters=max_iters,
        tol=0.0,
        cache_key=cache_key,
    )
    spark = embeddings.sparkSession
    cent = centroids_frame(spark, C).select("cent_id", "c_emb")
    assigned = assign_buckets_argmax(embeddings, C, n_probes=1).where(
        F.col("rn") == 1
    )
    scale = 1 << 20
    d2 = F.aggregate(
        F.zip_with(F.col("emb"), F.col("c_emb"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = F.floor(d2 * scale + F.lit(0.5)).cast("long")
    return (
        assigned.join(F.broadcast(cent), "cent_id")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (
                F.sum(q).cast("double") / F.lit(float(scale))
            ).alias("inertia"),
        )
    )


def index_quality_sql(n_centroids: int = 16, max_iters: int = 5, dim: int = DIM) -> str:
    scale = 1 << 20
    d2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> (e.embedding[j]::DOUBLE - c.c_emb[j])"
        f" * (e.embedding[j]::DOUBLE - c.c_emb[j])))"
    )
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
SELECT a.cent_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(FLOOR({d2} * {scale} + 0.5) AS BIGINT)) AS DOUBLE)
         / {float(scale)!r} AS inertia
FROM assigned a
JOIN embeddings e ON e.vec_id = a.vec_id
JOIN trained_cent c ON c.cent_id = a.cent_id
GROUP BY a.cent_id
"""


# ---------------------------------------------------------------------------
# Integer-exact IVF-PQ (round 5): the oracle-able production composition
# ---------------------------------------------------------------------------

_QSCALE = 1 << 20  # unit-vector quantization grid (same 2^-20 as kmeans)


def _unit_q_int(X):
    """Quantize L2-normalized rows onto the 2^-20 grid as int64.

    ``floor((x / ||x||) * 2^20 + 0.5)``. After this, EVERY PQ quantity
    (training distances, code assignment, ADC scores) is pure int64
    arithmetic — bit-exact across engines and partitionings with no
    float-margin caveat. The one residual cross-engine float is ``||x||``
    itself (BLAS vs sequential fold, ±1 ulp), which can only matter if
    some ``x_i/||x||·2^20`` sits within ulps of a half-integer rounding
    boundary — measured far from it on the harness data
    (tests/test_pipeline_ops.py::test_ivfpq_exact_quantization_margins).
    """
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return np.floor(
        (X / np.where(n == 0, 1.0, n)) * _QSCALE + 0.5
    ).astype(np.int64)


def pq_train_exact_int(
    embeddings: DataFrame,
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    cache_key: str | None = None,
):
    """Deterministic, integer-exact PQ codebook training — the
    SQL-re-derivable twin of :func:`pq_train` (whose np.random init is
    legitimately un-oraclable).

    Init: subvectors of the first ``n_codes`` sample vectors (vec_id
    order) — the same deterministic seeding rule as
    :func:`kmeans_centroids`. Each Lloyd round assigns by INTEGER
    squared L2 over the quantized unit grid (ties to the lower code
    id) and re-quantizes the updated mean back onto the grid:
    ``floor(sum/cnt + 0.5)`` where ``sum`` is an exact int64 and the
    double division is correctly rounded identically in both engines —
    so the trained codebooks are int64 matrices, bit-equal to the
    DuckDB CTE re-derivation by construction. Trains on the first
    ``sample`` vectors (driver-side NumPy on a bounded collect — the
    standard production shape for codebook fitting; covers the whole
    harness table at every sf).

    Returns (m, n_codes, sub) int64. ``cache_key`` memoizes per
    (session, corpus, params) exactly as in
    :func:`kmeans_centroids`; ``None`` always retrains.
    """
    import numpy as np

    if cache_key is not None:
        return _train_cached(
            embeddings.sparkSession,
            ("pq", cache_key, m, n_codes, iters, sample),
            lambda: pq_train_exact_int(
                embeddings, m, n_codes, iters, sample, cache_key=None
            ),
        )

    rows = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
        .orderBy("vec_id")
        .limit(sample)
        .collect()
    )
    X = np.stack([np.asarray(r["emb"]) for r in rows])
    U = _unit_q_int(X)
    dim = U.shape[1]
    assert dim % m == 0
    sub = dim // m
    B = np.stack(
        [U[:n_codes, j * sub : (j + 1) * sub].copy() for j in range(m)]
    )  # (m, n_codes, sub) int64
    for _ in range(iters):
        for j in range(m):
            Uj = U[:, j * sub : (j + 1) * sub]
            d = ((Uj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)  # first (lowest code id) wins ties
            for c in range(n_codes):
                mask = a == c
                if mask.any():
                    s = Uj[mask].sum(axis=0, dtype=np.int64)
                    B[j, c] = np.floor(
                        s.astype(np.float64) / int(mask.sum()) + 0.5
                    ).astype(np.int64)
    return B


def ivfpq_topk_exact(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    coarse_iters: int = 5,
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    n_probes: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """Trained-everything IVF-PQ, end to end (VERDICT r4 #6): coarse
    centroids from :func:`kmeans_centroids` (distributed Lloyd,
    fixed-point means), PQ codebooks from :func:`pq_train_exact_int`
    (integer grid), composed exactly like :func:`ivfpq_topk` — and
    VALUE-ORACLED: :func:`ivfpq_exact_sql` re-trains both index levels
    in DuckDB and re-ranks, hash-equal because every discrete decision
    downstream of the coarse assignment is integer arithmetic (ADC
    scores are exact multiples of 2^-40; ranking compares int64).

    Plan shape is the production one: ONE narrow mapInPandas pass over
    the corpus computes the coarse bucket (broadcast centroid matrix,
    stable cosine argmax) and the m integer codes; queries/probes/LUTs
    are driver-side O(n_queries) work broadcast to a second narrow
    scoring pass that touches only probed lists; the final top-k window
    is the only exchange, carrying ~N·p/c candidate rows.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    C = kmeans_centroids(
        embeddings,
        n_centroids=n_centroids,
        max_iters=coarse_iters,
        tol=0.0,
        cache_key=cache_key,
    )
    B = pq_train_exact_int(
        embeddings,
        m=m,
        n_codes=n_codes,
        iters=iters,
        sample=sample,
        cache_key=cache_key,
    )
    C = np.asarray(C, dtype=np.float64)
    sub = B.shape[2]
    p = min(n_probes, len(C))

    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    Q0 = np.stack([np.asarray(r["emb"]) for r in q_rows])
    qn = np.linalg.norm(Q0, axis=1)
    cn = np.linalg.norm(C, axis=1)
    q_cos = (Q0 @ C.T) / (np.where(qn == 0, 1.0, qn)[:, None] * cn[None, :])
    probes = np.argsort(-q_cos, axis=1, kind="stable")[:, :p]
    QU = _unit_q_int(Q0)
    # integer ADC LUT: lut[q, j, c] = ||QU[q, sub_j] - B[j, c]||^2 (int64)
    lut = np.empty((len(QU), B.shape[0], B.shape[1]), dtype=np.int64)
    for j in range(B.shape[0]):
        Qj = QU[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = ((Qj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast(
        (B, C, cn, q_ids, probes, lut)
    )

    def index_and_score(batches):
        Bl, Cl, Cnl, ids, P, L = bc.value
        ml = Bl.shape[0]
        jj = np.arange(ml)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            X0 = np.stack(pdf["emb"].to_numpy())
            xn = np.linalg.norm(X0, axis=1)
            cos = (X0 @ Cl.T) / (
                np.where(xn == 0, 1.0, xn)[:, None] * Cnl[None, :]
            )
            cents = np.argsort(-cos, axis=1, kind="stable")[:, 0]
            U = _unit_q_int(X0)
            codes = np.empty((len(U), ml), dtype=np.int64)
            for j in range(ml):
                Uj = U[:, j * sub : (j + 1) * sub]
                d = ((Uj[:, None, :] - Bl[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(ids):
                mask = np.isin(cents, P[qi]) & (vids != qid)
                if not mask.any():
                    continue
                cm = codes[mask]
                adc = L[qi][jj, cm].sum(axis=1)  # int64, exact
                out_q.append(np.full(int(mask.sum()), qid))
                out_n.append(vids[mask])
                out_d.append(adc)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_int": np.concatenate(out_d),
                }
            )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    scored = e.mapInPandas(
        index_and_score, "query_id long, neighbor_id long, adc_int long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_int"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("adc_int").cast("double") / F.lit(float(1 << 40))).alias(
                "adc_dist"
            ),
            "rank",
        )
    )


def _pq_train_ctes(
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    dim: int = DIM,
) -> str:
    """DuckDB CTE chain re-deriving :func:`pq_train_exact_int` —
    quantized unit vectors ``uq(vec_id, u)``, then ``iters`` unrolled
    integer-Lloyd rounds per subspace (all m subspaces share each
    round's CTE, keyed by j). Ends with ``bN(j, c, b)`` int64 codebooks
    plus ``uq`` for downstream encode/LUT use."""
    sub = dim // m
    parts = [
        f"""uq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(generate_series(1, {dim}), i ->
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) / nrm * {_QSCALE} + 0.5)
                AS BIGINT)) AS u
  FROM (SELECT vec_id, embedding,
               CASE WHEN nrm0 = 0 THEN 1.0 ELSE nrm0 END AS nrm
        FROM (SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm0
              FROM embeddings))
),
ts AS MATERIALIZED (
  SELECT vec_id, u FROM (
    SELECT vec_id, u, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM uq
  ) WHERE rn <= {sample}
),
b0 AS MATERIALIZED (
  SELECT jj.j, t.rn - 1 AS c,
         list_transform(generate_series(1, {sub}), i -> t.u[jj.j * {sub} + i]) AS b
  FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM ts) t,
       UNNEST(generate_series(0, {m - 1})) AS jj(j)
  WHERE t.rn <= {n_codes}
)"""
    ]
    for t in range(1, iters + 1):
        prev = f"b{t - 1}"
        parts.append(
            f""",
pasg{t} AS MATERIALIZED (
  SELECT vec_id, j, c FROM (
    SELECT t.vec_id, b.j, b.c,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id, b.j
             ORDER BY list_sum(list_transform(generate_series(1, {sub}),
                        i -> (t.u[b.j * {sub} + i] - b.b[i])
                           * (t.u[b.j * {sub} + i] - b.b[i]))) ASC,
                      b.c ASC) AS rn
    FROM ts t CROSS JOIN {prev} b
  ) WHERE rn = 1
),
b{t} AS MATERIALIZED (
  SELECT pb.j, pb.c, COALESCE(nb.b, pb.b) AS b
  FROM {prev} pb LEFT JOIN (
    SELECT j, c, list(bi ORDER BY i) AS b FROM (
      SELECT a.j, a.c, i.i,
             CAST(FLOOR(CAST(SUM(t.u[a.j * {sub} + i.i]) AS DOUBLE)
                        / COUNT(*) + 0.5) AS BIGINT) AS bi
      FROM pasg{t} a JOIN ts t ON t.vec_id = a.vec_id,
           UNNEST(generate_series(1, {sub})) AS i(i)
      GROUP BY a.j, a.c, i.i
    ) GROUP BY j, c
  ) nb ON nb.j = pb.j AND nb.c = pb.c
)"""
        )
    return "".join(parts)


def ivfpq_exact_sql(
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    coarse_iters: int = 5,
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    n_probes: int = 4,
    dim: int = DIM,
) -> str:
    """Value oracle for :func:`ivfpq_topk_exact`: re-trains the coarse
    k-means (unrolled-Lloyd CTEs), re-trains the PQ codebooks
    (integer-Lloyd CTEs), re-encodes, re-probes and re-ranks — fully
    independent of the engine. ADC comparisons happen on int64, so the
    rank column is exact; adc_dist is the one final 2^-40 scale."""
    sub = dim // m
    return f"""
WITH {kmeans_centroids_ctes(n_centroids, coarse_iters, dim)},
{_pq_train_ctes(m, n_codes, iters, sample, dim)},
codes AS MATERIALIZED (
  SELECT vec_id, j, c FROM (
    SELECT q.vec_id, b.j, b.c,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id, b.j
             ORDER BY list_sum(list_transform(generate_series(1, {sub}),
                        i -> (q.u[b.j * {sub} + i] - b.b[i])
                           * (q.u[b.j * {sub} + i] - b.b[i]))) ASC,
                      b.c ASC) AS rn
    FROM uq q CROSS JOIN b{iters} b
  ) WHERE rn = 1
),
assign_scored AS MATERIALIZED (
  SELECT e.vec_id, c.cent_id,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_trained_sql('e', 'c', dim)} DESC,
                                     c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN trained_cent c
),
assigned AS (
  SELECT vec_id, cent_id FROM assign_scored WHERE rn = 1
),
probes AS (
  SELECT vec_id, cent_id FROM assign_scored
  WHERE rn <= {n_probes} AND vec_id < {n_queries}
),
scored AS (
  SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
         SUM(list_sum(list_transform(generate_series(1, {sub}),
             i -> (qu.u[cd.j * {sub} + i] - b.b[i])
                * (qu.u[cd.j * {sub} + i] - b.b[i])))) AS adc_int
  FROM probes p
  JOIN assigned n ON n.cent_id = p.cent_id AND n.vec_id <> p.vec_id
  JOIN codes cd ON cd.vec_id = n.vec_id
  JOIN b{iters} b ON b.j = cd.j AND b.c = cd.c
  JOIN uq qu ON qu.vec_id = p.vec_id
  GROUP BY p.vec_id, n.vec_id
)
SELECT query_id, neighbor_id,
       CAST(adc_int AS DOUBLE) / {float(1 << 40)!r} AS adc_dist,
       rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_int ASC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def pq_topk_exact(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    cache_key: str | None = None,
) -> DataFrame:
    """Flat PQ (no coarse level) with trained integer codebooks — the
    value-oracled twin of :func:`pq_topk` (whose np.random codebook
    init is legitimately un-oraclable; that variant stays as the
    library API with its recall/monotonicity unit tests). Every
    candidate is ADC-scored: codebooks from :func:`pq_train_exact_int`
    live on the 2^-20 integer grid, so LUT cells and ADC sums are
    int64 and ranking is exact integer selection with neighbor-id
    tiebreaks — hash-equal to :func:`pq_exact_sql`, which re-trains
    the codebooks in DuckDB via the same integer-Lloyd CTE chain.

    Plan shape: ONE narrow mapInPandas pass encodes the corpus and
    scores it against the broadcast per-query LUTs (m byte-lookups
    per candidate instead of a dim-length dot product); the only
    exchange is the per-query top-k window over N·n_queries candidate
    rows. At 100 TB this is the exhaustive-PQ baseline against which
    the IVF-PQ probe bound is measured.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    B = pq_train_exact_int(
        embeddings,
        m=m,
        n_codes=n_codes,
        iters=iters,
        sample=sample,
        cache_key=cache_key,
    )
    sub = B.shape[2]

    q_rows = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in q_rows])
    QU = _unit_q_int(np.stack([np.asarray(r["emb"]) for r in q_rows]))
    lut = np.empty((len(QU), B.shape[0], B.shape[1]), dtype=np.int64)
    for j in range(B.shape[0]):
        Qj = QU[:, j * sub : (j + 1) * sub]
        lut[:, j, :] = ((Qj[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
    bc = spark.sparkContext.broadcast((B, q_ids, lut))

    def encode_and_score(batches):
        Bl, ids, L = bc.value
        ml = Bl.shape[0]
        jj = np.arange(ml)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            U = _unit_q_int(np.stack(pdf["emb"].to_numpy()))
            codes = np.empty((len(U), ml), dtype=np.int64)
            for j in range(ml):
                Uj = U[:, j * sub : (j + 1) * sub]
                d = ((Uj[:, None, :] - Bl[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(ids):
                mask = vids != qid
                if not mask.any():
                    continue
                cm = codes[mask]
                adc = L[qi][jj, cm].sum(axis=1)  # int64, exact
                out_q.append(np.full(int(mask.sum()), qid))
                out_n.append(vids[mask])
                out_d.append(adc)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_int": np.concatenate(out_d),
                }
            )

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    scored = e.mapInPandas(
        encode_and_score, "query_id long, neighbor_id long, adc_int long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_int"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("adc_int").cast("double") / F.lit(float(1 << 40))).alias(
                "adc_dist"
            ),
            "rank",
        )
    )


def pq_exact_sql(
    n_queries: int = 8,
    k: int = 5,
    m: int = 32,
    n_codes: int = 64,
    iters: int = 4,
    sample: int = 2048,
    dim: int = DIM,
) -> str:
    """Value oracle for :func:`pq_topk_exact`: re-trains the integer
    PQ codebooks (:func:`_pq_train_ctes`), re-encodes every vector, and
    ADC-scores every (query, candidate) pair — fully independent of the
    engine. All comparisons are int64; adc_dist is the one final 2^-40
    scale."""
    sub = dim // m
    return f"""
WITH {_pq_train_ctes(m, n_codes, iters, sample, dim)},
codes AS MATERIALIZED (
  SELECT vec_id, j, c FROM (
    SELECT q.vec_id, b.j, b.c,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id, b.j
             ORDER BY list_sum(list_transform(generate_series(1, {sub}),
                        i -> (q.u[b.j * {sub} + i] - b.b[i])
                           * (q.u[b.j * {sub} + i] - b.b[i]))) ASC,
                      b.c ASC) AS rn
    FROM uq q CROSS JOIN b{iters} b
  ) WHERE rn = 1
),
scored AS (
  SELECT qu.vec_id AS query_id, cd.vec_id AS neighbor_id,
         SUM(list_sum(list_transform(generate_series(1, {sub}),
             i -> (qu.u[cd.j * {sub} + i] - b.b[i])
                * (qu.u[cd.j * {sub} + i] - b.b[i])))) AS adc_int
  FROM uq qu
  JOIN codes cd ON cd.vec_id <> qu.vec_id
  JOIN b{iters} b ON b.j = cd.j AND b.c = cd.c
  WHERE qu.vec_id < {n_queries}
  GROUP BY qu.vec_id, cd.vec_id
)
SELECT query_id, neighbor_id,
       CAST(adc_int AS DOUBLE) / {float(1 << 40)!r} AS adc_dist,
       rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_int ASC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def top_eigen(embeddings: DataFrame, iters: int = 8) -> DataFrame:
    """Top PRINCIPAL COMPONENT of the embedding set by power iteration
    — the whitening/ABD-projection primitive a vector pipeline runs
    before indexing — made hash-oracle-able with the repo's fixed-point
    contract (the k-means/PageRank/IVF-PQ pattern applied to
    eigendecomposition):

    1. Distributed pass: embeddings quantize onto the 2^-20 grid as
       int64; per-partition partial sums of S_i and the Gram matrix
       C_ij = sum x_i x_j are PURE INT64 (associative-commutative, so
       partitioning cannot matter). One mapInPandas pass; only
       (d + d^2) integers leave the executors.
    2. Driver: covariance cells quantize once —
       A_ij = floor((C_ij/N - (S_i/N)(S_j/N)) / 2^20 + 0.5) — an
       identical correctly-rounded IEEE op sequence to the oracle's
       per-cell SQL expression.
    3. ``iters`` power-iteration rounds, each exact: u = A v is an
       int64 matvec, and the renormalization
       v' = floor(u/max|u| * 2^20 + 0.5) divides exact int64 operands
       once, then scales by a power of two. The oracle unrolls the
       same rounds as CTEs over the (i, j, a) cell frame, so both
       engines walk the identical integer trajectory whether or not
       it has converged.

    Returns one row per dimension: (idx, component, lambda_inf) with
    the component in the infinity-norm-1 convention and lambda_inf
    the A-units eigenvalue estimate from the final round.
    """
    import numpy as np
    import pandas as pd

    scale = 1 << 20
    dim = DIM
    e = embeddings.select(F.col("embedding").cast("array<double>").alias("emb"))

    def partial(batches):
        S = np.zeros(dim, dtype=np.int64)
        C = np.zeros((dim, dim), dtype=np.int64)
        n = 0
        for pdf in batches:
            X = np.stack(pdf["emb"].to_numpy())
            Xq = np.floor(X * scale + 0.5).astype(np.int64)
            S += Xq.sum(axis=0)
            C += Xq.T @ Xq
            n += len(Xq)
        yield pd.DataFrame(
            {"n": [n], "s": [S.tolist()], "c": [C.reshape(-1).tolist()]}
        )

    parts = e.mapInPandas(partial, "n long, s array<long>, c array<long>").collect()
    N = sum(int(r["n"]) for r in parts)
    S = np.zeros(dim, dtype=np.int64)
    C = np.zeros((dim, dim), dtype=np.int64)
    for r in parts:
        S += np.asarray(r["s"], dtype=np.int64)
        C += np.asarray(r["c"], dtype=np.int64).reshape(dim, dim)
    # identical op sequence to the oracle's per-cell expression
    Sn = S.astype(np.float64) / float(N)
    A = np.floor(
        (C.astype(np.float64) / float(N) - np.outer(Sn, Sn)) / float(scale)
        + 0.5
    ).astype(np.int64)
    v = np.full(dim, scale, dtype=np.int64)
    m = 0
    for _ in range(iters):
        u = A @ v
        m = int(np.abs(u).max())
        if m == 0:  # degenerate all-zero covariance; identity trajectory
            break
        v = np.floor(
            u.astype(np.float64) / float(m) * float(scale) + 0.5
        ).astype(np.int64)
    spark = embeddings.sparkSession
    lam = float(m) / float(1 << 40)
    rows = [
        (int(i), float(v[i]) / float(scale), lam) for i in range(dim)
    ]
    return spark.createDataFrame(
        rows, "idx long, component double, lambda_inf double"
    )


def top_eigen_sql(dim: int = DIM, iters: int = 8) -> str:
    """DuckDB twin of :func:`top_eigen` — re-derives the quantized
    covariance from scratch (N x d^2 self-join) and unrolls the same
    power-iteration rounds."""
    scale = 1 << 20
    parts = [
        f"""WITH exq AS MATERIALIZED (
  SELECT e.vec_id, CAST(u.i - 1 AS BIGINT) AS i,
         CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * {scale} + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, UNNEST(generate_series(1, {dim})) AS u(i)
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
sv AS MATERIALIZED (
  SELECT i, CAST(SUM(q) AS BIGINT) AS s FROM exq GROUP BY i
),
gram AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS c
  FROM exq a JOIN exq b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
amat AS MATERIALIZED (
  SELECT g.i, g.j,
         CAST(FLOOR((CAST(g.c AS DOUBLE) / nn.n
                     - (CAST(si.s AS DOUBLE) / nn.n)
                       * (CAST(sj.s AS DOUBLE) / nn.n))
                    / {float(scale)!r} + 0.5) AS BIGINT) AS a
  FROM gram g CROSS JOIN nn
  JOIN sv si ON si.i = g.i
  JOIN sv sj ON sj.i = g.j
),
v0 AS (SELECT i, CAST({scale} AS BIGINT) AS v FROM sv)"""
    ]
    for t in range(1, iters + 1):
        prev = f"v{t - 1}"
        parts.append(
            f""",
u{t} AS MATERIALIZED (
  SELECT amat.i, CAST(SUM(amat.a * p.v) AS BIGINT) AS u
  FROM amat JOIN {prev} p ON p.i = amat.j
  GROUP BY amat.i
),
m{t} AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS m FROM u{t}),
v{t} AS MATERIALIZED (
  SELECT u{t}.i,
         CASE WHEN m{t}.m = 0 THEN p.v
              ELSE CAST(FLOOR(CAST(u{t}.u AS DOUBLE)
                              / CAST(m{t}.m AS DOUBLE)
                              * {float(scale)!r} + 0.5) AS BIGINT)
         END AS v
  FROM u{t} CROSS JOIN m{t} JOIN {prev} p ON p.i = u{t}.i
)"""
        )
    parts.append(
        f"""
SELECT v{iters}.i AS idx,
       CAST(v{iters}.v AS DOUBLE) / {float(scale)!r} AS component,
       CAST(m{iters}.m AS DOUBLE) / {float(1 << 40)!r} AS lambda_inf
FROM v{iters} CROSS JOIN m{iters}"""
    )
    return "".join(parts)


def mmr_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    pool: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k — the RAG/retrieval
    reranker: greedily pick k results from each query's top-``pool``
    cosine candidates, each round maximizing
    ``lam*cos(q,c) - (1-lam)*max_{s in selected} cos(c,s)`` so near-
    duplicate hits cannot crowd the result list.

    Determinism/oracle contract: relevance and pairwise cosines use
    the SAME fold order as :func:`brute_force_topk` (identical doubles
    on both engines), the greedy argmax tiebreaks on the neighbor id,
    and the oracle unrolls the identical ``k`` rounds — the bounded-
    unroll pattern of kcore/pagerank applied to a greedy selection.

    Scale: the iteration runs on the (n_queries x pool) candidate
    frame and its (pool^2) pairwise-cosine frame — both bounded by
    parameters, never by the corpus; the corpus is touched once by the
    top-pool scan. Returns (query_id, sel_round, neighbor_id,
    mmr_score).
    """
    bf = brute_force_topk(embeddings, n_queries=n_queries, k=pool)
    cand = bf.select("query_id", "neighbor_id", "cosine").localCheckpoint(
        eager=True
    )
    e = _with_norm(embeddings)
    ea = e.select(
        F.col("vec_id").alias("ca"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    eb = e.select(
        F.col("vec_id").alias("cb"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    a = cand.select("query_id", F.col("neighbor_id").alias("ca"))
    b = cand.select("query_id", F.col("neighbor_id").alias("cb"))
    pairs = (
        a.join(b, "query_id")
        .where(F.col("ca") != F.col("cb"))
        .join(F.broadcast(ea), "ca")
        .join(F.broadcast(eb), "cb")
        .select(
            "query_id",
            "ca",
            "cb",
            (
                _dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("pc"),
        )
        .localCheckpoint(eager=True)
    )
    wpick = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    first = (
        cand.withColumn(
            "score", F.lit(lam) * F.col("cosine") - F.lit(1.0 - lam) * F.lit(0.0)
        )
        .withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).cast("long").alias("sel_round"),
            "neighbor_id",
            F.col("score").alias("mmr_score"),
        )
    )
    sel = first.localCheckpoint(eager=True)
    for r in range(2, k + 1):
        remaining = cand.join(
            sel.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pen = (
            pairs.join(
                sel.select(
                    "query_id", F.col("neighbor_id").alias("cb")
                ),
                ["query_id", "cb"],
            )
            .groupBy("query_id", "ca")
            .agg(F.max("pc").alias("pen"))
        )
        scored = remaining.join(
            pen,
            (remaining.query_id == pen.query_id)
            & (remaining.neighbor_id == pen.ca),
        ).select(
            remaining.query_id,
            "neighbor_id",
            (
                F.lit(lam) * F.col("cosine")
                - F.lit(1.0 - lam) * F.col("pen")
            ).alias("score"),
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(wpick))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).cast("long").alias("sel_round"),
                "neighbor_id",
                F.col("score").alias("mmr_score"),
            )
        )
        sel = sel.union(pick).localCheckpoint(eager=True)
    return sel


def mmr_topk_sql(
    n_queries: int = 8, pool: int = 20, k: int = 5, lam: float = 0.7
) -> str:
    """DuckDB twin of :func:`mmr_topk` — pool + pairwise cosines, then
    ``k`` unrolled greedy rounds."""
    parts = [
        f"""WITH pool AS MATERIALIZED ({brute_force_topk_sql(n_queries=n_queries, k=pool)}),
pairs AS MATERIALIZED (
  SELECT p1.query_id, p1.neighbor_id AS ca, p2.neighbor_id AS cb,
         {_cos_sql('a', 'b')} AS pc
  FROM pool p1
  JOIN pool p2 ON p2.query_id = p1.query_id
              AND p2.neighbor_id <> p1.neighbor_id
  JOIN embeddings a ON a.vec_id = p1.neighbor_id
  JOIN embeddings b ON b.vec_id = p2.neighbor_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, CAST(1 AS BIGINT) AS sel_round, neighbor_id,
         {lam!r} * cosine - {1.0 - lam!r} * 0.0 AS mmr_score
  FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY {lam!r} * cosine - {1.0 - lam!r} * 0.0 DESC,
                      neighbor_id ASC) AS rn
    FROM pool
  ) WHERE rn = 1
),
acc1 AS (SELECT * FROM sel1)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
scored{r} AS (
  SELECT p.query_id, p.neighbor_id,
         {lam!r} * p.cosine - {1.0 - lam!r} * pen.pen AS score
  FROM pool p
  JOIN (
    SELECT pr.query_id, pr.ca, MAX(pr.pc) AS pen
    FROM pairs pr
    JOIN acc{r - 1} s ON s.query_id = pr.query_id
                     AND s.neighbor_id = pr.cb
    GROUP BY pr.query_id, pr.ca
  ) pen ON pen.query_id = p.query_id AND pen.ca = p.neighbor_id
  WHERE NOT EXISTS (
    SELECT 1 FROM acc{r - 1} s
    WHERE s.query_id = p.query_id AND s.neighbor_id = p.neighbor_id)
),
sel{r} AS MATERIALIZED (
  SELECT query_id, CAST({r} AS BIGINT) AS sel_round, neighbor_id,
         score AS mmr_score
  FROM (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM scored{r}
  ) WHERE rn = 1
),
acc{r} AS MATERIALIZED (
  SELECT * FROM acc{r - 1} UNION ALL SELECT * FROM sel{r}
)"""
        )
    parts.append(
        f"""
SELECT query_id, sel_round, neighbor_id, mmr_score FROM acc{k}"""
    )
    return "".join(parts)


# ------------------------------------------------ reciprocal rank fusion


def rrf_fusion(
    embeddings: DataFrame,
    n_queries: int = 8,
    k_lists: int = 20,
    k_out: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of three retrieval
    rankings — cosine, raw inner product, and euclidean distance — the
    standard way to combine heterogeneous retrievers (dense + sparse +
    rerankers) without score calibration. Each ranking contributes
    1/(60 + rank) for its top-``k_lists``; fused top-``k_out`` returned
    per query.

    Exactness: every contribution is the INTEGER 2^40 div (60 + rank)
    (integer division is engine-identical), so the fused score is an
    exact int64 sum and ties break on neighbor_id. Ranks come from
    row_number over (metric, neighbor_id) where all three metrics are
    ordered folds on the same operand order — bit-identical across
    engines.

    Scale: one broadcast of the query panel against the vector table
    (the NDCG/brute-force shape), three bounded windows partitioned per
    query, and a TakeOrdered top-k. Growing the panel widens the
    broadcast; the vector table is scanned once.
    """
    two40 = 1 << 40
    e = _with_norm(embeddings)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    dot = _dot(F.col("q_emb"), F.col("emb"))
    cos = dot / (F.col("q_norm") * F.col("norm"))
    dist2 = F.aggregate(
        F.zip_with(
            F.col("q_emb"), F.col("emb"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    scored = (
        F.broadcast(q)
        .join(e, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("m_cos"),
            dot.alias("m_dot"),
            dist2.alias("m_l2"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("m_cos"), F.asc("neighbor_id")
    )
    w_dot = Window.partitionBy("query_id").orderBy(
        F.desc("m_dot"), F.asc("neighbor_id")
    )
    w_l2 = Window.partitionBy("query_id").orderBy(
        F.asc("m_l2"), F.asc("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_cos).cast("long").alias("r_cos"),
        F.row_number().over(w_dot).cast("long").alias("r_dot"),
        F.row_number().over(w_l2).cast("long").alias("r_l2"),
    )
    contrib = lambda c: F.when(  # noqa: E731
        F.col(c) <= k_lists, F.expr(f"{two40} div (60 + {c})")
    ).otherwise(F.lit(0))
    fused = ranked.select(
        "query_id",
        "neighbor_id",
        "r_cos",
        "r_dot",
        "r_l2",
        (contrib("r_cos") + contrib("r_dot") + contrib("r_l2"))
        .cast("long")
        .alias("rrf_int"),
    ).where(F.col("rrf_int") > 0)
    w_out = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_int"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_out).cast("long"))
        .where(F.col("fused_rank") <= k_out)
        .select(
            "query_id",
            "neighbor_id",
            "fused_rank",
            "r_cos",
            "r_dot",
            "r_l2",
            (F.col("rrf_int").cast("double") / F.lit(float(two40))).alias(
                "rrf_score"
            ),
        )
    )


def rrf_fusion_sql(
    n_queries: int = 8, k_lists: int = 20, k_out: int = 5, dim: int = DIM
) -> str:
    """DuckDB oracle twin of :func:`rrf_fusion`."""
    two40 = 1 << 40
    dot = _DOT_SQL.format(dim=dim, x="q", y="e")
    nq = _DOT_SQL.format(dim=dim, x="q", y="q")
    ne = _DOT_SQL.format(dim=dim, x="e", y="e")
    l2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)"
        " * (q.embedding[i]::DOUBLE - e.embedding[i]::DOUBLE)))"
    )
    return f"""
WITH scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {dot} / (sqrt({nq}) * sqrt({ne})) AS m_cos,
         {dot} AS m_dot,
         {l2} AS m_l2
  FROM embeddings q
  JOIN embeddings e ON q.vec_id <> e.vec_id
  WHERE q.vec_id < {n_queries}
),
ranked AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY m_cos DESC, neighbor_id ASC) AS BIGINT) AS r_cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY m_dot DESC, neighbor_id ASC) AS BIGINT) AS r_dot,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY m_l2 ASC, neighbor_id ASC) AS BIGINT) AS r_l2
  FROM scored
),
fused AS (
  SELECT query_id, neighbor_id, r_cos, r_dot, r_l2,
         CAST((CASE WHEN r_cos <= {k_lists}
                    THEN {two40} // (60 + r_cos) ELSE 0 END)
            + (CASE WHEN r_dot <= {k_lists}
                    THEN {two40} // (60 + r_dot) ELSE 0 END)
            + (CASE WHEN r_l2 <= {k_lists}
                    THEN {two40} // (60 + r_l2) ELSE 0 END) AS BIGINT)
           AS rrf_int
  FROM ranked
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_int DESC, neighbor_id ASC) AS BIGINT) AS fused_rank,
       r_cos, r_dot, r_l2,
       CAST(rrf_int AS DOUBLE) / {float(two40)!r} AS rrf_score
FROM fused
WHERE rrf_int > 0
QUALIFY fused_rank <= {k_out}
"""

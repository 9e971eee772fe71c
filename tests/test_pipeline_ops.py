"""Semantics tests for the training-data-pipeline operators
(dedup, text analysis, similarity search) on hand-built fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from spot_anomalies_flink_workshop_resources_spark.operators import (
    dedup,
    simsearch,
    text,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["Hello World", "  hello world ", "other doc", "OTHER DOC"])
    out = {r.keep_id: r.n_dups for r in dedup.exact_dedup(df).collect()}
    # normalization: lower + trim ⇒ 0≡1 and 2≡3
    assert out == {0: 2, 2: 2}


def test_line_block_dedup_counts_repeated_blocks(spark):
    # 4-token blocks; doc1 repeats doc0's first block verbatim (leading
    # boilerplate), doc2 is all-fresh, doc3 repeats the boilerplate twice
    boiler = "alpha beta gamma delta"
    df = _docs(
        spark,
        [
            boiler + " one two three four",
            boiler + " five six seven eight",
            "nine ten eleven twelve thirteen fourteen fifteen sixteen",
            boiler + " " + boiler,
        ],
    )
    out = {
        r.source: r
        for r in dedup.line_block_dedup(df, block_tokens=4).collect()
    }
    r = out["s0"]
    # 2+2+2+2 = 8 blocks; dups: doc1 blk0, doc3 blk0, doc3 blk1 = 3
    assert r.n_blocks == 8
    assert r.n_dups == 3
    assert r.dup_chars == 3 * len(boiler)
    assert r.dup_rate == pytest.approx(3 / 8)


def test_line_block_dedup_trailing_partial_block(spark):
    # 5 tokens at block size 4 -> blocks "a b c d" and "e"; a second doc
    # equal to just "e" collides with the trailing partial block
    df = _docs(spark, ["a b c d e", "e"])
    r = dedup.line_block_dedup(df, block_tokens=4).collect()[0]
    assert r.n_blocks == 3
    assert r.n_dups == 1
    assert r.dup_chars == 1


def test_jaccard_pairs_values(spark):
    df = _docs(
        spark,
        [
            "a b c d",  # doc 0
            "a b c e",  # doc 1: |∩|=3, |∪|=5 → 0.6
            "x y z w",  # doc 2: disjoint
        ],
    )
    out = dedup.jaccard_pairs(df, threshold=0.5, shingle_n=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.jaccard == pytest.approx(3 / 5)
    # 3-gram shingles: {"a b c","b c d"} vs {"a b c","b c e"} → 1/3
    out3 = dedup.jaccard_pairs(df, threshold=0.3, shingle_n=3).collect()
    assert len(out3) == 1 and out3[0].jaccard == pytest.approx(1 / 3)


def test_minhash_lsh_finds_identical_docs(spark):
    df = _docs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",  # identical tokens
            "completely different words entirely here now",
        ],
    )
    out = dedup.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in out] == [(0, 1, 1.0)]


def test_dup_components_keep_decision(spark):
    # docs 0,1,2 form one chained near-dup cluster (0~1, 1~2); 3 is alone
    df = _docs(
        spark,
        [
            "alpha beta gamma delta epsilon zeta",
            "alpha beta gamma delta epsilon eta",  # ~0 (shares 3 shingles of 4)
            "beta gamma delta epsilon eta theta",  # ~1, not directly ~0
            "totally different words entirely here now",
        ],
    )
    out = {r.doc_id: (r.component_rep, r.is_kept)
           for r in dedup.dup_components(df, threshold=0.4).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)  # transitively joined to 0's cluster
    assert out[2][0] == 0 and out[2][1] is False
    assert out[3] == (3, True)


def test_simhash_identical_and_different(spark):
    df = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "delta epsilon zeta"])
    out = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]
    assert 0 <= out[0] < 2**32


def test_simhash_pairs_banding_and_popcount(spark):
    # Crafted fingerprints: hamming(0,1)=3 with the differing bits spread
    # over three DIFFERENT 8-bit bands — the pigeonhole case where only
    # the untouched 4th band catches the pair; hamming(0,2)=4 exceeds the
    # radius even though docs 0 and 2 share two exact bands.
    fp = spark.createDataFrame(
        [
            (0, 0),
            (1, (1 << 0) | (1 << 8) | (1 << 16)),
            (2, (1 << 0) | (1 << 1) | (1 << 2) | (1 << 3)),
            (3, 0x0F0F0F0F),
        ],
        "doc_id long, simhash long",
    )
    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(fp, bands=4, bits=32, max_hamming=3).collect()
    }
    # only (0,1) is within radius 3; (0,2) is at 4, (1,2) at 5, (0,3) at 16
    assert out == {(0, 1): 3}


def test_simhash_pairs_from_texts_identical_docs(spark):
    df = _docs(
        spark,
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",
            "completely different words entirely here now",
        ],
    )
    pairs = dedup.simhash_pairs(dedup.simhash(df)).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_embedding_near_dup_cosine(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=1),
        Row(vec_id=1, embedding=[1.0, 0.01], label=1),  # nearly parallel
        Row(vec_id=2, embedding=[0.0, 1.0], label=1),  # orthogonal to 0
        Row(vec_id=3, embedding=[1.0, 0.0], label=2),  # other block
    ]
    df = spark.createDataFrame(rows)
    out = dedup.embedding_near_dup(df, threshold=0.9).collect()
    assert [(r.vec_a, r.vec_b) for r in out] == [(0, 1)]
    assert out[0].cosine == pytest.approx(1 / math.sqrt(1 + 0.01**2))


def test_embedding_near_dup_lsh_identical_and_opposite(spark):
    """Identical vectors share every sign bit (one bucket) and pair at
    cosine 1; a vector and its negation flip EVERY sign bit (Hamming 8,
    beyond the 1-bit probe) and never become candidates."""
    base = [float((i * 37) % 11 - 5) / 5.0 for i in range(64)]
    near = list(base)
    near[0] += 1e-6  # same signs under every hyperplane
    rows = [
        Row(vec_id=0, embedding=base, label=1),
        Row(vec_id=1, embedding=near, label=1),
        Row(vec_id=2, embedding=[-x for x in base], label=1),
    ]
    df = spark.createDataFrame(rows)
    out = dedup.embedding_near_dup_lsh(df, threshold=0.3).collect()
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in out}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] == pytest.approx(1.0, abs=1e-9)
    assert all(2 not in p for p in pairs)


def test_embedding_near_dup_lsh_one_bit_probe_reaches_neighbors(spark):
    """Two vectors differing in exactly one hyperplane sign are still
    candidates via the one-bit multi-probe (verified: their buckets
    differ, yet the pair is emitted when the cosine clears τ)."""
    planes = dedup._rhp_planes(8, 64)
    base = [1.0 if c > 0 else -1.0 for c in planes[0]]
    # flipping along plane 0's direction flips only bit 0 if the other
    # planes' dots stay same-signed; verify empirically via buckets
    flipped = [-x for x in base]
    # construct a milder neighbor: shrink toward plane-0 boundary
    import numpy as np

    h0 = np.array(planes[0], dtype=float)
    v = np.array(base)
    w = v - 2.0 * (v @ h0) / (h0 @ h0) * h0  # reflect across plane 0
    rows = [
        Row(vec_id=0, embedding=[float(x) for x in v], label=1),
        Row(vec_id=1, embedding=[float(x) for x in w], label=1),
    ]
    df = spark.createDataFrame(rows)
    out = dedup.embedding_near_dup_lsh(df, threshold=-1.0).collect()
    # the reflection flips plane-0's sign; if no other sign flipped the
    # pair MUST surface through the 1-bit probe
    signs_v = [int(sum(a * b for a, b in zip(v, p)) >= 0) for p in planes]
    signs_w = [int(sum(a * b for a, b in zip(w, p)) >= 0) for p in planes]
    hamming = sum(1 for a, b in zip(signs_v, signs_w) if a != b)
    found = {(r.vec_a, r.vec_b) for r in out}
    if hamming <= 1:
        assert (0, 1) in found
    else:
        assert (0, 1) not in found


def test_text_stats_counts(spark):
    df = _docs(spark, ["The cat and the hat. Is it red?"])
    r = text.text_stats(df).collect()[0]
    assert r.n_words == 8
    assert r.n_tokens == 8
    assert r.n_punct == 2  # '.' and '?'
    assert r.n_stopwords == 4  # the, and, the, is
    assert 0.0 <= r.quality_score <= 1.0


def test_char_ngram_profile_short_texts_emit_no_grams(spark):
    # Texts shorter than n must contribute NOTHING: Spark's
    # sequence(1, 0) defaults to a descending step ([1, 0]) and, without
    # the CASE guard, short docs emit two spurious partial grams each
    # (ADVICE r2). DuckDB's generate_series(1, 0) is empty, so the guard
    # is what keeps the two engines identical.
    df = _docs(spark, ["ab", "", "x", "abc"])
    rows = text.char_ngram_profile(df, n=3, top_k=5).collect()
    assert [(r.gram, r.n) for r in rows] == [("abc", 1)]


def test_lang_id_prefers_hit_majority(spark):
    df = _docs(
        spark,
        [
            "the cat is on the mat and a dog",  # en
            "der hund und die katze ist im haus",  # de
            "no stopwords whatsoever xyzzy qwerty",  # tie -> en preference
        ],
    )
    out = {r.doc_id: r.pred_lang for r in text.lang_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "en"


def test_fingerprint_deterministic_and_content_sensitive(spark):
    # doc 2 shares no 8-gram with doc 0 (a single-char suffix change could
    # legitimately keep the same min-hash — that's minhash working)
    df = _docs(spark, ["abcdefghij", "abcdefghij", "zyxwvutsrq"])
    out = {r.doc_id: r.fingerprint for r in text.doc_fingerprint(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_brute_force_topk_orders_by_cosine(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=10, embedding=[1.0, 0.1], label=0),
        Row(vec_id=11, embedding=[1.0, 1.0], label=0),
        Row(vec_id=12, embedding=[-1.0, 0.0], label=0),
    ]
    df = spark.createDataFrame(rows)
    out = simsearch.brute_force_topk(df, n_queries=1, k=3).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [10, 11, 12]


def test_ivf_restricts_to_bucket(spark):
    # centroids: vec 0 (x-axis), vec 1 (y-axis); vecs 20,21 near x; 30 near y
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),
        Row(vec_id=1, embedding=[0.0, 1.0], label=0),
        Row(vec_id=20, embedding=[1.0, 0.05], label=0),
        Row(vec_id=21, embedding=[1.0, 0.1], label=0),
        Row(vec_id=30, embedding=[0.05, 1.0], label=0),
    ]
    df = spark.createDataFrame(rows)
    out = simsearch.ivf_topk(df, n_queries=1, k=5, n_centroids=2).collect()
    # query 0 lives in the x-axis bucket: {0, 20, 21}; 30 must NOT appear
    assert sorted(r.neighbor_id for r in out) == [20, 21]


def test_components_from_pairs_long_chain_converges(spark):
    """Diameter-9 chain: bounded 4-round propagation provably cannot
    label the far end (it moves labels <= 4 hops), the fixpoint variant
    must. Also: ring, two components, isolated node."""
    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r.component_rep
           for r in dedup.components_from_pairs(nodes, chain).collect()}
    assert out == {i: 0 for i in range(10)}

    ring = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r.component_rep
           for r in dedup.components_from_pairs(nodes, ring).collect()}
    assert out == {i: 0 for i in range(10)}

    two = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (6, 7)], ["doc_a", "doc_b"]
    )
    out = {r.doc_id: r.component_rep
           for r in dedup.components_from_pairs(nodes, two).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}
    kept = {r.doc_id for r in dedup.components_from_pairs(nodes, two).collect()
            if r.is_kept}
    assert kept == {0, 3, 4, 5, 8, 9}


def test_fixpoint_verification_asserts(spark):
    """VERDICT r6 #8 — the kcore refuse-to-lie pattern on the other
    iterative resolvers: each must RAISE when its bound truncates the
    algorithm mid-flight instead of returning an unconverged labeling,
    and stay silent once the bound suffices."""
    import pytest

    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["doc_a", "doc_b"]
    )
    # pointer-jumping fixpoint resolver: max_rounds too small -> raise
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.components_from_pairs(nodes, chain, max_rounds=2).collect()
    # bounded resolver with verify_converged: diameter 9 > 4 rounds
    with pytest.raises(RuntimeError, match="still moving"):
        dedup.bounded_components_from_pairs(
            nodes, chain, rounds=4, verify_converged=True
        ).collect()
    # same graph, bound sufficient -> silent and correct
    ok = dedup.bounded_components_from_pairs(
        nodes, chain, rounds=9, verify_converged=True
    ).collect()
    assert {r.component_rep for r in ok} == {0}
    # verify_converged=False preserves the documented truncation
    trunc = dedup.bounded_components_from_pairs(
        nodes, chain, rounds=4, verify_converged=False
    ).collect()
    assert len({r.component_rep for r in trunc}) > 1


def test_bfs_hops_completeness_assert(spark):
    """bfs_hops must refuse a silently distance-capped result unless
    the caller opts into truncation."""
    import pytest

    from spot_anomalies_flink_workshop_resources_spark.operators.graph import (
        bfs_hops,
    )

    # path 0-1-2-...-9; only node 0 is a seed (seed_mod=100 with 0 in
    # range); farthest node is 9 hops away
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["x", "y"]
    )
    with pytest.raises(RuntimeError, match="frontier still expanding"):
        bfs_hops(edges, seed_mod=100, max_hops=3).collect()
    capped = bfs_hops(
        edges, seed_mod=100, max_hops=3, verify_complete=False
    ).collect()
    assert {r.node: r.hops for r in capped} == {0: 0, 1: 1, 2: 2, 3: 3}
    full = bfs_hops(edges, seed_mod=100, max_hops=9).collect()
    assert {r.node: r.hops for r in full} == {i: i for i in range(10)}


def test_dup_components_converged_on_document_chain(spark):
    """End-to-end: documents whose jaccard graph is a long chain
    (sliding 10-word windows, step 2: adjacent J=0.6, distance-2 J=1/3).
    The bounded 4-round operator leaves the chain fragmented — the
    documented reason the converged variant exists — while the fixpoint
    variant resolves one component."""
    words = [f"w{i:03d}" for i in range(40)]
    texts = [" ".join(words[s : s + 10]) for s in range(0, 30, 2)]  # 15 docs
    df = _docs(spark, texts)

    conv = dedup.dup_components_converged(df, threshold=0.5)
    reps = {r.component_rep for r in conv.collect()}
    assert reps == {0}, f"chain must collapse to one component, got {reps}"

    bounded = dedup.dup_components(df, threshold=0.5, rounds=4)
    bounded_reps = {r.component_rep for r in bounded.collect()}
    assert len(bounded_reps) > 1  # pins why the fixpoint variant exists


def test_argmax_assignment_matches_window_form(spark, sf_dir):
    """The zero-shuffle broadcast-argmax assignment must bucket every
    vector exactly like the join+window form the SQL oracles mirror
    (same nearest centroid, ties to the lower cent_id)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
    from spot_anomalies_flink_workshop_resources_spark.operators.simsearch import (
        _dot,
        _with_norm,
        assign_buckets_argmax,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    e = _with_norm(embs)
    cent = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos_c = _dot(F.col("emb"), F.col("c_emb")) / (F.col("norm") * F.col("c_norm"))
    wa = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    window_assign = {
        r.vec_id: r.cent_id
        for r in e.join(F.broadcast(cent))
        .select("vec_id", "cent_id", cos_c.alias("c_cos"))
        .withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .collect()
    }
    seeds = e.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    C = np.stack([np.asarray(r["emb"]) for r in seeds])
    argmax_assign = {
        r.vec_id: r.cent_id
        for r in assign_buckets_argmax(embs, C, n_probes=1).collect()
    }
    assert argmax_assign == window_assign


def test_trained_ivf_plan_has_no_vecid_exchange(spark, sf_dir):
    """Plan invariant (VERDICT r2 #3): the trained/production IVF path
    must not shuffle N×k scored rows through a vec_id window — the
    assignment is a narrow mapInPandas pass. The seeded oracle twin
    keeps the window exchange by design."""
    import numpy as np
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    seeds = embs.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    C = np.stack([np.asarray(r["embedding"], dtype=float) for r in seeds])

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # formatted mode prints the exchange's partitioning on an Arguments
    # line: "Arguments: hashpartitioning(vec_id#..., ...)"
    assert "hashpartitioning(vec_id" not in plan(
        simsearch.ivf_topk(embs, centroid_matrix=C)
    )
    assert "hashpartitioning(vec_id" in plan(simsearch.ivf_topk(embs))
    assert "hashpartitioning(vec_id" not in plan(
        dedup.embedding_near_dup_ivf_trained(embs, threshold=0.3, max_iters=1)
    )


def test_kmeans_centroids_recover_blobs(spark):
    """Spherical k-means on three well-separated direction blobs must
    place one centroid per blob (assignment purity 100%), and IVF search
    with trained centroids must bucket each blob together."""
    import numpy as np
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators import simsearch

    rng = np.random.RandomState(7)
    dirs = np.eye(3)  # three orthogonal blob directions in dim 3... use dim 8
    base = np.zeros((3, 8))
    base[0, 0] = base[1, 3] = base[2, 6] = 1.0
    rows = []
    for i in range(90):
        b = i % 3
        v = base[b] + rng.normal(0, 0.05, 8)
        rows.append(Row(vec_id=i, label=f"b{b}", embedding=[float(x) for x in v]))
    embs = spark.createDataFrame(rows)

    C = simsearch.kmeans_centroids(embs, n_centroids=3, max_iters=10)
    assert C.shape == (3, 8)
    # each blob's base direction must be closest to exactly one centroid
    cn = np.linalg.norm(C, axis=1)
    owners = set()
    for b in range(3):
        cos = (base[b] @ C.T) / (np.linalg.norm(base[b]) * cn)
        owners.add(int(cos.argmax()))
        assert cos.max() > 0.95, f"blob {b}: centroid not aligned ({cos.max()})"
    assert owners == {0, 1, 2}

    # trained-centroid IVF: neighbors of a query come from its own blob
    out = simsearch.ivf_topk(
        embs, n_queries=3, k=5,
        centroids=simsearch.centroids_frame(spark, C),
    ).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id % 3 == r.query_id % 3, (
            f"query {r.query_id} pulled neighbor {r.neighbor_id} from another blob"
        )


def test_multi_probe_ivf_recall_monotone(spark, sf_dir):
    """Recall vs brute force must be monotone in n_probes, and probing
    all centroids must recover brute-force results exactly."""
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
    from spot_anomalies_flink_workshop_resources_spark.operators import simsearch

    embs = load_table(spark, sf_dir, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in simsearch.brute_force_topk(embs).collect()
    }

    def recall(p):
        got = {
            (r.query_id, r.neighbor_id)
            for r in simsearch.ivf_topk(embs, n_probes=p).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r_all = recall(1), recall(2), recall(16)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0, f"probing every bucket must be exact (got {r_all})"


def test_top_terms_sketch_exact_and_guarded(spark, sf_dir):
    """Sketch-candidates + verify top-k equals the direct aggregation on
    real corpus data; an undersized capacity raises instead of returning
    a silently truncated ranking."""
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    from spot_anomalies_flink_workshop_resources_spark.plans.pipeline_ops import (
        corpus_top_terms,
    )

    want = [tuple(r) for r in corpus_top_terms(spark, sf_dir).collect()]
    got = [tuple(r) for r in text.top_terms_sketch(docs, k=50).collect()]
    assert got == want

    with pytest.raises(ValueError, match="cannot certify completeness"):
        text.top_terms_sketch(docs, k=50, capacity=2)


def test_top_terms_sketch_multi_partition_exact(spark, sf_dir):
    """Regression (round 10): with a MULTI-partition input each
    partition emits its own Misra-Gries summary, so a common token
    appears in many summaries — un-deduped candidates multiplied the
    verify join's n_occurrences by the partition count. The sketch must
    equal the direct aggregation at any input partitioning."""
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
    from spot_anomalies_flink_workshop_resources_spark.plans.pipeline_ops import (
        corpus_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents").repartition(8)
    want = [tuple(r) for r in corpus_top_terms(spark, sf_dir).collect()]
    got = [tuple(r) for r in text.top_terms_sketch(docs, k=50).collect()]
    assert got == want


def test_corpus_split_stable_and_exhaustive(spark):
    """The md5-bucket split must (a) assign every doc, (b) give the same
    assignment on a re-shuffled re-read — the contamination guard the
    operator exists for."""
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.plans.pipeline_ops import (
        corpus_split,
    )

    df = _docs(spark, [f"document number {i} text body" for i in range(200)])
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    split_col = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    a = {r.doc_id: r.s for r in df.select("doc_id", split_col.alias("s")).collect()}
    b = {
        r.doc_id: r.s
        for r in df.repartition(7)
        .select("doc_id", split_col.alias("s"))
        .collect()
    }
    assert a == b, "split assignment moved under repartitioning"
    assert len(a) == 200
    counts = {s: list(a.values()).count(s) for s in ("train", "valid", "test")}
    assert counts["train"] > counts["valid"] > 0 and counts["test"] > 0


def test_corpus_prep_gates_and_dedups(spark):
    """corpus_prep drops low-quality docs and exact duplicates before
    the rollup: a duplicated good doc counts once; junk counts zero."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans import pipeline_ops

    good = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "rests in the shade of a tall tree while the dog watches the road "
        "for a long while and they both enjoy the quiet afternoon sun"
    )
    rows = [
        Row(doc_id=0, text=good, lang="en", source="s0", n_chars=len(good)),
        Row(doc_id=1, text=good, lang="en", source="s0", n_chars=len(good)),
        Row(doc_id=2, text="@@@@ ####", lang="en", source="s0", n_chars=9),
    ]
    df = spark.createDataFrame(rows)

    import spot_anomalies_flink_workshop_resources_spark.plans.pipeline_ops as po

    orig = po._docs
    po._docs = lambda spark, sf_dir: df
    try:
        out = pipeline_ops.corpus_prep(spark, "ignored").collect()
    finally:
        po._docs = orig
    assert len(out) == 1
    r = out[0]
    assert (r.source, r.lang, r.n_docs) == ("s0", "en", 1)


def test_simhash_pairs_recall_guarantee_randomized(spark):
    """Pigeonhole recall: on random 32-bit fingerprints, the banded
    candidate join must find EVERY pair within hamming radius
    bands - 1 = 3 — compare against brute-force popcount."""
    import random

    rng = random.Random(99)
    fps = [(i, rng.getrandbits(32)) for i in range(80)]
    # plant near-dups at exact radii 1, 2, 3 off existing fingerprints
    base = fps[7][1]
    fps += [
        (1000, base ^ (1 << 31)),
        (1001, base ^ (1 << 3) ^ (1 << 17)),
        (1002, base ^ (1 << 0) ^ (1 << 8) ^ (1 << 16)),
    ]
    brute = {
        (a, b): bin(fa ^ fb).count("1")
        for (a, fa) in fps
        for (b, fb) in fps
        if a < b and bin(fa ^ fb).count("1") <= 3
    }
    df = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(df, bands=4, bits=32, max_hamming=3).collect()
    }
    assert got == brute
    assert {(7, 1000), (7, 1001), (7, 1002)} <= set(got)


def test_trained_near_dup_multiprobe_recovers_boundary_pair(spark):
    """A near-identical pair straddling a Voronoi boundary lands in two
    different buckets and is invisible to single-probe blocking; with
    n_probes=2 each side also probes its second-nearest bucket and the
    pair is recovered. Probe-2 results must be a superset of probe-1."""
    rows = []
    # two tight clusters along the axes; vec 0 / vec 1 double as k-means
    # seed starts (vec_id < n_centroids)
    for i in range(10):
        rows.append((i * 2, [1.0, 0.02 * i], 0))        # x cluster (even)
        rows.append((i * 2 + 1, [0.02 * i, 1.0], 0))    # y cluster (odd)
    rows += [(100, [1.0, 0.999], 0), (101, [0.999, 1.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")

    def pairs(n_probes):
        return {
            (r.vec_a, r.vec_b)
            for r in dedup.embedding_near_dup_ivf_trained(
                df, threshold=0.999, n_centroids=2, max_iters=3,
                n_probes=n_probes,
            ).collect()
        }

    p1, p2 = pairs(1), pairs(2)
    assert (100, 101) not in p1
    assert (100, 101) in p2
    assert p1 <= p2


def test_pq_recall_and_codebook_monotonicity(spark, sf_dir):
    """PQ ADC top-5 vs exact brute force on the embeddings table: the
    harness config (16 subspaces x 256 codes) clears a recall floor,
    and finer quantization (32 subspaces) improves it — the accuracy/
    compression dial working as designed."""
    from collections import defaultdict

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    bf = defaultdict(set)
    for r in simsearch.brute_force_topk(embs, n_queries=8, k=5).collect():
        bf[r.query_id].add(r.neighbor_id)

    def recall(m, n_codes):
        B = simsearch.pq_train(embs, m=m, n_codes=n_codes)
        got = defaultdict(set)
        for r in simsearch.pq_topk(embs, B, n_queries=8, k=5).collect():
            got[r.query_id].add(r.neighbor_id)
        return sum(len(got[q] & bf[q]) / len(bf[q]) for q in bf) / len(bf)

    r16 = recall(16, 256)
    r32 = recall(32, 256)
    assert r16 >= 0.5, r16
    assert r32 >= r16, (r32, r16)
    assert r32 >= 0.8, r32


def test_label_centroids_accuracy_and_partition_invariance(spark, sf_dir):
    """The fixed-point mean is within the quantization bound (5e-7 per
    component) of the true float mean, and bit-identical under an
    adversarial repartition (the property the 2^20 quantization buys)."""
    import numpy as np

    from collections import defaultdict

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    got = {
        r.label: (r.n_vecs, np.array(r.centroid))
        for r in simsearch.label_centroids(embs).collect()
    }
    by_label = defaultdict(list)
    for r in embs.collect():
        by_label[r.label].append(np.array(r.embedding, dtype=np.float64))
    for lab, vecs in by_label.items():
        n, cent = got[lab]
        assert n == len(vecs)
        true_mean = np.stack(vecs).mean(axis=0)
        assert np.abs(cent - true_mean).max() < 5e-7, lab

    shuffled = {
        r.label: tuple(r.centroid)
        for r in simsearch.label_centroids(embs.repartition(17)).collect()
    }
    assert shuffled == {lab: tuple(c) for lab, (_, c) in got.items()}


def test_kmeans_assignment_margin_dwarfs_ulp_noise(spark, sf_dir):
    """Verifies the MARGIN ASSUMPTION documented on kmeans_centroids:
    cross-engine bit-identity of the trained centroids needs every
    vector's top-1 vs top-2 cosine gap to exceed the ~1e-13 ulp
    divergence between NumPy BLAS and DuckDB's sequential list_sum
    fold, in EVERY Lloyd iteration. Replays the exact engine loop
    (same seeds, same fixed-point means) on the harness embeddings and
    measures the minimum gap across all vectors x iterations."""
    import numpy as np
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    k, iters, scale = 16, 5, 1 << 20
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    X = np.stack([np.asarray(r.emb) for r in rows])
    C = X[:k].copy()
    xn = np.linalg.norm(X, axis=1)
    min_gap = np.inf
    for _ in range(iters):
        cos = (X @ C.T) / (xn[:, None] * np.linalg.norm(C, axis=1)[None, :])
        top2 = np.partition(cos, -2, axis=1)[:, -2:]
        min_gap = min(min_gap, float((top2[:, 1] - top2[:, 0]).min()))
        a = cos.argmax(axis=1)
        Xq = np.floor(X * scale + 0.5).astype(np.int64)
        sums = np.zeros_like(C, dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        np.add.at(sums, a, Xq)
        cnts += np.bincount(a, minlength=k)
        means = (sums.astype(np.float64) / np.maximum(cnts, 1)[:, None]) / scale
        C = np.where(cnts[:, None] > 0, means, C)
    # engine twin must agree with this replay bit-for-bit
    trained = simsearch.kmeans_centroids(
        load_table(spark, sf_dir, "embeddings"), n_centroids=k,
        max_iters=iters, tol=0.0,
    )
    assert np.array_equal(trained, C)
    assert min_gap > 1e-6, min_gap  # 7 orders above cross-engine ulp noise


def test_ivfpq_exact_quantization_margins(spark, sf_dir):
    """The integer-exact IVF-PQ's one residual float is the unit-vector
    quantization: ``x_i/||x||*2^20`` must not sit within ulps of a
    half-integer boundary, or a 1-ulp norm difference between NumPy
    BLAS and DuckDB's list_sum fold could flip an int64 grid cell.
    Measures the min distance to the nearest rounding boundary over
    every component of every harness vector, and sanity-checks recall
    of the exact composition against brute force."""
    import numpy as np
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    rows = embs.select(
        F.col("embedding").cast("array<double>").alias("emb")
    ).collect()
    X = np.stack([np.asarray(r.emb) for r in rows])
    n = np.linalg.norm(X, axis=1, keepdims=True)
    g = (X / np.where(n == 0, 1.0, n)) * (1 << 20) + 0.5
    frac = np.abs(g - np.round(g))  # distance to the floor boundary
    assert float(frac.min()) > 1e-6, float(frac.min())

    from collections import defaultdict

    bf = defaultdict(set)
    for r in simsearch.brute_force_topk(embs, n_queries=8, k=5).collect():
        bf[r.query_id].add(r.neighbor_id)
    got = defaultdict(set)
    for r in simsearch.ivfpq_topk_exact(embs, n_queries=8, k=5).collect():
        got[r.query_id].add(r.neighbor_id)
    recall = sum(len(got[q] & bf[q]) / len(bf[q]) for q in bf) / len(bf)
    assert recall >= 0.5, recall


def test_ivfpq_index_layout_prunes_unprobed_lists(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ index layout (partitionBy cent_id) lets a
    probed-list scan touch only its lists: the plan shows the cent_id
    predicate as a PartitionFilter and the scan reads only the probed
    partition directories — the SCALE.md claim, demonstrated."""
    import glob

    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    C = simsearch.kmeans_centroids(embs, n_centroids=8, max_iters=3)
    B = simsearch.pq_train(embs)
    index = simsearch.pq_encode_with_buckets(embs, B, C)
    path = str(tmp_path / "ivfpq_index")
    index.write.partitionBy("cent_id").mode("overwrite").parquet(path)

    n_parts = len(glob.glob(path + "/cent_id=*"))
    assert n_parts > 4  # genuinely multi-list

    scan = spark.read.parquet(path).where(F.col("cent_id").isin([1, 3]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cent_id" in plan, plan
    # the engine-visible proof: only the two probed lists' rows come back
    assert set(
        r.cent_id for r in scan.select("cent_id").distinct().collect()
    ) <= {1, 3}
    # and the files ACTUALLY read during execution are only the probed
    # partitions' (input_file_name is recorded at scan time, after
    # partition pruning — unlike DataFrame.inputFiles, which reflects
    # the unpruned relation)
    read_files = [
        r[0] for r in scan.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    assert all("/cent_id=1/" in f or "/cent_id=3/" in f for f in read_files)


def test_ivfpq_recall_floor_and_probe_monotonicity(spark, sf_dir):
    """Composed IVF-PQ vs exact brute force: probing more inverted
    lists must not lose recall (nested candidate sets under a fixed ADC
    scorer, deterministic data), probing every list must equal pure PQ
    (the coarse stage adds no error of its own at full fan-out), and
    the harness config (2/16 probes) clears a recall floor."""
    from collections import defaultdict

    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    bf = defaultdict(set)
    for r in simsearch.brute_force_topk(embs, n_queries=8, k=5).collect():
        bf[r.query_id].add(r.neighbor_id)
    C = simsearch.kmeans_centroids(embs, n_centroids=16, max_iters=5)
    B = simsearch.pq_train(embs, m=16, n_codes=256)

    def harvest(df):
        got = defaultdict(set)
        for r in df.collect():
            got[r.query_id].add(r.neighbor_id)
        return got

    def recall(got):
        return sum(len(got[q] & bf[q]) / len(bf[q]) for q in bf) / len(bf)

    by_probe = {
        p: harvest(
            simsearch.ivfpq_topk(
                embs, codebooks=B, centroid_matrix=C, n_probes=p
            )
        )
        for p in (1, 2, 16)
    }
    r1, r2, r_all = (recall(by_probe[p]) for p in (1, 2, 16))
    assert r1 <= r2 <= r_all, (r1, r2, r_all)
    assert r2 >= 0.4, r2
    # full fan-out == scan-all PQ: the composition degrades to pq_topk
    pq = harvest(simsearch.pq_topk(embs, B, n_queries=8, k=5))
    assert by_probe[16] == pq


def test_bm25_ranking_and_formula(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators import retrieval

    # 3 docs: doc0 is stuffed with the query term, doc1 mentions it once
    # in a longer doc, doc2 never — doc2 must not appear at all
    df = _docs(
        spark,
        [
            "cat cat cat",
            "cat dog bird fish mouse horse",
            "dog bird fish",
        ],
    )
    out = retrieval.bm25_topk(df, queries=[(7, "cat")], k=10).collect()
    by_rank = sorted(out, key=lambda r: r.rank)
    assert [r.doc_id for r in by_rank] == [0, 1]
    assert all(r.query_id == 7 for r in out)
    assert by_rank[0].score > by_rank[1].score > 0
    # hand-computed BM25 (k1=1.2, b=0.75): N=3, df=2, avgdl=4
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    for r, tf, dl in [(by_rank[0], 3.0, 3.0), (by_rank[1], 1.0, 6.0)]:
        expect = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.0))
        assert abs(r.score - expect) < 1e-12


def test_bm25_multi_term_sums_contributions(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators import retrieval

    df = _docs(spark, ["cat dog", "cat cat", "dog dog"])
    one = {
        (r.query_id, r.doc_id): r.score
        for r in retrieval.bm25_topk(
            df, queries=[(0, "cat"), (1, "dog")], k=10
        ).collect()
    }
    both = {
        r.doc_id: r.score
        for r in retrieval.bm25_topk(df, queries=[(0, "cat dog")], k=10).collect()
    }
    # doc0 matches both terms: its two-term score is the sum of the
    # single-term scores; single-term docs carry their one contribution
    assert abs(both[0] - (one[(0, 0)] + one[(1, 0)])) < 1e-12
    assert abs(both[1] - one[(0, 1)]) < 1e-12
    assert abs(both[2] - one[(1, 2)]) < 1e-12


def test_lm_score_flags_out_of_distribution_docs(spark):
    # 9 docs share a repetitive trigram distribution; one is gibberish —
    # its average nll (and perplexity) must be the corpus max
    common = ["the cat sat on the mat " * 3] * 9
    df = _docs(spark, common + ["zqxjkwvb qpzm xkcd vwxyz"])
    out = {r.doc_id: r for r in text.lm_score(df).collect()}
    assert len(out) == 10
    gib = out[9]
    assert all(gib.avg_nll > out[i].avg_nll for i in range(9))
    assert all(gib.perplexity > out[i].perplexity for i in range(9))
    # n_grams = length - 2 for trigrams
    assert out[0].n_grams == len(common[0]) - 2
    assert abs(out[0].perplexity - math.exp(out[0].avg_nll)) < 1e-12


def test_lm_score_skips_sub_n_docs(spark):
    df = _docs(spark, ["ab", "abcd"])
    rows = text.lm_score(df).collect()
    assert [r.doc_id for r in rows] == [1]


def test_lang_mismatch_flags_mislabeled_doc(spark):
    from pyspark.sql import Row

    # two distinct "languages" by character distribution; doc 6 carries
    # lang-B text under an A label and must be flagged
    a_texts = ["aaab aaba abaa " * 4] * 3
    b_texts = ["zzzy zzyz zyzz " * 4] * 3
    rows = (
        [Row(doc_id=i, text=t, lang="aa", source="s", n_chars=len(t))
         for i, t in enumerate(a_texts)]
        + [Row(doc_id=3 + i, text=t, lang="bb", source="s", n_chars=len(t))
           for i, t in enumerate(b_texts)]
        + [Row(doc_id=6, text=b_texts[0], lang="aa", source="s",
               n_chars=len(b_texts[0]))]
    )
    out = {r.doc_id: r for r in text.lang_mismatch(spark.createDataFrame(rows)).collect()}
    assert len(out) == 7
    assert out[6].is_mismatch and out[6].best_lang == "bb"
    assert out[6].best_nll < out[6].own_nll
    for i in range(6):
        assert not out[i].is_mismatch, i


def test_incremental_dedup_flags_batch_dups_only(spark):
    """A batch doc (id % 10 == 0) duplicating a history doc is flagged
    with the right partner; a history-history duplicate pair produces
    NO output row (that work belongs to history's own ingest); an
    identical pair reports jaccard 1.0."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),                      # batch dup of 3
            Row(doc_id=3, text=base),                       # history original
            Row(doc_id=7, text="completely different words here entirely"),
            Row(doc_id=8, text="completely different words here entirely"),
            # history-history dup pair (7, 8): must NOT appear
            Row(doc_id=20, text="unique snowflake content nothing matches"),
        ]
    )
    out = {r.doc_id: r for r in incremental_minhash_dedup(docs).collect()}
    assert set(out) == {10}
    assert out[10].dup_of == 3
    assert out[10].jaccard == 1.0


def test_events_ewma_matches_reference_fold(spark, sf_dir):
    """The engine EWMA equals a driver-side replay of the identical
    fold over the same daily means (order: day asc, zero init)."""
    from collections import defaultdict

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_ewma,
    )
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
    from pyspark.sql import functions as F

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("string")
                .cast("double")
                / F.count("value")
            ).alias("mu")
        )
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r.event_type].append((r.day, r.mu))
    expect = {}
    for et, pairs in series.items():
        acc = 0.0
        for _, mu in sorted(pairs):
            acc = acc * 0.875 + mu * 0.125
        expect[et] = (len(pairs), acc)
    got = {
        r.event_type: (r.n_days, r.ewma)
        for r in events_ewma(spark, sf_dir).collect()
    }
    assert got == expect


def test_duplicate_span_stats_fixture(spark):
    """Hand-counted 3-gram fixture: a doc whose entire text recurs in
    another doc has dup_frac 1.0 and is dropped; a unique doc keeps;
    within-doc repetition counts as duplication; sub-n docs emit
    n_grams=0 / NULL frac / keep."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.dedup import (
        duplicate_span_stats,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d"),          # grams: "a b c","b c d"
            Row(doc_id=1, text="a b c d"),          # identical -> both dup
            Row(doc_id=2, text="x y z w v"),        # unique -> keep
            Row(doc_id=3, text="p q r p q r p q"),  # self-repeating
            Row(doc_id=4, text="t u"),              # sub-n
        ]
    )
    out = {
        r.doc_id: (r.n_grams, r.n_dup_grams, r.dup_frac, r.keep)
        for r in duplicate_span_stats(docs, n=3, keep_max_frac=0.3).collect()
    }
    assert out[0] == (2, 2, 1.0, False)
    assert out[1] == (2, 2, 1.0, False)
    assert out[2] == (3, 0, 0.0, True)
    # doc 3 grams: pqr,qrp,rpq,pqr,qrp,rpq -> every gram occurs twice
    assert out[3] == (6, 6, 1.0, False)
    assert out[4] == (0, 0, None, True)


def test_equidepth_partitions_and_orders(spark, sf_dir):
    """Deciles cover the table exactly (populations sum to the row
    count), boundaries are non-decreasing, and each bucket holds
    ~n/10 rows (within one distinct-value mass of the target)."""
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_equidepth,
    )

    n = load_table(spark, sf_dir, "events").count()
    rows = sorted(events_equidepth(spark, sf_dir).collect(),
                  key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_rows for r in rows) == n
    his = [r.hi_value for r in rows]
    assert his == sorted(his)


def test_hourly_corr_planted_signals(spark, tmp_path):
    """Two types firing in the same hours correlate at ~+1; a type
    firing exactly in the other's silent hours at ~-1."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_hourly_corr,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows, eid = [], 0
    for h in range(24):
        burst = h % 2 == 0
        for t in (["a", "b"] if burst else ["c"]):
            for _ in range(3 if burst else 3):
                eid += 1
                rows.append(
                    Row(event_id=eid, ts=t0 + dt.timedelta(hours=h),
                        user_id=1, event_type=t, value=1.0, props="{}")
                )
    d = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = {(r.ta, r.tb): r.corr for r in events_hourly_corr(spark, d).collect()}
    assert out[("a", "b")] == pytest.approx(1.0)
    assert out[("a", "c")] == pytest.approx(-1.0)
    assert out[("b", "c")] == pytest.approx(-1.0)


def test_copair_support_hand_counted(spark, tmp_path):
    """3 baskets: {a,b}, {a,b,c}, {a}. support(a,b)=2, lift(a,b)=
    2*3/(3*2)=1.0; support(b,c)=1, lift=3/(2*1)=1.5."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_copair_support,
    )

    t0 = dt.datetime(2026, 1, 1, 6)
    rows = []
    eid = 0
    baskets = [(1, 0, ["a", "b"]), (1, 1, ["a", "b", "c"]), (2, 0, ["a"])]
    for u, day_off, types in baskets:
        for t in types:
            eid += 1
            rows.append(
                Row(event_id=eid, ts=t0 + dt.timedelta(days=day_off),
                    user_id=u, event_type=t, value=1.0, props="{}")
            )
    d = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{d}/events.parquet"
    )
    out = {
        (r.ta, r.tb): (r.support, r.lift)
        for r in events_copair_support(spark, d).collect()
    }
    assert out[("a", "b")] == (2, 1.0)
    assert out[("b", "c")] == (1, 1.5)
    assert out[("a", "c")] == (1, 1.0)


def test_containment_catches_doc_in_doc(spark):
    """A short doc verbatim inside a much longer one: containment 1.0
    even though jaccard is far below any dedup threshold — the case
    the asymmetric score exists for. The prefix filter must surface
    it by the recall guarantee (the smaller doc's rarest-prefix cannot
    all be missing when containment >= tau)."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.dedup import (
        containment_pairs,
    )

    inner = "zephyr quartz baffled jovial knights vexed whimsy dunes"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=inner),
            Row(doc_id=2, text=filler + " " + inner + " " + filler[::-1].lower()),
            Row(doc_id=3, text="entirely unrelated content here present"),
        ]
    )
    out = {(r.doc_a, r.doc_b): r for r in containment_pairs(docs).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.containment == 1.0
    assert r.jaccard < 0.3
    assert not any(3 in k for k in out)


def test_cusum_locates_planted_level_shift(spark, tmp_path):
    """A series flat at 10 for 20 days then at 30 for 10 days: the
    one-sided CUSUM peaks at the LAST day (drift keeps accumulating
    after the shift), and a flat control type stays near zero."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_cusum,
    )

    t0 = dt.datetime(2026, 1, 1, 12)
    rows, eid = [], 0
    for d in range(30):
        for t, v in (("shift", 10.0 if d < 20 else 30.0), ("flat", 5.0)):
            eid += 1
            rows.append(
                Row(event_id=eid, ts=t0 + dt.timedelta(days=d), user_id=1,
                    event_type=t, value=v, props="{}")
            )
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    out = {r.event_type: r for r in events_cusum(spark, p).collect()}
    # shift type: mean = 10*2/3 + 30/3 = 50/3; deviations -20/3 then
    # +40/3; cusum stays 0 until the shift then climbs to 10*40/3
    assert out["shift"].max_cusum == pytest.approx(400 / 3)
    assert out["shift"].change_day == t0.replace(hour=0) + dt.timedelta(days=29)
    assert out["flat"].max_cusum == pytest.approx(0.0, abs=1e-9)


def test_score_auc_hand_computed_with_ties(spark, tmp_path):
    """pos scores {3,2} vs neg {1,2,3}: 4 wins + 2 half-ties over 6
    pairs -> AUC = 2/3 exactly (u2 = 8 of 12)."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_auc,
    )

    t0 = dt.datetime(2026, 1, 1)
    vals = [("error", 3.0), ("error", 2.0),
            ("click", 1.0), ("click", 2.0), ("view", 3.0)]
    rows = [
        Row(event_id=i, ts=t0, user_id=1, event_type=t, value=v, props="{}")
        for i, (t, v) in enumerate(vals)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    r = events_score_auc(spark, p).collect()[0]
    assert (r.n_pos, r.n_neg, r.u2) == (2, 3, 8)
    assert r.auc == pytest.approx(2 / 3, abs=0)


def test_score_auc_matches_rank_reference(spark, sf_dir):
    """The histogram form equals the textbook Mann-Whitney average-rank
    formula computed independently in numpy on the raw table."""
    import numpy as np
    import pyarrow.parquet as pq

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_auc,
    )

    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    v = np.floor(np.asarray(t["value"], dtype=np.float64) * 100 + 0.5)
    pos = np.asarray(t["event_type"].to_pylist()) == "error"
    # average ranks with tie handling (1-based), numpy-only rankdata
    _, inv, cnt = np.unique(v, return_inverse=True, return_counts=True)
    start = np.cumsum(cnt) - cnt
    ranks = (start + (cnt + 1) / 2)[inv]
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    u = ranks[pos].sum() - n_pos * (n_pos + 1) / 2
    expect = u / (n_pos * n_neg)
    r = events_score_auc(spark, sf_dir).collect()[0]
    assert (r.n_pos, r.n_neg) == (n_pos, n_neg)
    assert r.auc == pytest.approx(expect, rel=1e-12)


def test_cdc_diff_classifies_changes(spark, tmp_path):
    """Hand-built log: one updated, one deleted (error marker), one
    added between the two cuts; an unchanged key stays out."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_cdc_diff,
    )

    t_before = dt.datetime(2024, 1, 5)
    t_mid = dt.datetime(2024, 1, 12)
    rows = [
        # user 1: present at t1, re-upserted before t2 -> updated
        Row(event_id=1, ts=t_before, user_id=1, event_type="click",
            value=1.0, props="{}"),
        Row(event_id=2, ts=t_mid, user_id=1, event_type="view",
            value=2.0, props="{}"),
        # user 2: present at t1, deleted (error) before t2 -> deleted
        Row(event_id=3, ts=t_before, user_id=2, event_type="click",
            value=3.0, props="{}"),
        Row(event_id=4, ts=t_mid, user_id=2, event_type="error",
            value=0.0, props="{}"),
        # user 3: first appears between cuts -> added
        Row(event_id=5, ts=t_mid, user_id=3, event_type="click",
            value=5.0, props="{}"),
        # user 4: untouched between cuts -> absent from the diff
        Row(event_id=6, ts=t_before, user_id=4, event_type="view",
            value=6.0, props="{}"),
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    got = {r.user_id: r.change for r in events_cdc_diff(spark, p).collect()}
    assert got == {1: "updated", 2: "deleted", 3: "added"}


def test_quantile_transform_midrank_with_ties(spark, tmp_path):
    """values [1,2,2,3] -> mid-rank percentiles 0.25 / 0.625 / 1.0."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_quantile_transform,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=i, ts=t0, user_id=1, event_type="click",
            value=v, props="{}")
        for i, v in enumerate([1.0, 2.0, 2.0, 3.0])
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    got = {r.event_id: r.pct_rank
           for r in events_quantile_transform(spark, p).collect()}
    assert got == {0: 0.25, 1: 0.625, 2: 0.625, 3: 1.0}


def test_session_paths_caps_at_five(spark, tmp_path):
    """Seven same-day events -> path of the FIRST five only; two
    user-days with the same opening sequence aggregate to n=2."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_session_paths,
    )

    t0 = dt.datetime(2024, 1, 1, 8)
    seq = ["a", "b", "c", "d", "e", "f", "g"]
    rows = [
        Row(event_id=i, ts=t0 + dt.timedelta(minutes=i), user_id=1,
            event_type=t, value=1.0, props="{}")
        for i, t in enumerate(seq)
    ] + [
        Row(event_id=100 + i, ts=t0 + dt.timedelta(days=1, minutes=i),
            user_id=2, event_type=t, value=1.0, props="{}")
        for i, t in enumerate(["a", "b", "c", "d", "e"])
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    got = {r.path: r.n_user_days
           for r in events_session_paths(spark, p).collect()}
    assert got == {"a>b>c>d>e": 2}


def test_copurchase_recs_rank_and_support_floor(spark, tmp_path):
    """Part 1 co-occurs with 2 (3 orders), 3 and 4 (2 each, tie broken
    by id), 5 (1 order — below support, excluded)."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        sql_copurchase_recs,
    )

    baskets = [[1, 2], [1, 2], [1, 2], [1, 3], [1, 3], [1, 4], [1, 4], [1, 5]]
    rows = [
        Row(l_orderkey=o, l_partkey=p, l_linenumber=i + 1)
        for o, parts in enumerate(baskets, start=1)
        for i, p in enumerate(parts)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/lineitem.parquet"
    )
    got = [
        (r.rank, r.rec_partkey, r.n_orders)
        for r in sql_copurchase_recs(spark, p)
        .where("p_partkey = 1")
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, 2, 3), (2, 3, 2), (3, 4, 2)]


def test_score_pr_hand_computed_sweep(spark, tmp_path):
    """pos values {450, 90}, neg {30, 250} against the $50/$100/$200/
    $400 thresholds — hand-checked confusion cells and exact ratios."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_pr,
    )

    t0 = dt.datetime(2024, 1, 1)
    vals = [("error", 450.0), ("error", 90.0),
            ("click", 30.0), ("view", 250.0)]
    rows = [
        Row(event_id=i, ts=t0, user_id=1, event_type=t, value=v, props="{}")
        for i, (t, v) in enumerate(vals)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    got = {
        r.threshold_cents: (r.tp, r.fp, r.fn, r.precision, r.recall, r.f1)
        for r in events_score_pr(spark, p).collect()
    }
    assert got[5000] == (2, 1, 0, 2 / 3, 1.0, 0.8)
    assert got[10000] == (1, 1, 1, 0.5, 0.5, 0.5)
    assert got[20000] == (1, 1, 1, 0.5, 0.5, 0.5)
    assert got[40000] == (1, 0, 1, 1.0, 0.5, 2 / 3)


def test_multimodal_integrity_flags_planted_truncation(spark, tmp_path):
    """doc 0 (%17==0) loses its PNG header -> header_mismatch sniffed
    as octet-stream; the undamaged docs all sniff as declared."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.pipeline_ops import (
        multimodal_integrity,
    )

    rows = [
        Row(doc_id=i, text=f"doc body {i}", lang="en", source="s0",
            n_chars=10)
        for i in range(8)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/documents.parquet"
    )
    out = multimodal_integrity(spark, p).collect()
    bad = [r for r in out if r.status == "header_mismatch"]
    ok = [r for r in out if r.status == "ok"]
    assert len(bad) == 1
    assert bad[0].declared_type == "image/png"
    assert bad[0].sniffed_type == "application/octet-stream"
    assert bad[0].n_media == 1
    # 7 undamaged docs across the other cells, all sniff == declared
    assert sum(r.n_media for r in ok) == 7
    assert all(r.declared_type == r.sniffed_type for r in ok)


def test_cms_overestimates_only_and_matches_reference(spark):
    """CMS guarantee on a forced-collision config (w=2, d=1): every
    estimate >= truth, and each equals the Python-reference bucket sum."""
    import hashlib

    from spot_anomalies_flink_workshop_resources_spark.operators.text import (
        cms_error_profile,
    )

    df = _docs(spark, ["a a a b b c", "c d d d d e"])
    out = {
        r.term: (r.true_n, r.cms_n, r.overestimate)
        for r in cms_error_profile(df, d=1, w=2, k=10).collect()
    }
    truth = {"a": 3, "b": 2, "c": 2, "d": 4, "e": 1}

    def bucket(tok):
        return int(hashlib.md5(f"0:{tok}".encode()).hexdigest()[:8], 16) % 2

    sums = {0: 0, 1: 0}
    for t, n in truth.items():
        sums[bucket(t)] += n
    for t, (tn, cn, over) in out.items():
        assert tn == truth[t]
        assert cn == sums[bucket(t)]
        assert cn >= tn and over == cn - tn


def test_rfm_segments_fixture(spark, tmp_path):
    """One active/frequent/high customer vs one lapsed/rare/low."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        sql_rfm_segments,
    )

    rows = [
        Row(o_orderkey=k, o_custkey=1, o_orderstatus="F",
            o_totalprice=250000.0,
            o_orderdate=dt.datetime(2000, 1, 1) + dt.timedelta(days=k),
            o_orderpriority="1-URGENT")
        for k in range(16)  # 16 orders, 4M revenue, recent
    ] + [
        Row(o_orderkey=100, o_custkey=2, o_orderstatus="F",
            o_totalprice=5000.0, o_orderdate=dt.datetime(1995, 6, 1),
            o_orderpriority="5-LOW"),
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/orders.parquet"
    )
    got = {
        (r.recency, r.frequency, r.monetary): (r.n_customers, r.revenue)
        for r in sql_rfm_segments(spark, p).collect()
    }
    assert got[("active", "frequent", "high")] == (1, 4000000.0)
    assert got[("lapsed", "rare", "low")] == (1, 5000.0)
    assert len(got) == 2


def test_rollup_reconciliation_fixture(spark, tmp_path):
    """One order reconciles to the cent, one drifts, one has no
    detail lines — the three report legs, hand-checked."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        dq_rollup_reconciliation,
    )

    li = [
        # order 1: 100 * (1-0.1) * (1+0.05) = 94.50 exactly
        Row(l_orderkey=1, l_partkey=1, l_linenumber=1,
            l_extendedprice=100.0, l_discount=0.1, l_tax=0.05),
        # order 2: detail sums to 200, header says 210 -> drift
        Row(l_orderkey=2, l_partkey=2, l_linenumber=1,
            l_extendedprice=200.0, l_discount=0.0, l_tax=0.0),
    ]
    orders = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
            o_totalprice=94.50, o_orderdate=dt.datetime(1999, 1, 1),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=2, o_custkey=1, o_orderstatus="F",
            o_totalprice=210.0, o_orderdate=dt.datetime(1999, 1, 2),
            o_orderpriority="1-URGENT"),
        Row(o_orderkey=3, o_custkey=2, o_orderstatus="O",
            o_totalprice=50.0, o_orderdate=dt.datetime(1999, 1, 3),
            o_orderpriority="1-URGENT"),  # headerless of detail
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(li).write.mode("overwrite").parquet(
        f"{p}/lineitem.parquet"
    )
    spark.createDataFrame(orders).write.mode("overwrite").parquet(
        f"{p}/orders.parquet"
    )
    got = {r.o_orderstatus: r for r in dq_rollup_reconciliation(spark, p).collect()}
    f = got["F"]
    assert (f.n_orders, f.n_no_detail, f.n_reconciled) == (2, 0, 1)
    assert f.header_total == 304.5 and f.detail_total == 294.5
    o = got["O"]
    assert (o.n_orders, o.n_no_detail, o.n_reconciled) == (1, 1, 0)
    assert o.detail_total == 0.0


def test_top_eigen_recovers_planted_direction(spark):
    """Vectors spread widely along d1 and barely along d2: the power
    iteration must align with d1 (|cos| > 0.999) and match numpy's
    exact eigenvector of the same quantized covariance."""
    import numpy as np
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.simsearch import (
        DIM,
        top_eigen,
    )

    rng = np.random.RandomState(7)
    d1 = np.zeros(DIM); d1[3] = 1.0
    d2 = np.zeros(DIM); d2[17] = 1.0
    X = np.stack([
        float(a) * d1 + float(b) * 0.05 * d2
        for a, b in zip(rng.randn(200), rng.randn(200))
    ])
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in X[i]], label=0)
         for i in range(200)]
    )
    out = top_eigen(df)
    v = np.zeros(DIM)
    for r in out.collect():
        v[r.idx] = r.component
    cos = abs(v @ d1) / np.linalg.norm(v)
    assert cos > 0.999, cos


def test_holt_trend_matches_python_fold_on_line(spark, tmp_path):
    """Daily means on an exact line 100 + 10d: the Spark fold must
    equal the bit-identical Python replica, and after 20 days the
    trend tracks the slope closely enough to forecast the next point."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_holt_trend,
    )

    t0 = dt.datetime(2024, 1, 1, 6)
    rows = [
        Row(event_id=d, ts=t0 + dt.timedelta(days=d), user_id=1,
            event_type="click", value=100.0 + 10.0 * d, props="{}")
        for d in range(20)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    lvl = tr = 0.0
    for d in range(20):
        x = 100.0 + 10.0 * d
        new = x * 0.25 + (lvl + tr) * 0.75
        tr = (new - lvl) * 0.125 + tr * 0.875
        lvl = new
    r = events_holt_trend(spark, p).collect()[0]
    assert (r.level, r.trend) == (lvl, tr)  # bit-identical fold
    nxt = 100.0 + 10.0 * 20
    assert abs(r.forecast_next - nxt) / nxt < 0.15


def test_ship_survival_km_with_censoring(spark, tmp_path):
    """Three orders: events at t=1, t=2, and one never-shipped order
    censored at the horizon (t=2). KM: S(1)=2/3, S(2)=(2/3)*(1/2) —
    the censored order holds the at-risk set at 2 for the second step
    without ever counting as an event."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        sql_ship_survival,
    )

    d0 = dt.datetime(2024, 1, 1)
    orders = [
        Row(o_orderkey=k, o_custkey=1, o_orderstatus="F", o_totalprice=1.0,
            o_orderdate=d0, o_orderpriority="1-URGENT")
        for k in (1, 2, 3)
    ]
    li = [
        Row(l_orderkey=1, l_partkey=1, l_linenumber=1, l_quantity=1.0,
            l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="N", l_linestatus="O",
            l_shipdate=d0 + dt.timedelta(days=1)),
        Row(l_orderkey=2, l_partkey=1, l_linenumber=1, l_quantity=1.0,
            l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
            l_returnflag="N", l_linestatus="O",
            l_shipdate=d0 + dt.timedelta(days=2)),
        # order 3 has no lineitems -> censored at horizon (t=2)
    ]
    p = str(tmp_path / "sf")
    spark.createDataFrame(orders).write.mode("overwrite").parquet(
        f"{p}/orders.parquet"
    )
    spark.createDataFrame(li).write.mode("overwrite").parquet(
        f"{p}/lineitem.parquet"
    )
    got = {r.delay_days: (r.n_at_risk, r.n_events, r.survival)
           for r in sql_ship_survival(spark, p).collect()}
    s1 = 1.0 * (1.0 - 1.0 / 3.0)
    assert got == {1: (3, 1, s1), 2: (2, 1, s1 * (1.0 - 1.0 / 2.0))}


def _pava_fitted(rates, weights):
    """Weighted PAVA returning the fitted value per input position."""
    blocks = []  # (count, sum_w, sum_wy)
    for r, w in zip(rates, weights):
        blocks.append([1, w, w * r])
        while len(blocks) > 1 and (
            blocks[-2][2] / blocks[-2][1] >= blocks[-1][2] / blocks[-1][1]
        ):
            c2, w2, s2 = blocks.pop()
            c1, w1, s1 = blocks.pop()
            blocks.append([c1 + c2, w1 + w2, s1 + s2])
    out = []
    for c, w, s in blocks:
        out.extend([s / w] * c)
    return out


def test_isotonic_minimax_equals_pava_reference(spark, sf_dir):
    """The query's max-min-average form must match the textbook
    stack-based weighted PAVA on the real bucket frame (values up to
    float tolerance — the two algorithms order float ops differently,
    pooled averages vs interval averages)."""
    import duckdb

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_isotonic,
    )

    out = {r.bucket: r for r in events_score_isotonic(spark, sf_dir).collect()}
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT LEAST(CAST(FLOOR(value / 5.0) AS BIGINT), 112) AS b,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS p
        FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    rates = [p / n for _, n, p in rows]
    weights = [n for _, n, _ in rows]
    fitted = _pava_fitted(rates, weights)
    for (b, n, p), f in zip(rows, fitted):
        assert out[b].rate_iso == pytest.approx(f, rel=1e-9), (b, f)
    # monotone non-decreasing by construction
    got = [out[b].rate_iso for b, _, _ in rows]
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))


def test_isotonic_pools_violation_fixture(spark, tmp_path):
    """Buckets with raw rates 0, 1, 0 (equal weights) must pool the
    violating pair to 1/2 while the leading 0 stays."""
    import datetime as dt

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_isotonic,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for b, (n_pos, n_neg) in {0: (0, 2), 1: (2, 0), 2: (0, 2)}.items():
        for _ in range(n_pos):
            eid += 1
            rows.append(Row(event_id=eid, ts=t0, user_id=1,
                            event_type="error", value=2.0 + 5.0 * b,
                            props="{}"))
        for _ in range(n_neg):
            eid += 1
            rows.append(Row(event_id=eid, ts=t0, user_id=1,
                            event_type="click", value=2.0 + 5.0 * b,
                            props="{}"))
    p = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p}/events.parquet"
    )
    got = {r.bucket: (r.rate_raw, r.rate_iso)
           for r in events_score_isotonic(spark, p).collect()}
    assert got[0] == (0.0, 0.0)
    assert got[1] == (1.0, 0.5)
    assert got[2] == (0.0, 0.5)


def test_isotonic_minimax_equals_pava_on_random_series(spark, tmp_path):
    """Randomized rates/weights: the query's minimax must equal the
    stack PAVA reference on shapes beyond the real bucket frame."""
    import datetime as dt
    import random

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_score_isotonic,
    )

    rng = random.Random(31337)
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    spec = []  # (bucket, n, pos)
    for b in range(12):
        n = rng.randint(1, 6)
        p = rng.randint(0, n)
        spec.append((b, n, p))
        for i in range(n):
            eid += 1
            rows.append(
                Row(event_id=eid, ts=t0, user_id=1,
                    event_type="error" if i < p else "click",
                    value=2.0 + 5.0 * b, props="{}")
            )
    p_dir = str(tmp_path / "sf")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        f"{p_dir}/events.parquet"
    )
    fitted = _pava_fitted(
        [p / n for _, n, p in spec], [n for _, n, _ in spec]
    )
    got = {r.bucket: r.rate_iso
           for r in events_score_isotonic(spark, p_dir).collect()}
    for (b, n, p), f in zip(spec, fitted):
        assert got[b] == pytest.approx(f, rel=1e-12), (b, f, got[b])


def test_top_eigen_degenerate_constant_corpus_matches_oracle(spark):
    """All-constant embeddings give a zero covariance: the Python loop
    breaks at m=0 and the SQL twin must carry v forward via its m=0
    guard (ADVICE r5) instead of emitting NULLs — both sides land on
    the identity trajectory (component 1.0, lambda 0)."""
    import duckdb
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.simsearch import (
        DIM,
        top_eigen,
        top_eigen_sql,
    )

    rows = [
        Row(vec_id=i, embedding=[0.25] * DIM, label=0) for i in range(5)
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.idx: (r.component, r.lambda_inf) for r in top_eigen(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS SELECT i AS vec_id, "
        f"array_value({', '.join(['0.25'] * DIM)}) AS embedding, "
        "0 AS label FROM generate_series(0, 4) t(i)"
    )
    want = {
        int(r[0]): (float(r[1]), float(r[2]))
        for r in con.sql(top_eigen_sql()).fetchall()
    }
    assert got == want
    assert all(v == (1.0, 0.0) for v in got.values())


def test_rrf_fusion_combines_disagreeing_rankings(spark):
    """Cosine ties v1/v2 (break by id), dot favors the long vector,
    euclidean favors the close one — the fused order must equal the
    Python recomputation with integer 2^40//(60+r) contributions."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0], label=0),   # the query
        Row(vec_id=1, embedding=[10.0, 0.0], label=0),  # far but parallel
        Row(vec_id=2, embedding=[0.5, 0.0], label=0),   # close, parallel
        Row(vec_id=3, embedding=[0.0, 1.0], label=0),   # orthogonal
    ]
    df = spark.createDataFrame(rows)
    out = simsearch.rrf_fusion(df, n_queries=1, k_lists=3, k_out=3).collect()
    got = [(r.neighbor_id, r.r_cos, r.r_dot, r.r_l2) for r in out]
    # ranks: cos v1=1 v2=2 v3=3; dot v1=1 v2=2 v3=3; l2 v2=1 v3=2 v1=3
    f = lambda r: (1 << 40) // (60 + r)
    scores = {
        1: 2 * f(1) + f(3),
        2: 2 * f(2) + f(1),
        3: 2 * f(3) + f(2),
    }
    expect_order = sorted(scores, key=lambda n: (-scores[n], n))
    assert [g[0] for g in got] == expect_order
    assert got[0][1:] == (1, 1, 3) if got[0][0] == 1 else True
    by_id = {r.neighbor_id: r.rrf_score for r in out}
    for n, s in scores.items():
        assert by_id[n] == pytest.approx(s / float(1 << 40), rel=1e-12)


def test_bigram_lm_matches_python_recomputation(spark):
    """One-source corpus 'a b a b' + 'b c': recompute the interpolated
    model and the quantized nll in Python and match exactly."""
    import math

    df = _docs(spark, ["a b a b", "b c"])
    out = {r.source: r for r in text.bigram_lm_by_source(df).collect()}
    r = out["s0"]
    # bigrams: (a,b)x2, (b,a)x1, (b,c)x1 -> n=4
    cvw = {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}
    cv = {"a": 2, "b": 2}
    cw = {"a": 2, "b": 3, "c": 1}
    N, V = 6, 3
    q = {
        k: math.floor(
            math.log(0.75 * (c / cv[k[0]]) + 0.25 * ((cw[k[1]] + 1) / (N + V)))
            * 1048576.0
            + 0.5
        )
        for k, c in cvw.items()
    }
    nll_int = -(2 * q[("a", "b")] + q[("b", "a")] + q[("b", "c")])
    assert r.n_bigrams == 4
    assert r.mean_nll == (nll_int / 4.0) / 1048576.0

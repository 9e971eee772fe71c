"""Torture test for the shared-pass checkpoint memo (VERDICT r7 #7).

The session memo store (`memo.checkpoint`, which also holds the four
frames of `plans.curation._gram_pass`) memoizes eager localCheckpoints
per (session, corpus, params) with live-block validation. Its sharp
edges, each pinned here:

- a FILTERED SUBSET of a corpus must use its own cache key (the
  `sf_dir + "#doc_id_lt_200"` convention) — interleaving full + subset
  must never cross-contaminate results;
- EVICTION (a scope reaching `memo._CAP` frames, 48) must unpersist the
  evicted entries' checkpoint blocks (ADVICE r7 storage-leak fix)
  without corrupting survivors — any survivor sharing a block rebuilds
  via live-block validation;
- an EXTERNAL UNPERSIST of every cached block (bench-style hygiene,
  memory pressure) must force a rebuild that reproduces the same
  results, never a CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND error.
"""

from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark import catalog, memo
from spot_anomalies_flink_workshop_resources_spark.operators import dedup
from spot_anomalies_flink_workshop_resources_spark.plans import curation

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _unpersist_everything(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in jmap.entrySet().toArray():
        entry.getValue().unpersist(True)


def _live_ids(spark):
    return {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def test_interleaved_corpora_with_eviction_and_unpersist(spark):
    docs = catalog.load_table(spark, SF, "documents")
    sub = docs.where(F.col("doc_id") < 200)
    sub_key = SF + "#doc_id_lt_200"

    frames = memo._scope(spark).frames
    frames.clear()

    # Uncached ground truth (cache_key=None path never memoizes).
    base_full = _rows(dedup.minhash_wide_frame(docs, 8, 3, cache_key=None))
    base_sub = _rows(dedup.minhash_wide_frame(sub, 8, 3, cache_key=None))
    base_pairs = _rows(
        dedup.simhash_pairs_cached(docs, bands=4, bits=32, cache_key=None)
    )

    for round_i in range(3):
        # Interleave full corpus and filtered subset (distinct keys).
        got_full = _rows(dedup.minhash_wide_frame(docs, 8, 3, cache_key=SF))
        got_sub = _rows(dedup.minhash_wide_frame(sub, 8, 3, cache_key=sub_key))
        got_pairs = _rows(
            dedup.simhash_pairs_cached(docs, bands=4, bits=32, cache_key=SF)
        )
        assert got_full == base_full, f"full corpus drifted (round {round_i})"
        assert got_sub == base_sub, f"subset drifted (round {round_i})"
        assert got_pairs == base_pairs, f"simhash pairs drifted (round {round_i})"

        if round_i == 0:
            # Force EVICTION: fill the scope past the cap with dummy
            # builds, then verify the evicted blocks were unpersisted.
            # Derived from the cap constants (round 11 raised 16/8 to
            # 48/24), not literals: overfill by cap+1 dummies so the
            # eviction branch must fire at least once.
            pre_ids = memo.protected_rdd_ids()
            assert pre_ids, "expected live cached blocks before eviction"
            n_dummies = memo._CAP + 1
            for j in range(n_dummies):
                memo.checkpoint(
                    spark,
                    (f"dummy{j}", "torture"),
                    lambda: spark.range(3).select(
                        F.col("id").alias("doc_id")
                    ),
                )
            assert len(frames) <= memo._CAP + 1
            leaked = pre_ids & _live_ids(spark)
            assert not leaked, f"evicted blocks still persisted: {leaked}"
        elif round_i == 1:
            # External unpersist of EVERYTHING (bench hygiene under
            # memory pressure): next round must rebuild, same rows.
            _unpersist_everything(spark)
            assert not memo.protected_rdd_ids() & _live_ids(spark)

    frames.clear()


def test_gram_pass_survives_block_loss(spark):
    memo._scope(spark).frames.clear()
    first = _rows(
        curation._gram_pass(spark, SF)["per_gram"].select(
            "source", "g", "df", "positions"
        )
    )
    # Cache hit path returns identical frame.
    again = _rows(
        curation._gram_pass(spark, SF)["per_gram"].select(
            "source", "g", "df", "positions"
        )
    )
    assert again == first

    # Drop every persisted block out from under the cache; the stale
    # entry must be detected, unpersisted, and rebuilt bit-identically.
    _unpersist_everything(spark)
    rebuilt = _rows(
        curation._gram_pass(spark, SF)["per_gram"].select(
            "source", "g", "df", "positions"
        )
    )
    assert rebuilt == first
    memo._scope(spark).frames.clear()


def test_stale_entry_is_unpersisted_not_leaked(spark):
    frames = memo._scope(spark).frames
    frames.clear()
    dedup.shingle_frame(
        catalog.load_table(spark, SF, "documents"), 3, cache_key=SF
    )
    # the shingle build also populates the nested token-array entry
    # (round 11); pick the shingles entry itself
    (key, entry), = [
        (k, v) for k, v in frames.items() if k[-1] == "shingles"
    ]
    ids = set(entry[1])
    assert ids <= _live_ids(spark)
    # Invalidate by unpersisting ONE of its blocks: next access must
    # treat the whole entry as stale, release the rest, and rebuild.
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    victim = min(ids)
    for e in jmap.entrySet().toArray():
        if int(e.getKey()) == victim:
            e.getValue().unpersist(True)
    dedup.shingle_frame(
        catalog.load_table(spark, SF, "documents"), 3, cache_key=SF
    )
    # The old entry's surviving blocks must be gone from storage.
    assert not ids & _live_ids(spark)
    frames.clear()


def test_graph_edge_cache_keyed_per_corpus(spark):
    """Round-8 extension: the co-purchase edge cache is keyed by
    (session, sf_dir) — interleaving two corpora twice must return
    identical per-corpus frames (no cross-corpus bleed), and the second
    round must hit the cache (same checkpointed plan object)."""
    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        _copurchase_edges,
    )

    a1 = _copurchase_edges(spark, "/root/testdata/sf0.001")
    b1 = _copurchase_edges(spark, "/root/testdata/sf0.01")
    a2 = _copurchase_edges(spark, "/root/testdata/sf0.001")
    b2 = _copurchase_edges(spark, "/root/testdata/sf0.01")
    ca1, cb1 = a1.count(), b1.count()
    assert ca1 != cb1  # different corpora -> different graphs
    assert a2.count() == ca1 and b2.count() == cb1
    # cache hit: the memoized frame IS the same object
    assert a2 is a1 and b2 is b1


def test_shared_block_protection_on_eviction(spark):
    """Pins the store's shared-block protection (VERDICT r8 #6): nested
    builds can double-attribute an inner entry's checkpoint blocks to
    the outer entry's rdd_ids set. Evicting the outer entry must NOT
    unpersist the blocks the surviving inner sibling claims — only the
    evictee's exclusive blocks — and the sibling's frame must still
    compute afterwards."""
    frames = memo._scope(spark).frames
    frames.clear()
    _unpersist_everything(spark)

    # Entry B (the future evictee) owns some blocks of its own...
    memo.checkpoint(
        spark, ("t", "B"), lambda: spark.range(50).withColumn("b", F.lit(1))
    )
    ids_b_own = set(frames[("t", "B")][1])
    assert ids_b_own, "B checkpoint produced no persistent blocks"

    # ...then filler entries so B sits inside the evict slice (oldest
    # CAP-KEEP) while A lands in the keep slice (newest KEEP). Counts
    # derive from the cap constants (round 11 raised 16/8 to 48/24).
    n_old = memo._CAP - memo._KEEP - 1
    for i in range(n_old):
        frames[("fill-old", i)] = (None, set())

    frame_a = memo.checkpoint(
        spark, ("t", "A"), lambda: spark.range(100).withColumn("a", F.lit(1))
    )
    ids_a = set(frames[("t", "A")][1])
    assert ids_a and ids_a.isdisjoint(ids_b_own)
    expected_a = _rows(frame_a)

    # Simulate the nested-build double-attribution: B's recorded set
    # also claims A's blocks (overlapping rdd_ids across two entries).
    frames[("t", "B")][1].update(ids_a)

    for i in range(memo._KEEP - 1):
        frames[("fill-new", i)] = (None, set())
    assert len(frames) == memo._CAP

    # Next insert triggers cap-eviction of the oldest CAP-KEEP —
    # including B.
    memo.checkpoint(
        spark, ("t", "C"), lambda: spark.range(10).withColumn("c", F.lit(1))
    )
    assert ("t", "B") not in frames
    assert ("t", "A") in frames

    live = _live_ids(spark)
    # B's exclusive blocks were released; A's shared-claimed blocks survive.
    assert ids_b_own.isdisjoint(live), "evictee's exclusive blocks leaked"
    assert ids_a <= live, "eviction unpersisted a surviving sibling's blocks"
    # The surviving sibling's frame still computes, identically.
    assert _rows(frame_a) == expected_a

    frames.clear()
    _unpersist_everything(spark)

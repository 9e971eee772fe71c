"""Unit tests for the round-6 second-wave surface (plans/insights.py):
drift gates, dispersion, dominance frontier, link prediction, hazard,
Croston, interval-union coverage, and the Heaps fit — each on a
hand-computable fixture, the same strategy as test_stats.py."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.plans import insights as I


def _write(df, tmp_path, name):
    df.write.mode("overwrite").parquet(os.path.join(str(tmp_path), f"{name}.parquet"))


def _events(spark, tmp_path, rows):
    """rows: (event_id, ts_str, user_id, event_type, value)"""
    df = spark.createDataFrame(
        [
            Row(event_id=i, ts=ts, user_id=u, event_type=t, value=float(v))
            for (i, ts, u, t, v) in rows
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    _write(df, tmp_path, "events")
    return str(tmp_path)


# ----------------------------------------------------------------- PSI


def test_psi_identical_halves_zero_and_shift_drifts(spark, tmp_path):
    rows, i = [], 0
    # "same": identical value multisets in both halves -> every bucket
    # has cp == cq, every term exactly 0
    for d in (1, 2, 3, 4):
        for v in (10.0, 20.0, 30.0):
            rows.append((i, f"2024-03-{d:02d} 10:00:00", 1, "same", v)); i += 1
    # "shift": low values first half, high second -> large PSI
    for d in (1, 2):
        for _ in range(20):
            rows.append((i, f"2024-03-{d:02d} 11:00:00", 1, "shift", 10.0)); i += 1
    for d in (3, 4):
        for _ in range(20):
            rows.append((i, f"2024-03-{d:02d} 11:00:00", 1, "shift", 90.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: r for r in I.events_psi_drift(spark, sf).collect()}
    assert got["same"].psi == 0.0 and not got["same"].drifted
    assert got["shift"].psi > 0.1 and got["shift"].drifted
    assert got["shift"].n_first == 40 and got["shift"].n_second == 40


# ----------------------------------------------------------------- JSD


def test_jsd_single_type_matches_global_exactly(spark, tmp_path):
    rows = [
        (i, f"2024-03-01 {h:02d}:00:00", 1, "only", 1.0)
        for i, h in enumerate([1, 1, 5, 9])
    ]
    sf = _events(spark, tmp_path, rows)
    r = I.events_jsd_profile(spark, sf).collect()[0]
    # the sole type IS the global profile -> divergence exactly zero,
    # peak tie resolves to the smallest hour
    assert r.jsd_nats == 0.0 and r.peak_hour == 0 and r.n_events == 4


def test_jsd_concentrated_type_diverges_at_its_hour(spark, tmp_path):
    rows = [(i, "2024-03-01 03:00:00", 1, "narrow", 1.0) for i in range(8)]
    rows += [
        (100 + i, f"2024-03-01 {h:02d}:00:00", 1, "wide", 1.0)
        for i, h in enumerate([0, 6, 12, 18] * 2)
    ]
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: r for r in I.events_jsd_profile(spark, sf).collect()}
    assert got["narrow"].jsd_nats > 0.0
    assert got["narrow"].peak_hour == 3  # its excess concentrates there
    assert got["narrow"].jsd_nats <= math.log(2.0) + 1e-9  # JSD upper bound


# ---------------------------------------------------------------- Fano


def test_fano_constant_zero_bursty_high(spark, tmp_path):
    rows, i = [], 0
    for h in range(10):  # one event every hour -> variance 0
        rows.append((i, f"2024-03-01 {h:02d}:00:00", 1, "const", 1.0)); i += 1
    for _ in range(10):  # all ten in one hour, same global span
        rows.append((i, "2024-03-01 00:00:00", 1, "burst", 1.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = {r.event_type: r for r in I.events_fano(spark, sf).collect()}
    assert got["const"].fano == 0.0 and not got["const"].overdispersed
    assert got["burst"].fano == 10.0 and got["burst"].overdispersed
    assert got["const"].n_hours == 10 and got["const"].mean_per_hour == 1.0


# ------------------------------------------------------------- skyline


def test_skyline_drops_dominated_keeps_ties(spark, tmp_path):
    df = spark.createDataFrame(
        [
            Row(p_partkey=1, p_name="a", p_brand="B", p_type="t", p_size=10,
                p_retailprice=5.0),
            Row(p_partkey=2, p_name="b", p_brand="B", p_type="t", p_size=5,
                p_retailprice=4.0),
            Row(p_partkey=3, p_name="c", p_brand="B", p_type="t", p_size=5,
                p_retailprice=6.0),  # dominated by part 1 (bigger, cheaper)
            Row(p_partkey=4, p_name="d", p_brand="B", p_type="t", p_size=10,
                p_retailprice=5.0),  # exact tie with part 1 -> both stay
        ]
    )
    _write(df, tmp_path, "part")
    got = I.sql_part_skyline(spark, str(tmp_path)).collect()
    assert sorted(r.p_partkey for r in got) == [1, 2, 4]


# ------------------------------------------------------ weighted median


def test_weighted_median_heavy_row_wins(spark, tmp_path):
    part = spark.createDataFrame(
        [Row(p_partkey=k, p_name="x", p_brand="B", p_type="t", p_size=1,
             p_retailprice=1.0) for k in (1, 2, 3)]
    )
    li = spark.createDataFrame(
        [
            Row(l_orderkey=1, l_partkey=1, l_quantity=1.0, l_extendedprice=1.0),
            Row(l_orderkey=1, l_partkey=2, l_quantity=2.0, l_extendedprice=1.0),
            Row(l_orderkey=2, l_partkey=3, l_quantity=3.0, l_extendedprice=10.0),
        ]
    )
    _write(part, tmp_path, "part")
    _write(li, tmp_path, "lineitem")
    r = I.sql_weighted_median(spark, str(tmp_path)).collect()[0]
    # 10/12 of the weight sits at qty 3 -> weighted median 3, not 2
    assert r.w_median_qty == 3.0
    assert r.total_weight_cents == 1200 and r.n_items == 3


# ------------------------------------------------------ link prediction


def test_linkpred_scores_shared_neighbor_pair(spark, tmp_path):
    # orders: {1,2} x2, {1,3} x2 -> edges (1,2), (1,3); candidate (2,3)
    rows = []
    for o, pk in [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 1), (4, 3)]:
        rows.append(Row(l_orderkey=o, l_partkey=pk, l_quantity=1.0,
                        l_extendedprice=1.0))
    _write(spark.createDataFrame(rows), tmp_path, "lineitem")
    got = I.sql_copurchase_linkpred(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.node_a, r.node_b) == (2, 3) and r.common_neighbors == 1
    assert r.adamic_adar == pytest.approx(1.0 / math.log(2.0), abs=2e-6)
    assert r.jaccard == 1.0  # N(2) = N(3) = {1}


# -------------------------------------------------------------- hazard


def test_nelson_aalen_bounds_km_survival(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        sql_ship_survival,
    )

    haz = {r.delay_days: r for r in I.sql_ship_hazard(spark, sf_dir).collect()}
    km = {r.delay_days: r for r in sql_ship_survival(spark, sf_dir).collect()}
    assert set(haz) == set(km) and haz
    prev = 0.0
    for t in sorted(haz):
        h, k = haz[t], km[t]
        assert (h.n_at_risk, h.n_events) == (k.n_at_risk, k.n_events)
        assert h.cum_hazard >= prev - 1e-12  # nondecreasing
        prev = h.cum_hazard
        # H = sum d/n <= -ln(prod(1 - d/n)) = -ln(S_km)
        assert h.cum_hazard <= -math.log(k.survival) + 1e-9
        assert h.fh_survival >= k.survival - 1e-9


# ------------------------------------------------------------- Croston


def test_croston_constant_demand_is_fixed_point(spark, tmp_path):
    rows, i = [], 0
    for d in range(1, 7):  # two near-peak events every day
        for _ in range(2):
            rows.append((i, f"2024-03-{d:02d} 08:00:00", 1, "steady", 50.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    r = I.events_croston(spark, sf).collect()[0]
    assert r.n_demand_days == 6
    assert r.smoothed_size == 2.0 and r.smoothed_interval == 1.0
    assert r.demand_per_day == 2.0


def test_croston_sparse_interval_above_one(spark, tmp_path):
    rows, i = [], 0
    for d in (1, 4, 7, 10):  # demand every third day
        rows.append((i, f"2024-03-{d:02d} 08:00:00", 1, "sparse", 50.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    r = I.events_croston(spark, sf).collect()[0]
    assert r.n_demand_days == 4
    # init interval 1.0 moves toward the true gap 3 but stays between
    assert 1.0 < r.smoothed_interval < 3.0
    assert r.demand_per_day == r.smoothed_size / r.smoothed_interval


# ------------------------------------------------------------ coverage


def test_session_coverage_merges_overlap_splits_gap(spark, tmp_path):
    rows = [
        (1, "2024-03-01 00:00:00", 7, "click", 1.0),
        (2, "2024-03-01 00:01:40", 7, "click", 1.0),  # +100 s -> merges
        (3, "2024-03-01 00:16:40", 7, "click", 1.0),  # +1000 s -> new burst
    ]
    sf = _events(spark, tmp_path, rows)
    r = I.events_session_coverage(spark, sf).collect()[0]
    assert r.user_id == 7 and r.n_events == 3 and r.n_bursts == 2
    assert r.covered_seconds == 400 + 300
    assert r.span_seconds == 1000 + 300
    assert r.covered_share == pytest.approx(700 / 1300, rel=1e-12)


# --------------------------------------------------------------- Heaps


def test_heaps_all_unique_tokens_beta_one(spark, tmp_path):
    def doc(did, n):
        words = " ".join(f"w{did}_{j}" for j in range(n))
        return Row(doc_id=did, text=words, lang="aa", source="s",
                   n_chars=len(words))

    df = spark.createDataFrame([doc(1, 5), doc(2, 10), doc(3, 20), doc(4, 40)])
    _write(df, tmp_path, "documents")
    r = I.text_heaps_fit(spark, str(tmp_path)).collect()[0]
    # vocab == tokens for every doc -> x == y -> slope exactly 1, R^2 1
    assert r.n_docs == 4
    assert r.heaps_beta == 1.0 and r.r2 == 1.0


# ----------------------------------------------------------- SPC


def test_spc_flags_only_the_outlier_day(spark, tmp_path):
    rows, i = [], 0
    # 14 baseline days of 10 plus one 40-spike: with n=15 the spike's
    # self-inflated sigma still leaves z = 420/sqrt(12600) = 3.74 > 3
    for d in range(1, 16):
        n = 40 if d == 5 else 10
        for _ in range(n):
            rows.append((i, f"2024-03-{d:02d} 10:00:00", 1, "spiky", 1.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = {r.d: r for r in I.events_spc_control(spark, sf).collect()}
    flagged = [d for d, r in got.items() if r.beyond_3sigma]
    day5 = [d for d in got if got[d].cnt == 40]
    assert flagged == day5
    assert got[day5[0]].z > 2.0


# ------------------------------------------------------ winsorized


def test_winsorized_mean_clamps_tails(spark, tmp_path):
    # 18 values of 10.0, one 0.01 low tail, one 1000.0 high tail
    rows = [(i, "2024-03-01 10:00:00", 1, "w", 10.0) for i in range(18)]
    rows += [(18, "2024-03-01 10:00:00", 1, "w", 0.01),
             (19, "2024-03-01 10:00:00", 1, "w", 1000.0)]
    sf = _events(spark, tmp_path, rows)
    r = I.events_winsorized_mean(spark, sf).collect()[0]
    # k_lo = 1 -> p5 = 0.01 (the low value itself); k_hi = 19 -> p95 = 10
    assert r.p5_value == 0.01 and r.p95_value == 10.0
    # high tail clamps to 10, low tail stays: (19*10 + 0.01)/20
    assert r.winsorized_mean == pytest.approx((19 * 10.0 + 0.01) / 20, rel=1e-12)


# ----------------------------------------------------------- peaks


def test_peak_days_strict_local_maxima_only(spark, tmp_path):
    counts = {1: 1, 2: 5, 3: 2, 4: 2, 5: 7, 6: 7, 7: 1}  # peak only at d=2
    rows, i = [], 0
    for d, n in counts.items():
        for _ in range(n):
            rows.append((i, f"2024-03-{d:02d} 10:00:00", 1, "p", 1.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = I.events_peak_days(spark, sf).collect()
    assert len(got) == 1 and got[0].cnt == 5
    assert got[0].prominence == 3  # 5 - max(1, 2)


# -------------------------------------------------- token coverage


def test_token_coverage_is_monotone_and_exact(spark, tmp_path):
    docs = [Row(doc_id=1, text="a a a a b b c", lang="aa", source="s",
                n_chars=13),
            Row(doc_id=2, text="a b d", lang="aa", source="s", n_chars=5)]
    _write(spark.createDataFrame(docs), tmp_path, "documents")
    got = {r.k: r for r in I.corpus_token_coverage(spark, str(tmp_path)).collect()}
    assert got[100].vocab_size == 4
    # k=100 covers everything -> share exactly 1
    assert got[100].covered == 10 and got[100].coverage_share == 1.0
    assert got[1000].coverage_share == 1.0 and got[10000].coverage_share == 1.0


# -------------------------------------------------- tier migration


def test_tier_migration_classifies_against_first_half_median(spark, tmp_path):
    rows = []
    # first half (days 1-2): cust 1 spends 100, cust 2 spends 300,
    # cust 3 inactive; second half: cust 1 spends 900 (upsell),
    # cust 2 inactive (churn), cust 3 spends 50 (new, below median)
    rows.append(Row(o_orderkey=1, o_custkey=1, o_orderstatus="F",
                    o_totalprice=100.0, o_orderdate="2024-03-01",
                    o_orderpriority="1"))
    rows.append(Row(o_orderkey=2, o_custkey=2, o_orderstatus="F",
                    o_totalprice=300.0, o_orderdate="2024-03-02",
                    o_orderpriority="1"))
    rows.append(Row(o_orderkey=3, o_custkey=1, o_orderstatus="F",
                    o_totalprice=900.0, o_orderdate="2024-03-04",
                    o_orderpriority="1"))
    rows.append(Row(o_orderkey=4, o_custkey=3, o_orderstatus="F",
                    o_totalprice=50.0, o_orderdate="2024-03-04",
                    o_orderpriority="1"))
    df = spark.createDataFrame(rows).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp"))
    _write(df, tmp_path, "orders")
    got = {(r.from_tier, r.to_tier): r.n_customers
           for r in I.sql_spend_tier_migration(spark, str(tmp_path)).collect()}
    # median of first-half spends {100, 300} -> 100 (first 2*cum >= n)
    assert got == {(1, 2): 1, (2, 0): 1, (0, 1): 1}


# ----------------------------------------------------- rapid reorders


def test_rapid_reorders_band_and_exact_flag(spark, tmp_path):
    rows = [
        Row(o_orderkey=1, o_custkey=1, o_orderstatus="F", o_totalprice=50.0,
            o_orderdate="2024-03-01", o_orderpriority="1"),
        Row(o_orderkey=2, o_custkey=1, o_orderstatus="F", o_totalprice=50.0,
            o_orderdate="2024-03-05", o_orderpriority="1"),  # exact dup, 4d
        Row(o_orderkey=3, o_custkey=1, o_orderstatus="F", o_totalprice=60.0,
            o_orderdate="2024-03-20", o_orderpriority="1"),  # outside band
        Row(o_orderkey=4, o_custkey=2, o_orderstatus="F", o_totalprice=70.0,
            o_orderdate="2024-03-05", o_orderpriority="1"),  # other customer
    ]
    df = spark.createDataFrame(rows).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp"))
    _write(df, tmp_path, "orders")
    got = I.sql_rapid_reorders(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.ok_a, r.ok_b, r.day_gap) == (1, 2, 4)
    assert r.amount_delta_cents == 0 and r.exact_duplicate


# ------------------------------------------------------ dim audit


def test_dim_audit_flags_constant_dimension(spark, tmp_path):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.5], label=0),
        Row(vec_id=1, embedding=[0.0, 0.0, 0.25], label=1),
    ]
    df = spark.createDataFrame(rows).withColumn(
        "embedding", F.col("embedding").cast("array<float>"))
    _write(df, tmp_path, "embeddings")
    got = {r.idx: r for r in I.simsearch_dim_audit(spark, str(tmp_path)).collect()}
    assert got[0].mean == 0.5 and got[0].variance == pytest.approx(0.25, rel=1e-12)
    assert got[1].constant_dim and got[1].variance == 0.0
    assert not got[0].constant_dim and not got[2].constant_dim
    assert got[2].min_v == 0.25 and got[2].max_v == 0.5


# -------------------------------------------------- assortativity


def test_assortativity_star_graph_is_minus_one(spark, tmp_path):
    # star: hub part 1 with leaves 2,3,4; each edge needs >= 2 orders
    rows = []
    o = 0
    for leaf in (2, 3, 4):
        for _ in range(2):
            o += 1
            rows += [Row(l_orderkey=o, l_partkey=1, l_quantity=1.0,
                         l_extendedprice=1.0),
                     Row(l_orderkey=o, l_partkey=leaf, l_quantity=1.0,
                         l_extendedprice=1.0)]
    _write(spark.createDataFrame(rows), tmp_path, "lineitem")
    r = I.sql_copurchase_assortativity(spark, str(tmp_path)).collect()[0]
    assert r.n_edges == 3 and r.n_nodes == 4
    assert r.assortativity == pytest.approx(-1.0, rel=1e-12)


# --------------------------------------------- lexical diversity


def test_lexical_diversity_hand_example(spark, tmp_path):
    docs = [
        Row(doc_id=1, text="a a b", lang="aa", source="s", n_chars=5),
        Row(doc_id=2, text="x y", lang="aa", source="s", n_chars=3),
    ]
    _write(spark.createDataFrame(docs), tmp_path, "documents")
    r = I.corpus_lexical_diversity(spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 2
    # doc1: TTR 2/3, repeat 2/6; doc2: TTR 1, repeat 0
    assert r.mean_ttr == pytest.approx((2 / 3 + 1.0) / 2, abs=2e-6)
    assert r.mean_repeat_prob == pytest.approx((1 / 3) / 2, abs=2e-6)


# ----------------------------------------------------------- CCF


def test_ccf_detects_exact_two_day_lead(spark, tmp_path):
    # purchases replicate the click pattern shifted +2 days
    pattern = [3, 1, 4, 1, 5, 9, 2, 6]
    rows, i = [], 0
    for d, n in enumerate(pattern, start=1):
        for _ in range(n):
            rows.append((i, f"2024-03-{d:02d} 10:00:00", 1, "click", 1.0)); i += 1
    for d, n in enumerate(pattern, start=3):
        for _ in range(n):
            rows.append((i, f"2024-03-{d:02d} 11:00:00", 1, "purchase", 1.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = {r.lag: r for r in I.events_ccf(spark, sf).collect()}
    assert len(got) == 15
    assert got[2].ccf == pytest.approx(1.0, rel=1e-12)
    # span = days 1..10 -> n at lag L is 10 - |L|
    assert got[0].n_days == 10 and got[7].n_days == 3 and got[-7].n_days == 3
    assert all(got[L].ccf is None or got[L].ccf <= 1.0 + 1e-12 for L in got)


# ------------------------------------------- interpolated deciles


def test_quantile_interp_matches_numpy_type7(spark, tmp_path):
    import numpy as np

    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(i, "2024-03-01 10:00:00", 1, "q", v) for i, v in enumerate(vals)]
    sf = _events(spark, tmp_path, rows)
    got = {r.decile: r.value for r in
           I.events_quantile_interp(spark, sf).collect()}
    for k in range(11):
        assert got[k] == pytest.approx(
            float(np.quantile(vals, k / 10)), rel=1e-12
        ), k


# ------------------------------------------- clustering coefficient


def test_clustering_triangle_graph_is_one(spark, tmp_path):
    # parts 1,2,3 pairwise co-purchased (each pair in 2 orders)
    rows, o = [], 0
    for pair in [(1, 2), (1, 3), (2, 3)]:
        for _ in range(2):
            o += 1
            for pk in pair:
                rows.append(Row(l_orderkey=o, l_partkey=pk, l_quantity=1.0,
                                l_extendedprice=1.0))
    _write(spark.createDataFrame(rows), tmp_path, "lineitem")
    r = I.sql_copurchase_clustering(spark, str(tmp_path)).collect()[0]
    assert r.n_nodes == 3 and r.n_nodes_deg2 == 3 and r.n_triangles == 1
    assert r.avg_clustering == 1.0 and r.transitivity == 1.0


# ------------------------------------------------ uniqueness audit


def test_uniqueness_audit_flags_planted_duplicate(spark, tmp_path):
    _write(spark.createDataFrame(
        [Row(event_id=1, ts="2024-03-01", user_id=1, event_type="c",
             value=1.0)]).withColumn("ts", F.col("ts").cast("timestamp")),
        tmp_path, "events")
    _write(spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="F", o_totalprice=1.0,
             o_orderdate="2024-03-01", o_orderpriority="1")]).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")),
        tmp_path, "orders")
    _write(spark.createDataFrame([Row(c_custkey=1, c_name="x")]),
           tmp_path, "customer")
    _write(spark.createDataFrame([Row(p_partkey=1, p_name="x")]),
           tmp_path, "part")
    _write(spark.createDataFrame([Row(s_suppkey=1, s_name="x")]),
           tmp_path, "supplier")
    li = [Row(l_orderkey=1, l_linenumber=1, l_partkey=1, l_suppkey=1,
              l_quantity=1.0, l_extendedprice=1.0),
          Row(l_orderkey=1, l_linenumber=1, l_partkey=2, l_suppkey=1,
              l_quantity=1.0, l_extendedprice=1.0),  # planted key dup
          Row(l_orderkey=2, l_linenumber=1, l_partkey=1, l_suppkey=1,
              l_quantity=1.0, l_extendedprice=1.0)]
    _write(spark.createDataFrame(li), tmp_path, "lineitem")
    got = {r.table_name: r for r in
           I.dq_uniqueness_audit(spark, str(tmp_path)).collect()}
    assert len(got) == 6
    assert not got["lineitem"].is_unique
    assert got["lineitem"].n_rows == 3
    assert got["lineitem"].n_distinct_keys == 2
    assert got["lineitem"].n_dup_keys == 1
    for t in ("events", "orders", "customer", "part", "supplier"):
        assert got[t].is_unique, t


# ------------------------------------------- language distance matrix


def test_jsd_lang_matrix_identical_zero_disjoint_ln2(spark, tmp_path):
    docs = [
        Row(doc_id=1, text="abcabcabc", lang="aa", source="s", n_chars=9),
        Row(doc_id=2, text="abcabcabc", lang="bb", source="s", n_chars=9),
        Row(doc_id=3, text="xyzxyzxyz", lang="cc", source="s", n_chars=9),
    ]
    _write(spark.createDataFrame(docs), tmp_path, "documents")
    got = {(r.lang_a, r.lang_b): r for r in
           I.text_jsd_lang_matrix(spark, str(tmp_path)).collect()}
    assert len(got) == 3
    assert got[("aa", "bb")].jsd_nats == 0.0  # identical trigram profiles
    # fully disjoint char sets -> JSD hits its ln 2 upper bound
    assert got[("aa", "cc")].jsd_nats == pytest.approx(math.log(2.0), abs=1e-4)
    assert got[("bb", "cc")].jsd_nats == pytest.approx(math.log(2.0), abs=1e-4)


# -------------------------------------------------- ABC/XYZ matrix


def test_abc_xyz_steady_equal_parts(spark, tmp_path):
    # 5 parts, each 1 item per quarter (days 1, 92, 183, 274), equal
    # revenue -> all X; cumulative shares 20..100% -> A,A,A,A,C
    dates = {1: "1970-01-02", 92: "1970-04-03", 183: "1970-07-03",
             274: "1970-10-02"}
    rows, o = [], 0
    for pk in range(1, 6):
        for day, ds in dates.items():
            o += 1
            rows.append(Row(l_orderkey=o, l_partkey=pk, l_suppkey=1,
                            l_linenumber=1, l_quantity=1.0,
                            l_extendedprice=100.0, l_discount=0.0, l_tax=0.0,
                            l_returnflag="N", l_linestatus="O",
                            l_shipdate=ds))
    df = spark.createDataFrame(rows).withColumn(
        "l_shipdate", F.col("l_shipdate").cast("timestamp"))
    _write(df, tmp_path, "lineitem")
    got = {(r.abc_class, r.xyz_class): r.n_parts for r in
           I.sql_abc_xyz_matrix(spark, str(tmp_path)).collect()}
    assert got == {("A", "X"): 4, ("C", "X"): 1}


# --------------------------------------------------- survivorship


def test_dedup_canonical_keeps_longest(spark, tmp_path):
    # docs 1,2 near-dup (shared shingles), doc 2 longer -> canonical 2
    t1 = "the quick brown fox jumps over the lazy dog again and again"
    t2 = t1 + " with extra trailing words to be longer"
    t3 = "completely different content nothing shared here at all folks"
    docs = [Row(doc_id=1, text=t1, lang="aa", source="s", n_chars=len(t1)),
            Row(doc_id=2, text=t2, lang="aa", source="s", n_chars=len(t2)),
            Row(doc_id=3, text=t3, lang="aa", source="s", n_chars=len(t3))]
    _write(spark.createDataFrame(docs), tmp_path, "documents")
    got = I.dedup_canonical(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_members == 2 and r.canonical_doc == 2
    assert r.canonical_chars == len(t2)
    assert r.chars_saved == len(t1)


# --------------------------------------------------- silence gaps


def test_silence_gaps_flags_the_stall(spark, tmp_path):
    rows, i = [], 0
    # one event per minute for 30 minutes, then a 6-hour stall, then
    # another 30 minutes -> the stall gap dwarfs 10x the mean gap
    for m in range(30):
        rows.append((i, f"2024-03-01 00:{m:02d}:00", 1, "feed", 1.0)); i += 1
    for m in range(30):
        rows.append((i, f"2024-03-01 06:{m:02d}:00", 1, "feed", 1.0)); i += 1
    sf = _events(spark, tmp_path, rows)
    got = I.events_silence_gaps(spark, sf).collect()
    assert len(got) == 5
    top = got[0]
    assert top.rank == 1 and top.gap_seconds == 5 * 3600 + 30 * 60 + 60
    assert top.stalled
    assert not got[1].stalled and got[1].gap_seconds == 60


# ----------------------------------------------- forecast backtest


def test_holt_backtest_matches_python_replay(spark, tmp_path):
    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0, 17.0, 21.0, 20.0, 24.0]
    rows = [(i, f"2024-03-{d:02d} 09:00:00", 1, "bt", v)
            for i, (d, v) in enumerate(zip(range(1, 11), vals))]
    sf = _events(spark, tmp_path, rows)
    r = I.events_holt_backtest(spark, sf).collect()[0]

    def fold(series):
        l = b = 0.0
        for x in series:
            nl = x * 0.25 + (l + b) * 0.75
            b = (nl - l) * 0.125 + b * 0.875
            l = nl
        return l, b

    scale = float(1 << 20)
    errs, apes = [], []
    for t in range(6, 11):  # 1-based cutoff position t, predict obs t
        l, b = fold(vals[: t - 1])
        e = abs(vals[t - 1] - (l + b))
        errs.append(math.floor(e * scale + 0.5))
        apes.append(math.floor(e / abs(vals[t - 1]) * scale + 0.5))
    assert r.n_evals == 5
    assert r.mae == sum(errs) / 5 / scale  # exact: same quantized ints
    assert r.mape == sum(apes) / 5 / scale


# ------------------------------------------------- feature export


def test_user_features_hand_row(spark, tmp_path):
    rows = [
        (1, "2024-03-01 00:00:00", 7, "click", 10.0),
        (2, "2024-03-01 00:10:00", 7, "click", 20.0),
        (3, "2024-03-03 00:20:00", 7, "purchase", 30.0),
        (4, "2024-03-03 00:20:00", 8, "click", 5.0),  # horizon anchor
    ]
    sf = _events(spark, tmp_path, rows)
    got = {r.user_id: r for r in I.events_user_features(spark, sf).collect()}
    r = got[7]
    assert r.n_events == 3 and r.n_active_days == 2 and r.distinct_types == 2
    assert r.total_value_cents == 6000
    assert r.tenure_seconds == 2 * 86400 + 1200
    assert r.recency_seconds == 0
    assert r.mean_gap_seconds == pytest.approx(r.tenure_seconds / 2, rel=1e-12)
    assert got[8].n_events == 1 and got[8].mean_gap_seconds is None


# --------------------------------------------- reliability diagram


def test_reliability_bins_calibrated_fixture(spark, tmp_path):
    # scores 0..99 with pos iff score >= 50: low bins rate 0, high 1
    rows = [(i, "2024-03-01 10:00:00", 1,
             "error" if v >= 50 else "click", float(v))
            for i, v in enumerate(range(100))]
    sf = _events(spark, tmp_path, rows)
    got = {r.bin: r for r in I.events_reliability_bins(spark, sf).collect()}
    assert len(got) == 10
    assert all(got[b].positive_rate == 0.0 for b in range(5))
    assert all(got[b].positive_rate == 1.0 for b in range(5, 10))
    assert got[0].n_events == 10
    # confidence rises monotonically with the bin
    confs = [got[b].mean_confidence for b in range(10)]
    assert confs == sorted(confs)


def test_stl_decompose_recovers_planted_weekly_bump(spark, tmp_path):
    """y = 100*d + 7 extra dollars on dow0: the centered 7-day MA of a
    linear series is exact, each window holds exactly one bump, so
    seasonal must be +600/-100 cents and remainder identically 0."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_stl_decompose,
    )
    import datetime as dt

    rows = []
    base = dt.date(2024, 1, 1)
    for d in range(21):
        day = base + dt.timedelta(days=d)
        dow = ((day - dt.date(1970, 1, 1)).days + 4) % 7
        val = 100.0 * d + (7.0 if dow == 0 else 0.0)  # dollars
        rows.append((d, f"{day} 12:00:00", 1, "click", val))
    _events(spark, tmp_path, rows)
    out = events_stl_decompose(spark, str(tmp_path)).collect()
    # 21 days -> 15 interior days with a full centered window
    assert len(out) == 15
    for r in out:
        dow = ((r.day.date() if hasattr(r.day, "date") else r.day)
               - dt.date(1970, 1, 1)).days
        dow = (dow + 4) % 7
        expected_seasonal = 600.0 if dow == 0 else -100.0
        assert r.seasonal == pytest.approx(expected_seasonal, abs=1e-9)
        assert r.remainder == pytest.approx(0.0, abs=1e-9)
        # trend + seasonal == y exactly when remainder is 0
        assert r.trend + r.seasonal == pytest.approx(float(r.y), abs=1e-9)


def test_stl_decompose_excludes_gap_windows(spark, tmp_path):
    """A missing calendar day breaks the 7-day contiguity: windows that
    straddle the gap (span != 6) must not emit rows."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_stl_decompose,
    )
    import datetime as dt

    base = dt.date(2024, 1, 1)
    rows = []
    i = 0
    for d in range(15):
        if d == 7:  # hole in the calendar
            continue
        day = base + dt.timedelta(days=d)
        rows.append((i, f"{day} 12:00:00", 1, "click", 10.0))
        i += 1
    _events(spark, tmp_path, rows)
    out = events_stl_decompose(spark, str(tmp_path)).collect()
    days = sorted((r.day.date() if hasattr(r.day, "date") else r.day)
                  for r in out)
    # only day 3 (window 0-6) and day 11 (window 8-14) have contiguous
    # complete windows
    assert days == [base + dt.timedelta(days=3), base + dt.timedelta(days=11)]


def test_interarrival_periodic_vs_bursty(spark, tmp_path):
    """A perfectly periodic feed has sd 0 -> burstiness -1, cv 0; a
    bursty feed (tight cluster + one long silence) has burstiness > 0."""
    from spot_anomalies_flink_workshop_resources_spark.plans.insights import (
        events_interarrival,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):  # periodic: every 60s
        rows.append((i, str(base + dt.timedelta(seconds=60 * i)), 1, "tick", 1.0))
    # bursty: 9 events 1s apart then one 10000s later
    for i in range(9):
        rows.append((100 + i, str(base + dt.timedelta(seconds=i)), 1, "burst", 1.0))
    rows.append((109, str(base + dt.timedelta(seconds=10000)), 1, "burst", 1.0))
    _events(spark, tmp_path, rows)
    out = {r.event_type: r for r in events_interarrival(spark, str(tmp_path)).collect()}
    assert out["tick"].burstiness == pytest.approx(-1.0)
    assert out["tick"].cv == pytest.approx(0.0)
    assert out["tick"].mean_gap == pytest.approx(60.0)
    assert out["burst"].burstiness > 0.4
    assert out["burst"].cv > 2.0


def test_page_hinkley_fires_on_planted_drift(spark, tmp_path):
    """10 days at 5 events/day then 10 days at 60/day: the gap must
    stay 0 during the flat prefix and alarm (>32) after the shift;
    a constant-rate type never alarms."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_page_hinkley,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12)
    rows = []
    eid = 0
    for d in range(20):
        n = 5 if d < 10 else 60
        for k in range(n):
            rows.append((eid, str(base + dt.timedelta(days=d, seconds=k)), 1, "drift", 1.0))
            eid += 1
        for k in range(7):  # constant type
            rows.append((eid, str(base + dt.timedelta(days=d, seconds=500 + k)), 1, "flat", 1.0))
            eid += 1
    _events(spark, tmp_path, rows)
    out = events_page_hinkley(spark, str(tmp_path)).collect()
    drift = sorted([r for r in out if r.event_type == "drift"], key=lambda r: r.day)
    flat = [r for r in out if r.event_type == "flat"]
    assert not any(r.is_alarm for r in drift[:10])
    assert any(r.is_alarm for r in drift[10:])
    assert not any(r.is_alarm for r in flat)


def test_tail_index_matches_python_recomputation(spark, tmp_path):
    """150 values 1.00..150.00: top-100 are 51..150, x_(101) = 50.00;
    recompute the quantized Hill sum in Python and match exactly."""
    from spot_anomalies_flink_workshop_resources_spark.plans.insights import (
        events_tail_index,
    )
    import datetime as dt
    import math

    base = dt.datetime(2024, 1, 2)
    rows = [
        (i, str(base + dt.timedelta(seconds=i)), 1, "pay", float(i + 1))
        for i in range(150)
    ]
    _events(spark, tmp_path, rows)
    r = events_tail_index(spark, str(tmp_path)).collect()[0]
    s = sum(
        math.floor(math.log((c * 100) / 5000.0) * 1048576.0 + 0.5)
        for c in range(51, 151)
    )
    assert r.k == 100
    assert r.x_k1 == 50.0
    assert r.hill_inv_alpha == (s / 100.0) / 1048576.0
    assert r.alpha == 1.0 / r.hill_inv_alpha


def test_block_maxima_gumbel_fit_hand_checked(spark, tmp_path):
    """Three weeks with daily counts engineered so block maxima are
    (3, 5, 7): mean 5, var 8/3 -> beta = sqrt(8/3)*sqrt6/pi, mu, and
    the 99% return level recompose exactly from the same literals."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        _EULER_GAMMA,
        _GUMBEL_Q99,
        _SQRT6_OVER_PI,
        events_block_maxima,
    )
    import datetime as dt
    import math

    # weeks are epoch-aligned; 2024-01-01 is a Monday but epoch weeks
    # start on Thursday — use explicit epoch-day math to fill 3 blocks
    base_epoch_day = (dt.date(2024, 1, 4) - dt.date(1970, 1, 1)).days
    assert base_epoch_day % 7 == 0
    rows, eid = [], 0
    maxima = [3, 5, 7]
    for wk, mx in enumerate(maxima):
        for day in range(7):
            n = mx if day == 0 else 1
            d = dt.datetime(1970, 1, 1) + dt.timedelta(
                days=base_epoch_day + wk * 7 + day, hours=12
            )
            for k in range(n):
                rows.append((eid, str(d + dt.timedelta(seconds=k)), 1, "x", 1.0))
                eid += 1
    _events(spark, tmp_path, rows)
    r = events_block_maxima(spark, str(tmp_path)).collect()[0]
    m = 5.0
    v = (9 + 25 + 49) / 3.0 - m * m
    beta = math.sqrt(v) * _SQRT6_OVER_PI
    mu = m - _EULER_GAMMA * beta
    assert r.n_blocks == 3
    assert r.mean_max == m
    assert r.gumbel_beta == beta
    assert r.gumbel_mu == mu
    assert r.return_level_99 == mu + beta * _GUMBEL_Q99


def test_user_concentration_hand_computed(spark, tmp_path):
    """30 users: user 0 fires 70 events, users 1-29 one each -> top-1
    share 0.70, top-5 74/100, top-10 79/100, top-25 94/100."""
    from spot_anomalies_flink_workshop_resources_spark.plans.insights import (
        events_user_concentration,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for k in range(70):
        rows.append((eid, str(base + dt.timedelta(seconds=eid)), 0, "a", 1.0)); eid += 1
    for u in range(1, 31):
        rows.append((eid, str(base + dt.timedelta(seconds=eid)), u, "a", 1.0)); eid += 1
    _events(spark, tmp_path, rows)
    got = {r.top_k_users: (r.events_covered, r.share)
           for r in events_user_concentration(spark, str(tmp_path)).collect()}
    assert got[1] == (70, 0.70)
    assert got[5] == (74, 0.74)
    assert got[10] == (79, 0.79)
    assert got[25] == (94, 0.94)

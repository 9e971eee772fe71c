"""Unit tests for the round-8 second wave: Python recomputations on
planted fixtures (the repo's standard second leg next to the DuckDB
oracles)."""

import math

import pytest

from spot_anomalies_flink_workshop_resources_spark.plans import (
    corpus_stats,
    dq_checks,
    event_stats,
    harness,
    order_analytics,
)

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------- fixtures


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, ts_str, user_id, event_type, value)."""
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id",
        "CAST(ts AS TIMESTAMP) AS ts",
        "user_id",
        "event_type",
        "value",
        "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


def _daily_series(spark, tmp_path, counts_by_type):
    """Plant one event per count unit so the daily-count grid equals
    ``counts_by_type[t][day_index]`` exactly (single type set keeps the
    zero-filled grid trivial)."""
    rows = []
    eid = 0
    for t, counts in counts_by_type.items():
        for day, c in enumerate(counts, start=1):
            for _ in range(c):
                rows.append(
                    (eid, f"2024-03-{day:02d} 12:00:00", eid % 7, t, 1.0)
                )
                eid += 1
    return _write_events(spark, tmp_path, rows)


# ---------------------------------------------------- Wasserstein-1


def test_wasserstein_two_point_masses(spark, tmp_path):
    """Type a at value 1.00, type b at value 3.00 (equal counts):
    pooled CDF is the average, so W1(a, pooled) = |1 - 0.5| * 2.00 / 2
    = 1.00 for both types."""
    rows = []
    for i in range(10):
        rows.append((i, "2024-03-01 10:00:00", 1, "a", 1.0))
        rows.append((100 + i, "2024-03-01 11:00:00", 2, "b", 3.0))
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r.w1
        for r in event_stats.events_wasserstein(spark, sf).collect()
    }
    assert got == {"a": pytest.approx(1.0), "b": pytest.approx(1.0)}


def test_wasserstein_identical_distributions_zero(spark, tmp_path):
    rows = []
    for i in range(20):
        v = float(1 + (i % 4))
        rows.append((i, "2024-03-01 10:00:00", 1, "a", v))
        rows.append((100 + i, "2024-03-01 11:00:00", 2, "b", v))
    sf = _write_events(spark, tmp_path, rows)
    for r in event_stats.events_wasserstein(spark, sf).collect():
        assert r.w1 == pytest.approx(0.0)


# ------------------------------------------------- energy distance


def test_energy_distance_matches_python(spark, tmp_path):
    """March 2024: day 1 = Fri, days 2/3 = weekend. Plant counts so
    weekday/weekend sets are known and recompute the V-statistic."""
    counts = [4, 9, 1, 2, 6, 3, 5]  # days 1..7 (Fri..Thu)
    sf = _daily_series(spark, tmp_path, {"a": counts})
    weekend = [counts[1], counts[2]]  # Sat 2nd, Sun 3rd
    weekday = [counts[0]] + counts[3:]

    def mean_abs(xs, ys):
        return sum(abs(x - y) for x in xs for y in ys) / (
            len(xs) * len(ys)
        )

    want = (
        2.0 * mean_abs(weekday, weekend)
        - mean_abs(weekday, weekday)
        - mean_abs(weekend, weekend)
    )
    row = event_stats.events_energy_distance(spark, sf).collect()[0]
    assert row.n_weekday_days == len(weekday)
    assert row.n_weekend_days == len(weekend)
    assert row.e_dist == pytest.approx(want, rel=1e-12)


# -------------------------------------------------- Durbin-Watson


def test_durbin_watson_matches_python(spark, tmp_path):
    counts = [3, 7, 2, 9, 4, 8, 1, 6]
    sf = _daily_series(spark, tmp_path, {"a": counts})
    n = len(counts)
    xs = list(range(1, n + 1))
    sx, sy = sum(xs), sum(counts)
    sxy = sum(x * y for x, y in zip(xs, counts))
    sxx = sum(x * x for x in xs)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    alpha = (sy - beta * sx) / n
    e = [y - alpha - beta * x for x, y in zip(xs, counts)]
    dw = sum((e[i] - e[i - 1]) ** 2 for i in range(1, n)) / sum(
        v * v for v in e
    )
    row = event_stats.events_durbin_watson(spark, sf).collect()[0]
    assert row.n_days == n
    assert row.trend_slope == pytest.approx(beta, rel=1e-12)
    assert row.dw == pytest.approx(dw, rel=1e-12)
    assert row.rho_approx == pytest.approx(1 - dw / 2, rel=1e-12)


# ------------------------------------------------- turning points


def test_turning_points_counts_and_z(spark, tmp_path):
    # series 1,3,2,2,4,1: diffs +,-,0,+,-; sign flips at i=2 (+,-) and
    # i=5 (+,-); the flat step (0) never counts.
    counts = [1, 3, 2, 2, 4, 1]
    sf = _daily_series(spark, tmp_path, {"a": counts})
    row = event_stats.events_turning_points(spark, sf).collect()[0]
    n = len(counts)
    assert row.n_days == n
    assert row.n_turning == 2
    expected = 2.0 * (n - 2) / 3.0
    z = (2 - expected) / math.sqrt((16 * n - 29) / 90.0)
    assert row.expected == pytest.approx(expected)
    assert row.z == pytest.approx(z, rel=1e-12)


def test_turning_points_monotone_series_zero(spark, tmp_path):
    sf = _daily_series(spark, tmp_path, {"a": [1, 2, 3, 4, 5]})
    row = event_stats.events_turning_points(spark, sf).collect()[0]
    assert row.n_turning == 0


# ---------------------------------------------- DQ screens (sf data)


def test_duplicate_orders_pairs_are_same_customer_same_day(spark):
    rows = dq_checks.dq_duplicate_orders(spark, SF_DIR).collect()
    for r in rows:
        assert r.k1 < r.k2
        assert r.amount_delta >= 0.0


def test_price_consistency_rates_bounded(spark):
    rows = dq_checks.dq_price_consistency(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.n_violations <= r.n_lines
        assert r.violation_rate == pytest.approx(
            r.n_violations / r.n_lines, rel=1e-12
        )
        assert r.max_unit_ratio > 0


# ------------------------------------------------- PQ distortion


def test_pq_distortion_nonnegative_and_complete(spark):
    rows = corpus_stats.simsearch_pq_distortion(spark, SF_DIR).collect()
    assert [r.subspace for r in rows] == list(range(32))
    n0 = rows[0].n_vectors
    for r in rows:
        assert r.n_vectors == n0  # every subspace sees every vector
        assert r.sum_d2 >= 0
        assert r.msq == pytest.approx(
            (r.sum_d2 / r.n_vectors) / float(1 << 40), rel=1e-12
        )


# ---------------------------------------------- streaming EWMA alert


def test_stream_ewma_alert_matches_python(spark, tmp_path):
    """Planted per-day means: days of value v_i with one event each;
    the alert count recomputes via the same init-first EWMA prefix."""
    vals = [8.0, 8.0, 8.0, 20.0, 8.0, 40.0]
    rows = [
        (i, f"2024-03-{i + 1:02d} 09:00:00", 1, "a", v)
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = harness.stream_ewma_alert(spark, sf).collect()[0]

    ew = vals[0]
    alerts = 0
    for v in vals[1:]:
        if v > 1.25 * ew:
            alerts += 1
        ew = ew * 0.875 + v * 0.125
    assert row.n_days == len(vals)
    assert row.baseline == pytest.approx(ew, rel=1e-12)
    assert row.n_alerts == alerts == 2


# ------------------------------------------------- term burstiness


def test_burstiness_poisson_vs_bursty(spark, tmp_path):
    """'flat' appears once in every doc (VMR = 0 on a constant);
    'burst' appears 4 times in one doc of 4 (VMR = E[x^2]/m - m =
    4/1 ... recomputed exactly below)."""
    docs = [
        (0, "flat burst burst burst burst", "en", "s", 30),
        (1, "flat", "en", "s", 4),
        (2, "flat", "en", "s", 4),
        (3, "flat", "en", "s", 4),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.term: r for r in corpus_stats.text_burstiness(
            spark, str(tmp_path)
        ).collect()
    }
    n = 4
    # flat: counts [1,1,1,1] -> var 0
    assert got["flat"].vmr == pytest.approx(0.0)
    # burst: counts [4,0,0,0] -> mean 1, E[x^2] 4, var 3, vmr 3
    m = 4 / n
    ex2 = 16 / n
    assert got["burst"].vmr == pytest.approx((ex2 - m * m) / m, rel=1e-12)
    assert got["burst"].df == 1 and got["burst"].total_count == 4


# ---------------------------------------------------- Friedman test


def test_friedman_consistent_ranking_matches_python(spark, tmp_path):
    """Three weeks (21 days), counts arranged so type ranks are
    IDENTICAL every week (a: low, b: mid, c: high) with no ties:
    R_a=3, R_b=6, R_c=9; chi2 = 12/(n k(k+1)) * sum R^2 - 3n(k+1)."""
    counts = {
        "a": [1] * 21,
        "b": [2] * 21,
        "c": [3] * 21,
    }
    sf = _daily_series(spark, tmp_path, counts)
    row = event_stats.events_friedman(spark, sf).collect()[0]
    n, k = 3, 3
    rs = {"a": 1 * n, "b": 2 * n, "c": 3 * n}
    chi2 = (12.0 / (n * k * (k + 1))) * sum(
        r * r for r in rs.values()
    ) - 3.0 * n * (k + 1)
    assert row.n_blocks == n and row.k == k
    assert row.friedman_chi2 == pytest.approx(chi2, rel=1e-12)
    # perfectly consistent ranking maximizes the statistic: n(k-1)
    assert chi2 == pytest.approx(n * (k - 1))
    assert row.chi2_tie_corrected == pytest.approx(chi2, rel=1e-12)


# ------------------------------------------------- seasonal index


def test_seasonal_index_flat_series_is_one(spark, tmp_path):
    """Constant monthly revenue over 26 months: every ratio is 1, so
    every index (raw and normalized) is exactly 1."""
    rows = []
    k = 0
    for ym in range(26):
        y, m = 2020 + ym // 12, ym % 12 + 1
        rows.append((k, 1000, "O", 100.0, f"{y}-{m:02d}-15", "1-URGENT"))
        k += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    rows_out = order_analytics.sql_seasonal_index(spark, str(tmp_path)).collect()
    assert len(rows_out) > 0
    for r in rows_out:
        assert r.index_raw == pytest.approx(1.0)
        assert r.index_norm == pytest.approx(1.0)


# --------------------------------------------- edge Jaccard audit


def test_edge_jaccard_histogram_totals_match_edge_count(spark):
    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        _copurchase_edges,
    )

    hist = order_analytics.sql_copurchase_edge_jaccard(spark, SF_DIR).collect()
    n_edges = _copurchase_edges(spark, SF_DIR).count()
    assert sum(r.n_edges for r in hist) == n_edges
    for r in hist:
        assert 0 <= r.jbin <= 9  # J < 1 strictly (union >= cn + 2)

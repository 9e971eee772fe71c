"""Unit tests for the round-8 queries: Python recomputations on planted
fixtures (the repo's standard second leg next to the DuckDB oracles)."""

import math

import pytest
from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.plans import (
    corpus_stats,
    event_stats,
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


# ------------------------------------------------------ S-curve math


def test_scurve_expr_matches_python_chain(spark):
    """The generated SQL multiplication chain must equal the same
    left-associated chain computed in Python (NOT pow(), which may
    associate differently)."""
    df = spark.range(0, 17).selectExpr("CAST(id AS BIGINT) AS m")
    for r, b, nm in corpus_stats._SCURVE_CONFIGS:
        got = {
            row.m: row.p
            for row in df.select(
                "m", F.expr(corpus_stats._scurve_expr(r, b)).alias("p")
            ).collect()
        }
        for m in range(17):
            s = m / 16.0
            sr = 1.0
            for _ in range(r):
                sr = sr * s
            q = 1.0 - sr
            qb = 1.0
            for _ in range(b):
                qb = qb * q
            assert got[m] == 1.0 - qb, (nm, m)


def test_scurve_monotone_in_m(spark):
    out = corpus_stats.dedup_minhash_scurve(spark, SF_DIR).orderBy("m").collect()
    for col in ("p_r2_b8", "p_r4_b4", "p_r8_b2"):
        vals = [getattr(r, col) for r in out]
        assert all(a <= b + 1e-15 for a, b in zip(vals, vals[1:])), col
    for r in out:
        # fewer rows per band -> more bands -> higher detection prob
        assert r.p_r2_b8 >= r.p_r4_b4 - 1e-15 >= r.p_r8_b2 - 2e-15


# ------------------------------------------------- Kruskal-Wallis


def test_kruskal_wallis_matches_python(spark, tmp_path):
    rows, eid = [], 0
    data = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0],
        "b": [2.0, 3.0, 4.0, 5.0, 6.0],
        "c": [10.0, 11.0, 12.0, 13.0, 14.0],
    }
    for t, vals in data.items():
        for v in vals:
            rows.append((eid, "2024-01-01 00:00:00", eid, t, v))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = event_stats.events_kruskal_wallis(spark, sf).collect()[0]

    # direct midrank recomputation on the cents grid
    allv = sorted(
        int(math.floor(v * 100 + 0.5)) for vs in data.values() for v in vs
    )
    n = len(allv)

    def midrank(c):
        less = sum(1 for x in allv if x < c)
        eq = sum(1 for x in allv if x == c)
        return less + (eq + 1) / 2.0

    h = 0.0
    for vals in data.values():
        rj = sum(midrank(int(math.floor(v * 100 + 0.5))) for v in vals)
        h += rj * rj / len(vals)
    h = 12.0 / (n * (n + 1.0)) * h - 3.0 * (n + 1.0)
    from collections import Counter

    cnt = Counter(allv)
    tt = sum(c**3 - c for c in cnt.values())
    h_corr = h / (1.0 - tt / float(n**3 - n))
    assert got.n == n and got.k == 3
    assert got.h == pytest.approx(h, rel=1e-9)
    assert got.h_tie_corrected == pytest.approx(h_corr, rel=1e-9)
    # group c is far from a and b: H must scream
    assert got.h > 8.0


# ------------------------------------------------- Mood median test


def test_mood_median_planted_split(spark, tmp_path):
    rows, eid = [], 0
    # type 'lo' entirely below the pooled median, 'hi' entirely above
    for v in range(1, 11):
        rows.append((eid, "2024-01-01 00:00:00", eid, "lo", float(v)))
        eid += 1
    for v in range(100, 110):
        rows.append((eid, "2024-01-01 00:00:00", eid, "hi", float(v)))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = event_stats.events_mood_median(spark, sf).collect()[0]
    assert r.n == 20 and r.dof == 1
    # perfect separation of a 2x2 table -> chi2 == n
    assert r.chi2 == pytest.approx(20.0, rel=1e-6)
    assert r.median == pytest.approx(10.0)  # lower median of 1..10,100..109


def test_mood_median_degenerate_constant_values(spark, tmp_path):
    # median == max (constant corpus): the 'above' column is empty and
    # the 0/0 cells must contribute 0, not NaN/crash (round-8 review)
    rows = [
        (i, "2024-01-01 00:00:00", i, "a" if i < 5 else "b", 7.0)
        for i in range(10)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = event_stats.events_mood_median(spark, sf).collect()[0]
    assert r.n == 10
    assert r.chi2 == pytest.approx(0.0, abs=1e-12)
    assert r.median == pytest.approx(7.0)


def test_mood_median_no_signal(spark, tmp_path):
    rows, eid = [], 0
    # both types identical distributions -> chi2 exactly 0
    for t in ("a", "b"):
        for v in range(1, 11):
            rows.append((eid, "2024-01-01 00:00:00", eid, t, float(v)))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    r = event_stats.events_mood_median(spark, sf).collect()[0]
    assert r.chi2 == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------- seasonal strength


def test_seasonal_strength_planted_weekly(spark, tmp_path):
    from datetime import date, timedelta

    rows, eid = [], 0
    base = date(2024, 1, 1)
    # 8 CONTIGUOUS weeks of daily events; value spikes every 7th day ->
    # strength ~1 (a calendar gap would both drop windows via the
    # span gate and shift the spike's day-of-week)
    for d in range(56):
        day = (base + timedelta(days=d)).isoformat()
        v = 500.0 if d % 7 == 0 else 10.0
        rows.append((eid, f"{day} 12:00:00", eid, "periodic", v))
        eid += 1
    # flat type: same value every day -> zero detrended variance; the
    # operator must not crash on it (zero-guard)
    for d in range(56):
        day = (base + timedelta(days=d)).isoformat()
        rows.append((eid, f"{day} 12:00:00", eid, "flat", 10.0))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {r.event_type: r for r in event_stats.events_seasonal_strength(spark, sf).collect()}
    assert out["periodic"].seasonal_strength > 0.95
    assert out["periodic"].var_detrended > 0


# ------------------------------------------------------ DSIR ESS


def test_dsir_ess_uniform_weights_equal_n(spark, tmp_path):
    # identical documents -> identical scores -> all weights 1 -> ESS = n
    docs = [(i, "alpha beta gamma", "en" if i % 2 == 0 else "de", "s", 16)
            for i in range(12)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = corpus_stats.corpus_dsir_ess(spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 12
    assert r.ess == pytest.approx(12.0, rel=1e-12)
    assert r.ess_ratio == pytest.approx(1.0, rel=1e-12)


# --------------------------------------------------- graph fixtures


def test_repeat_reciprocity_bounds(spark):
    r = order_analytics.sql_repeat_reciprocity(spark, SF_DIR).collect()[0]
    assert 0 <= r.n_recip <= r.n_edges
    assert 0.0 <= r.reciprocity <= 1.0
    assert r.reciprocity == pytest.approx(r.n_recip / r.n_edges)


def test_funnel_paths_bottleneck_weight(spark):
    rows = order_analytics.sql_repeat_funnel_paths(spark, SF_DIR).collect()
    assert rows, "expected 2-hop chains on the harness graph"
    for r in rows:
        assert r.path_w == min(r.w1, r.w2)
        assert r.dst != r.src
    ws = [r.path_w for r in rows]
    assert ws == sorted(ws, reverse=True)


# ------------------------------------------------- gap CV sanity


def test_customer_gap_cv_single_interval_zero_cv(spark, tmp_path):
    # one customer, three orders exactly 10 days apart -> cv = 0
    spark.createDataFrame(
        [(1, 1, "O", 10.0, "2024-01-01", "1-URGENT"),
         (2, 1, "O", 10.0, "2024-01-11", "1-URGENT"),
         (3, 1, "O", 10.0, "2024-01-21", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, 0, "BUILDING")],
        "c_custkey long, c_nationkey int, c_mktsegment string",
    ).selectExpr(
        "c_custkey", "'c1' AS c_name", "c_nationkey",
        "0.0 AS c_acctbal", "c_mktsegment",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    r = order_analytics.sql_customer_gap_cv(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0].n == 2
    assert r[0].mean_gap_days == pytest.approx(10.0)
    assert r[0].cv == pytest.approx(0.0, abs=1e-9)

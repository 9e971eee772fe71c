"""Unit tests for the round-8 third wave: Python recomputations on
planted fixtures (the repo's standard second leg next to the DuckDB
oracles)."""

import math

import pytest

from spot_anomalies_flink_workshop_resources_spark.plans import (
    corpus_stats,
    dq_checks,
    event_stats,
    order_analytics,
)


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


# 2024-03-02 is a Saturday, 2024-03-04 a Monday.
_WE_TS = "2024-03-02 10:00:00"
_WD_TS = "2024-03-04 10:00:00"


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, source)."""
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


# --------------------------------------------------- total variation


def test_total_variation_disjoint_supports(spark, tmp_path):
    """Equal-count types on disjoint values: each type's distribution
    puts mass 1 where pooled puts 1/2 and mass 0 where pooled puts the
    other 1/2 -> TV = 1/2 for both."""
    rows = []
    for i in range(10):
        rows.append((i, _WD_TS, 1, "a", 1.0))
        rows.append((100 + i, _WD_TS, 2, "b", 3.0))
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r.tv_distance
        for r in event_stats.events_total_variation(spark, sf).collect()
    }
    assert got == {"a": pytest.approx(0.5), "b": pytest.approx(0.5)}


def test_total_variation_identical_zero(spark, tmp_path):
    rows = []
    for i in range(20):
        v = float(1 + (i % 4))
        rows.append((i, _WD_TS, 1, "a", v))
        rows.append((100 + i, _WD_TS, 2, "b", v))
    sf = _write_events(spark, tmp_path, rows)
    for r in event_stats.events_total_variation(spark, sf).collect():
        assert r.tv_distance == pytest.approx(0.0)


# ---------------------------------------------- Hellinger / Bhattacharyya


def test_hellinger_disjoint_and_identical(spark, tmp_path):
    """Disjoint equal supports: BC = sum over own cells of
    sqrt(1 * 1/2) = sqrt(0.5); H = sqrt(1 - sqrt(0.5))."""
    rows = []
    for i in range(10):
        rows.append((i, _WD_TS, 1, "a", 1.0))
        rows.append((100 + i, _WD_TS, 2, "b", 3.0))
    sf = _write_events(spark, tmp_path, rows)
    for r in event_stats.events_hellinger(spark, sf).collect():
        assert r.bhattacharyya == pytest.approx(math.sqrt(0.5), abs=1e-5)
        assert r.hellinger == pytest.approx(
            math.sqrt(1 - math.sqrt(0.5)), abs=1e-5
        )


def test_hellinger_identical_is_one_bc(spark, tmp_path):
    rows = []
    for i in range(12):
        v = float(1 + (i % 3))
        rows.append((i, _WD_TS, 1, "a", v))
        rows.append((100 + i, _WD_TS, 2, "b", v))
    sf = _write_events(spark, tmp_path, rows)
    for r in event_stats.events_hellinger(spark, sf).collect():
        assert r.bhattacharyya == pytest.approx(1.0, abs=1e-5)
        assert r.hellinger == pytest.approx(0.0, abs=2e-3)


# ------------------------------------------------------ Cliff's delta


def test_cliffs_delta_full_separation(spark, tmp_path):
    """Every weekend value (10.0) beats every weekday value (1.0):
    delta = +1. And the mirrored type gets -1."""
    rows = []
    for i in range(5):
        rows.append((i, _WD_TS, 1, "up", 1.0))
        rows.append((10 + i, _WE_TS, 2, "up", 10.0))
        rows.append((20 + i, _WD_TS, 3, "dn", 10.0))
        rows.append((30 + i, _WE_TS, 4, "dn", 1.0))
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r.cliffs_delta
        for r in event_stats.events_cliffs_delta(spark, sf).collect()
    }
    assert got == {"up": pytest.approx(1.0), "dn": pytest.approx(-1.0)}


def test_cliffs_delta_python_recompute(spark, tmp_path):
    wd = [1.0, 2.0, 2.0, 5.0, 7.0]
    we = [2.0, 3.0, 6.0]
    rows = []
    for i, v in enumerate(wd):
        rows.append((i, _WD_TS, 1, "a", v))
    for i, v in enumerate(we):
        rows.append((100 + i, _WE_TS, 2, "a", v))
    sf = _write_events(spark, tmp_path, rows)
    gt = sum(1 for y in we for x in wd if y > x)
    lt = sum(1 for y in we for x in wd if y < x)
    want = (gt - lt) / (len(wd) * len(we))
    row = event_stats.events_cliffs_delta(spark, sf).collect()[0]
    assert row.n_weekday == len(wd) and row.n_weekend == len(we)
    assert row.cliffs_delta == pytest.approx(want)


# --------------------------------------------------------- Cohen's d


def test_cohens_d_python_recompute(spark, tmp_path):
    wd = [1.0, 2.0, 3.0, 4.0]
    we = [3.0, 5.0, 7.0]
    rows = []
    for i, v in enumerate(wd):
        rows.append((i, _WD_TS, 1, "a", v))
    for i, v in enumerate(we):
        rows.append((100 + i, _WE_TS, 2, "a", v))
    sf = _write_events(spark, tmp_path, rows)
    m1, m2 = sum(wd) / len(wd), sum(we) / len(we)
    ss1 = sum((x - m1) ** 2 for x in wd)
    ss2 = sum((x - m2) ** 2 for x in we)
    sp = math.sqrt((ss1 + ss2) / (len(wd) + len(we) - 2))
    row = event_stats.events_cohens_d(spark, sf).collect()[0]
    assert row.mean_diff == pytest.approx(m2 - m1)
    assert row.cohens_d == pytest.approx((m2 - m1) / sp, abs=1e-9)


def test_cohens_d_zero_for_equal_groups(spark, tmp_path):
    rows = []
    for i in range(6):
        v = float(1 + (i % 3))
        rows.append((i, _WD_TS, 1, "a", v))
        rows.append((100 + i, _WE_TS, 2, "a", v))
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_cohens_d(spark, sf).collect()[0]
    assert row.cohens_d == pytest.approx(0.0)
    assert row.mean_diff == pytest.approx(0.0)


# -------------------------------------------------------- Theil index


def test_theil_index_equal_incomes_zero(spark, tmp_path):
    """All customers of a nation earn the same -> r_i = 1, ln 1 = 0,
    T = 0 exactly."""
    spark.createDataFrame(
        [(k, 0, f"C{k}") for k in range(4)],
        "c_custkey long, c_nationkey long, c_name string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(0, "ALPHA", 0)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(i, k, 250.0) for i, k in enumerate(range(4))],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    row = order_analytics.sql_theil_index(spark, str(tmp_path)).collect()[0]
    assert row.nation == "ALPHA" and row.n_customers == 4
    assert row.theil_t == pytest.approx(0.0)


def test_theil_index_python_recompute(spark, tmp_path):
    xs = [100.0, 200.0, 300.0, 400.0]
    spark.createDataFrame(
        [(k, 0, f"C{k}") for k in range(len(xs))],
        "c_custkey long, c_nationkey long, c_name string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        [(0, "ALPHA", 0)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(i, i, x) for i, x in enumerate(xs)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    n, tot = len(xs), sum(xs)
    want = sum((x * n / tot) * math.log(x * n / tot) for x in xs) / n
    row = order_analytics.sql_theil_index(spark, str(tmp_path)).collect()[0]
    assert row.theil_t == pytest.approx(want, abs=1e-5)


# ----------------------------------------------------- Lorenz deciles


def test_lorenz_deciles_uniform(spark, tmp_path):
    """20 customers with identical revenue: every decile holds 2
    customers and exactly 10% of revenue; cum_share hits 1.0."""
    spark.createDataFrame(
        [(i, i % 20, 100.0) for i in range(40)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    rows = order_analytics.sql_lorenz_deciles(spark, str(tmp_path)).collect()
    assert [r.decile for r in rows] == list(range(10))
    for i, r in enumerate(rows):
        assert r.n_customers == 2
        assert r.revenue_share == pytest.approx(0.1)
        assert r.cum_share == pytest.approx((i + 1) / 10)


def test_lorenz_deciles_concentrated(spark, tmp_path):
    """9 customers at 10.00 + 1 at 910.00: the top decile carries 91%
    of revenue."""
    rows = [(i, i, 10.0) for i in range(9)] + [(9, 9, 910.0)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = order_analytics.sql_lorenz_deciles(spark, str(tmp_path)).collect()
    assert len(out) == 10 and out[-1].revenue_share == pytest.approx(0.91)
    assert out[-1].cum_share == pytest.approx(1.0)


# ------------------------------------------------- Yule K / Simpson D


def test_yule_k_python_recompute(spark, tmp_path):
    texts = {
        "rep": "the the the cat cat sat",      # f = {the:3, cat:2, sat:1}
        "div": "one two three four five six",  # all hapax
    }
    sf = _write_docs(
        spark,
        tmp_path,
        [(i, t, s) for i, (s, t) in enumerate(texts.items())],
    )
    rows = {r.source: r for r in corpus_stats.text_yule_k(spark, sf).collect()}
    # rep: S1 = 6, S2 = 9 + 4 + 1 = 14, V = 3, V1 = 1
    r = rows["rep"]
    assert r.n_tokens == 6 and r.vocab == 3
    assert r.yule_k == pytest.approx(10000.0 * (14 - 6) / 36)
    assert r.simpson_d == pytest.approx((14 - 6) / (6 * 5))
    assert r.hapax_share == pytest.approx(1 / 3)
    # div: all hapax -> K = 0, D = 0, hapax share 1
    d = rows["div"]
    assert d.yule_k == pytest.approx(0.0)
    assert d.simpson_d == pytest.approx(0.0)
    assert d.hapax_share == pytest.approx(1.0)


# ------------------------------------------------------ Grubbs test


def test_grubbs_planted_spike(spark, tmp_path):
    """Daily counts [5, 5, 5, 5, 20]: the spike day is named and G
    matches the Python recomputation."""
    counts = [5, 5, 5, 5, 20]
    rows = []
    eid = 0
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, f"2024-03-{day:02d} 12:00:00", 1, "a", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    n = len(counts)
    m = sum(counts) / n
    sd = math.sqrt(sum((x - m) ** 2 for x in counts) / (n - 1))
    row = event_stats.events_grubbs(spark, sf).collect()[0]
    assert str(row.peak_day) == "2024-03-05"
    assert row.n_days == n
    assert row.g_stat == pytest.approx(max(abs(x - m) for x in counts) / sd)


# -------------------------------------------------- McNemar activity


def test_mcnemar_planted_discordance(spark, tmp_path):
    """Users 1-3 active week1 only (b=3), user 4 active week2 only
    (c=1), user 5 active both (concordant): chi2 = (3-1)^2/4 = 1."""
    rows = []
    eid = 0
    for u in (1, 2, 3, 5):
        rows.append((eid, "2024-03-01 10:00:00", u, "a", 1.0))
        eid += 1
    for u in (4, 5):
        rows.append((eid, "2024-03-08 10:00:00", u, "a", 1.0))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_mcnemar_activity(spark, sf).collect()[0]
    assert row.lapsed == 3 and row.adopted == 1 and row.n_users == 5
    assert row.mcnemar_chi2 == pytest.approx((3 - 1) ** 2 / 4)


# ----------------------------------------------------- date sanity DQ


def test_dq_date_sanity_planted_violations(spark, tmp_path):
    spark.createDataFrame(
        [(1, "2024-03-10"), (2, "2024-03-01")],
        "o_orderkey long, o_orderdate string",
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    li = [
        (1, "2024-03-05"),   # ships before order date -> violation
        (1, "2024-03-12"),   # fine
        (2, "2024-08-01"),   # 153-day lag -> stale
    ]
    spark.createDataFrame(
        li, "l_orderkey long, l_shipdate string"
    ).selectExpr(
        "l_orderkey", "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    row = dq_checks.dq_date_sanity(spark, str(tmp_path)).collect()[0]
    assert row.n_lines == 3
    assert row.ship_before_order == 1
    assert row.ship_lag_over_120d == 1
    assert row.max_lag_days == 153
    assert row.stale_share == pytest.approx(1 / 3)


# --------------------------------------------------------------- CR4


def test_cr4_top4_share(spark, tmp_path):
    """6 suppliers in one region with revenues 60..10: CR4 =
    (60+50+40+30)/210."""
    revs = [60.0, 50.0, 40.0, 30.0, 20.0, 10.0]
    spark.createDataFrame(
        [(i, i, 1.0, r, 0.0) for i, r in enumerate(revs)],
        "l_orderkey long, l_suppkey long, l_quantity double,"
        " l_extendedprice double, l_discount double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(i, f"S{i}", 0) for i in range(len(revs))],
        "s_suppkey long, s_name string, s_nationkey long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/supplier.parquet")
    spark.createDataFrame(
        [(0, "ALPHA", 0)], "n_nationkey long, n_name string, n_regionkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/nation.parquet")
    spark.createDataFrame(
        [(0, "R1")], "r_regionkey long, r_name string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/region.parquet")
    row = order_analytics.sql_cr4_concentration(spark, str(tmp_path)).collect()[0]
    assert row.n_suppliers == 6
    assert row.cr4 == pytest.approx(180 / 210)
    assert row.top4_revenue == pytest.approx(180.0)


# ----------------------------------------------------- price indices


def test_fisher_index_python_recompute(spark, tmp_path):
    """Two parts traded in 2020 and 2023 with known prices/quantities;
    a third part missing from the base year is excluded."""
    # (orderkey, year)
    spark.createDataFrame(
        [(1, "2020-06-01"), (2, "2023-06-01")],
        "o_orderkey long, o_orderdate string",
    ).selectExpr(
        "o_orderkey", "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    # (orderkey, partkey, qty, extprice): price0 = ext/qty
    li = [
        (1, 10, 2.0, 20.0),   # part 10, y0: q=2,  p=10
        (1, 11, 5.0, 25.0),   # part 11, y0: q=5,  p=5
        (2, 10, 4.0, 60.0),   # part 10, y1: q=4,  p=15
        (2, 11, 2.0, 16.0),   # part 11, y1: q=2,  p=8
        (2, 12, 1.0, 99.0),   # part 12 only in y1 -> excluded
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    row = order_analytics.sql_price_index_fisher(spark, str(tmp_path)).collect()[0]
    lasp = (15 * 2 + 8 * 5) / (10 * 2 + 5 * 5)
    paas = (15 * 4 + 8 * 2) / (10 * 4 + 5 * 2)
    assert row.base_year == 2020 and row.compare_year == 2023
    assert row.n_parts == 2
    assert row.laspeyres == pytest.approx(lasp, abs=1e-5)
    assert row.paasche == pytest.approx(paas, abs=1e-5)
    assert row.fisher == pytest.approx(math.sqrt(lasp * paas), abs=1e-5)


# ------------------------------------------------------ SQ8 distortion


def test_sq8_distortion_two_dims(spark, tmp_path):
    """Dim 0 takes only the range endpoints (codes 0/255 -> zero
    error); dim 1 takes the midpoint of [0, 1] whose nearest code
    128/255 leaves a known squared error."""
    import numpy as np

    vecs = [
        (0, [0.0, 0.0]),
        (1, [1.0, 1.0]),
        (2, [0.0, 0.5]),
    ]
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    rows = {
        r.dim: r
        for r in corpus_stats.simsearch_sq8_distortion(
            spark, str(tmp_path)
        ).collect()
    }
    assert rows[0].mse == pytest.approx(0.0)
    # midpoint 0.5 -> code floor(0.5*255+0.5) = 128, recon = 128/255
    err = (0.5 - 128 / 255) ** 2
    assert rows[1].worst_sq_err == pytest.approx(err, abs=1e-9)
    assert rows[1].mse == pytest.approx(err / 3, abs=1e-9)


# ----------------------------------------------------- rich-club phi


def test_richclub_python_recompute(spark, tmp_path):
    """Orders planted so the co-purchase graph (support >= 2) is a
    known 4-clique on parts 1-4 plus pendant part 5 attached to part 1
    (pendant edges repeated so they clear support 2)."""
    rows = []
    oid = 0
    # each clique pair twice
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    for a, b in pairs * 2:
        rows.append((oid, a))
        rows.append((oid, b))
        oid += 1
    # pendant edge (1, 5) twice
    for _ in range(2):
        rows.append((oid, 1))
        rows.append((oid, 5))
        oid += 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = {
        r.k_threshold: r
        for r in order_analytics.sql_copurchase_richclub(
            spark, str(tmp_path)
        ).collect()
    }
    # degrees: part1 = 4, parts 2-4 = 3, part5 = 1
    # k=2: club = {1,2,3,4} (deg > 2), edges among = 6 -> phi = 1.0
    assert out[2].n_nodes == 4 and out[2].n_edges == 6
    assert out[2].phi == pytest.approx(1.0)
    # k=4, 8, 16: fewer than 2 qualifying nodes -> filtered out
    assert set(out) == {2}

"""Unit tests for the round-8 fifth wave: Python recomputations on
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


# ------------------------------------------------ IVF recall curve


def test_ivf_recall_curve_shape_and_monotonicity(spark):
    """On the real sf0.001 embeddings: three rows (nprobe 1/2/4),
    recall in [0, 1] and NON-DECREASING in probes (more lists scanned
    can only add candidates)."""
    rows = corpus_stats.simsearch_ivf_recall_curve(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r.n_probes for r in rows] == [1, 2, 4]
    vals = [r.recall_at_5 for r in rows]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals[0] <= vals[1] <= vals[2]
    assert all(r.n_hits == round(r.recall_at_5 * 40) for r in rows)


# ---------------------------------------------- dedup token loss


def test_dedup_token_loss_planted_copies(spark, tmp_path):
    """Source s1: one doc duplicated 3x (4 tokens each) + one unique
    doc (2 tokens): before = 14, after = 6, loss = 8/14."""
    docs = [
        (0, "alpha beta gamma delta", "s1"),
        (1, "alpha beta gamma delta", "s1"),
        (2, "alpha beta gamma delta", "s1"),
        (3, "epsilon zeta", "s1"),
        (4, "solo doc here", "s2"),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r.source: r
        for r in corpus_stats.corpus_dedup_token_loss(
            spark, str(tmp_path)
        ).collect()
    }
    s1 = rows["s1"]
    assert s1.n_docs == 4 and s1.n_unique == 2
    assert s1.tokens_before == 14 and s1.tokens_after == 6
    assert s1.token_loss_share == pytest.approx(8 / 14)
    s2 = rows["s2"]
    assert s2.token_loss_share == pytest.approx(0.0)


# ------------------------------------------------ id continuity DQ


def test_id_continuity_planted_holes_and_dups(spark, tmp_path):
    """ids [0, 1, 1, 5]: 1 duplicate row, range 0..5 holds 6 slots,
    3 distinct -> 3 missing, coverage 0.5."""
    rows = [(i, eid) for i, eid in enumerate([0, 1, 1, 5])]
    spark.createDataFrame(
        [(eid, "2024-03-01 10:00:00", 1, "a", 1.0) for _, eid in rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = dq_checks.dq_id_continuity(spark, str(tmp_path)).collect()[0]
    assert r.n_rows == 4 and r.n_ids == 3
    assert r.duplicate_rows == 1
    assert r.missing_in_range == 3
    assert r.range_coverage == pytest.approx(0.5)


# ------------------------------------- Cochran-Armitage trend test


def test_priority_trend_python_recompute(spark, tmp_path):
    """Three years with urgent shares 20%, 50%, 80% (n=10 each):
    strong positive trend; z matches the Python recomputation."""
    rows = []
    oid = 0
    for w, (year, k) in enumerate([(2020, 2), (2021, 5), (2022, 8)]):
        for i in range(10):
            pri = "1-URGENT" if i < k else "3-MEDIUM"
            rows.append((oid, 1, f"{year}-06-01", pri, 100.0))
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate string,"
        " o_orderpriority string, o_totalprice double",
    ).selectExpr(
        "o_orderkey", "o_custkey",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_totalprice",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = order_analytics.sql_priority_trend(spark, str(tmp_path)).collect()[0]
    ns = [10, 10, 10]
    xs = [2, 5, 8]
    ws = [0, 1, 2]
    nn, xx = sum(ns), sum(xs)
    pbar = xx / nn
    num = sum(x * w for x, w in zip(xs, ws)) - pbar * sum(
        n * w for n, w in zip(ns, ws)
    )
    var = (
        pbar
        * (1 - pbar)
        * (
            sum(n * w * w for n, w in zip(ns, ws))
            - sum(n * w for n, w in zip(ns, ws)) ** 2 / nn
        )
    )
    assert r.n_years == 3 and r.n_orders == 30
    assert r.urgent_share == pytest.approx(0.5)
    assert r.ca_z == pytest.approx(num / math.sqrt(var))
    assert r.ca_z > 2  # strong monotone trend


def test_priority_trend_flat_is_zero(spark, tmp_path):
    """Identical shares every year -> z = 0 exactly."""
    rows = []
    oid = 0
    for year in (2020, 2021, 2022):
        for i in range(10):
            pri = "1-URGENT" if i < 5 else "3-MEDIUM"
            rows.append((oid, 1, f"{year}-06-01", pri, 100.0))
            oid += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate string,"
        " o_orderpriority string, o_totalprice double",
    ).selectExpr(
        "o_orderkey", "o_custkey",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate",
        "o_orderpriority", "o_totalprice",
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    r = order_analytics.sql_priority_trend(spark, str(tmp_path)).collect()[0]
    assert r.ca_z == pytest.approx(0.0)


# ---------------------------------------- circular stats / Rayleigh


def test_circular_rayleigh_concentrated_vs_uniform(spark, tmp_path):
    """All events at hour 9 -> rbar ~ 1 (quantization-exact), modal
    hour 9, z ~ n; events spread evenly over all 24 hours -> rbar ~ 0."""
    rows = []
    eid = 0
    for _ in range(24):
        rows.append((eid, "2024-03-01 09:15:00", 1, "peak", 1.0))
        eid += 1
    for h in range(24):
        rows.append((eid, f"2024-03-01 {h:02d}:15:00", 1, "flat", 1.0))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        r.event_type: r
        for r in event_stats.events_circular_rayleigh(
            spark, str(tmp_path)
        ).collect()
    }
    peak = out["peak"]
    assert peak.modal_hour == 9
    assert peak.rbar == pytest.approx(1.0, abs=2e-3)
    assert peak.rayleigh_z == pytest.approx(24.0, rel=5e-3)
    flat = out["flat"]
    assert flat.rbar == pytest.approx(0.0, abs=2e-3)
    assert flat.modal_hour == 0  # all tied -> earliest hour


# --------------------------------------------------- tenant load gini


def test_user_gini_extremes(spark, tmp_path):
    """Type 'eq': 4 users with equal counts -> G = 0 on the exact
    grid (up to the (n+1)/n small-sample term: 2*sum(i*x)-(n+1)*sx =
    x*(2*10-5*4) = 0 exactly). Type 'conc': one user holds nearly
    everything -> G near (n-1)/n."""
    rows = []
    eid = 0
    for u in range(4):
        for _ in range(5):
            rows.append((eid, "2024-03-01 10:00:00", u, "eq", 1.0))
            eid += 1
    for _ in range(97):
        rows.append((eid, "2024-03-01 10:00:00", 0, "conc", 1.0))
        eid += 1
    for u in (1, 2, 3):
        rows.append((eid, "2024-03-01 10:00:00", u, "conc", 1.0))
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {
        r.event_type: r
        for r in event_stats.events_user_gini(spark, str(tmp_path)).collect()
    }
    assert out["eq"].gini == pytest.approx(0.0)
    assert out["eq"].n_events == pytest.approx(20.0)
    # exact: x = (97,1,1,1) ascending (1,1,1,97): G = (2*(1+2+3+4*97)
    # - 5*100) / (4*100) = (2*394 - 500)/400 = 0.72
    assert out["conc"].gini == pytest.approx(0.72)


# ------------------------------------------------ anomaly ensemble


def test_anomaly_ensemble_planted_spike(spark, tmp_path):
    """13 flat days (5 events) + one 60-event spike at the end: the
    spike day trips SPC, robust AND the EWMA baseline -> one
    consensus-flagged day with max_votes = 3."""
    rows = []
    eid = 0
    counts = [5] * 13 + [60]
    for day, c in enumerate(counts, start=1):
        for _ in range(c):
            rows.append((eid, f"2024-03-{day:02d} 10:00:00", 1, "a", 1.0))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = event_stats.events_anomaly_ensemble(spark, str(tmp_path)).collect()[0]
    assert r.n_days == 14
    assert r.flagged_consensus == 1
    assert r.max_votes == 3
    # flat days: MAD = 0 makes any deviation "robust"-flag... 5 == med,
    # so flat days carry 0 votes
    assert r.flagged_any == 1


def test_anomaly_ensemble_flat_series_no_flags(spark, tmp_path):
    """A series with tiny jitter flags nothing at 3-sigma consensus."""
    rows = []
    eid = 0
    for day, c in enumerate([5, 6, 5, 6, 5, 6, 5, 6], start=1):
        for _ in range(c):
            rows.append((eid, f"2024-03-{day:02d} 10:00:00", 1, "a", 1.0))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "'{}' AS props",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    r = event_stats.events_anomaly_ensemble(spark, str(tmp_path)).collect()[0]
    assert r.flagged_consensus == 0
    assert r.max_votes <= 1


# -------------------------------------------- acctbal/spend Pearson


def test_acctbal_spend_corr_planted(spark, tmp_path):
    """Segment A: spend = 2 * balance exactly -> r = 1. Segment B:
    spend anti-correlated -> r = -1."""
    cust = []
    orders = []
    oid = 0
    bals = [100.0, 200.0, 300.0, 400.0]
    for i, b in enumerate(bals):
        cust.append((i, f"C{i}", 0, b, "A"))
        orders.append((oid, i, 2 * b))
        oid += 1
    for i, b in enumerate(bals):
        k = 10 + i
        cust.append((k, f"C{k}", 0, b, "B"))
        orders.append((oid, k, 1000.0 - 2 * b))
        oid += 1
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_totalprice double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {
        r.segment: r.pearson_r
        for r in order_analytics.sql_acctbal_spend_corr(
            spark, str(tmp_path)
        ).collect()
    }
    assert out["A"] == pytest.approx(1.0)
    assert out["B"] == pytest.approx(-1.0)


# ------------------------------------------- dimension balance DQ


def test_segment_balance_independent_is_zero(spark, tmp_path):
    """A perfectly balanced segment x nation grid has chi2 = 0; a
    skewed one is strictly positive."""
    cust = []
    k = 0
    for seg in ("A", "B"):
        for nk in (0, 1):
            for _ in range(5):
                cust.append((k, f"C{k}", nk, 10.0, seg))
                k += 1
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    r = dq_checks.dq_segment_balance(spark, str(tmp_path)).collect()[0]
    assert r.n_customers == 20 and r.df == 1
    assert r.chi2 == pytest.approx(0.0)


def test_segment_balance_skewed_positive(spark, tmp_path):
    cust = []
    k = 0
    for seg, nk, n in [("A", 0, 9), ("A", 1, 1), ("B", 0, 1), ("B", 1, 9)]:
        for _ in range(n):
            cust.append((k, f"C{k}", nk, 10.0, seg))
            k += 1
    spark.createDataFrame(
        cust,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    r = dq_checks.dq_segment_balance(spark, str(tmp_path)).collect()[0]
    # chi2 for [[9,1],[1,9]] = 20*(9*9-1*1)^2/(10*10*10*10) = 12.8
    assert r.chi2 == pytest.approx(12.8, abs=1e-4)

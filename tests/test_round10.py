"""Negative/known-effect controls for the round-10 wave (VERDICT r9
#8 protocol): oracle exactness proves Spark and DuckDB agree, not that
the statistic is right — each query here gets a fixture whose correct
answer is known in closed form.

All fixtures are seeded/deterministic; assertions exact or with tight
bounds.
"""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = pd.Timestamp("2024-01-04")

_SEQ = [0]


def _write_tables(tmp_path, **tables):
    _SEQ[0] += 1
    d = tmp_path / f"r10_fix_{_SEQ[0]}"
    d.mkdir(exist_ok=True)
    for name, df in tables.items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            str(d / f"{name}.parquet"),
        )
    return str(d)


def _events(*, day, hour, value, event_type=None, user_id=None):
    n = len(day)
    ts = (
        BASE_DAY
        + pd.to_timedelta(np.asarray(day), unit="D")
        + pd.to_timedelta(np.asarray(hour), unit="h")
    ).astype("datetime64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": (
                np.asarray(user_id, dtype=np.int64)
                if user_id is not None
                else np.arange(n, dtype=np.int64) % 97
            ),
            "event_type": (
                np.asarray(event_type, dtype=object)
                if event_type is not None
                else np.full(n, "a", dtype=object)
            ),
            "value": np.asarray(value, dtype=np.float64),
            "props": np.full(n, "{}", dtype=object),
        }
    )


# ------------------------------------------- fixed-matrix IPInsights


def test_ipinsights_fixed_matches_hand_dot(spark, tmp_path):
    """The engine's pandas-UDF scoring path must reproduce the pure-
    Python md5-slot + integer-grid dot product exactly."""
    import hashlib

    from spot_anomalies_flink_workshop_resources_spark.plans.harness import (
        _IPF_CAP,
        _IPF_DEN,
        _IPF_DIM,
        ml_ipinsights_score_fixed,
    )

    sf = _write_tables(
        tmp_path,
        events=_events(
            day=[0, 1], hour=[1, 2], value=[5.0, 6.0],
            event_type=["GET", "POST"], user_id=[11, 42],
        ),
    )
    out = {
        (r.user_id, r.event_type): r.anomaly_score
        for r in ml_ipinsights_score_fixed(spark, sf).collect()
    }
    assert len(out) == 2

    def slot(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % _IPF_CAP

    for uid, et in [(11, "GET"), (42, "POST")]:
        es, isl = slot(str(uid)), slot(et)
        dot = sum(
            ((es * 31 + d * 17) % 97 - 48) * ((isl * 31 + d * 17 + 1) % 97 - 48)
            for d in range(_IPF_DIM)
        )
        assert out[(uid, et)] == -dot / _IPF_DEN


# ------------------------------------------------------ Benford MAD


def test_benford_mad_null_and_skew(spark, tmp_path):
    """Counts proportional to the Benford law land near MAD 0; a
    single-digit distribution lands far above Nigrini's 0.015
    nonconformity line."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_benford_mad,
    )

    # near-Benford: n_d = round(10000 * log10(1+1/d)) values of digit d
    day, val, typ = [], [], []
    for d in range(1, 10):
        k = round(10000 * math.log10(1 + 1 / d))
        day += [d % 5] * k
        val += [float(d)] * k  # cents = d*100 -> first digit d
        typ += ["null"] * k
    # all-nines control
    day += [1] * 500
    val += [9.99] * 500
    typ += ["skew"] * 500
    sf = _write_tables(
        tmp_path,
        events=_events(day=day, hour=[10] * len(day), value=val,
                       event_type=typ),
    )
    out = {r.event_type: r for r in events_benford_mad(spark, sf).collect()}
    assert out["null"].mad < 0.001
    assert out["skew"].mad > 0.15
    assert out["skew"].max_abs_dev > 0.6  # digit 9: 1.0 vs 0.0458


# ------------------------------------------------------ backlog aging


def test_backlog_aging_buckets_and_filled_excluded(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_backlog_aging,
    )

    asof = pd.Timestamp("2024-06-01")
    ages = [0, 40, 100, 400]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(5, dtype=np.int64),
            "o_custkey": np.zeros(5, dtype=np.int64),
            "o_orderstatus": ["O", "O", "P", "O", "F"],
            "o_totalprice": [10.0, 20.0, 30.0, 40.0, 99.0],
            "o_orderdate": pd.to_datetime(
                [asof - pd.Timedelta(days=a) for a in ages] + [asof]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT"] * 5,
        }
    )
    sf = _write_tables(tmp_path, orders=orders)
    out = {r.bucket: r for r in sql_backlog_aging(spark, sf).collect()}
    assert set(out) == {"a_0_30", "b_31_90", "c_91_365", "d_over_365"}
    assert all(r.n_orders == 1 for r in out.values())
    # the filled order's 9900 cents appear nowhere
    assert sum(r.total_cents for r in out.values()) == 10000
    assert out["a_0_30"].count_share == 0.25


# ------------------------------------------------- price ladder gaps


def test_price_ladder_top_gap(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_price_ladder_gaps,
    )

    part = pd.DataFrame(
        {
            "p_partkey": np.arange(4, dtype=np.int64),
            "p_name": ["w", "x", "y", "z"],
            "p_brand": ["B#1", "B#1", "B#1", "B#1"],
            "p_type": ["t"] * 4,
            "p_size": np.ones(4, dtype=np.int64),
            "p_retailprice": [1.0, 2.0, 10.0, 2.0],  # dup collapses
        }
    )
    sf = _write_tables(tmp_path, part=part)
    rows = sql_price_ladder_gaps(spark, sf).collect()
    assert [r.gap_cents for r in rows] == [800, 100]
    assert rows[0].prev_cents == 200 and rows[0].price_cents == 1000
    assert rows[0].rel_gap == 4.0


# ------------------------------------------------- odd hours share


def test_odd_hours_share_half(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_odd_hours_share,
    )

    sf = _write_tables(
        tmp_path,
        events=_events(
            day=[0, 0, 0, 0],
            hour=[3, 5, 12, 23],
            value=[1.0, 2.0, 3.0, 4.0],
        ),
    )
    r = events_odd_hours_share(spark, sf).collect()[0]
    assert r.n == 4 and r.n_odd == 2
    assert r.count_share == 0.5
    assert r.value_share == 300.0 / 1000.0


# ------------------------------------------------------ max drawdown


def test_max_drawdown_known_series(spark, tmp_path):
    """Daily cents +1000, -400, -300, +2000 -> cum 1000/600/300/2300,
    peak 1000 until the last day: max drawdown = 700."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_max_drawdown,
    )

    sf = _write_tables(
        tmp_path,
        events=_events(
            day=[0, 1, 2, 3],
            hour=[10] * 4,
            value=[10.0, -4.0, -3.0, 20.0],
        ),
    )
    r = events_max_drawdown(spark, sf).collect()[0]
    assert r.n_days == 4
    assert r.max_drawdown_cents == 700
    assert r.peak_cents == 2300


# --------------------------------------------------------- Theil-Sen


def test_theil_sen_exact_linear(spark, tmp_path):
    """Counts exactly 2/day + 5: every pairwise slope is 2.0 — median
    must be exactly 2.0 even with an outlier day removed from OLS
    reach."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_theil_sen,
    )

    day, hour = [], []
    for dd in range(8):
        k = 2 * dd + 5
        day += [dd] * k
        hour += [9] * k
    sf = _write_tables(
        tmp_path,
        events=_events(day=day, hour=hour, value=[1.0] * len(day)),
    )
    r = events_theil_sen(spark, sf).collect()[0]
    assert r.n_pairs == 8 * 7 // 2
    assert r.ts_slope == 2.0


def test_theil_sen_robust_to_outlier(spark, tmp_path):
    """One corrupted day cannot move the median slope off 3.0."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_theil_sen,
    )

    day = []
    for dd in range(9):
        k = 3 * dd + 4 if dd != 4 else 500  # day 4 is garbage
        day += [dd] * k
    sf = _write_tables(
        tmp_path,
        events=_events(day=day, hour=[9] * len(day), value=[1.0] * len(day)),
    )
    r = events_theil_sen(spark, sf).collect()[0]
    assert r.ts_slope == 3.0


# ------------------------------------------------ weekly autocorr


def test_weekly_autocorr_periodic_is_one(spark, tmp_path):
    """A strict period-7 count series has lag-7 autocorrelation 1."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_weekly_autocorr,
    )

    pattern = [3, 8, 5, 12, 7, 2, 9]
    day = []
    for dd in range(28):
        day += [dd] * pattern[dd % 7]
    sf = _write_tables(
        tmp_path,
        events=_events(day=day, hour=[9] * len(day), value=[1.0] * len(day)),
    )
    r = events_weekly_autocorr(spark, sf).collect()[0]
    assert r.n_pairs == 21
    assert r.acf7 == 1.0


def test_weekly_autocorr_constant_is_null(spark, tmp_path):
    """Zero variance on both sides -> structurally NULL, not a crash."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_weekly_autocorr,
    )

    day = [dd for dd in range(14) for _ in range(5)]
    sf = _write_tables(
        tmp_path,
        events=_events(day=day, hour=[9] * len(day), value=[1.0] * len(day)),
    )
    r = events_weekly_autocorr(spark, sf).collect()[0]
    assert r.acf7 is None


# ------------------------------------------------------ Chao1


def test_chao1_closed_form(spark, tmp_path):
    """3 singletons, 2 doubletons, 1 five-timer: chao1 = 6 + 3*2/6."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_chao1_richness,
    )

    users = [1, 2, 3, 4, 4, 5, 5, 6, 6, 6, 6, 6]
    sf = _write_tables(
        tmp_path,
        events=_events(
            day=[0] * len(users),
            hour=[9] * len(users),
            value=[1.0] * len(users),
            user_id=users,
        ),
    )
    r = events_chao1_richness(spark, sf).collect()[0]
    assert (r.s_obs, r.f1, r.f2) == (6, 3, 2)
    assert r.chao1 == 6 + 3 * 2 / 6


def test_chao1_no_doubletons_defined(spark, tmp_path):
    """f2 = 0 must not divide by zero (bias-corrected denominator)."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_chao1_richness,
    )

    users = [1, 2, 3]
    sf = _write_tables(
        tmp_path,
        events=_events(
            day=[0, 0, 0], hour=[9] * 3, value=[1.0] * 3, user_id=users
        ),
    )
    r = events_chao1_richness(spark, sf).collect()[0]
    assert r.chao1 == 3 + 3 * 2 / 2


# ------------------------------------------------------ bullwhip


def _orders_lineitem(tmp_path, order_months, ship_months, qtys):
    n = len(qtys)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": np.zeros(n, dtype=np.int64),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": np.ones(n),
            "o_orderdate": pd.to_datetime(
                [f"2024-{m:02d}-10" for m in order_months]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["1"] * n,
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype=np.int64),
            "l_partkey": np.arange(n, dtype=np.int64),
            "l_suppkey": np.zeros(n, dtype=np.int64),
            "l_linenumber": np.ones(n, dtype=np.int64),
            "l_quantity": np.asarray(qtys, dtype=np.float64),
            "l_extendedprice": np.ones(n),
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
            "l_returnflag": ["N"] * n,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pd.to_datetime(
                [f"2024-{m:02d}-20" for m in ship_months]
            ).astype("datetime64[us]"),
        }
    )
    return _write_tables(tmp_path, orders=orders, lineitem=li)


def test_bullwhip_amplification_direction(spark, tmp_path):
    """Ordered monthly totals (2, 10) vs shipped (6, 6) across the
    same two months: shipped variance 0 -> NULL guard; then shipped
    (5, 7) -> bullwhip = var(2,10)/var(5,7) = 64/4 = 16."""
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_bullwhip_ratio,
    )

    sf0 = _orders_lineitem(tmp_path, [1, 2], [1, 2], [2, 10])
    # shipped == ordered per month here (same rows), so use split rows:
    # month1 orders 2, month2 orders 10; shipments 6 and 6
    sf1 = _orders_lineitem(
        tmp_path, [1, 1, 2, 2], [1, 2, 1, 2], [1, 1, 5, 5]
    )
    r = sql_bullwhip_ratio(spark, sf1).collect()[0]
    # ordered: m1 = 2, m2 = 10; shipped: m1 = 6, m2 = 6
    assert r.n_months == 2
    assert r.var_num_shipped == 0 and r.bullwhip is None
    r0 = sql_bullwhip_ratio(spark, sf0).collect()[0]
    # ordered == shipped -> ratio exactly 1
    assert r0.bullwhip == 1.0


# -------------------------------------------------- discount ANOVA


def _li_part_discounts(tmp_path, brands, discounts):
    n = len(discounts)
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": ["p"] * n,
            "p_brand": np.asarray(brands, dtype=object),
            "p_type": ["t"] * n,
            "p_size": np.ones(n, dtype=np.int64),
            "p_retailprice": np.ones(n),
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype=np.int64),
            "l_partkey": np.arange(n, dtype=np.int64),
            "l_suppkey": np.zeros(n, dtype=np.int64),
            "l_linenumber": np.ones(n, dtype=np.int64),
            "l_quantity": np.ones(n),
            "l_extendedprice": np.ones(n),
            "l_discount": np.asarray(discounts, dtype=np.float64),
            "l_tax": np.zeros(n),
            "l_returnflag": ["N"] * n,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pd.to_datetime(["2024-01-15"] * n).astype(
                "datetime64[us]"
            ),
        }
    )
    return _write_tables(tmp_path, part=part, lineitem=li)


def test_discount_anova_null_vs_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_discount_anova,
    )

    # identical group distributions -> SSB = 0 -> F = 0 (up to the
    # 2^-20 quantization of the between-group term)
    sf_null = _li_part_discounts(
        tmp_path,
        ["A"] * 4 + ["B"] * 4,
        [0.00, 0.05, 0.05, 0.10] * 2,
    )
    r = sql_discount_anova(spark, sf_null).collect()[0]
    assert r.n_brands == 2 and r.n_items == 8
    assert abs(r.f_stat) < 1e-5
    # separated means with within-noise -> large F
    sf_eff = _li_part_discounts(
        tmp_path,
        ["A"] * 4 + ["B"] * 4,
        [0.00, 0.00, 0.01, 0.01, 0.09, 0.09, 0.10, 0.10],
    )
    r2 = sql_discount_anova(spark, sf_eff).collect()[0]
    assert r2.f_stat > 100


# ----------------------------------------------- monthly fill rate


def test_fill_rate_halves(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_fill_rate_monthly,
    )

    orders = pd.DataFrame(
        {
            "o_orderkey": np.asarray([1, 2], dtype=np.int64),
            "o_custkey": np.zeros(2, dtype=np.int64),
            "o_orderstatus": ["O", "O"],
            "o_totalprice": np.ones(2),
            "o_orderdate": pd.to_datetime(
                ["2024-03-01", "2024-03-05"]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["1", "1"],
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": np.asarray([1, 2], dtype=np.int64),
            "l_partkey": np.zeros(2, dtype=np.int64),
            "l_suppkey": np.zeros(2, dtype=np.int64),
            "l_linenumber": np.ones(2, dtype=np.int64),
            "l_quantity": np.ones(2),
            "l_extendedprice": np.ones(2),
            "l_discount": np.zeros(2),
            "l_tax": np.zeros(2),
            "l_returnflag": ["N", "N"],
            "l_linestatus": ["O", "O"],
            # +10 days (fast) and +61 days (slow)
            "l_shipdate": pd.to_datetime(["2024-03-11", "2024-05-05"]).astype(
                "datetime64[us]"
            ),
        }
    )
    sf = _write_tables(tmp_path, orders=orders, lineitem=li)
    rows = sql_fill_rate_monthly(spark, sf).collect()
    assert len(rows) == 1 and rows[0].m == 202403
    assert rows[0].n_items == 2 and rows[0].n_fast == 1
    assert rows[0].fill_rate == 0.5

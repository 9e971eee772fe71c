"""Negative/known-effect controls for the round-9 wave-3 statistics
(extends tests/test_stats_negative_controls.py per VERDICT r8 #7's
rationale): oracle-exactness proves both engines compute the same
number, not that the number is a valid statistic. Null fixtures must
land in the non-significant region; known-effect fixtures must show
the documented direction.

- events_xi_correlation: independence => xi ~ 0; a V-SHAPED (non-
  monotone) deterministic dependence => xi near 1 — the case that
  motivates Chatterjee's coefficient over Spearman.
- events_cmh_test: per-stratum independence of (PM, high-value) =>
  CMH below the chi2(1) critical value; a uniform within-stratum
  association => CMH far above it.
- sql_promo_uplift_did: identical promo/other revenue shifts => |z|
  inside the null band; a promo-only post-period lift => large
  positive z.

All fixtures are seeded and deterministic — assertions are exact-
repeatable, not flaky.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DAY = pd.Timestamp("2024-01-04")
CHI2_1_05 = 3.841

_SEQ = [0]


def _write_events(tmp_path, *, event_type, day, hour, value, user_id=None):
    n = len(day)
    ts = (
        BASE_DAY
        + pd.to_timedelta(np.asarray(day), unit="D")
        + pd.to_timedelta(np.asarray(hour), unit="h")
    )
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": (
                np.asarray(user_id, dtype=np.int64)
                if user_id is not None
                else np.arange(n, dtype=np.int64) % 97
            ),
            "event_type": np.asarray(event_type, dtype=object),
            "value": np.asarray(value, dtype=np.float64),
            "props": np.full(n, "{}", dtype=object),
        }
    )
    _SEQ[0] += 1
    d = tmp_path / f"ev_fix_{_SEQ[0]}"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        str(d / "events.parquet"),
    )
    return str(d)


def _write_lineitem_part(tmp_path, *, is_promo, is_after, dollars):
    """Minimal lineitem+part pair for sql_promo_uplift_did: one part
    per lineitem row, p_type PROMO*/STANDARD* per is_promo, shipdate
    on either side of the 1999-01-01 boundary per is_after."""
    n = len(dollars)
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": np.full(n, "test part", dtype=object),
            "p_brand": np.full(n, "Brand#1", dtype=object),
            "p_type": np.where(
                np.asarray(is_promo) == 1, "PROMO BRUSHED", "STANDARD TIN"
            ).astype(object),
            "p_size": np.full(n, 10, dtype=np.int64),
            "p_retailprice": np.full(n, 100.0),
        }
    )
    ship = np.where(np.asarray(is_after) == 1, "2000-06-15", "1997-06-15")
    li = pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype=np.int64),
            "l_partkey": np.arange(n, dtype=np.int64),
            "l_suppkey": np.zeros(n, dtype=np.int64),
            "l_linenumber": np.ones(n, dtype=np.int64),
            "l_quantity": np.ones(n),
            # discount 0 => revenue grid == dollars exactly
            "l_extendedprice": np.asarray(dollars, dtype=np.float64),
            "l_discount": np.zeros(n),
            "l_tax": np.zeros(n),
            "l_returnflag": np.full(n, "N", dtype=object),
            "l_linestatus": np.full(n, "O", dtype=object),
            "l_shipdate": pd.to_datetime(ship).astype("datetime64[us]"),
        }
    )
    _SEQ[0] += 1
    d = tmp_path / f"li_fix_{_SEQ[0]}"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(part, preserve_index=False),
        str(d / "part.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(li, preserve_index=False),
        str(d / "lineitem.parquet"),
    )
    return str(d)


# ------------------------------------------- Chatterjee xi


def test_xi_null_independence(spark, tmp_path):
    """Daily totals decoupled from daily counts => xi ~ 0. Counts vary
    by day; each day's per-event value is T_d / k_d with T_d drawn
    independently of k_d, so the daily cents total tracks T_d alone."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_xi_correlation,
    )

    rng = np.random.default_rng(23)
    days, types, vals, hours = [], [], [], []
    n_days = 120
    for dd in range(n_days):
        k = int(rng.integers(5, 60))
        t_d = float(rng.uniform(5_000, 50_000))
        days += [dd] * k
        types += ["a"] * k
        vals += [round(t_d / k, 2)] * k
        hours += list(rng.integers(0, 24, k))
    d = _write_events(
        tmp_path, event_type=types, day=days, hour=hours, value=vals
    )
    (r,) = events_xi_correlation(spark, d).collect()
    assert r["n_days"] == n_days
    # under independence xi_n ~ N(0, 0.4/n): sd ~ 0.058 at n=120; 0.25
    # is a > 4-sigma band
    assert abs(r["xi"]) < 0.25, r


def test_xi_detects_nonmonotone_dependence(spark, tmp_path):
    """V-shaped deterministic dependence (total = f(|count - mid|)):
    Spearman/Pearson see ~0 correlation, Chatterjee's xi approaches 1
    — the motivating case for the coefficient."""
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_xi_correlation,
    )

    rng = np.random.default_rng(29)
    days, types, vals, hours = [], [], [], []
    n_days = 120
    counts = rng.permutation(np.arange(10, 10 + n_days))  # distinct counts
    for dd in range(n_days):
        k = int(counts[dd])
        t_d = 1_000.0 * abs(k - 70)  # V-shape in count, vertex at 70
        days += [dd] * k
        types += ["a"] * k
        vals += [round(t_d / k, 2)] * k
        hours += list(rng.integers(0, 24, k))
    d = _write_events(
        tmp_path, event_type=types, day=days, hour=hours, value=vals
    )
    (r,) = events_xi_correlation(spark, d).collect()
    assert r["xi"] > 0.8, r


# ------------------------------------------- Cochran-Mantel-Haenszel


def test_cmh_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_cmh_test,
    )

    rng = np.random.default_rng(31)
    n = 20_000
    day = rng.integers(0, 28, n)  # 4 full weeks => all 7 strata
    hour = rng.integers(0, 24, n)
    # null: value independent of hour within every stratum
    vals = rng.uniform(10, 490, n).round(2)
    d = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour, value=vals
    )
    (r,) = events_cmh_test(spark, d).collect()
    assert r["n_strata"] == 7
    assert r["cmh_stat"] < CHI2_1_05, r

    # effect: PM events 2x as likely to clear the 250 threshold in
    # EVERY stratum (uniform association, the CMH-pools-power case)
    pm = hour >= 12
    vals_eff = np.where(
        pm & (rng.uniform(size=n) < 0.35), 400.0, vals * 0.6
    ).round(2)
    d2 = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour, value=vals_eff
    )
    (r2,) = events_cmh_test(spark, d2).collect()
    assert r2["cmh_stat"] > 20 * CHI2_1_05, r2


# ------------------------------------------- promo DiD


def test_did_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_promo_uplift_did,
    )

    rng = np.random.default_rng(37)
    n = 40_000
    is_promo = (rng.uniform(size=n) < 0.3).astype(int)
    is_after = (rng.uniform(size=n) < 0.5).astype(int)
    base = rng.uniform(100, 2_000, n)
    # null: the SAME post-period shift for promo and other => DiD ~ 0
    dollars = np.round(base + 300.0 * is_after, 2)
    d = _write_lineitem_part(
        tmp_path, is_promo=is_promo, is_after=is_after, dollars=dollars
    )
    (r,) = sql_promo_uplift_did(spark, d).collect()
    assert abs(r["z_stat"]) < 3.0, r

    # effect: promo-only post-period lift of +200 dollars
    dollars_eff = np.round(
        base + 300.0 * is_after + 200.0 * (is_promo & is_after), 2
    )
    d2 = _write_lineitem_part(
        tmp_path, is_promo=is_promo, is_after=is_after, dollars=dollars_eff
    )
    (r2,) = sql_promo_uplift_did(spark, d2).collect()
    assert r2["z_stat"] > 10.0, r2
    assert 150.0 < r2["did"] < 250.0, r2

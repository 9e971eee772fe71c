"""Negative-control suite for the newest statistical tests (VERDICT r8
#7): oracle-exactness proves both engines compute the same number, not
that the number is a valid test statistic. Each test here feeds the
plan (a) NULL-EFFECT data — shuffled labels / homogeneous groups /
uniform hours — and asserts the statistic lands in the non-significant
region, and (b) a KNOWN-EFFECT fixture and asserts significance in the
documented direction.

Covered (the 10 newest, per the directive): Cochran Q, Jonckheere,
seasonal Mann-Kendall, Poisson rate, Rayleigh, Friedman, McNemar,
Kruskal-Wallis, Mood median, Cochran-Armitage (sql_priority_trend).

All fixtures are deterministic (seeded numpy), so the assertions are
exact-repeatable, not flaky. Critical values used: chi2(df=1) 3.84,
chi2(df=2) 5.99 at alpha=0.05; |z| < 3 for the z-statistics' null
region (alpha ~ 0.0027); effects are sized to clear the bounds by a
wide margin.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BASE_DAY = pd.Timestamp("2024-01-04")  # any date; queries use epoch-day math

CHI2_1_05 = 3.841
CHI2_2_05 = 5.991


_FIXTURE_SEQ = [0]


def _write_events(
    tmp_path,
    *,
    event_type,
    day,
    hour,
    user_id,
    value,
):
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
            "user_id": np.asarray(user_id, dtype=np.int64),
            "event_type": np.asarray(event_type, dtype=object),
            "value": np.asarray(value, dtype=np.float64),
            "props": np.full(n, "{}", dtype=object),
        }
    )
    _FIXTURE_SEQ[0] += 1
    d = tmp_path / f"events_fixture_{_FIXTURE_SEQ[0]}"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        str(d / "events.parquet"),
    )
    return str(d)


def _write_orders(tmp_path, *, year, urgent):
    n = len(year)
    df = pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": np.arange(n, dtype=np.int64) % 100,
            "o_orderstatus": np.full(n, "O", dtype=object),
            "o_totalprice": np.full(n, 100.0),
            # us precision: the session-wide nanosAsLong conf (set by
            # catalog.load_table for events) would scan an ns column
            # as BIGINT and break year()
            "o_orderdate": pd.to_datetime(
                [f"{y}-06-15" for y in np.asarray(year)]
            ).astype("datetime64[us]"),
            "o_orderpriority": np.where(
                np.asarray(urgent) == 1, "1-URGENT", "3-MEDIUM"
            ).astype(object),
        }
    )
    _FIXTURE_SEQ[0] += 1
    d = tmp_path / f"orders_fixture_{_FIXTURE_SEQ[0]}"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        str(d / "orders.parquet"),
    )
    return str(d)


def _one(df):
    rows = df.collect()
    assert len(rows) >= 1
    return rows


# ------------------------------------------------- Kruskal-Wallis


def test_kruskal_wallis_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_kruskal_wallis,
    )

    rng = np.random.default_rng(7)
    n = 3000
    types = np.repeat(["a", "b", "c"], n // 3)
    vals = rng.uniform(10, 500, n).round(2)  # same distribution everywhere
    day = rng.integers(0, 28, n)
    null_dir = _write_events(
        tmp_path, event_type=types, day=day, hour=rng.integers(0, 24, n),
        user_id=rng.integers(0, 200, n), value=vals,
    )
    (r,) = _one(events_kruskal_wallis(spark, null_dir))
    assert r["h_tie_corrected"] < CHI2_2_05, r

    vals_eff = vals.copy()
    vals_eff[types == "c"] += 150.0  # type c stochastically dominates
    eff_dir = _write_events(
        tmp_path, event_type=types, day=day, hour=rng.integers(0, 24, n),
        user_id=rng.integers(0, 200, n), value=vals_eff,
    )
    (r,) = _one(events_kruskal_wallis(spark, eff_dir))
    assert r["h_tie_corrected"] > 10 * CHI2_2_05, r


# --------------------------------------------------- Mood median


def test_mood_median_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_mood_median,
    )

    rng = np.random.default_rng(11)
    n = 3000
    types = np.repeat(["a", "b", "c"], n // 3)
    vals = rng.uniform(10, 500, n).round(2)
    day = rng.integers(0, 28, n)
    hour = rng.integers(0, 24, n)
    users = rng.integers(0, 200, n)
    null_dir = _write_events(
        tmp_path, event_type=types, day=day, hour=hour,
        user_id=users, value=vals,
    )
    (r,) = _one(events_mood_median(spark, null_dir))
    assert r["chi2"] < CHI2_2_05, r

    vals_eff = vals.copy()
    vals_eff[types == "c"] += 150.0  # c straddles a higher center
    eff_dir = _write_events(
        tmp_path, event_type=types, day=day, hour=hour,
        user_id=users, value=vals_eff,
    )
    (r,) = _one(events_mood_median(spark, eff_dir))
    assert r["chi2"] > 10 * CHI2_2_05, r


# ------------------------------------------------------ Friedman


def test_friedman_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_friedman,
    )

    rng = np.random.default_rng(13)
    # null: weekly volumes per type are iid — block rankings shuffle.
    # 3 types x 8 weeks; volume differences come from random row counts.
    rows_t, rows_d, rows_h, rows_u, rows_v = [], [], [], [], []
    for t in "abc":
        for w in range(8):
            cnt = int(rng.integers(30, 90))
            rows_t += [t] * cnt
            rows_d += list(rng.integers(w * 7, w * 7 + 7, cnt))
            rows_h += list(rng.integers(0, 24, cnt))
            rows_u += list(rng.integers(0, 50, cnt))
            rows_v += list(rng.uniform(10, 100, cnt).round(2))
    rows_d[0] = 0  # anchor the global min day so week blocks align
    null_dir = _write_events(
        tmp_path, event_type=rows_t, day=rows_d, hour=rows_h,
        user_id=rows_u, value=rows_v,
    )
    (r,) = _one(events_friedman(spark, null_dir))
    assert r["friedman_chi2"] < CHI2_2_05, r

    # effect: a < b < c volume EVERY week — perfectly consistent ranks.
    rows_t, rows_d, rows_h, rows_u, rows_v = [], [], [], [], []
    for ti, t in enumerate("abc"):
        for w in range(8):
            cnt = 40 + 30 * ti  # 40 / 70 / 100, same ordering every block
            rows_t += [t] * cnt
            rows_d += list(rng.integers(w * 7, w * 7 + 7, cnt))
            rows_h += list(rng.integers(0, 24, cnt))
            rows_u += list(rng.integers(0, 50, cnt))
            rows_v += list(rng.uniform(10, 100, cnt).round(2))
    rows_d[0] = 0  # anchor the global min day so week blocks align
    eff_dir = _write_events(
        tmp_path, event_type=rows_t, day=rows_d, hour=rows_h,
        user_id=rows_u, value=rows_v,
    )
    (r,) = _one(events_friedman(spark, eff_dir))
    # perfectly consistent ranks over n blocks, k=3: chi2 = 2n = 16
    assert r["friedman_chi2"] > CHI2_2_05, r
    assert r["friedman_chi2"] == pytest.approx(16.0), r


# ------------------------------------------------------- McNemar


def _paired_weeks(rng, p_w1, p_w2, n_users=600):
    """Events for one type: each user active in week 0 / week 1 with
    the given independent probabilities."""
    day, user = [], []
    for u in range(n_users):
        if rng.random() < p_w1:
            day.append(int(rng.integers(0, 7)))
            user.append(u)
        if rng.random() < p_w2:
            day.append(int(rng.integers(7, 14)))
            user.append(u)
    return day, user


def test_mcnemar_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_mcnemar_activity,
    )

    rng = np.random.default_rng(17)
    day, user = _paired_weeks(rng, 0.5, 0.5)
    n = len(day)
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day,
        hour=rng.integers(0, 24, n), user_id=user,
        value=rng.uniform(10, 100, n).round(2),
    )
    (r,) = _one(events_mcnemar_activity(spark, null_dir))
    assert r["mcnemar_chi2"] < CHI2_1_05, r

    day, user = _paired_weeks(rng, 0.8, 0.2)  # mass lapse wave
    n = len(day)
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day,
        hour=rng.integers(0, 24, n), user_id=user,
        value=rng.uniform(10, 100, n).round(2),
    )
    (r,) = _one(events_mcnemar_activity(spark, eff_dir))
    assert r["mcnemar_chi2"] > 10 * CHI2_1_05, r
    assert r["lapsed"] > r["adopted"], r  # documented direction


# ------------------------------------------------------ Cochran Q


def test_cochran_q_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_cochran_q,
    )

    rng = np.random.default_rng(19)

    def weeks3(ps):
        day, user = [], []
        for u in range(600):
            for w, p in enumerate(ps):
                if rng.random() < p:
                    day.append(int(rng.integers(w * 7, w * 7 + 7)))
                    user.append(u)
        return day, user

    day, user = weeks3([0.5, 0.5, 0.5])  # homogeneous across periods
    n = len(day)
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day,
        hour=rng.integers(0, 24, n), user_id=user,
        value=rng.uniform(10, 100, n).round(2),
    )
    (r,) = _one(events_cochran_q(spark, null_dir))
    assert r["cochran_q"] < CHI2_2_05, r

    day, user = weeks3([0.8, 0.5, 0.2])  # monotone churn across weeks
    n = len(day)
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day,
        hour=rng.integers(0, 24, n), user_id=user,
        value=rng.uniform(10, 100, n).round(2),
    )
    (r,) = _one(events_cochran_q(spark, eff_dir))
    assert r["cochran_q"] > 10 * CHI2_2_05, r


# ---------------------------------------------------- Jonckheere


def test_jonckheere_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_jonckheere,
    )

    rng = np.random.default_rng(23)
    n = 4000
    hour = rng.integers(0, 24, n)
    day = rng.integers(0, 28, n)
    users = rng.integers(0, 200, n)
    vals = rng.uniform(10, 500, n).round(2)  # value independent of daypart
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour,
        user_id=users, value=vals,
    )
    (r,) = _one(events_jonckheere(spark, null_dir))
    assert abs(r["z"]) < 3, r

    vals_eff = (vals + (hour // 6) * 60.0).round(2)  # monotone by daypart
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour,
        user_id=users, value=vals_eff,
    )
    (r,) = _one(events_jonckheere(spark, eff_dir))
    assert r["z"] > 3, r  # documented direction: upward through the day


# ------------------------------------------- seasonal Mann-Kendall


def test_seasonal_mann_kendall_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_seasonal_mann_kendall,
    )

    rng = np.random.default_rng(29)
    n = 4000
    day = rng.integers(0, 56, n)
    hour = rng.integers(0, 24, n)
    users = rng.integers(0, 200, n)
    vals = rng.uniform(10, 500, n).round(2)  # no trend in daily volume
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour,
        user_id=users, value=vals,
    )
    (r,) = _one(events_seasonal_mann_kendall(spark, null_dir))
    assert abs(r["z"]) < 3, r

    vals_eff = (vals * (1.0 + day / 20.0)).round(2)  # rising daily sums
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour,
        user_id=users, value=vals_eff,
    )
    (r,) = _one(events_seasonal_mann_kendall(spark, eff_dir))
    assert r["z"] > 3, r  # documented direction: increasing trend


# --------------------------------------------------- Poisson rate


def test_poisson_rate_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_poisson_rate,
    )

    rng = np.random.default_rng(31)
    # BASE_DAY 2024-01-04 is a Thursday = epoch-day % 7 == 0, so
    # weekend offsets within each week are day % 7 in {2, 3}.
    n = 5000
    day = rng.integers(0, 56, n)  # uniform across all days: rate equal
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day,
        hour=rng.integers(0, 24, n), user_id=rng.integers(0, 200, n),
        value=rng.uniform(10, 100, n).round(2),
    )
    (r,) = _one(events_poisson_rate(spark, null_dir))
    assert abs(r["z"]) < 3, r

    # effect: weekend days receive ~3x the daily rate
    is_we = (day % 7 == 2) | (day % 7 == 3)  # Sat/Sun given Thu anchor
    keep = is_we | (rng.random(n) < 1 / 3.0)
    day_e = day[keep]
    m = len(day_e)
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * m, day=day_e,
        hour=rng.integers(0, 24, m), user_id=rng.integers(0, 200, m),
        value=rng.uniform(10, 100, m).round(2),
    )
    (r,) = _one(events_poisson_rate(spark, eff_dir))
    assert r["rate_ratio"] > 2 and r["z"] > 3, r


# ------------------------------------------------------- Rayleigh


def test_circular_rayleigh_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.event_stats import (
        events_circular_rayleigh,
    )

    rng = np.random.default_rng(37)
    n = 4000
    day = rng.integers(0, 28, n)
    users = rng.integers(0, 200, n)
    vals = rng.uniform(10, 100, n).round(2)
    hour_null = rng.integers(0, 24, n)  # uniform on the clock
    null_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour_null,
        user_id=users, value=vals,
    )
    (r,) = _one(events_circular_rayleigh(spark, null_dir))
    # Rayleigh z = n * rbar^2; under uniformity z ~ Exp(1), crit ~ 3
    # at alpha=0.05 — the seeded draw sits well inside.
    assert r["rayleigh_z"] < 5, r

    hour_eff = np.clip(
        np.round(rng.normal(12, 2, n)).astype(int), 0, 23
    )  # concentrated near noon
    eff_dir = _write_events(
        tmp_path, event_type=["a"] * n, day=day, hour=hour_eff,
        user_id=users, value=vals,
    )
    (r,) = _one(events_circular_rayleigh(spark, eff_dir))
    assert r["rayleigh_z"] > 100, r
    assert 10 <= r["modal_hour"] <= 14, r


# ------------------------------------- Cochran-Armitage (priority)


def test_cochran_armitage_null_and_effect(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.order_analytics import (
        sql_priority_trend,
    )

    rng = np.random.default_rng(41)
    n = 6000
    year = rng.integers(2018, 2025, n)
    urgent_null = (rng.random(n) < 0.3).astype(int)  # flat share
    null_dir = _write_orders(tmp_path, year=year, urgent=urgent_null)
    (r,) = _one(sql_priority_trend(spark, null_dir))
    assert abs(r["ca_z"]) < 3, r

    p = 0.1 + 0.08 * (year - 2018)  # share rises ~8pp per year
    urgent_eff = (rng.random(n) < p).astype(int)
    eff_dir = _write_orders(tmp_path, year=year, urgent=urgent_eff)
    (r,) = _one(sql_priority_trend(spark, eff_dir))
    assert r["ca_z"] > 3, r  # documented direction: rising urgent share

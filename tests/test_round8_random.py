"""Randomized cross-checks for the round-8 third/fourth-wave
statistics: each query re-derived by an independent brute-force
pure-Python reference on seeded random fixtures — the multi-seed
strategy the statistics family uses. These catch formula / boundary /
tie bugs that a single hand example cannot (the grid-cumsum pair
counting in cliffs/jonckheere and the season/tie bookkeeping in the
seasonal MK are exactly the kind of code a planted example can pass
by luck)."""

from __future__ import annotations

import math
import random

import pytest

from spot_anomalies_flink_workshop_resources_spark.plans import event_stats


def _write_events(spark, tmp_path, rows):
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


def _rand_weekend_split(seed, n_types=2):
    """Random events across 2024-03-01..14 with values on a coarse
    grid (ties guaranteed), returning rows plus per-(type, group)
    value lists; group 1 = weekend (Mar 2, 3, 9, 10)."""
    rng = random.Random(seed)
    weekend_days = {2, 3, 9, 10}
    rows, ref = [], {}
    i = 0
    for t in [chr(ord("a") + k) for k in range(n_types)]:
        for _ in range(rng.randint(25, 60)):
            day = rng.randint(1, 14)
            v = float(rng.randint(1, 9))  # coarse grid -> many ties
            rows.append((i, f"2024-03-{day:02d} 10:00:00", 1, t, v))
            ref.setdefault((t, day in weekend_days), []).append(v)
            i += 1
    return rows, ref


@pytest.mark.parametrize("seed", [5, 17, 91])
def test_cliffs_delta_matches_bruteforce(spark, tmp_path, seed):
    rows, ref = _rand_weekend_split(seed)
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in event_stats.events_cliffs_delta(spark, sf).collect()
    }
    for t in {k[0] for k in ref}:
        wd = ref.get((t, False), [])
        we = ref.get((t, True), [])
        if not wd or not we:
            assert t not in got
            continue
        gt = sum(1 for y in we for x in wd if y > x)
        lt = sum(1 for y in we for x in wd if y < x)
        want = (gt - lt) / (len(wd) * len(we))
        assert got[t].n_weekday == len(wd)
        assert got[t].n_weekend == len(we)
        assert got[t].cliffs_delta == pytest.approx(want, abs=1e-12)


@pytest.mark.parametrize("seed", [7, 29, 83])
def test_jonckheere_matches_bruteforce(spark, tmp_path, seed):
    rng = random.Random(seed)
    rows, groups = [], {g: [] for g in range(4)}
    i = 0
    for g in range(4):
        for _ in range(rng.randint(8, 20)):
            v = float(rng.randint(1, 6))  # heavy ties on purpose
            rows.append((i, f"2024-03-01 {6 * g:02d}:30:00", 1, "a", v))
            groups[g].append(v)
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    j2 = 0
    for gi in range(4):
        for gj in range(gi + 1, 4):
            for x in groups[gi]:
                for y in groups[gj]:
                    if x < y:
                        j2 += 2
                    elif x == y:
                        j2 += 1
    row = event_stats.events_jonckheere(spark, sf).collect()[0]
    assert row.j2_stat == j2
    sizes = [len(groups[g]) for g in range(4)]
    n = sum(sizes)
    e2 = n * n - sum(s * s for s in sizes)
    var = (
        n * n * (2 * n + 3) - sum(s * s * (2 * s + 3) for s in sizes)
    ) / 72.0
    want_z = (j2 - e2 / 2.0) / (2.0 * math.sqrt(var))
    assert row.z == pytest.approx(want_z, abs=1e-12)


@pytest.mark.parametrize("seed", [3, 41, 77])
def test_seasonal_mk_matches_bruteforce(spark, tmp_path, seed):
    rng = random.Random(seed)
    # one event per day with a random value; 2024-03-01..28
    rows = []
    series = {}
    for day in range(1, 29):
        v = float(rng.randint(1, 5))
        rows.append((day, f"2024-03-{day:02d} 12:00:00", 1, "a", v))
        series[day] = round(v * 100)
    sf = _write_events(spark, tmp_path, rows)
    # epoch day of 2024-03-01 mod 7 shifts seasons by a constant;
    # same-season pairs are same (day % 7) pairs
    s = 0
    days = sorted(series)
    for i, da in enumerate(days):
        for db in days[i + 1:]:
            if (da - db) % 7 == 0:
                ya, yb = series[da], series[db]
                s += (yb > ya) - (yb < ya)
    # variance with per-season tie groups
    varnum = 0
    for season in range(7):
        ys = [series[d] for d in days if d % 7 == season]
        ns = len(ys)
        tsum = 0
        for y in set(ys):
            t = ys.count(y)
            tsum += t * (t - 1) * (2 * t + 5)
        varnum += ns * (ns - 1) * (2 * ns + 5) - tsum
    var = varnum / 18.0
    if s > 0:
        want_z = (s - 1) / math.sqrt(var)
    elif s < 0:
        want_z = (s + 1) / math.sqrt(var)
    else:
        want_z = 0.0
    row = event_stats.events_seasonal_mann_kendall(spark, sf).collect()[0]
    assert row.s_stat == s
    assert row.n_days == 28
    assert row.z == pytest.approx(want_z, abs=1e-12)


@pytest.mark.parametrize("seed", [13, 59])
def test_wilcoxon_family_effect_sizes_consistent(spark, tmp_path, seed):
    """Cross-operator invariant on the same random fixture: Cliff's
    delta and Cohen's d must AGREE IN SIGN when the shift is large and
    one-directional (they measure the same displacement on different
    scales)."""
    rng = random.Random(seed)
    rows, i = [], 0
    for day, we in [(4, False), (5, False), (2, True), (3, True)]:
        base = 10 if we else 40  # strong downward weekend shift
        for _ in range(30):
            v = float(base + rng.randint(0, 5))
            rows.append((i, f"2024-03-{day:02d} 10:00:00", 1, "a", v))
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    delta = event_stats.events_cliffs_delta(spark, sf).collect()[0].cliffs_delta
    d = event_stats.events_cohens_d(spark, sf).collect()[0].cohens_d
    assert delta < -0.9 and d < -2

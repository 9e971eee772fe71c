"""Unit tests for the hypothesis-testing / concentration / HITS
operators (operators/stats.py, operators/graph.hits) against
independent pure-Python references on randomized fixtures — the same
reference-replica strategy the graph family uses."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.operators.stats import Q20


def _events_df(spark, rows):
    """rows: (event_id, ts_str, user_id, event_type, value)"""
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=ts,
                user_id=u,
                event_type=t,
                value=float(v),
            )
            for (i, ts, u, t, v) in rows
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _py_midranks(cents):
    """value -> average rank over the pooled sorted multiset."""
    s = sorted(cents)
    ranks = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        ranks[s[i]] = (i + 1 + j) / 2  # average of ranks i+1..j
        i = j
    return ranks


def test_mannwhitney_matches_python_reference(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        mannwhitney,
    )

    rng = random.Random(17)
    rows = []
    for i in range(300):
        t = rng.choice(["a", "b", "c"])
        # coarse grid to force plenty of ties
        v = rng.randint(0, 40) / 4.0
        rows.append((i, "2024-01-01 00:00:00", i % 7, t, v))
    df = _events_df(spark, rows)
    got = {r.event_type: r for r in mannwhitney(df).collect()}

    cents = [round(v * 100) for (_, _, _, _, v) in rows]
    ranks = _py_midranks(cents)
    n = len(cents)
    tie_counts = {}
    for c in cents:
        tie_counts[c] = tie_counts.get(c, 0) + 1
    tie_t = sum(t**3 - t for t in tie_counts.values())
    for typ in ["a", "b", "c"]:
        grp = [
            round(v * 100)
            for (_, _, _, t, v) in rows
            if t == typ
        ]
        na, nb = len(grp), n - len(grp)
        s = sum(ranks[c] for c in grp)
        u = s - na * (na + 1) / 2
        mu = na * nb / 2
        var = (
            na * nb / 12 * ((n + 1) - tie_t / (n * (n - 1)))
        )
        z = (u - mu) / math.sqrt(var)
        r = got[typ]
        assert r.n_a == na and r.n_b == nb
        assert r.u_stat == pytest.approx(u, abs=1e-9)
        assert r.z == pytest.approx(z, rel=1e-12)


def test_ks_matches_python_reference(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        ks_2samp,
    )

    rng = random.Random(5)
    rows = []
    for i in range(400):
        if rng.random() < 0.5:
            rows.append((i, "2024-01-01 00:00:00", 1, "x", rng.randint(0, 50) / 4.0))
        else:
            # shifted distribution
            rows.append((i, "2024-01-01 00:00:00", 1, "y", rng.randint(5, 60) / 4.0))
    df = _events_df(spark, rows)
    r = ks_2samp(df, "x", "y").collect()[0]
    xa = sorted(round(v * 100) for (_, _, _, t, v) in rows if t == "x")
    xb = sorted(round(v * 100) for (_, _, _, t, v) in rows if t == "y")
    na, nb = len(xa), len(xb)
    best, at = -1, None
    for c in sorted(set(xa) | set(xb)):
        ca = sum(1 for v in xa if v <= c)
        cb = sum(1 for v in xb if v <= c)
        d = abs(ca * nb - cb * na)
        if d > best:
            best, at = d, c
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.d_stat == pytest.approx(best / (na * nb), rel=1e-12)
    assert r.at_cents == at


def test_ks_identical_distributions_is_zero(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        ks_2samp,
    )

    rows = []
    for i in range(40):
        rows.append((2 * i, "2024-01-01 00:00:00", 1, "x", i % 5))
        rows.append((2 * i + 1, "2024-01-01 00:00:00", 1, "y", i % 5))
    r = ks_2samp(_events_df(spark, rows), "x", "y").collect()[0]
    assert r.d_stat == 0.0


def test_chi2_uniform_table_is_zero_and_shifted_is_positive(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        chi2_independence,
    )

    # perfectly independent: every (type, hour) cell equal
    rows = []
    i = 0
    for t in ["a", "b"]:
        for h in [0, 1, 2]:
            for _ in range(10):
                rows.append((i, f"2024-01-01 0{h}:00:00", 1, t, 1.0))
                i += 1
    r = chi2_independence(_events_df(spark, rows)).collect()[0]
    assert r.n == 60 and r.dof == 2
    assert r.chi2 == 0.0 and r.cramers_v == 0.0

    # concentrate type 'a' in hour 0 -> positive statistic
    rows2 = []
    i = 0
    for _ in range(30):
        rows2.append((i, "2024-01-01 00:00:00", 1, "a", 1.0)); i += 1
    for _ in range(30):
        rows2.append((i, "2024-01-01 01:00:00", 1, "b", 1.0)); i += 1
    r2 = chi2_independence(_events_df(spark, rows2)).collect()[0]
    # fully dependent 2x2 -> chi2 = n, cramers_v = 1
    assert r2.chi2 == pytest.approx(60.0, abs=1e-4)
    assert r2.cramers_v == pytest.approx(1.0, abs=1e-6)


def test_runs_test_alternating_and_blocked(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        runs_test,
    )

    # alternating low/high -> maximal runs (R = n), z > 0
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, "alt", 1.0 if i % 2 else 9.0)
        for i in range(40)
    ]
    # blocked: all lows then all highs -> R = 2, z < 0
    rows += [
        (100 + i, f"2024-01-01 01:{i:02d}:00", 1, "blk",
         1.0 if i < 20 else 9.0)
        for i in range(40)
    ]
    got = {r.event_type: r for r in runs_test(_events_df(spark, rows)).collect()}
    alt, blk = got["alt"], got["blk"]
    assert alt.n_above == 20 and alt.n_below == 20
    assert alt.n_runs == 40 and alt.z > 0
    assert blk.n_runs == 2 and blk.z < 0
    # closed-form z for n1 = n0 = 20: mu = 21, var = 20*380/39/40
    mu = 1 + 2 * 20 * 20 / 40
    var = 2 * 20 * 20 * (2 * 20 * 20 - 40) / (40 * 40 * 39)
    assert alt.z == pytest.approx((40 - mu) / math.sqrt(var), rel=1e-12)


def test_gini_extremes(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import gini

    # perfectly equal: G = 0; one-holder concentration: G -> (n-1)/n
    rows = [Row(g="eq", k=i, cents=500) for i in range(10)]
    rows += [Row(g="one", k=i, cents=0) for i in range(9)]
    rows += [Row(g="one", k=9, cents=1000)]
    df = spark.createDataFrame(rows)
    got = {r.g: r for r in gini(df, "g", "k", "cents").collect()}
    assert got["eq"].gini == 0.0
    assert got["one"].gini == pytest.approx(0.9, rel=1e-12)
    assert got["eq"].n_members == 10
    assert got["eq"].total_value == pytest.approx(50.0)


def test_hits_star_graph_roles(spark):
    """Directed star center->leaves: the center is the sole hub, the
    leaves are the (equal) authorities; the center has authority 0."""
    from spot_anomalies_flink_workshop_resources_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [Row(src="c", dst=f"l{i}", w=1) for i in range(4)]
    )
    got = {r.node: r for r in hits(edges, iters=3).collect()}
    assert got["c"].hub == 1.0 and got["c"].authority == 0.0
    for i in range(4):
        assert got[f"l{i}"].authority == 1.0
        assert got[f"l{i}"].hub == 0.0


def test_hits_weight_tilts_authority(spark):
    """Two authorities fed by the same hub with weights 3:1 — the
    heavier target must dominate and normalize to 1.0."""
    from spot_anomalies_flink_workshop_resources_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [Row(src="h", dst="a", w=3), Row(src="h", dst="b", w=1)]
    )
    got = {r.node: r for r in hits(edges, iters=4).collect()}
    assert got["a"].authority == 1.0
    assert 0.3 < got["b"].authority < 0.4  # ~1/3 on the quantized grid


def _write_events(spark, tmp_path, rows):
    """Write an events.parquet a stattests query can load via sf_dir."""
    import os

    df = _events_df(spark, rows)
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))
    return out


def test_mann_kendall_monotone_and_flat(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_mann_kendall,
    )

    rows = []
    i = 0
    # "up": strictly increasing daily sums over 6 days; "flat": constant
    for d in range(6):
        for _ in range(d + 1):
            rows.append((i, f"2024-01-{d+1:02d} 10:00:00", 1, "up", 10.0)); i += 1
        rows.append((i, f"2024-01-{d+1:02d} 11:00:00", 1, "flat", 5.0)); i += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {r.event_type: r for r in events_mann_kendall(spark, sf).collect()}
    up, flat = got["up"], got["flat"]
    assert up.n_days == 6 and up.s_stat == 15 and up.z > 0  # all 15 pairs rise
    assert flat.s_stat == 0 and flat.z == 0.0


def test_trend_ols_exact_line(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_trend_ols,
    )

    # one event per day with value 2 + 3*d -> daily cents 200 + 300*d
    rows = [
        (d, f"2024-02-{d+1:02d} 09:00:00", 1, "lin", 2.0 + 3.0 * d)
        for d in range(8)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = events_trend_ols(spark, sf).collect()[0]
    assert r.n_days == 8
    assert r.slope_cents_per_day == pytest.approx(300.0, rel=1e-12)
    assert r.intercept_cents == pytest.approx(200.0, rel=1e-12)
    assert r.r2 == pytest.approx(1.0, rel=1e-12)


def test_mutual_information_independent_and_dependent(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_mutual_information,
    )

    # independent: both types uniform over both hours -> MI = 0
    rows = []
    i = 0
    for t in ["a", "b"]:
        for h in [0, 1]:
            for _ in range(5):
                rows.append((i, f"2024-01-01 0{h}:00:00", 1, t, 1.0)); i += 1
    sf = _write_events(spark, tmp_path, rows)
    r = events_mutual_information(spark, sf).collect()[0]
    assert r.mi_nats == 0.0 and r.nmi == 0.0

    # fully dependent 2x2 -> MI = H = ln 2
    rows2 = [(i, "2024-01-01 00:00:00", 1, "a", 1.0) for i in range(10)]
    rows2 += [(100 + i, "2024-01-01 01:00:00", 1, "b", 1.0) for i in range(10)]
    sf2 = _write_events(spark, tmp_path.joinpath("dep"), rows2)
    r2 = events_mutual_information(spark, sf2).collect()[0]
    assert r2.mi_nats == pytest.approx(math.log(2), rel=1e-5)
    assert r2.nmi == pytest.approx(1.0, rel=1e-5)


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_bootstrap_ci,
    )

    rng = random.Random(3)
    rows = [
        (i, "2024-01-01 00:00:00", 1, "m", rng.randint(100, 300) / 10.0)
        for i in range(500)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r1 = events_bootstrap_ci(spark, sf).collect()[0]
    r2 = events_bootstrap_ci(spark, sf).collect()[0]
    assert (r1.ci_lo, r1.mean_value, r1.ci_hi) == (
        r2.ci_lo,
        r2.mean_value,
        r2.ci_hi,
    )
    assert r1.n_reps == 40
    assert r1.ci_lo < r1.mean_value < r1.ci_hi
    # CI half-width should be in the right ballpark (sd/sqrt(n) ~ 0.26)
    assert (r1.ci_hi - r1.ci_lo) < 2.0


def test_trimmed_mean_matches_python_reference(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_trimmed_mean,
    )

    rng = random.Random(11)
    rows = [
        (i, "2024-01-01 00:00:00", 1, "m", rng.randint(0, 5000) / 100.0)
        for i in range(237)
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = events_trimmed_mean(spark, sf).collect()[0]
    cents = sorted(round(v * 100) for (_, _, _, _, v) in rows)
    n = len(cents)
    lo = n // 10
    kept = cents[lo : n - lo]
    assert r.n == n and r.n_kept == len(kept)
    assert r.mean_value == pytest.approx(sum(cents) / n / 100.0, rel=1e-12)
    assert r.trimmed_mean == pytest.approx(
        sum(kept) / len(kept) / 100.0, rel=1e-12
    )


def test_stratified_split_exact_proportions(spark, sf_dir):
    from collections import Counter

    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        corpus_split_stratified,
    )

    rows = corpus_split_stratified(spark, sf_dir).collect()
    per_lang = Counter((r.lang, r.split) for r in rows)
    n_lang = Counter(r.lang for r in rows)
    for lang, n in n_lang.items():
        n_train = 8 * n // 10
        n_val = 9 * n // 10 - n_train
        assert per_lang[(lang, "train")] == n_train, lang
        assert per_lang[(lang, "val")] == n_val, lang
        assert per_lang[(lang, "test")] == n - n_train - n_val, lang


def test_cross_source_leak_counts_planted_dup(spark, tmp_path):
    import os

    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        corpus_cross_source_leak,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="Same Text", lang="en", source="a", n_chars=9),
            Row(doc_id=2, text="  same text ", lang="en", source="b", n_chars=12),
            Row(doc_id=3, text="same text", lang="en", source="a", n_chars=9),
            Row(doc_id=4, text="unique", lang="en", source="b", n_chars=6),
        ]
    )
    out = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    got = {r.source: r for r in corpus_cross_source_leak(spark, out).collect()}
    # normalization (lower/trim) makes docs 1, 2, 3 one group across a+b
    assert got["a"].n_docs == 2 and got["a"].n_dup_docs == 2
    assert got["a"].n_cross_source_docs == 2
    assert got["b"].n_docs == 2 and got["b"].n_dup_docs == 1
    assert got["b"].n_cross_source_docs == 1


def test_knn_eval_shape_and_bounds(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        simsearch_knn_eval,
    )

    rows = simsearch_knn_eval(spark, sf_dir).collect()
    assert sum(r.n_queries for r in rows) == 64
    for r in rows:
        assert 0 <= r.n_correct <= r.n_queries
        assert r.accuracy == pytest.approx(r.n_correct / r.n_queries)


def test_changepoint_finds_planted_level_shift(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_changepoint,
    )

    # 10 days at 5.00, then 10 days at 50.00: split after day 10
    rows = []
    i = 0
    for d in range(20):
        v = 5.0 if d < 10 else 50.0
        rows.append((i, f"2024-03-{d+1:02d} 12:00:00", 1, "shift", v)); i += 1
    sf = _write_events(spark, tmp_path, rows)
    r = events_changepoint(spark, sf).collect()[0]
    import datetime

    d10 = (datetime.date(2024, 3, 10) - datetime.date(1970, 1, 1)).days
    assert r.split_last_day == d10
    assert r.mean_before == pytest.approx(5.0)
    assert r.mean_after == pytest.approx(50.0)
    assert r.n_days == 20


def test_funnel_significance_rates_and_ci(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_funnel_significance,
    )

    rows = sorted(
        events_funnel_significance(spark, sf_dir).collect(),
        key=lambda r: r.stage_idx,
    )
    assert rows[0].conv_rate is None and rows[0].n_base is None
    for r in rows[1:]:
        assert r.conv_rate == pytest.approx(r.n_reached / r.n_base)
        assert r.ci_lo <= r.conv_rate <= r.ci_hi


def test_acf_matches_python_reference(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_acf,
    )

    rng = random.Random(23)
    rows = []
    i = 0
    # alternating-heavy series: strong negative lag-1, positive lag-2
    for d in range(20):
        base = 30.0 if d % 2 == 0 else 5.0
        for _ in range(3):
            rows.append(
                (i, f"2024-04-{d+1:02d} 10:00:00", 1, "alt",
                 base + rng.randint(0, 100) / 100.0)
            )
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {r.lag: r.acf for r in events_acf(spark, sf).collect()}

    # python reference over the same integer-rescaled deviations
    from collections import defaultdict

    daily = defaultdict(int)
    for (_, ts, _, _, v) in rows:
        d = int(ts[8:10])
        daily[d] += round(v * 100)
    days = sorted(daily)
    ys = [daily[d] for d in days]
    n, s = len(ys), sum(ys)
    dev = [n * y - s for y in ys]
    den = sum(x * x for x in dev)
    for lag in range(1, 8):
        num = sum(dev[t] * dev[t + lag] for t in range(n - lag))
        assert got[lag] == pytest.approx(num / den, rel=1e-12), lag
    assert got[1] < -0.5 and got[2] > 0.5


def test_anova_matches_python_reference(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import anova

    rng = random.Random(31)
    rows = []
    i = 0
    for t, base in [("a", 10.0), ("b", 12.0), ("c", 30.0)]:
        for _ in range(60):
            rows.append(
                (i, "2024-01-01 00:00:00", 1, t,
                 base + rng.randint(0, 400) / 100.0)
            )
            i += 1
    r = anova(_events_df(spark, rows)).collect()[0]
    groups = {}
    for (_, _, _, t, v) in rows:
        groups.setdefault(t, []).append(round(v * 100))
    n = sum(len(g) for g in groups.values())
    k = len(groups)
    s = sum(sum(g) for g in groups.values())
    q = sum(x * x for g in groups.values() for x in g)
    sq = sum(sum(g) ** 2 / len(g) for g in groups.values())
    ssb = sq - s * s / n
    ssw = q - sq
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert (r.n, r.k) == (n, k)
    # the 2^-10 grid quantization perturbs at most k/1024 cents^2
    assert r.f_stat == pytest.approx(f, rel=1e-6)
    assert r.ss_between == pytest.approx(ssb / 10000, rel=1e-6)
    assert r.ss_within == pytest.approx(ssw / 10000, rel=1e-6)


def test_brown_forsythe_detects_unequal_spread(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        brown_forsythe,
    )

    rng = random.Random(41)
    rows = []
    i = 0
    # same center, very different spread -> large F
    for _ in range(80):
        rows.append((i, "2024-01-01 00:00:00", 1, "tight",
                     50.0 + rng.randint(-100, 100) / 100.0)); i += 1
    for _ in range(80):
        rows.append((i, "2024-01-01 00:00:00", 1, "wide",
                     50.0 + rng.randint(-4000, 4000) / 100.0)); i += 1
    r = brown_forsythe(_events_df(spark, rows)).collect()[0]
    assert r.n == 160 and r.k == 2
    assert r.f_stat > 50  # wildly unequal spreads

    # equal distributions -> F near 0
    rows2 = []
    for i in range(100):
        rows2.append((2 * i, "2024-01-01 00:00:00", 1, "p", float(i % 10)))
        rows2.append((2 * i + 1, "2024-01-01 00:00:00", 1, "q", float(i % 10)))
    r2 = brown_forsythe(_events_df(spark, rows2)).collect()[0]
    assert r2.f_stat == pytest.approx(0.0, abs=1e-9)


def test_qq_drift_detects_planted_shift(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_qq_drift,
    )

    rng = random.Random(53)
    rows = []
    i = 0
    # first half centered at 10, second half centered at 20
    for d in range(10):
        for _ in range(30):
            base = 10.0 if d < 5 else 20.0
            rows.append(
                (i, f"2024-05-{d+1:02d} 12:00:00", 1, "s",
                 base + rng.randint(0, 200) / 100.0)
            )
            i += 1
    sf = _write_events(spark, tmp_path, rows)
    rows_out = events_qq_drift(spark, sf).collect()
    assert len(rows_out) == 9
    for r in rows_out:
        assert r.shift == pytest.approx(r.q_second - r.q_first, abs=1e-9)
        assert 9.0 < r.shift < 11.0  # the planted +10 level shift
        assert r.q_first < r.q_second


def test_burst_hours_gate_and_score(spark, tmp_path):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_burst_hours,
    )

    # 24 quiet hours with 2 events each, one hour with 30 -> only the
    # burst hour passes (floor 5 and 1.5x-rate gates)
    rows = []
    i = 0
    for h in range(24):
        for _ in range(2):
            rows.append((i, f"2024-06-01 {h:02d}:15:00", 1, "t", 1.0)); i += 1
    for _ in range(30):
        rows.append((i, "2024-06-02 00:30:00", 1, "t", 1.0)); i += 1
    sf = _write_events(spark, tmp_path, rows)
    out = events_burst_hours(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n == 30
    lam = 78 / 25  # 78 events over 25 hours spanned
    assert r.hourly_rate == pytest.approx(lam)
    assert r.burst_score == pytest.approx(
        30 * math.log(30 / lam) - 30 + lam, rel=1e-12
    )


def test_pmi_pairs_signs(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        text_pmi_pairs,
    )

    rows = text_pmi_pairs(spark, sf_dir).collect()
    assert rows, "harness corpus must produce collocation pairs"
    for r in rows:
        # PMI must equal the count identity on every row
        assert r.pmi == pytest.approx(
            math.log(r.n_ab * 500 / (r.df_a * r.df_b)), rel=1e-9
        )
    assert all(r.n_ab >= 5 for r in rows)


def test_range_search_agrees_with_brute_force_filter(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.operators.simsearch import (
        brute_force_topk,
    )
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        simsearch_range_search,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r.query_id, r.neighbor_id)
        for r in simsearch_range_search(spark, sf_dir).collect()
    }
    # every top-5 neighbor above the radius must be in the range result
    bf = brute_force_topk(emb, n_queries=16, k=5).collect()
    expected_subset = {
        (r.query_id, r.neighbor_id) for r in bf if r.cosine >= 0.35
    }
    assert expected_subset <= got
    assert got, "harness embeddings have neighbors above the radius"


def test_pit_enrich_delete_yields_nulls_not_stale_state(spark, tmp_path):
    """The feature-store correctness case: a purchase AFTER the user's
    profile was deleted ('error') must enrich to NULLs — not to the
    stale pre-delete state a naive last-non-null carry would leak."""
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_pit_enrich,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "signup", 1.0),   # profile v1
        (2, "2024-01-01 11:00:00", 7, "purchase", 9.0), # sees v1
        (3, "2024-01-01 12:00:00", 7, "error", 0.0),    # delete
        (4, "2024-01-01 13:00:00", 7, "purchase", 8.0), # sees NOTHING
        (5, "2024-01-01 14:00:00", 7, "click", 2.0),    # profile v2
        (6, "2024-01-01 15:00:00", 7, "purchase", 7.0), # sees v2
        (7, "2024-01-01 09:00:00", 8, "purchase", 5.0), # no profile yet
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r.event_id: r for r in events_pit_enrich(spark, sf).collect()}
    assert got[2].dim_event_id == 1 and got[2].dim_event_type == "signup"
    assert got[4].dim_event_id is None and got[4].dim_event_type is None
    assert got[6].dim_event_id == 5 and got[6].dim_event_type == "click"
    assert got[7].dim_event_id is None


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR invariants: rounds 1..5 per query; round 1 equals the plain
    cosine argmax; no duplicates; and every later pick's RELEVANCE is
    <= what a pure-relevance ranker would have at that slot (the
    diversity penalty can only demote, never promote, relevance)."""
    from spot_anomalies_flink_workshop_resources_spark.operators.simsearch import (
        brute_force_topk,
        mmr_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sel = mmr_topk(emb).collect()
    by_q = {}
    for r in sel:
        by_q.setdefault(r.query_id, []).append(r)
    bf = brute_force_topk(emb, n_queries=8, k=20).collect()
    top1 = {r.query_id: r.neighbor_id for r in bf if r.rank == 1}
    cos = {(r.query_id, r.neighbor_id): r.cosine for r in bf}
    assert len(by_q) == 8
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.sel_round)
        assert [r.sel_round for r in rows] == [1, 2, 3, 4, 5]
        ids = [r.neighbor_id for r in rows]
        assert len(set(ids)) == 5
        assert ids[0] == top1[q]  # round 1 is the pure-relevance pick
    # verify the greedy score identity exactly with numpy
    import numpy as np

    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=float)
        for r in emb.collect()
    }

    def _c(x, y):
        return float(
            vecs[x] @ vecs[y]
            / (np.linalg.norm(vecs[x]) * np.linalg.norm(vecs[y]))
        )

    for q, rows in by_q.items():
        picked = []
        for r in rows:
            pen = max((_c(r.neighbor_id, s) for s in picked), default=0.0)
            want = 0.7 * cos[(q, r.neighbor_id)] - 0.3 * pen
            assert r.mmr_score == pytest.approx(want, rel=1e-9), (q, r)
            picked.append(r.neighbor_id)


def test_holt_winters_matches_python_fold(spark, tmp_path):
    """The 9-state fold must replay bit-identically in Python, and on
    a pure weekly pattern the seasonal slots must separate by dow."""
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        events_holt_winters,
    )

    rows = []
    i = 0
    series = []
    import datetime

    for d in range(28):
        day = datetime.date(2024, 1, 1) + datetime.timedelta(days=d)
        dow = (day.toordinal() - datetime.date(1970, 1, 1).toordinal() + 4) % 7
        mu = 10.0 + (5.0 if dow in (0, 6) else 0.0)  # weekend lift
        series.append((mu, float(dow)))
        rows.append((i, f"{day} 12:00:00", 1, "hw", mu)); i += 1
    sf = _write_events(spark, tmp_path, rows)
    r = events_holt_winters(spark, sf).collect()[0]
    # python replica of the identical op sequence
    l = b = 0.0
    s = [0.0] * 7
    for mu, dow in series:
        dw = int(dow)
        lp = (mu - s[dw]) * 0.25 + (l + b) * 0.75
        bp = (lp - l) * 0.125 + b * 0.875
        s[dw] = (mu - lp) * 0.125 + s[dw] * 0.875
        l, b = lp, bp
    assert r.n_days == 28
    assert r.level == l and r.trend == b
    for idx in range(7):
        assert getattr(r, f"season_{idx}") == s[idx], idx
    # weekend slots learned a higher seasonal component
    assert min(r.season_0, r.season_6) > max(
        r.season_1, r.season_2, r.season_3, r.season_4, r.season_5
    )


def test_region_share_sums_to_one(spark, sf_dir):
    from collections import defaultdict

    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        sql_region_share,
    )

    rows = sql_region_share(spark, sf_dir).collect()
    per_region = defaultdict(float)
    region_world = {}
    for r in rows:
        per_region[r.region] += r.share_of_region
        region_world[r.region] = r.region_share_of_world
    for reg, s in per_region.items():
        assert s == pytest.approx(1.0, rel=1e-9), reg
    assert sum(region_world.values()) == pytest.approx(1.0, rel=1e-9)


def test_hhi_bounds_and_monopoly(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        sql_supplier_hhi,
    )

    rows = sql_supplier_hhi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HHI in (1/n, 1]; equals 1 only for a single supplier
        assert 1.0 / r.n_suppliers - 1e-6 <= r.hhi <= 1.0 + 1e-6, r
        if r.n_suppliers == 1:
            assert r.hhi == pytest.approx(1.0, abs=1e-5)


def test_media_entropy_bounds(spark, sf_dir):
    from spot_anomalies_flink_workshop_resources_spark.plans.stattests import (
        multimodal_entropy,
    )

    rows = multimodal_entropy(spark, sf_dir).collect()
    assert {r.sniffed_type for r in rows} == {
        "image/png", "image/jpeg", "audio/wav", "video/mp4",
    }
    for r in rows:
        # text-backed payloads: entropy well under 8 bits, over 1 bit
        assert 1.0 < r.entropy_bits < 8.0
        assert r.n_distinct_bytes <= 256


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_stats_family_randomized_against_python(spark, seed):
    """Multi-seed randomized cross-check: Mann-Whitney, KS, trimmed
    mean and ANOVA all recomputed by independent pure-Python code on
    the same random fixture — the property-test layer over the
    single-fixture unit tests."""
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        anova,
        ks_2samp,
        mannwhitney,
    )

    rng = random.Random(seed)
    rows = []
    for i in range(250):
        t = rng.choice(["x", "y"])
        shift = 0 if t == "x" else rng.choice([0, 8])
        rows.append(
            (i, "2024-01-01 00:00:00", 1, t,
             (rng.randint(0, 60) + shift) / 4.0)
        )
    df = _events_df(spark, rows)
    cents = {
        t: sorted(round(v * 100) for (_, _, _, tt, v) in rows if tt == t)
        for t in ("x", "y")
    }
    # KS reference
    r = ks_2samp(df, "x", "y").collect()[0]
    na, nb = len(cents["x"]), len(cents["y"])
    best = max(
        abs(
            sum(1 for v in cents["x"] if v <= c) * nb
            - sum(1 for v in cents["y"] if v <= c) * na
        )
        for c in set(cents["x"]) | set(cents["y"])
    )
    assert r.d_stat == pytest.approx(best / (na * nb), rel=1e-12)
    # Mann-Whitney reference (u only; z covered by the dedicated test)
    got = {row.event_type: row for row in mannwhitney(df).collect()}
    pooled = sorted(cents["x"] + cents["y"])
    ranks = _py_midranks(pooled)
    for t in ("x", "y"):
        u = sum(ranks[c] for c in cents[t]) - len(cents[t]) * (
            len(cents[t]) + 1
        ) / 2
        assert got[t].u_stat == pytest.approx(u, abs=1e-9)
    # ANOVA reference
    ra = anova(df).collect()[0]
    n = na + nb
    s = sum(sum(g) for g in cents.values())
    q = sum(v * v for g in cents.values() for v in g)
    sq = sum(sum(g) ** 2 / len(g) for g in cents.values())
    ssb, ssw = sq - s * s / n, q - sq
    f = ssb / 1 / (ssw / (n - 2))
    assert ra.f_stat == pytest.approx(f, rel=1e-5)


# ------------------------------------------------------------ grid layer


def _grid_doubles():
    """Doubles at and one ulp either side of half-grid boundaries on
    the cent and 2^-20 grids, negatives, and the classic 0.005 / 1.005
    / 2^-21 cases, plus a seeded spread."""
    xs = [0.005, 1.005, 2.0**-21, -0.005, -1.005, -(2.0**-21), 0.0, -0.0]
    for scale in (100, Q20):
        for k in (-3, -1, 0, 1, 2, 100, 12345):
            edge = (k + 0.5) / scale
            xs += [math.nextafter(edge, -math.inf), edge,
                   math.nextafter(edge, math.inf)]
    rnd = random.Random(15)
    xs += [rnd.uniform(-1e4, 1e4) for _ in range(200)]
    return xs


@pytest.mark.parametrize("scale", [100, Q20, 1024.0])
def test_on_grid_equals_duckdb_half_up(spark, scale):
    import duckdb
    import pandas as pd

    from spot_anomalies_flink_workshop_resources_spark.operators.stats import on_grid

    xs = _grid_doubles()
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got = dict(df.select("i", on_grid(F.col("x"), scale).alias("q")).collect())
    frame = pd.DataFrame({"i": range(len(xs)), "x": xs})  # noqa: F841 (DuckDB scan)
    ref = dict(
        duckdb.sql(
            f"SELECT i, CAST(FLOOR(x * {scale} + 0.5) AS BIGINT) FROM frame"
        ).fetchall()
    )
    assert got == ref
    assert got == {i: math.floor(x * scale + 0.5) for i, x in enumerate(xs)}
    assert got[xs.index(2.0**-21)] == (1 if scale == Q20 else 0)


def test_cents_keeps_a_decimal_column_decimal(spark):
    """The int scale 100 enters the product unchanged, so a decimal
    value is gridded in decimal arithmetic: 1.005 lands on 101 cents,
    where the double 1.005 (just under) lands on 100."""
    import duckdb

    from spot_anomalies_flink_workshop_resources_spark.operators.stats import cents

    df = spark.createDataFrame([("1.005",), ("-1.005",), ("2.345",)], "s string")
    df = df.select(
        F.col("s").cast("decimal(10,3)").alias("d"),
        F.col("s").cast("double").alias("v"),
    )
    got = [tuple(r) for r in df.select(cents("d"), cents("v")).collect()]
    ref = duckdb.sql(
        "SELECT CAST(FLOOR(CAST(s AS DECIMAL(10,3)) * 100 + 0.5) AS BIGINT), "
        "CAST(FLOOR(CAST(s AS DOUBLE) * 100 + 0.5) AS BIGINT) "
        "FROM (VALUES ('1.005'), ('-1.005'), ('2.345')) t(s)"
    ).fetchall()
    assert got == ref
    assert got[0] == (101, 100)


def test_moments_centered_ols_pearson_match_python_integers(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.stats import (
        centered,
        moments,
        ols,
        pearson,
    )

    rnd = random.Random(7)
    rows = [(g, rnd.randint(-10**6, 10**6), rnd.randint(-10**6, 10**6))
            for g in ("a", "b", "c") for _ in range(rnd.randint(3, 40))]
    rows += [("flat", 5, i) for i in range(4)]  # constant x
    df = spark.createDataFrame(rows, "g string, x long, y long")
    slope, r2 = ols()
    got = {
        r.g: r
        for r in df.groupBy("g")
        .agg(
            *moments(
                "n", sx="x", sxx=("x", "x"), sy="y", syy=("y", "y"),
                sxy=("x", "y"), sxxy=("x", "x", "y"),
            )
        )
        .select(
            "*",
            centered("n", "sxy", "sx", "sy").alias("cxy"),
            slope.alias("slope"),
            r2.alias("r2"),
            pearson().alias("r"),
        )
        .collect()
    }
    assert set(got) == {"a", "b", "c", "flat"}
    for g, r in got.items():
        xs = [x for gg, x, _ in rows if gg == g]
        ys = [y for gg, _, y in rows if gg == g]
        n, sx, sy = len(xs), sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        assert (r.n, r.sx, r.sxx, r.sy, r.syy, r.sxy) == (n, sx, sxx, sy, syy, sxy)
        assert r.sxxy == sum(x * x * y for x, y in zip(xs, ys))
        assert r.cxy == n * sxy - sx * sy
        num, vx, vy = (float(n * sxy - sx * sy), float(n * sxx - sx * sx),
                       float(n * syy - sy * sy))
        if vx > 0:
            assert r.slope == num / vx
            assert r.r2 == (num * num / (vx * vy) if vy > 0 else None)
            assert r.r == (num / (math.sqrt(vx) * math.sqrt(vy)) if vy > 0 else None)
        else:
            assert (g, r.slope, r.r2, r.r) == ("flat", None, None, None)


def test_no_hand_written_grid_outside_stats_module():
    """Every half-up rounding ``F.floor(<expr> + 0.5)`` and the 2^-20
    grid constant live in operators/stats.py (``half_up``/``on_grid``/
    ``cents``, ``Q20``); plan and operator modules call them. No module
    is exempt today."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / (
        "spot_anomalies_flink_workshop_resources_spark"
    )

    def is_half(n):
        if isinstance(n, ast.Call) and getattr(n.func, "attr", "") == "lit":
            n = n.args[0] if n.args else n
        return isinstance(n, ast.Constant) and n.value == 0.5

    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/stats.py":
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(n, ast.Call)
                and getattr(n.func, "attr", "") == "floor"
                and getattr(n.func.value, "id", "") == "F"
                and n.args
                and isinstance(n.args[0], ast.BinOp)
                and isinstance(n.args[0].op, ast.Add)
                and is_half(n.args[0].right)
            ):
                found.append(f"{rel}:{n.lineno} F.floor(... + 0.5)")
            if (
                isinstance(n, ast.BinOp)
                and isinstance(n.op, ast.LShift)
                and getattr(n.left, "value", None) == 1
                and getattr(n.right, "value", None) == 20
            ) or (
                isinstance(n, ast.Constant)
                and type(n.value) in (int, float)
                and n.value == 1 << 20
            ):
                found.append(f"{rel}:{n.lineno} 2^20 literal")
    assert found == []

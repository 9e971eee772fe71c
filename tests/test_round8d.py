"""Unit tests for the round-8 fourth wave: Python recomputations on
planted fixtures (the repo's standard second leg next to the DuckDB
oracles)."""

import math

import pytest

from spot_anomalies_flink_workshop_resources_spark.plans import (
    corpus_stats,
    event_stats,
)


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


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, source)."""
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


# -------------------------------------------------------- Cochran's Q


def test_cochran_q_python_recompute(spark, tmp_path):
    """Panel: u1 active weeks 0,1,2; u2 weeks 0,1; u3 week 0; u4 week 2.
    G = (3, 2, 2), L = (3, 2, 1, 1), N = 7.
    Q = 2*(3*17 - 49) / (3*7 - 15) = 4/6."""
    weeks = {1: [0, 1, 2], 2: [0, 1], 3: [0], 4: [2]}
    rows = []
    eid = 0
    for u, wks in weeks.items():
        for w in wks:
            rows.append(
                (eid, f"2024-03-{1 + 7 * w:02d} 10:00:00", u, "a", 1.0)
            )
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_cochran_q(spark, sf).collect()[0]
    g2 = 3 * 3 + 2 * 2 + 2 * 2
    l2 = 9 + 4 + 1 + 1
    n = 7
    want = 2 * (3 * g2 - n * n) / (3 * n - l2)
    assert row.n_users == 4 and row.df == 2
    assert row.cochran_q == pytest.approx(want)


# --------------------------------------------- Jonckheere-Terpstra


def test_jonckheere_python_recompute(spark, tmp_path):
    """Values rise strictly with daypart: every cross-group pair is
    concordant, so 2J = 2 * sum_{i<j} n_i * n_j and z > 0."""
    groups = {0: [1.0, 2.0], 1: [3.0, 4.0], 2: [5.0], 3: [6.0, 7.0]}
    rows = []
    eid = 0
    for g, vals in groups.items():
        for v in vals:
            rows.append((eid, f"2024-03-01 {6 * g:02d}:30:00", 1, "a", v))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    sizes = [len(v) for v in groups.values()]
    j_max = sum(
        sizes[i] * sizes[j]
        for i in range(4)
        for j in range(i + 1, 4)
    )
    row = event_stats.events_jonckheere(spark, sf).collect()[0]
    assert row.j2_stat == 2 * j_max
    assert row.z > 0


def test_jonckheere_ties_counted_half(spark, tmp_path):
    """All values identical: every cross-group pair is a tie, so
    2J = sum n_i * n_j (the half-tie convention) and z == mean-centered
    0 exactly (2J equals the doubled mean)."""
    rows = []
    eid = 0
    for g in range(4):
        for _ in range(2):
            rows.append((eid, f"2024-03-01 {6 * g:02d}:30:00", 1, "a", 5.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_jonckheere(spark, sf).collect()[0]
    assert row.j2_stat == sum(
        2 * 2 for i in range(4) for j in range(i + 1, 4)
    )
    assert row.z == pytest.approx(0.0)


# ------------------------------------------- seasonal Mann-Kendall


def test_seasonal_mk_weekly_cycle_no_trend(spark, tmp_path):
    """A pure weekly cycle (same value every like weekday) has S = 0:
    the seasonal test is immune to the periodicity."""
    rows = []
    eid = 0
    # 3 weeks, weekday pattern value = 10*(d%7): within a season the
    # series is constant -> every same-season pair ties -> S = 0
    for day in range(1, 22):
        v = float(10 * (day % 7) + 10)
        for _ in range(2):
            rows.append((eid, f"2024-03-{day:02d} 12:00:00", 1, "a", v))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_seasonal_mann_kendall(spark, sf).collect()[0]
    assert row.s_stat == 0
    assert row.z == pytest.approx(0.0)


def test_seasonal_mk_monotone_trend(spark, tmp_path):
    """Strictly increasing daily sums: every same-season pair is
    concordant, S = 3 seasons' worth of C(3,2) pairs = 21 * ... here
    21 days -> per season 3 days -> 3 pairs, 7 seasons -> S = 21."""
    rows = []
    eid = 0
    for day in range(1, 22):
        rows.append((eid, f"2024-03-{day:02d} 12:00:00", 1, "a", float(day)))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_seasonal_mann_kendall(spark, sf).collect()[0]
    assert row.s_stat == 21
    assert row.z > 0


# ------------------------------------------------ Poisson rate test


def test_poisson_rate_python_recompute(spark, tmp_path):
    """2024-03-02/03 are Sat/Sun; 2024-03-04/05 weekdays. Plant 30
    weekend and 10 weekday events over 2+2 observed days."""
    rows = []
    eid = 0
    for d, n in (("02", 18), ("03", 12), ("04", 6), ("05", 4)):
        for _ in range(n):
            rows.append((eid, f"2024-03-{d} 10:00:00", 1, "a", 1.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    row = event_stats.events_poisson_rate(spark, sf).collect()[0]
    assert row.weekend_events == 30 and row.weekday_events == 10
    assert row.weekend_days == 2 and row.weekday_days == 2
    assert row.rate_ratio == pytest.approx(3.0)
    n, p0 = 40, 0.5
    want_z = (30 - n * p0) / math.sqrt(n * p0 * (1 - p0))
    assert row.z == pytest.approx(want_z)


# ------------------------------------------- lognormal length fit


def test_length_lognormal_python_recompute(spark, tmp_path):
    texts = ["x" * 10, "y" * 100, "z" * 1000]
    sf = _write_docs(
        spark, tmp_path, [(i, t, "s1") for i, t in enumerate(texts)]
    )
    logs = [math.log(len(t)) for t in texts]
    mu = sum(logs) / len(logs)
    sigma = math.sqrt(sum(v * v for v in logs) / len(logs) - mu * mu)
    row = corpus_stats.corpus_length_lognormal(spark, sf).collect()[0]
    assert row.n_docs == 3
    assert row.mu == pytest.approx(mu, abs=1e-4)
    assert row.sigma == pytest.approx(sigma, abs=1e-4)
    assert row.median_chars == pytest.approx(math.exp(mu), rel=1e-4)


# --------------------------------------------- Honoré R / Sichel S


def test_honore_sichel_python_recompute(spark, tmp_path):
    """'the the the cat cat sat up': f = {the:3, cat:2, sat:1, up:1}
    N=7, V=4, V1=2, V2=1 -> R = 100 ln 7 / (1 - 2/4), S = 1/4."""
    sf = _write_docs(
        spark, tmp_path, [(0, "the the the cat cat sat up", "s1")]
    )
    row = corpus_stats.text_honore_sichel(spark, sf).collect()[0]
    assert row.n_tokens == 7 and row.vocab == 4
    assert row.honore_r == pytest.approx(100 * math.log(7) / 0.5, rel=1e-9)
    assert row.sichel_s == pytest.approx(0.25)


def test_honore_all_hapax_null(spark, tmp_path):
    """Every type hapax -> V1 = V -> R must be NULL, not a crash."""
    sf = _write_docs(spark, tmp_path, [(0, "one two three", "s1")])
    row = corpus_stats.text_honore_sichel(spark, sf).collect()[0]
    assert row.honore_r is None
    assert row.sichel_s == pytest.approx(0.0)


# ------------------------------------- time-series similarity search


def test_series_similarity_planted_twin(spark, tmp_path):
    """User 0's daily series is exactly mirrored by user 10 (r = 1)
    and anti-mirrored by user 11 (r = -1); user 12 is flat (NULL r,
    filtered). Top neighbor of query 0 must be user 10."""
    series = {
        0: [1, 5, 2, 8],
        10: [2, 10, 4, 16],   # 2x user 0 -> r = +1
        11: [8, 2, 5, 1],     # reversed -> some r < 1
        12: [3, 3, 3, 3],     # zero variance -> NULL r
    }
    rows = []
    eid = 0
    for u, per_day in series.items():
        for day, c in enumerate(per_day, start=1):
            for _ in range(c):
                rows.append(
                    (eid, f"2024-03-{day:02d} 10:00:00", u, "a", 1.0)
                )
                eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = event_stats.events_series_similarity(spark, sf).collect()
    q0 = [r for r in out if r.query_id == 0]
    assert q0[0].neighbor_id == 10
    assert q0[0].r == pytest.approx(1.0)
    assert all(r.neighbor_id != 12 for r in q0)


def test_series_similarity_python_recompute(spark, tmp_path):
    import statistics

    series = {0: [4, 1, 3, 2], 20: [1, 2, 2, 4], 21: [5, 1, 1, 2]}
    rows = []
    eid = 0
    for u, per_day in series.items():
        for day, c in enumerate(per_day, start=1):
            for _ in range(c):
                rows.append(
                    (eid, f"2024-03-{day:02d} 10:00:00", u, "a", 1.0)
                )
                eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {
        (r.query_id, r.neighbor_id): r.r
        for r in event_stats.events_series_similarity(spark, sf).collect()
    }

    def pearson(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
        da = math.sqrt(n * sum(x * x for x in a) - sa * sa)
        db = math.sqrt(n * sum(y * y for y in b) - sb * sb)
        return num / (da * db)

    assert out[(0, 20)] == pytest.approx(
        pearson(series[0], series[20]), abs=1e-12
    )
    assert out[(0, 21)] == pytest.approx(
        pearson(series[0], series[21]), abs=1e-12
    )


# ------------------------------------------------- SAX motif counts


def test_sax_motifs_repeating_week(spark, tmp_path):
    """Three identical weeks of a strong low/high pattern produce ONE
    motif word repeated 3 times; the word's symbols follow the
    plateau/peak shape."""
    pattern = [2, 2, 2, 2, 2, 20, 20]  # 5 low days + 2 high days
    rows = []
    eid = 0
    for wk in range(3):
        for dow, c in enumerate(pattern):
            day = 1 + 7 * wk + dow
            for _ in range(c):
                rows.append(
                    (eid, f"2024-03-{day:02d} 12:00:00", 1, "a", 1.0)
                )
                eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = event_stats.events_sax_motifs(spark, sf).collect()
    assert len(out) == 1
    assert out[0].n_weeks == 3
    word = out[0].word
    assert len(word) == 7
    # low plateau maps below the mean, peaks above
    assert set(word[:5]) == {"b"} and set(word[5:]) == {"d"}


def test_degenerate_constant_series_do_not_crash(spark, tmp_path):
    """A perfectly constant daily series (zero variance) must be
    FILTERED by grubbs / sax / jonckheere-single-cell, not crash
    ANSI division (DuckDB would NULL where Spark throws)."""
    rows = []
    eid = 0
    for day in range(1, 8):
        for _ in range(3):  # same count every day, same value always
            rows.append((eid, f"2024-03-{day:02d} 10:00:00", 1, "a", 5.0))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    assert event_stats.events_grubbs(spark, sf).collect() == []
    assert event_stats.events_sax_motifs(spark, sf).collect() == []
    # single-daypart data has Var = 0: filtered, not crashed
    assert event_stats.events_jonckheere(spark, sf).collect() == []

"""Regression tests for tools/check_oracles.py itself.

Round-1 lesson: the tool float-coerced numeric cells, so a DuckDB
HUGEINT (uncast integer SUM -> Arrow decimal128) compared equal to a
Spark bigint and five oracles shipped "green" locally while the
driver's hash gate failed them. The tool must now be driver-strict:
an integer-SUM oracle without CAST(... AS BIGINT) is a FAIL.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools.check_oracles import compare


def _con():
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (1, 20), (2, 5)) v(k, x)")
    return con


def test_uncast_integer_sum_fails_type_strict(spark):
    sdf = spark.createDataFrame([(1, 30), (2, 5)], "k int, s bigint")
    msg = compare("hugeint_probe", sdf, _con(), "SELECT k, SUM(x) AS s FROM t GROUP BY k")
    assert msg.startswith("FAIL"), msg
    assert "type mismatch" in msg, msg


def test_cast_integer_sum_passes(spark):
    sdf = spark.createDataFrame([(1, 30), (2, 5)], "k int, s bigint")
    msg = compare(
        "cast_probe", sdf, _con(),
        "SELECT k, CAST(SUM(x) AS BIGINT) AS s FROM t GROUP BY k",
    )
    assert msg.startswith("OK"), msg


def test_value_mismatch_still_fails(spark):
    sdf = spark.createDataFrame([(1, 31), (2, 5)], "k int, s bigint")
    msg = compare(
        "value_probe", sdf, _con(),
        "SELECT k, CAST(SUM(x) AS BIGINT) AS s FROM t GROUP BY k",
    )
    assert msg.startswith("FAIL"), msg


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md's headline counts must track the registry — the
    round-2 doc drifted (claimed 68 oracles, registry had 70). The doc
    states '<Q> queries, <O> oracle-backed, <R> rows-only'; this pins
    all three to build_queries()/build_oracles()."""
    import re

    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    q, o = harness.build_queries(), harness.build_oracles()
    assert set(o) <= set(q), "oracle without a registered query"
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(
        r"\*\*(\d+) queries, (\d+) oracle-backed, (\d+) rows-only", text
    )
    assert m, "COVERAGE.md counts line missing"
    assert (int(m[1]), int(m[2]), int(m[3])) == (
        len(q),
        len(o),
        len(q) - len(o),
    ), "COVERAGE.md counts drifted from the registry"


def test_all_docs_counts_in_sync_with_registry():
    """Round-4 hardening: every doc count (COVERAGE.md header, the
    verification paragraph, README's contract line) is generated by
    tools/sync_coverage_counts.py — this runs its --check mode so a
    registry change without re-running the tool fails fast."""
    from tools.sync_coverage_counts import sync

    assert sync(check_only=True) == 0, (
        "doc counts out of sync: run python tools/sync_coverage_counts.py"
    )


def test_driver_priority_names_resolve_and_front_slots_carry_oracles():
    """Every DRIVER_PRIORITY name must exist in the registry (a typo
    silently wastes a driver slot), and all of the first 50 registry
    entries — the driver's correctness window — must be oracle-backed
    (VERDICT r4 #2: no rows-only rows inside the window)."""
    import __spark_entry__ as entrymod
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    registry = harness.build_queries()
    oracles = entrymod.oracle_sql()
    missing = [n for n in harness.DRIVER_PRIORITY if n not in registry]
    assert missing == [], f"DRIVER_PRIORITY names not in registry: {missing}"
    # Duplicates are dedup'd by the registry dict but muddy the
    # ~50-slot priority-window accounting (ADVICE r5) — forbid them.
    from collections import Counter

    dup = [n for n, c in Counter(harness.DRIVER_PRIORITY).items() if c > 1]
    assert dup == [], f"duplicate DRIVER_PRIORITY entries: {dup}"
    missing_d = [n for n in harness.DRIVER_DEPRIORITIZE if n not in registry]
    assert missing_d == [], missing_d
    first50 = list(registry)[:50]
    rows_only = [n for n in first50 if n not in oracles]
    assert rows_only == [], f"rows-only queries inside driver window: {rows_only}"


def test_rotation_tail_orders_by_oldest_last_green_round():
    """The registry entries NOT named in DRIVER_PRIORITY must be
    ordered by (last driver-green round ascending, name) — the
    rotation directive (VERDICT r8 #2): with 360+ queries and a
    ~50-row driver window, stable queries must cycle back through the
    window instead of never being re-checked after their debut round.
    Never-hash-green queries (e.g. ones that gained an oracle after
    their only driver appearance) sort FIRST."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    registry = harness.build_queries()
    last_green = harness._last_green_rounds()
    # sanity: the map is non-trivial and reflects the committed files
    assert last_green.get("q2_min_cost_supplier") == 8  # r08 backlog row
    assert len(last_green) > 250
    explicit = set(harness.DRIVER_PRIORITY) | set(harness.DRIVER_DEPRIORITIZE)
    tail = [n for n in registry if n not in explicit]
    keys = [(last_green.get(n, -1), n) for n in tail]
    assert keys == sorted(keys), "rotation tail not ordered by last-green round"


def test_never_hash_green_queries_are_fronted():
    """Round-10 contract (VERDICT r9 #1): every oracle-backed query
    that has never been driver-HASH-green (its only driver appearances
    predate its oracle) must sit inside the explicit DRIVER_PRIORITY
    block, ahead of the rotation tail, so the next driver window
    finally records it. The explicit block must stay within the ~50
    window (rewritten queries + newcomers included)."""
    import json
    import re
    from pathlib import Path

    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    root = Path(harness.__file__).resolve().parents[2]
    hash_green: set[str] = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        recs = json.loads(f.read_text())
        hash_green |= {
            n
            for n, r in recs.items()
            if isinstance(r, dict) and r.get("hash_match")
        }
    registry = harness.build_queries()
    oracles = harness.build_oracles()
    never_green = [
        n for n in registry if n in oracles and n not in hash_green
    ]
    missing = [
        n for n in never_green if n not in harness.DRIVER_PRIORITY
    ]
    assert missing == [], (
        f"oracle-backed never-hash-green queries not fronted: {missing}"
    )
    assert len(harness.DRIVER_PRIORITY) <= 50, (
        "DRIVER_PRIORITY exceeds the ~50-row driver window"
    )


def test_registry_merge_rejects_a_name_defined_twice(monkeypatch):
    """Two plan modules registering one query name is an error, not a
    silent override: a later module's entry once shadowed an older
    events_theil_sen that nothing ran any more."""
    import types

    import pytest

    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def stub(name, queries, oracles):
        m = types.ModuleType(name)
        m.QUERIES, m.ORACLES = queries, oracles
        return m

    a = stub("stub_a", {"q_a": len, "q_shared": len}, {"q_shared": "SELECT 1"})
    b = stub("stub_b", {"q_shared": abs}, {"q_shared": "SELECT 2"})
    c = stub("stub_c", {"q_c": abs}, {"q_c": "SELECT 3"})

    monkeypatch.setattr(harness, "_registry_modules", lambda: [a, b])
    with pytest.raises(ValueError, match="'q_shared' is defined by both stub_a and stub_b"):
        harness.build_queries()
    with pytest.raises(ValueError, match="'q_shared' is defined by both stub_a and stub_b"):
        harness.build_oracles()

    monkeypatch.setattr(harness, "_registry_modules", lambda: [a, c])
    assert set(harness.build_queries()) == {"q_a", "q_shared", "q_c"}
    assert harness.build_oracles() == {"q_shared": "SELECT 1", "q_c": "SELECT 3"}

"""The session keeps generated classes across queries: a registry query
rerun after other queries that touch far more generated classes than
Spark's default codegen cache holds (100 entries) compiles nothing."""

from __future__ import annotations

import bench
from spot_anomalies_flink_workshop_resources_spark.plans import harness
from spot_anomalies_flink_workshop_resources_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
)

# The other TPC-H queries touch 293 distinct generated classes at sf0.001
# (their compiles at a cap of 100, where none survives to the next run),
# cached or not, so at the default cap they push q1's 8 classes out
# whatever earlier tests left in the cache.
_OTHERS = tuple(f"q{i}_" for i in range(2, 23))


def test_rerun_after_other_queries_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    queries = harness.build_queries()
    others = [n for n in sorted(queries) if n.startswith(_OTHERS)]
    assert len(others) == 21

    bench.run_query(spark, queries["q1_pricing_summary"], sf_dir)
    for name in others:
        bench.run_query(spark, queries[name], sf_dir)
    before = codegen_compiles(spark)
    bench.run_query(spark, queries["q1_pricing_summary"], sf_dir)
    assert codegen_compiles(spark) == before


def test_timed_passes_records_each_pass_compiles(spark):
    # a literal no other test uses gives the plan classes of its own
    def fn(spark, sf_dir):
        v = spark.range(50).selectExpr("id * 7919 + 104729 AS v")
        return v.groupBy("v").count()

    runs: dict = {}
    bench.timed_passes(spark, {"fresh": fn}, "unused", runs=runs)
    cold, warm = [c for _, c in runs["fresh"]]
    assert cold > 0 and warm == 0
    counts = bench.compile_counts(runs)
    assert counts["cold"] == {"fresh": cold}
    assert counts["best"]["fresh"] in (cold, warm)
    assert counts["pass_totals"] == [cold, warm]

"""Benchmark harness: runs the registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {family: subtotal_sec}, "n_queries": N, "sf": ...}.

The driver captures only the tail of stdout, so the printed line must
stay small (round 2's 76-entry per-query dict overflowed it and the
official bench record was lost). Per-query timings therefore go to
BENCH_DETAIL.json next to this file; the printed line carries the total
plus per-family subtotals (~300 bytes).

Each query executes fully via the noop sink (no driver collect cost); a
warmup pass primes the JVM/codegen so timings reflect steady-state plans.

Timing rule: every timed item runs exactly ``PASSES`` times and the best
run is recorded. Queries run pass by pass over the whole registry, in
name order, with the memo store released after each query; the
per-query minimum lands in ``queries``/``total_sec`` and pass 1 in
``queries_cold``/``total_cold_sec``. The uniform and hot-key stream
rates keep the best of ``PASSES`` runs, and ``stream_fixed_sec`` the
minimum of ``PASSES`` probe runs. No earlier record is read, so the
work a run does never depends on what the previous run wrote.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spot_anomalies_flink_workshop_resources_spark import memo
from spot_anomalies_flink_workshop_resources_spark.plans import harness
from spot_anomalies_flink_workshop_resources_spark.session import build_session

PASSES = 2

# warmup queries: JVM codegen (q1), Python worker pool + Arrow serde
# (simhash_packed), and streaming/state-store machinery (cep stream) —
# otherwise whichever query runs first absorbs those one-time costs and
# the per-query numbers misattribute them
WARMUP_QUERIES = (
    "q1_pricing_summary",
    "dedup_simhash_packed",
    "cep_fragmentation_stream",
)


def run_query(spark, fn, sf_dir: str) -> float:
    """Run one query to the noop sink and return its wall seconds. The
    memo store is released afterwards, outside the timed window, so
    blocks one query leaves cached never press on the next one's timing
    (VERDICT r2 #9)."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    t = time.perf_counter() - t0
    memo.release(spark)
    return t


def warm_dir(sf_dir: str) -> str:
    """The sf0.001 corpus beside ``sf_dir`` when present, else ``sf_dir``."""
    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    return tiny if os.path.isdir(tiny) else sf_dir


def warm_up(spark, queries: dict, sf_dir: str) -> None:
    """Run the warmup queries once each over ``sf_dir``, untimed."""
    for name in WARMUP_QUERIES:
        if name in queries:
            run_query(spark, queries[name], sf_dir)


def timed_passes(
    spark, queries: dict, sf_dir: str, passes: int = PASSES
) -> tuple[dict[str, float], dict[str, float]]:
    """Run every query of ``queries`` (name -> fn, in dict order) once per
    pass, ``passes`` passes, and return (per-query minimum, pass-1
    seconds)."""
    best: dict[str, float] = {}
    first: dict[str, float] = {}
    for i in range(passes):
        for name, fn in queries.items():
            t = run_query(spark, fn, sf_dir)
            if i == 0:
                first[name] = t
            best[name] = min(best.get(name, t), t)
    return best, first


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = dict(sorted(harness.build_queries().items()))
    warm = warm_dir(sf_dir)
    warm_up(spark, queries, warm)

    best, first = timed_passes(spark, queries, sf_dir)
    timings = {name: round(t, 4) for name, t in best.items()}
    total = round(sum(timings.values()), 4)
    # the cold pass-1 timings keep the one-time build costs that the
    # shared-pass caches amortize and the minima discard (VERDICT r10 #2)
    timings_cold = {name: round(t, 4) for name, t in first.items()}
    total_cold = round(sum(timings_cold.values()), 4)
    families: dict[str, float] = {}
    for name, sec in timings.items():
        families[_family(name)] = round(families.get(_family(name), 0.0) + sec, 4)

    # Per-stream-query fixed cost (VERDICT r8 #5): each stream_* query
    # pays a data-independent start/stop + state-store-open floor that
    # is harness overhead, not plan cost. Measure it directly with a
    # minimal stateful query over the tiny warm corpus, and record
    # wall-minus-fixed per stream query so the honest data cost is
    # separable from the per-query replay fixture cost.
    def _stream_fixed_run() -> float:
        t0 = time.perf_counter()
        harness._run_to_completion(
            harness._events_stream(spark, warm)
            .groupBy("event_type")
            .count(),
            spark,
            output_mode="complete",
        ).count()
        return time.perf_counter() - t0

    stream_fixed = round(min(_stream_fixed_run() for _ in range(PASSES)), 4)
    stream_net = {
        name: round(max(0.0, sec - stream_fixed), 4)
        for name, sec in timings.items()
        if name.startswith("stream_") or name == "cep_fragmentation_stream"
    }

    # Sustained-rate streaming throughput (VERDICT r4 #7): events/s
    # through parse -> stateful detect -> serialize at fixed key
    # cardinality. 400k events per run: each streaming query carries a
    # ~1.4 s fixed start/stop cost, so at 100k events the measured rate
    # was mostly startup jitter (SCALE.md decomposes it). The hot-key
    # twin (VERDICT r6 #7) sends ~50% of events to one ip_dst — the
    # attack shape — proving detector throughput under key skew.
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    )
    from bench_streaming import measure as _measure_stream

    def _best_rate(**kw) -> dict:
        runs = [_measure_stream(spark, 400_000, 80, **kw) for _ in range(PASSES)]
        return max(runs, key=lambda r: r["events_per_sec"])

    _measure_stream(spark, 20_000, 4)  # state-store/codegen warmup
    stream_stats = _best_rate()
    hot_stats = _best_rate(hot_key_frac=0.5)

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "total_sec": total,
                "families": families,
                "memo": memo.stats(),
                "streaming": stream_stats,
                "streaming_hotkey": hot_stats,
                "stream_fixed_sec": stream_fixed,
                "stream_net_of_fixed": stream_net,
                "queries": timings,
                "queries_cold": timings_cold,
                "total_cold_sec": total_cold,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": families,
                "n_queries": len(timings),
                "stream_ev_s": stream_stats["events_per_sec"],
                "stream_hot_ev_s": hot_stats["events_per_sec"],
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


_FAMILY_PREFIXES = (
    "cep", "stream", "ml", "asof", "pivot", "ocsf", "events", "text",
    "corpus", "dedup", "multimodal", "simsearch", "sql", "approx", "dq",
)


def _family(name: str) -> str:
    if name.startswith("q") and name[1:2].isdigit():
        return "tpch"
    for p in _FAMILY_PREFIXES:
        if name.startswith(p + "_") or name == p:
            return p
    return "other"


if __name__ == "__main__":
    # Guard against stray CLI args (the make_scale_data '--help' lesson):
    # bench is configured via env vars (SPARK_GRAFT_SF_DIR,
    # SPARK_GRAFT_CPUS) — any positional or flag argument is a mistake,
    # and silently running a 15-minute bench on '--help' (overwriting
    # BENCH_DETAIL.json) is the failure mode this prevents.
    if len(sys.argv) > 1:
        print(
            "bench.py takes no arguments; configure via env vars "
            "SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS. Every query, stream "
            f"rate and fixed-cost probe runs {PASSES} times and the best "
            "run is recorded; for quick runs of a few queries use "
            "tools/spot_run.py --passes",
            file=sys.stderr,
        )
        raise SystemExit(0 if sys.argv[1] in ("-h", "--help") else 2)
    main()

"""Streaming-detector throughput benchmark.

Generates N normal events + B fragmentation bursts (each followed by a
closing normal event on the same target, so the emit path runs), streams
them through the stateful detector, and prints one JSON line:
{"events": N, "wall_sec": s, "events_per_sec": r, "alerts": k}.

Target (BASELINE.md): sustain >= 10,000 ev/s on the local harness.
Note: the reference's own producer pools make normal ip_dst and attack
ip_dst disjoint (normal_events_producer.py:28-34 vs
fragmentation_attack/lambda_handler.py:31-45), so without injected
closers its pattern completes only via replay traffic — the closers here
stand in for that.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.plans.harness import (
    _run_to_completion,
)
from spot_anomalies_flink_workshop_resources_spark.session import build_session
from spot_anomalies_flink_workshop_resources_spark.sources import generators
from spot_anomalies_flink_workshop_resources_spark.streaming.detector import (
    detect_fragmentation_flowlogs_stream,
)


def closer_for(burst, ts):
    ms = int(ts * 1000)
    return burst.limit(1).select(
        F.lit("GET").alias("event_type"),
        F.lit("1.2.3.4").alias("ip_src"),
        F.col("ip_dst"),
        F.lit("443").alias("port_src"),
        F.lit("8080").alias("port_dst"),
        F.lit("TCP").alias("ip_proto"),
        F.lit(ms).alias("timestamp_start"),
        F.lit(ms + 10).alias("timestamp_end"),
        F.timestamp_micros(F.lit(ms * 1000)).alias("event_time"),
        F.timestamp_micros(F.lit((ms + 10) * 1000)).alias("event_time_end"),
        F.lit(250).cast("long").alias("packets"),
        F.lit(9000).cast("long").alias("bytes"),
        F.lit("eni-x").alias("writer_id"),
        F.lit("ok").alias("text"),
    )


def measure(
    spark,
    n_normal: int,
    n_bursts: int,
    hot_key_frac: float = 0.0,
) -> dict:
    """One sustained-rate run of parse->detect->serialize: returns
    {"events", "wall_sec", "events_per_sec", "alerts"}. Dataset prep
    (generate + write parquet) is excluded from the timed window, and
    the dataset is deleted afterwards.

    The replay runs through the harness's bounded-stream runner
    (plans/harness._run_to_completion) at the harness's state width
    (STREAM_STATE_PARTITIONS); the detector's state is keyed
    by a fixed set of hash buckets, so no per-key-group overhead scales
    with the width.

    ``hot_key_frac`` > 0 reroutes that fraction of normal events onto a
    SINGLE ip_dst (the attack shape: one victim absorbing ~half the
    stream, VERDICT r6 #7) — the detector keys state by ip_dst, so the
    hot key concentrates one state partition's work and measures
    throughput under the skew the batch twin (cep_fragmentation_skew)
    splits explicitly."""
    normal = generators.normal_traffic_batch(
        spark, n_normal, start_ts=1.7e9, events_per_second=5000
    )
    if hot_key_frac > 0.0:
        normal = normal.withColumn(
            "ip_dst",
            F.when(
                F.rand(seed=7) < F.lit(hot_key_frac), F.lit("10.99.99.99")
            ).otherwise(F.col("ip_dst")),
        )
    parts = [normal]
    for i in range(n_bursts):
        t = 1.7e9 + i * 1.0
        b = generators.attack_burst(spark, 50, start_ts=t, seed=i)
        parts += [b, closer_for(b, t + 5)]
    events = functools.reduce(lambda a, b: a.unionByName(b), parts)

    base = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        d = os.path.join(base, "events.parquet")
        events.write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        total = spark.read.parquet(d).count()

        stream = spark.readStream.schema(schema).format("parquet").load(d)
        alerts = detect_fragmentation_flowlogs_stream(stream)
        t0 = time.time()
        out = _run_to_completion(alerts, spark)
        wall = time.time() - t0
        n_alerts = out.count()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return {
        "events": total,
        "wall_sec": round(wall, 2),
        "events_per_sec": round(total / wall),
        "alerts": n_alerts,
    }


def measure_sustained(
    spark,
    rows_per_second: int = 50_000,
    duration_s: float = 60.0,
    n_keys: int = 500,
    tag: str = "rate",
) -> dict:
    """Live-trigger sustained-rate run (VERDICT r8 #4): the bounded
    replay above measures one catch-up macro-batch; this drives the
    detector with Spark's RATE SOURCE at a fixed rowsPerSecond for
    ``duration_s`` of wall clock, so micro-batches fire continuously
    and the state store is read-modify-written every trigger — the
    production shape. Event columns are synthesized executor-side from
    (value, timestamp); per key (value % n_keys), every 1000-event
    block embeds 14 fragment-shaped events (packets=1) closed by a
    high event, so the CEP emit path does real work throughout.

    Keeping pace is judged from StreamingQueryProgress: the rate
    source generates rows by elapsed time, so a detector slower than
    the offered rate shows sum(numInputRows)/duration < rows_per_second
    (a growing catch-up backlog), while a keeping-up detector matches
    it. Returns offered/achieved rates, batch stats, and alert count.
    """
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 8)
        .load()
    )
    ms = (F.col("timestamp").cast("double") * 1000).cast("long")
    pos = (F.col("value") / n_keys).cast("long") % 1000
    packets = (
        F.when(pos < 14, F.lit(1))
        .when(pos == 14, F.lit(250))
        .otherwise(F.lit(200))
        .cast("long")
    )
    events = rate.select(
        F.lit("GET").alias("event_type"),
        F.concat(F.lit("10.1.0."), (F.col("value") % 200).cast("string")).alias(
            "ip_src"
        ),
        F.concat(F.lit("10.2."), (F.col("value") % n_keys / 256).cast("int")
                 .cast("string"), F.lit("."),
                 (F.col("value") % n_keys % 256).cast("string")).alias("ip_dst"),
        F.lit("443").alias("port_src"),
        F.lit("8080").alias("port_dst"),
        F.lit("UDP").alias("ip_proto"),
        # strictly increasing per key: wall ms plus the per-key sequence
        # index breaks ties deterministically inside a micro-batch
        (ms + pos % 7).alias("timestamp_start"),
        (ms + pos % 7 + 10).alias("timestamp_end"),
        F.col("timestamp").alias("event_time"),
        F.timestamp_micros(
            (F.col("timestamp").cast("double") * 1e6).cast("long") + 10_000
        ).alias("event_time_end"),
        packets.alias("packets"),
        F.when(pos < 14, F.lit(32)).otherwise(F.lit(900)).cast("long").alias(
            "bytes"
        ),
        F.lit("eni-rate").alias("writer_id"),
        F.lit("ok").alias("text"),
    )
    alerts = detect_fragmentation_flowlogs_stream(events)
    name = f"bench_rate_{tag}"
    # a long run at sub-second triggers outruns the default 100-entry
    # recentProgress ring buffer, silently dropping the earliest batches
    # from throughput stats (ADVICE r9) — size it to the run
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates",
        str(max(100, int(duration_s * 20))),
    )
    # state width: the session's shuffle width (a rate source has no
    # source volume to size it from)
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    t0 = time.time()
    time.sleep(duration_s)
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    wall = time.time() - t0
    n_alerts = spark.table(name).count()
    # drop the first batch (rate-source offset-0 bootstrap, not steady
    # state) and any zero-row heartbeat batches
    rows = [p for p in progress[1:] if p.get("numInputRows", 0) > 0]
    total_in = sum(p["numInputRows"] for p in rows)
    batch_ms = [p["batchDuration"] for p in rows]
    span_s = sum(batch_ms) / 1000.0 if batch_ms else float("nan")

    # keep-pace is judged against WALL-CLOCK offered volume over the
    # steady-state interval (first included batch start -> last batch
    # end), not the sum of batch durations: a near-saturated detector
    # idles between triggers yet still lags the offered rate, which
    # busy-time span cannot see (ADVICE r9). Also report the end-of-run
    # source backlog (latestOffset - endOffset of the rate source) —
    # a keeping-up detector ends with a backlog near one trigger's rows.
    def _iso_s(ts: str) -> float:
        from datetime import datetime

        return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()

    if rows:
        steady_s = (
            _iso_s(rows[-1]["timestamp"])
            + rows[-1]["batchDuration"] / 1000.0
            - _iso_s(rows[0]["timestamp"])
        )
    else:
        steady_s = float("nan")
    backlog_rows = None
    for p_last in reversed(progress):
        srcs = p_last.get("sources") or []
        if srcs and srcs[0].get("latestOffset") is not None:
            try:
                backlog_rows = int(srcs[0]["latestOffset"]) - int(
                    srcs[0]["endOffset"]
                )
            except (TypeError, ValueError):
                backlog_rows = None
            break
    kept_pace = bool(
        rows
        and steady_s > 0
        and total_in >= 0.95 * rows_per_second * steady_s
    )
    return {
        "offered_rows_per_sec": rows_per_second,
        "duration_s": round(wall, 1),
        "n_batches": len(rows),
        "rows_in": total_in,
        "achieved_rows_per_sec": (
            round(total_in / steady_s) if rows and steady_s > 0 else 0
        ),
        "busy_rows_per_sec": round(total_in / span_s) if batch_ms else 0,
        "steady_wall_s": round(steady_s, 1) if rows else None,
        "kept_pace": kept_pace,
        "end_backlog_rows": backlog_rows,
        "max_batch_ms": max(batch_ms) if batch_ms else 0,
        "mean_batch_ms": round(sum(batch_ms) / len(batch_ms)) if batch_ms else 0,
        "alerts": n_alerts,
    }


def main() -> None:
    n_normal = int(os.environ.get("BENCH_STREAM_EVENTS", "200000"))
    n_bursts = int(os.environ.get("BENCH_STREAM_BURSTS", "40"))
    spark = build_session("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("BENCH_STREAM_MODE", "replay") == "rate":
        print(
            json.dumps(
                measure_sustained(
                    spark,
                    rows_per_second=int(
                        os.environ.get("BENCH_STREAM_RATE", "50000")
                    ),
                    duration_s=float(
                        os.environ.get("BENCH_STREAM_DURATION", "60")
                    ),
                )
            )
        )
    else:
        print(json.dumps(measure(spark, n_normal, n_bursts)))
    spark.stop()


if __name__ == "__main__":
    main()

"""The ``flowlog_replay`` workload.

It drives the shipped pipeline (``streaming.pipeline.build_anomaly_pipeline``
over a text file source, wire-JSON in, wire-JSON alerts out to a memory
sink) and checks every alert against the batch detector
``operators.detection.detect_fragmentation_flowlogs`` over the same events:
equal as a multiset, floats to 1e-9 relative.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import flowgen

ALERT_COLS = (
    "target_ip",
    "attack_start_time",
    "attack_end_time",
    "attacker_id",
    "fragment_count",
    "avg_packets",
    "avg_fragment_size",
    "size_reduction_percent",
)
REPLAY_EVENTS_PER_FILE = 100_000  # one full-size micro-batch per file


def _alert_key(a: tuple) -> tuple:
    return (a[0], round(a[1] * 1000), round(a[2] * 1000), a[3], a[4])


def alerts_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality; floats compared to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_alert_key), sorted(want, key=_alert_key)):
        if _alert_key(g) != _alert_key(w):
            return False
        for x, y in zip(g[5:], w[5:]):
            if x is None or y is None:
                if x is not y:
                    return False
            elif x != y and abs(x - y) > 1e-9 * max(abs(x), abs(y)):
                return False
    return True


def expected_alerts(spark, backlog: flowgen.Backlog, n: int) -> list[tuple]:
    """Batch-detector alerts over the first ``n`` events of ``backlog``.

    The detector partitions by ``ip_dst``, so a key with no fragment
    (``packets < 10``) cannot alert; those keys' events are left out of
    the oracle's input to keep the check short.  An alert the stream
    raises on such a key still fails the check."""
    import pandas as pd

    from spot_anomalies_flink_workshop_resources_spark.operators.detection import (
        detect_fragmentation_flowlogs,
    )

    pdf = pd.DataFrame(backlog.columns(n))
    pdf = pdf[pdf["ip_dst"].isin(pdf.loc[pdf["packets"] < 10, "ip_dst"].unique())]
    pdf = pdf.assign(
        event_time=pd.to_datetime(pdf["timestamp_start"], unit="ms"),
        event_time_end=pd.to_datetime(pdf["timestamp_end"], unit="ms"),
    )
    rows = detect_fragmentation_flowlogs(spark.createDataFrame(pdf)).collect()
    return [tuple(r[c] for c in ALERT_COLS) for r in rows]


def sink_alerts(spark, name: str) -> list[tuple]:
    out = []
    for row in spark.table(name).collect():
        rec = json.loads(row["value"])
        out.append(tuple(rec.get(c) for c in ALERT_COLS))
    return out


def _start(ctx, src: str, name: str, parse_only=False):
    """Build the pipeline over a text file source, one file per
    micro-batch, and start it."""
    from spot_anomalies_flink_workshop_resources_spark import serde
    from spot_anomalies_flink_workshop_resources_spark.streaming.pipeline import (
        build_anomaly_pipeline,
        start_pipeline,
    )

    spark = ctx.spark
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    ckpt = os.path.join(ctx.work, "ckpt", name)
    with ctx.spans.span("plans.build", name):
        t = time.time()
        out = serde.parse_events(raw) if parse_only else build_anomaly_pipeline(raw)
        ctx.plans_build_s += time.time() - t
    fmt = "noop" if parse_only else "memory"

    def sink(df):
        w = df.writeStream.format(fmt).option("checkpointLocation", ckpt)
        return w.queryName(name).outputMode("append")

    return start_pipeline(out, sink)


def _drain(ctx, backlog, n_files: int, name: str, parse_only=False, timed=False):
    """Drain files ``0..n_files`` of ``backlog``, one file per micro-batch.

    The query starts on file 0 and waits for it, so its one-time costs
    (start, first planning, the first batch's code paths) fall before the
    clock.  Files ``1..n_files`` then land together and their drain is
    timed; with ``timed`` it is the run's timed window.  Returns (timed
    wall seconds, finished query)."""
    src = os.path.join(ctx.work, "src", name)
    os.makedirs(src)
    os.rename(*backlog.stage_file(0, src))
    with ctx.spans.span("streaming.start", name):
        q = _start(ctx, src, name, parse_only)
        q.processAllAvailable()
    staged = [backlog.stage_file(i, src) for i in range(1, n_files + 1)]
    if timed:
        ctx.begin_timed()
    t0 = time.time()
    with ctx.spans.span("streaming.drain", name):
        for tmp, path in staged:
            os.rename(tmp, path)
        q.processAllAvailable()
    wall = time.time() - t0
    if timed:
        ctx.end_timed()
    q.stop()
    return wall, q


def _check_drain(ctx, backlog, n_files: int, name: str) -> bool:
    n = min(len(backlog), (n_files + 1) * backlog.events_per_file)
    with ctx.spans.span("check", name):
        want = expected_alerts(ctx.spark, backlog, n)
        ctx.note("expected_alerts", len(want))
        return alerts_equal(sink_alerts(ctx.spark, name), want)


def replay(ctx) -> dict:
    n_files = max(2, round(0.6 * ctx.seconds))
    t = time.time()
    backlog = flowgen.generate(
        ctx.seed, (n_files + 1) * REPLAY_EVENTS_PER_FILE, REPLAY_EVENTS_PER_FILE
    )
    ctx.gen_s += time.time() - t
    ctx.start_session()

    with ctx.spans.span("session.warmup"):
        t = time.time()
        _drain(ctx, backlog, 1, "warmup")
        ctx.warmup_s = time.time() - t
    ctx.plans_build_s = 0.0
    wall, q = _drain(ctx, backlog, n_files, "replay", timed=True)
    ctx.layer["plans.build_s"] = ctx.plans_build_s
    ctx.progress.add_query(q, "replay", first_batch=1)
    batch_ms = [
        p["batchDuration"] for p in ctx.progress.records if p["_label"] == "replay"
        and p.get("numInputRows", 0) > 0
    ]
    ctx.note("batch_ms", batch_ms)

    def rerun_untraced() -> float:
        ctx.fresh_session()
        _, again = _drain(ctx, backlog, n_files, "untraced")
        ms = [p.batchDuration for p in again.recentProgress
              if p.batchId >= 1 and p.numInputRows > 0]
        ctx.note("untraced_batch_ms", ms)
        return REPLAY_EVENTS_PER_FILE / (statistics.median(ms) / 1000)

    ctx.rerun_untraced = rerun_untraced
    ok = [_check_drain(ctx, backlog, n_files, "replay")]
    ctx.alert_checks += ok
    if ctx.trace:
        probe(ctx, backlog, n_files, full_wall=wall)
    ctx.note("drain_events_per_s", n_files * REPLAY_EVENTS_PER_FILE / wall)
    return {
        # the median batch's rate: one slow batch (a GC pause, a burst of
        # host CPU steal) does not move it
        "ops_per_s": REPLAY_EVENTS_PER_FILE / (statistics.median(batch_ms) / 1000),
        "latency_p50_ms": statistics.median(batch_ms),
        "attempted": len(ok),
        "failed": ok.count(False),
        "ops": len(batch_ms),
    }


def local1_baseline(ctx) -> float:
    """Single-thread baseline: one replay file drained by a fresh
    ``local[1]`` session after its first (traced runs, after the traced
    session stopped)."""
    backlog = flowgen.generate(
        ctx.seed, 2 * REPLAY_EVENTS_PER_FILE, REPLAY_EVENTS_PER_FILE
    )
    ctx.fresh_session(master="local[1]")
    with ctx.spans.span("streaming.local1_drain"):
        wall, _ = _drain(ctx, backlog, 1, "local1")
    return REPLAY_EVENTS_PER_FILE / wall


def probe(ctx, backlog, n_files: int, full_wall: float) -> None:
    """Serde vs detector split: a parse-only stream over the replay input,
    set against the timed full drain (traced runs only; outside the timed
    window)."""
    n = n_files * backlog.events_per_file
    parse_wall, _ = _drain(ctx, backlog, n_files, "probe_parse", parse_only=True)
    ctx.layer["serde.parse_rows_per_s"] = n / parse_wall
    detector_s = full_wall - parse_wall
    ctx.layer["streaming.detector_rows_per_s"] = (
        n / detector_s if detector_s > 0 else math.inf
    )

"""Streaming detector tests: serde tolerance and exact batch↔streaming
equivalence (the Structured-Streaming 'incrementalized batch query'
contract — every streaming operator must reproduce its batch oracle)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from spot_anomalies_flink_workshop_resources_spark.operators.detection import (
    detect_fragmentation_flowlogs,
)
from spot_anomalies_flink_workshop_resources_spark.serde import (
    attack_results_to_json,
    parse_events,
)
from spot_anomalies_flink_workshop_resources_spark.streaming.detector import (
    detect_fragmentation_flowlogs_stream,
)

T0_MS = 1713387600000  # 2024-04-17 21:00:00 UTC


def _event(ip_dst, ip_src, sec, packets, bytes_=None, ts_style="ms", **extra):
    start = T0_MS + int(sec * 1000)
    end = start + 10
    ev = {
        "event_type": "GET",
        "ip_src": ip_src,
        "ip_dst": ip_dst,
        "port_src": "443",
        "port_dst": "8080",
        "ip_proto": "UDP",
        "packets": packets,
        "bytes": bytes_ if bytes_ is not None else packets * 100,
        "writer_id": "eni-0207167d5649b91b2",
        "text": "GET /index.html",
    }
    if ts_style == "ms":
        ev["timestamp_start"], ev["timestamp_end"] = start, end
    else:  # datetime strings, as the S3-replay producer emits
        from datetime import datetime, timezone

        fmt = "%Y-%m-%d %H:%M:%S.%f"
        ev["timestamp_start"] = datetime.fromtimestamp(
            start / 1000, tz=timezone.utc
        ).strftime(fmt)
        ev["timestamp_end"] = datetime.fromtimestamp(
            end / 1000, tz=timezone.utc
        ).strftime(fmt)
    ev.update(extra)
    return ev


def _burst(ip_dst, ip_src, start, n, packets=1, bytes_=32, step=0.5):
    return [
        _event(ip_dst, ip_src, start + i * step, packets, bytes_) for i in range(n)
    ]


SCENARIO = (
    _burst("10.0.0.5", "192.168.1.9", 0, 12)
    + [_event("10.0.0.5", "1.2.3.4", 10, 200, 15000)]
    + _burst("10.0.0.5", "172.16.0.3", 100, 35)  # capped at 30
    + [_event("10.0.0.5", "5.6.7.8", 130, 300)]
    + _burst("10.9.9.9", "192.168.1.7", 0, 8)  # too short
    + [_event("10.9.9.9", "9.9.9.9", 20, 250)]
    + _burst("10.7.7.7", "192.168.1.5", 0, 15, step=6.0)  # window exceeded
    + [_event("10.7.7.7", "8.8.8.8", 95, 400)]
)


def _json_df(spark, events):
    return spark.createDataFrame(
        [(json.dumps(e),) for e in events], ["value"]
    )


def test_parse_events_tolerant_timestamps(spark):
    evs = [
        _event("10.0.0.1", "1.1.1.1", 0, 5, ts_style="ms"),
        _event("10.0.0.1", "1.1.1.1", 1, 5, ts_style="str"),
        {**_event("10.0.0.1", "1.1.1.1", 2, 5), "unknown_field": "ignored"},
        {k: v for k, v in _event("10.0.0.1", "1.1.1.1", 3, 5).items()
         if k != "timestamp_start"},  # missing ts -> null event_time
    ]
    out = parse_events(_json_df(spark, evs)).orderBy("timestamp_end").collect()
    assert out[0].timestamp_start == T0_MS
    assert out[1].timestamp_start == T0_MS + 1000  # string parsed to same epoch
    assert out[1].event_time is not None
    assert out[2].ip_dst == "10.0.0.1"  # unknown field silently dropped
    assert out[3].timestamp_start is None and out[3].event_time is None


def test_parse_events_garbage_input(spark):
    """PERMISSIVE contract: malformed JSON / wrong shapes become null
    rows rather than failures (JsonDeserializationSchema tolerance)."""
    payloads = [
        "not json at all",
        "{broken",
        "[1,2,3]",
        '{"packets": "NaNish", "ip_dst": "10.0.0.1"}',
        "",
    ]
    out = parse_events(
        spark.createDataFrame([(p,) for p in payloads], ["value"])
    ).collect()
    assert len(out) == len(payloads)
    # the one partially-valid record keeps its parseable fields
    good = [r for r in out if r.ip_dst == "10.0.0.1"]
    assert len(good) == 1 and good[0].packets is None
    # the rest are all-null rows, never exceptions
    for r in out:
        assert r.event_time is None or r.ip_dst == "10.0.0.1"


def test_parse_events_int_ports(spark):
    ev = _event("10.0.0.1", "1.1.1.1", 0, 5)
    ev["port_src"], ev["port_dst"] = 443, 8080  # ints, as producer lambda emits
    row = parse_events(_json_df(spark, [ev])).collect()[0]
    assert row.port_src == "443" and row.port_dst == "8080"


def test_attack_results_to_json_epoch_seconds(spark):
    events = parse_events(_json_df(spark, SCENARIO))
    out = attack_results_to_json(detect_fragmentation_flowlogs(events)).collect()
    payloads = [json.loads(r.value) for r in out]
    assert len(payloads) == 2
    for p in payloads:
        # wire contract: epoch-second decimals consumable by fromtimestamp
        assert isinstance(p["attack_start_time"], float)
        assert 1.7e9 < p["attack_start_time"] < 1.8e9
        assert p["target_ip"] == "10.0.0.5"


def _run_stream(spark, events, name, d, files=4):
    per = math.ceil(len(events) / files)
    chunks = [events[i * per : (i + 1) * per] for i in range(files)]
    return _run_stream_chunks(spark, chunks, name, d)


def _run_stream_chunks(spark, chunks, name, d):
    """One micro-batch per chunk of events, in list order, written as
    JSON files into the empty directory ``d``."""
    import os
    import time

    files = len(chunks)
    base = time.time() - files * 10
    for i, chunk in enumerate(chunks):
        path = f"{d}/part-{i:03d}.json"
        with open(path, "w") as f:
            for e in chunk:
                f.write(json.dumps(e) + "\n")
        # the file source orders batches by mtime: make it increasing so
        # micro-batches replay the event order deterministically
        os.utime(path, (base + i * 10, base + i * 10))
    raw = (
        spark.readStream.schema("value STRING")
        .format("text")
        .option("maxFilesPerTrigger", 1)  # force multi-batch, cross-batch state
        .load(d)
    )
    parsed = parse_events(raw)
    results = detect_fragmentation_flowlogs_stream(parsed)
    q = (
        results.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def _rows_key(rows):
    return sorted(
        (
            r.target_ip,
            round(r.attack_start_time, 6),
            round(r.attack_end_time, 6),
            r.attacker_id,
            r.fragment_count,
            round(r.avg_packets, 9),
            round(r.avg_fragment_size, 9),
            round(r.size_reduction_percent, 9),
        )
        for r in rows
    )


def test_streaming_equals_batch_oracle(spark, tmp_path):
    events = parse_events(_json_df(spark, SCENARIO))
    batch = detect_fragmentation_flowlogs(events).collect()
    stream = _run_stream(spark, SCENARIO, "stream_eq", str(tmp_path))
    assert len(batch) == 2
    assert _rows_key(stream) == _rows_key(batch)


def test_full_pipeline_topology_wire_json(spark, tmp_path):
    """Reference §3.1 end-to-end: raw JSON payloads → parse → detect →
    wire-JSON alerts, as one streaming topology (sans broker)."""
    from spot_anomalies_flink_workshop_resources_spark.streaming.pipeline import (
        build_anomaly_pipeline,
    )

    d = str(tmp_path)
    with open(f"{d}/events.json", "w") as f:
        for e in SCENARIO:
            f.write(json.dumps(e) + "\n")
    raw = spark.readStream.schema("value STRING").format("text").load(d)
    wire = build_anomaly_pipeline(raw)
    assert wire.isStreaming and wire.columns == ["value"]
    q = (
        wire.writeStream.format("memory")
        .queryName("pipe_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    payloads = [
        json.loads(r.value) for r in spark.sql("SELECT * FROM pipe_out").collect()
    ]
    assert len(payloads) == 2
    by_count = sorted(p["fragment_count"] for p in payloads)
    assert by_count == [12, 30]
    for p in payloads:
        assert p["target_ip"] == "10.0.0.5"
        assert isinstance(p["attack_start_time"], float)


def test_archive_sink_roundtrip(spark, tmp_path):
    """S6/S7: alerts stream → file archive sink → read back."""
    from spot_anomalies_flink_workshop_resources_spark.streaming.pipeline import (
        build_anomaly_pipeline,
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.sinks import (
        archive_writer,
    )

    (tmp_path / "src").mkdir()
    d = str(tmp_path / "src")
    with open(f"{d}/events.json", "w") as f:
        for e in SCENARIO:
            f.write(json.dumps(e) + "\n")
    raw = spark.readStream.schema("value STRING").format("text").load(d)
    wire = build_anomaly_pipeline(raw)
    out_dir = str(tmp_path / "out")
    q = archive_writer(wire, out_dir, str(tmp_path / "ckpt"), fmt="json").start()
    q.processAllAvailable()
    q.stop()
    archived = spark.read.json(out_dir)
    rows = [json.loads(r.value) for r in archived.collect()]
    assert sorted(p["fragment_count"] for p in rows) == [12, 30]


def test_streaming_run_split_across_batches(spark, tmp_path):
    # one burst split across 8 micro-batches: state must carry the run
    events = (
        _burst("10.0.0.5", "192.168.1.9", 0, 20)
        + [_event("10.0.0.5", "1.2.3.4", 15, 200, 15000)]
    )
    batch = detect_fragmentation_flowlogs(
        parse_events(_json_df(spark, events))
    ).collect()
    stream = _run_stream(spark, events, "stream_split", str(tmp_path), files=8)
    assert len(batch) == 1 and batch[0].fragment_count == 20
    assert _rows_key(stream) == _rows_key(batch)


def test_late_event_below_watermark_is_dropped(spark, tmp_path):
    """A fragment older than the watermark (the max event time of earlier
    batches, zero delay) is late and dropped, as Flink's
    forMonotonousTimestamps drops it: it must neither join the open run
    nor move its end time before its start."""
    fragments = [
        _event("1.1.1.1", "2.2.2.2", 1000 + i, 1, 32) for i in range(12)
    ]
    late = [
        _event("1.1.1.1", "2.2.2.2", 500, 1, 32),
        _event("1.1.1.1", "3.3.3.3", 1013, 200, 15000),
    ]
    (alert,) = _run_stream_chunks(
        spark, [fragments, late], "stream_late", str(tmp_path)
    )
    assert alert.fragment_count == 12
    assert alert.attack_start_time == (T0_MS + 1_000_000) / 1000
    assert alert.attack_end_time == (T0_MS + 1_011_010) / 1000
    assert alert.attack_end_time >= alert.attack_start_time


def test_kafka_shaped_binary_source_contract(spark, tmp_path):
    """The connector-less twin of the Kafka→detector→Kafka roundtrip
    (AD.java:116-181): a stream with the EXACT schema the Kafka source
    delivers — binary key/value plus topic/partition/offset/timestamp
    metadata — must flow through build_anomaly_pipeline unmodified
    (parse_events casts binary payloads), and the output must satisfy
    the epoch-seconds wire contract. The live-broker path stays gated:
    no spark-sql-kafka jar, broker, or network exists in this sandbox."""
    from spot_anomalies_flink_workshop_resources_spark.streaming.pipeline import (
        build_anomaly_pipeline,
    )

    d = str(tmp_path)
    with open(f"{d}/events.json", "w") as f:
        for e in SCENARIO:
            f.write(json.dumps(e) + "\n")
    text = spark.readStream.schema("value STRING").format("text").load(d)
    # reshape to the kafka connector's fixed output schema
    kafka_shaped = text.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit("flow-events").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.lit(0).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    wire = build_anomaly_pipeline(kafka_shaped)
    q = (
        wire.writeStream.format("memory")
        .queryName("kafka_shape_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    payloads = [
        json.loads(r.value)
        for r in spark.sql("SELECT * FROM kafka_shape_out").collect()
    ]
    assert sorted(p["fragment_count"] for p in payloads) == [12, 30]
    for p in payloads:
        # wire contract: epoch-second decimal timestamps, reference keys
        assert isinstance(p["attack_start_time"], float)
        assert isinstance(p["attack_end_time"], float)
        assert p["attack_start_time"] > 1.7e9
        assert set(p) >= {
            "target_ip", "attack_start_time", "attack_end_time",
            "attacker_id", "fragment_count", "avg_packets",
            "avg_fragment_size", "size_reduction_percent",
        }


def test_processing_time_mode_runs_in_spark(spark, tmp_path):
    """Smoke: time_mode='processing' executes through a real
    applyInPandasWithState query (BUCKET_STATE_SCHEMA_PROC wiring). All
    SCENARIO events are processed in one wall-clock instant, so the
    'window-exceeded' burst (84 s of EVENT time) now legitimately alerts
    — the precise semantic difference between the reference's
    processing-time within() and the event-time default."""
    d = str(tmp_path)
    with open(f"{d}/events.json", "w") as f:
        for e in SCENARIO:
            f.write(json.dumps(e) + "\n")
    raw = spark.readStream.schema("value STRING").format("text").load(d)
    events = parse_events(raw)
    alerts = detect_fragmentation_flowlogs_stream(events, time_mode="processing")
    q = (
        alerts.writeStream.format("memory")
        .queryName("proctime_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM proctime_out").collect()
    # event-time mode yields [12, 30]; processing time adds the 15-event
    # burst whose event-time span exceeded 60 s but was ingested at once
    assert sorted(r.fragment_count for r in rows) == [12, 15, 30]

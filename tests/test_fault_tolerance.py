"""Fault-tolerance and data-layout behaviors the 100 TB story rests on:
streaming checkpoint/restart without duplicate or lost output (the
engine-side equivalent of the Flink job's checkpointing), and
partitioned-parquet layout with partition pruning at the scan.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def test_streaming_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop a checkpointed streaming query, add more input, restart with
    the SAME checkpoint: already-committed input must not re-emit, new
    input must appear — the file sink's transactional log + source
    offsets in the checkpoint give end-to-end exactly-once."""
    from spot_anomalies_flink_workshop_resources_spark.streaming.sinks import (
        archive_writer,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write_batch(name, id0, n):
        p = src / name
        with open(p, "w") as f:
            for i in range(id0, id0 + n):
                f.write(json.dumps({"event_id": i, "payload": f"p{i}"}) + "\n")
        # deterministic batch order for the file source
        os.utime(p, (id0, id0))

    def run_once():
        stream = spark.readStream.schema("event_id LONG, payload STRING").json(
            str(src)
        )
        q = archive_writer(stream, out, ckpt).start()
        q.processAllAvailable()
        q.stop()

    write_batch("a.json", 0, 20)
    run_once()
    first = spark.read.json(out).count()
    assert first == 20

    write_batch("b.json", 1000, 30)
    run_once()  # restart from the same checkpoint

    rows = spark.read.json(out).select("event_id").collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == 50, f"expected 50 rows exactly-once, got {len(ids)}"
    assert len(set(ids)) == 50, "duplicate emission after restart"
    assert set(ids) == set(range(20)) | set(range(1000, 1030))


def test_partitioned_parquet_write_and_partition_pruning(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: partitionBy at write, and a
    partition-key predicate at read resolves via PartitionFilters
    (pruned at planning — files of other partitions are never listed
    into the scan), not a data filter."""
    from spot_anomalies_flink_workshop_resources_spark.catalog import load_table

    path = str(tmp_path / "events_by_type")
    events = load_table(spark, sf_dir, "events")
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)

    # layout: one directory per partition value
    dirs = {d for d in os.listdir(path) if d.startswith("event_type=")}
    assert len(dirs) >= 3

    df = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "event_type" in pf, f"partition predicate not pruned: {pf}"

    expected = events.where(F.col("event_type") == "click").count()
    assert df.count() == expected


def test_stateful_detector_state_survives_restart(spark, tmp_path):
    """The CEP detector's per-key run state lives in the checkpointed
    state store: a run STARTED before a stop must complete — and alert —
    after a restart that only delivers the run's tail. This is the
    engine-side twin of a Flink checkpoint/restore of the CEP NFA
    state."""
    import datetime as dt

    from spot_anomalies_flink_workshop_resources_spark.streaming.detector import (
        detect_attack_runs_stream,
    )

    src = tmp_path / "in"
    out = str(tmp_path / "alerts")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, value):
        return {
            "event_id": i,
            "ts": (t0 + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S"),
            "user_id": 7,
            "value": value,
        }

    def write_batch(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema(
                "event_id LONG, ts STRING, user_id LONG, value DOUBLE"
            )
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        alerts = detect_attack_runs_stream(
            stream,
            key_col="user_id",
            time_col="ts",
            order_col="event_id",
            metric_col="value",
            low_threshold=10.0,
            high_threshold=20.0,
            min_run=2,
            max_run=5,
            window_seconds=3600.0,
        )
        q = (
            alerts.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # first process: three anomalous events open a run — no trigger yet
    write_batch("a.json", [ev(0, 5.0), ev(1, 6.0), ev(2, 7.0)], mtime=100)
    run_once()

    # restart: two more anomalous + the closing trigger
    write_batch("b.json", [ev(3, 8.0), ev(4, 9.0), ev(5, 99.0)], mtime=200)
    run_once()

    alerts = spark.read.json(out).collect()
    assert len(alerts) == 1, f"expected exactly one alert, got {alerts}"
    a = alerts[0]
    assert a.target_key == "7"
    # all five anomalous events matched: state crossed the restart
    assert a.fragment_count == 5
    assert a.avg_packets == 99.0


def test_corrupted_state_delta_fails_the_restart(spark, tmp_path):
    """A local checkpoint keeps one checksum layer: Hadoop's .crc beside
    every state-store delta, checked on read. Flip the last byte of the
    newest delta and the restart must fail to load the state store. That
    byte lies in the compression codec's end-of-stream block, which the
    delta reader stops before, so only the checksum layer sees it: on a
    file system without .crc files the same restart resumes silently."""
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write_file(name, n, mtime):
        p = src / name
        p.write_text("".join(json.dumps({"event_id": i}) + "\n" for i in range(n)))
        os.utime(p, (mtime, mtime))

    stream = spark.readStream.schema("event_id LONG").json(str(src))

    def start():
        return (
            stream.groupBy()
            .count()
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        for name, mtime in (("a.json", 100), ("b.json", 200)):
            write_file(name, 5, mtime)
            q.processAllAvailable()
        assert q.lastProgress["batchId"] == 1
    finally:
        q.stop()

    # a global count keeps its state in one partition; batch 1 wrote 2.delta
    newest = os.path.join(ckpt, "state", "0", "0", "2.delta")
    with open(newest, "r+b") as f:
        data = bytearray(f.read())
        data[-1] ^= 0xFF
        f.seek(0)
        f.write(data)

    write_file("c.json", 5, 300)
    q = start()
    try:
        with pytest.raises(Exception, match="CANNOT_LOAD_STATE_STORE"):
            q.processAllAvailable()
    finally:
        q.stop()

def test_schema_evolution_merge_read(spark, tmp_path):
    """Operational capability a long-lived 100 TB table needs: newer
    partitions add columns; a mergeSchema read presents the union
    schema with nulls for the old files — and a pruned single-column
    projection still reads both generations."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string"
    ).write.parquet(base + "/gen=1")
    spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "de")], "id long, payload string, lang string"
    ).write.parquet(base + "/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    assert set(merged.columns) == {"id", "payload", "lang"}
    rows = {r.id: (r.payload, r.lang) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", "en"), 4: ("d", "de")}
    # old-generation rows surface through a projection on the NEW column
    assert merged.where(F.col("lang").isNull()).count() == 2


def test_dynamic_partition_overwrite_backfill(spark, tmp_path):
    """Idempotent backfill: re-writing ONE day's partition with
    partitionOverwriteMode=dynamic must replace exactly that partition
    and leave every other day's files untouched — the lakehouse
    backfill contract (static overwrite mode would truncate the whole
    table)."""
    from pyspark.sql import Row, functions as F

    path = str(tmp_path / "events_by_day")
    df = spark.createDataFrame(
        [Row(day=d, event_id=i, value=float(i)) for d in (1, 2, 3)
         for i in range(d * 10, d * 10 + 5)]
    )
    df.write.partitionBy("day").mode("overwrite").parquet(path)
    before = {
        r.day: sorted(r2.event_id for r2 in spark.read.parquet(path)
                      .where(F.col("day") == r.day).collect())
        for r in spark.read.parquet(path).select("day").distinct().collect()
    }
    # backfill day 2 with corrected rows under dynamic overwrite
    fix = spark.createDataFrame(
        [Row(day=2, event_id=i, value=0.0) for i in (99, 98)]
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fix.write.partitionBy("day").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = spark.read.parquet(path)
    got = {
        d: sorted(r.event_id for r in after.where(F.col("day") == d).collect())
        for d in (1, 2, 3)
    }
    assert got[1] == before[1] and got[3] == before[3]
    assert got[2] == [98, 99]


def test_small_file_compaction_write(spark, tmp_path):
    """OPTIMIZE-style maintenance: a table fragmented into many small
    files rewrites into a bounded file count with identical content —
    repartitionByRange on the layout key so compaction also restores
    range clustering (file-skipping min/max stay tight)."""
    import glob

    from pyspark.sql import functions as F

    frag = str(tmp_path / "frag")
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 50).alias("k")
    ).repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len(glob.glob(frag + "/part-*.parquet"))
    assert n_before >= 32
    compacted = str(tmp_path / "compact")
    spark.read.parquet(frag).repartitionByRange(4, "id").sortWithinPartitions(
        "id"
    ).write.mode("overwrite").parquet(compacted)
    n_after = len(glob.glob(compacted + "/part-*.parquet"))
    assert n_after <= 4
    a = spark.read.parquet(frag)
    b = spark.read.parquet(compacted)
    assert a.count() == b.count() == 10_000
    assert a.exceptAll(b).count() == 0

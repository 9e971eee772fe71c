"""Streaming patterns beyond the detector: stream-static dimension join
and streaming deduplication (training pipelines dedupe streams too)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def write_jsonl(tmp_path_factory):
    """Writes rows as one JSON-lines file into a fresh directory under
    pytest's temp root and returns the directory."""

    def write(rows):
        d = tmp_path_factory.mktemp("spat")
        with open(d / "data.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return str(d)

    return write


def test_stream_static_broadcast_join(spark, write_jsonl):
    """Streaming events enriched from a static dimension — the streaming
    equivalent of the replay generator's J2 lookup."""
    events = [{"writer_id": f"eni-{i % 3}", "n": i} for i in range(30)]
    d = write_jsonl(events)
    stream = (
        spark.readStream.schema("writer_id STRING, n LONG")
        .json(d)
    )
    dim = spark.createDataFrame(
        [("eni-0", "vpc-a"), ("eni-1", "vpc-b")], ["writer_id", "vpc"]
    )
    joined = stream.join(F.broadcast(dim), "writer_id", "left")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM ssj_out")
    assert out.count() == 30
    assert out.where(F.col("vpc") == "vpc-a").count() == 10
    assert out.where(F.col("vpc").isNull()).count() == 10  # eni-2 unmatched


def test_streaming_dedup_by_key(spark, write_jsonl):
    """dropDuplicates on a stream: each event_id delivered twice (the
    at-least-once story), exactly one survives."""
    rows = [{"event_id": i, "payload": f"p{i}"} for i in range(50)]
    d = write_jsonl(rows + rows)  # duplicate delivery
    stream = spark.readStream.schema("event_id LONG, payload STRING").json(d)
    deduped = stream.dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM dedup_out")
    assert out.count() == 50
    assert out.select("event_id").distinct().count() == 50
    assert {r.payload for r in out.collect()} == {f"p{i}" for i in range(50)}


def test_stream_stream_interval_join(spark, write_jsonl):
    """Stream-stream inner join with an event-time interval condition:
    each click joins purchases of the same user within [click_ts,
    click_ts + 10 min]. Watermarks on both sides bound the join state —
    the Structured Streaming primitive the reference's Flink job would
    express as an interval join."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iso(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")

    clicks = write_jsonl(
        [
            {"user": "u1", "click_ts": iso(0)},
            {"user": "u1", "click_ts": iso(1200)},  # no purchase within 10 min
            {"user": "u2", "click_ts": iso(30)},
        ]
    )
    purchases = write_jsonl(
        [
            {"user": "u1", "purchase_ts": iso(300), "amount": 10.0},
            {"user": "u2", "purchase_ts": iso(500), "amount": 20.0},
            {"user": "u2", "purchase_ts": iso(5000), "amount": 99.0},  # too late
        ]
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream,
    )

    c = (
        spark.readStream.schema("user STRING, click_ts STRING").json(clicks)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    p = (
        spark.readStream.schema(
            "user STRING, purchase_ts STRING, amount DOUBLE"
        ).json(purchases)
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    joined = interval_join_stream(
        c, p, key="user", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="10 minutes", watermark="1 hour",
    ).select("user", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user, amount FROM ssij_out").collect()
    got = sorted((r.user, r.amount) for r in rows)
    assert got == [("u1", 10.0), ("u2", 20.0)]


def test_stream_stream_interval_join_left_outer(spark, write_jsonl):
    """LEFT OUTER variant: matched rows equal the inner join; an
    unmatched click emits nulls only once the global watermark (min of
    both sides' max event times) passes its window end — the u1 click
    at t=1200 has no purchase in [1200, 1800] and 1200+600 < min(max
    click 1200, max purchase 5000) is FALSE, so it stays in state; the
    u2 click at t=2000 (window end 2600 < 5000? but click watermark is
    2000 -> min=2000, 2600 > 2000) also waits; a click far in the past
    DOES emit."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iso(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")

    clicks = write_jsonl(
        [
            {"user": "u1", "click_ts": iso(0)},      # matched
            {"user": "u3", "click_ts": iso(10)},     # unmatched, window long closed
            {"user": "u2", "click_ts": iso(7000)},   # trailing click (max)
        ]
    )
    purchases = write_jsonl(
        [
            {"user": "u1", "purchase_ts": iso(300), "amount": 10.0},
            {"user": "u2", "purchase_ts": iso(9000), "amount": 99.0},  # out of range
        ]
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream_left,
    )

    c = (
        spark.readStream.schema("user STRING, click_ts STRING").json(clicks)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    p = (
        spark.readStream.schema(
            "user STRING, purchase_ts STRING, amount DOUBLE"
        ).json(purchases)
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    joined = interval_join_stream_left(
        c, p, key="user", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="10 minutes", watermark="0 seconds",
    ).select("user", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_left_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user, amount FROM ssij_left_out").collect()
    got = sorted((r.user, r.amount) for r in rows)
    # global watermark = min(max click 7000, max purchase 9000) = 7000:
    # u3's window [10, 610] closed -> null row emits; u2's trailing
    # click window end 7600 >= 7000 -> still in state, no row
    assert got == [("u1", 10.0), ("u3", None)]


def test_stream_stream_interval_join_full_outer(spark, write_jsonl):
    """FULL OUTER variant: matched rows equal the inner join; an
    unmatched click null-emits once the global watermark passes its
    window end; an unmatched purchase null-emits once the watermark
    passes its own event time (lower=0: the latest click that could
    match it)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iso(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")

    clicks = write_jsonl(
        [
            {"user": "u1", "click_ts": iso(0)},     # matched
            {"user": "u3", "click_ts": iso(10)},    # unmatched, closed
            {"user": "u2", "click_ts": iso(7000)},  # trailing, stays
        ]
    )
    purchases = write_jsonl(
        [
            {"user": "u1", "purchase_ts": iso(300), "amount": 10.0},
            {"user": "u4", "purchase_ts": iso(100), "amount": 55.0},  # no click
            {"user": "u2", "purchase_ts": iso(9000), "amount": 99.0},  # trailing
        ]
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream_full,
    )

    c = (
        spark.readStream.schema("user STRING, click_ts STRING").json(clicks)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    p = (
        spark.readStream.schema(
            "user STRING, purchase_ts STRING, amount DOUBLE"
        ).json(purchases)
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    joined = interval_join_stream_full(
        c, p, key="user", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="10 minutes", watermark="0 seconds",
    ).select("user", "click_ts", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_full_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user, click_ts, amount FROM ssij_full_out").collect()
    got = sorted((r.user, r.click_ts is not None, r.amount) for r in rows)
    # watermark = min(max click 7000, max purchase 9000) = 7000:
    # u1 matched; u3's click window [10,610] closed -> left-null row;
    # u4's purchase at 100 < 7000 -> right-null row (no click side);
    # u2's trailing click (7600 >= 7000) and purchase (9000 >= 7000)
    # both stay in state
    assert got == [("u1", True, 10.0), ("u3", True, None), ("u4", False, 55.0)]


def test_stream_stream_interval_join_right_outer(spark, write_jsonl):
    """RIGHT OUTER variant: unmatched purchases null-emit once the
    watermark passes their event time; trailing purchases stay."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iso(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")

    clicks = write_jsonl(
        [
            {"user": "u1", "click_ts": iso(0)},
            {"user": "u9", "click_ts": iso(8000)},  # pushes click max high
        ]
    )
    purchases = write_jsonl(
        [
            {"user": "u1", "purchase_ts": iso(300), "amount": 10.0},  # matched
            {"user": "u4", "purchase_ts": iso(100), "amount": 55.0},  # unmatched
            {"user": "u5", "purchase_ts": iso(9000), "amount": 99.0},  # trailing
        ]
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream_right,
    )

    c = (
        spark.readStream.schema("user STRING, click_ts STRING").json(clicks)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    p = (
        spark.readStream.schema(
            "user STRING, purchase_ts STRING, amount DOUBLE"
        ).json(purchases)
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    joined = interval_join_stream_right(
        c, p, key="user", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="10 minutes", watermark="0 seconds",
    ).select("user", "click_ts", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_right_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user, click_ts, amount FROM ssij_right_out").collect()
    got = sorted((r.user, r.click_ts is not None, r.amount) for r in rows)
    # watermark = min(8000, 9000) = 8000: u1 matched; u4's purchase at
    # 100 < 8000 -> null row; u5's trailing purchase (9000 >= 8000) stays
    assert got == [("u1", True, 10.0), ("u4", False, 55.0)]


def test_left_outer_null_emission_boundary_exact_watermark(spark, write_jsonl):
    """ADVICE r3 boundary pin: a click whose window end EXACTLY equals
    the final global watermark must NOT null-emit (the oracle's strict
    '<' matches Spark's eviction predicate, which requires the
    watermark to move strictly past the window end)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iso(sec):
        return (t0 + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")

    # u1's click window [0, 600]; max click 600 and max purchase 600
    # make the final watermark exactly 600 == window end
    clicks = write_jsonl(
        [
            {"user": "u1", "click_ts": iso(0)},
            {"user": "u2", "click_ts": iso(600)},
        ]
    )
    purchases = write_jsonl(
        [{"user": "u9", "purchase_ts": iso(600), "amount": 1.0}]
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream_left,
    )

    c = (
        spark.readStream.schema("user STRING, click_ts STRING").json(clicks)
        .withColumn("click_ts", F.to_timestamp("click_ts"))
    )
    p = (
        spark.readStream.schema(
            "user STRING, purchase_ts STRING, amount DOUBLE"
        ).json(purchases)
        .withColumn("purchase_ts", F.to_timestamp("purchase_ts"))
    )
    joined = interval_join_stream_left(
        c, p, key="user", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="10 minutes", watermark="0 seconds",
    ).select("user", "amount")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_boundary_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user FROM ssij_boundary_out").collect()
    # u1's window end (600) == watermark (600): strict '<' fails, no
    # null row for anyone (u2's window is wide open)
    assert rows == []


def test_streaming_dedup_within_watermark(spark, write_jsonl):
    """dropDuplicatesWithinWatermark: the PRODUCTION streaming-dedup
    form — plain dropDuplicates keeps every key's fingerprint forever
    (unbounded state on an unbounded stream), the watermark-scoped
    variant evicts dedup state once the watermark passes, so state is
    O(rate × delay). Duplicates inside the watermark window must still
    collapse to one row."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {
            "event_id": i,
            "ts": (t0 + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S"),
            "payload": f"p{i}",
        }
        for i in range(30)
    ]
    d = write_jsonl(rows + rows)  # at-least-once redelivery
    stream = (
        spark.readStream.schema("event_id LONG, ts STRING, payload STRING")
        .json(d)
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
    )
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT event_id FROM dedup_wm_out").collect()
    ids = [r.event_id for r in out]
    assert len(ids) == 30 and len(set(ids)) == 30


def test_interval_join_randomized_equals_batch(spark, write_jsonl):
    """Randomized (seeded) equivalence: the streaming interval join must
    emit exactly the batch join's matches on arbitrary key/time layouts
    — the same batch↔streaming contract the detector is held to."""
    import datetime as dt
    import random

    rng = random.Random(20240813)
    t0 = dt.datetime(2024, 1, 1)

    def rows(side):
        out = []
        for i in range(120):
            out.append(
                {
                    "k": f"u{rng.randint(0, 9)}",
                    f"{side}_ts": (
                        t0 + dt.timedelta(seconds=rng.randint(0, 3600))
                    ).strftime("%Y-%m-%dT%H:%M:%S"),
                    f"{side}_id": i,
                }
            )
        return out

    left_rows, right_rows = rows("l"), rows("r")
    ld, rd = write_jsonl(left_rows), write_jsonl(right_rows)

    l_schema = "k STRING, l_ts STRING, l_id LONG"
    r_schema = "k STRING, r_ts STRING, r_id LONG"
    ls = (
        spark.readStream.schema(l_schema).json(ld)
        .withColumn("l_ts", F.to_timestamp("l_ts"))
    )
    rs = (
        spark.readStream.schema(r_schema).json(rd)
        .withColumn("r_ts", F.to_timestamp("r_ts"))
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream,
    )

    joined = interval_join_stream(
        ls, rs, key="k", left_ts="l_ts", right_ts="r_ts",
        lower="0 seconds", upper="5 minutes",
    ).select("l_id", "r_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_rand")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.l_id, r.r_id) for r in spark.sql("SELECT * FROM ssij_rand").collect()}

    lb = spark.read.schema(l_schema).json(ld).withColumn(
        "l_ts", F.to_timestamp("l_ts")
    )
    rb = spark.read.schema(r_schema).json(rd).withColumn(
        "r_ts", F.to_timestamp("r_ts")
    )
    want = {
        (r.l_id, r.r_id)
        for r in lb.alias("l")
        .join(
            rb.alias("r"),
            F.expr(
                "l.k = r.k AND r.r_ts >= l.l_ts "
                "AND r.r_ts <= l.l_ts + INTERVAL 5 MINUTES"
            ),
        )
        .select("l_id", "r_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_full_outer_interval_join_randomized_equals_contract(spark, write_jsonl):
    """Randomized (seeded) equivalence for the FULL OUTER variant: the
    streaming result must equal matched-pairs ∪ watermark-finalized
    left nulls ∪ watermark-finalized right nulls, computed batch-side
    from the documented contract (left closes at l_ts + upper < wm,
    right at r_ts < wm with lower=0, wm = min of sides' max ts)."""
    import datetime as dt
    import random

    rng = random.Random(20260813)
    t0 = dt.datetime(2024, 1, 1)

    def rows(side, n, id0=0):
        return [
            {
                "k": f"u{rng.randint(0, 7)}",
                f"{side}_ts": (
                    t0 + dt.timedelta(seconds=rng.randint(0, 3600))
                ).strftime("%Y-%m-%dT%H:%M:%S"),
                f"{side}_id": id0 + i,
            }
            for i in range(n)
        ]

    left_rows, right_rows = rows("l", 80), rows("r", 80, 1000)
    ld, rd = write_jsonl(left_rows), write_jsonl(right_rows)
    l_schema = "k STRING, l_ts STRING, l_id LONG"
    r_schema = "k STRING, r_ts STRING, r_id LONG"
    ls = (
        spark.readStream.schema(l_schema).json(ld)
        .withColumn("l_ts", F.to_timestamp("l_ts"))
    )
    rs = (
        spark.readStream.schema(r_schema).json(rd)
        .withColumn("r_ts", F.to_timestamp("r_ts"))
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream_full,
    )

    joined = interval_join_stream_full(
        ls, rs, key="k", left_ts="l_ts", right_ts="r_ts",
        lower="0 seconds", upper="5 minutes",
    ).select("l_id", "r_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_full_rand")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.l_id, r.r_id)
        for r in spark.sql("SELECT * FROM ssij_full_rand").collect()
    }

    lb = spark.read.schema(l_schema).json(ld).withColumn(
        "l_ts", F.to_timestamp("l_ts")
    )
    rb = spark.read.schema(r_schema).json(rd).withColumn(
        "r_ts", F.to_timestamp("r_ts")
    )
    cond = F.expr(
        "l.k = r.k AND r.r_ts >= l.l_ts "
        "AND r.r_ts <= l.l_ts + INTERVAL 5 MINUTES"
    )
    matched = {
        (r.l_id, r.r_id)
        for r in lb.alias("l").join(rb.alias("r"), cond).select("l_id", "r_id").collect()
    }
    wm = min(
        lb.agg(F.max("l_ts")).collect()[0][0],
        rb.agg(F.max("r_ts")).collect()[0][0],
    )
    matched_l = {l for l, _ in matched}
    matched_r = {r for _, r in matched}
    null_left = {
        (r.l_id, None)
        for r in lb.collect()
        if r.l_id not in matched_l
        and r.l_ts + dt.timedelta(minutes=5) < wm
    }
    null_right = {
        (None, r.r_id)
        for r in rb.collect()
        if r.r_id not in matched_r and r.r_ts < wm
    }
    want = matched | null_left | null_right
    assert got == want
    assert null_left and null_right and matched  # all three classes present

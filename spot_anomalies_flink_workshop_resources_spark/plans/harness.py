"""Query registry exercised by the driver's correctness harness.

Each entry pairs a PySpark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL string the DuckDB oracle runs on the same
parquet tables. Column names are aliased identically on both sides (the
driver hash-compares values after sorting columns by name).

Detection parameters for the generic ``events`` table (event_id, ts,
user_id, event_type, value, props): anomalous iff value < 10, trigger iff
value > 20, runs of 2-5, window 7 days. The thresholds scale the reference
pattern (packets<10 / packets>10 / times(10,30) / within 60 s —
AnomalyDetection.java:126-132) to the testdata's value distribution and
inter-event spacing so positive matches exist at every sf.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo
from ..catalog import load_table
from ..operators import detection
from . import relational

QueryFn = Callable[[SparkSession, str], DataFrame]

FLAGSHIP_PARAMS = dict(
    key_col="user_id",
    time_col="ts",
    order_col="event_id",
    metric_col="value",
    low_threshold=10.0,
    high_threshold=20.0,
    min_run=2,
    max_run=5,
    window_seconds=7 * 24 * 3600.0,
)


def cep_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: run-length CEP detection on the events table."""
    events = load_table(spark, sf_dir, "events")
    return detection.detect_attack_runs(events, **FLAGSHIP_PARAMS)


def cep_fragmentation_oracle() -> str:
    p = dict(FLAGSHIP_PARAMS)
    return detection.oracle_sql_attack_runs(
        table="events",
        key_col=p["key_col"],
        time_col=p["time_col"],
        order_col=p["order_col"],
        metric_col=p["metric_col"],
        low_threshold=p["low_threshold"],
        high_threshold=p["high_threshold"],
        min_run=p["min_run"],
        max_run=p["max_run"],
        window_seconds=p["window_seconds"],
    )


def cep_fragmentation_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe twin of the flagship: time-bucket split + bounded
    carry stitch (detect_attack_runs_skew_split) — must hash-match the
    SAME oracle as the one-shot operator, with daily buckets forcing
    real cross-bucket stitching on this dataset."""
    events = load_table(spark, sf_dir, "events")
    return detection.detect_attack_runs_skew_split(
        events, **FLAGSHIP_PARAMS, bucket_seconds=86400.0
    )


def cep_fragmentation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the flagship, run to completion: the stateful
    applyInPandasWithState detector over the same events table, checked
    against the SAME DuckDB oracle (batch↔streaming equivalence is the
    operator's contract — SURVEY.md §7.1)."""
    from pyspark.sql import functions as F

    from ..streaming.detector import detect_attack_runs_stream

    alerts = detect_attack_runs_stream(
        _events_stream(spark, sf_dir), **FLAGSHIP_PARAMS
    )
    out = _run_to_completion(alerts, spark)
    # memory-sink key column is the stringified detector key; restore the
    # oracle's bigint type for schema parity
    return out.withColumn("target_key", F.col("target_key").cast("long"))


def ml_ipinsights_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M3 end-to-end on harness data: train (user_id, event_type)
    habit embeddings on the events table, score every distinct pair.
    Non-SQL-expressible (iterative training) → rows-only driver check;
    the seeded trainer makes row count and schema stable."""
    from pyspark.sql import functions as F

    from ..ml.ipinsights import IPInsightsModel

    events = load_table(spark, sf_dir, "events")
    pairs = events.select(
        F.col("user_id").cast("string").alias("entity"),
        F.col("event_type").alias("ip"),
    )
    # The trained model is a session memo — the simsearch trainer
    # pattern (operators/simsearch._train_cached): within-run reuse only,
    # never a cross-run memo. The seeded trainer is deterministic, so the
    # memoized model is bit-identical to a retrain.
    model = memo.value(
        spark,
        (sf_dir, 16, 3, 42, "ipinsights"),
        lambda: IPInsightsModel.train(
            pairs, vector_dim=16, num_epochs=3, seed=42
        ),
    )
    model.entity_vecs.setflags(write=False)
    model.ip_vecs.setflags(write=False)
    distinct_pairs = pairs.distinct()
    scored = model.score_dataframe(spark, distinct_pairs)
    return scored.select(
        F.col("entity").cast("long").alias("user_id"),
        F.col("ip").alias("event_type"),
        F.col("anomaly_score"),
    )


def _raw_parquet_schema(spark: SparkSession, path: str):
    """Raw parquet schema, a session memo: every streaming harness
    query read the events footer twice (source schema + the NTZ probe in
    _restore_source_ts) — ~0.1-0.2 s of repeated inference per stream
    query. The streaming twin of catalog.load_table's plan memo."""
    return memo.value(
        spark, (path, "raw_schema"), lambda: spark.read.parquet(path).schema
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ev_path = f"{sf_dir}/events.parquet"
    raw_schema = _raw_parquet_schema(spark, ev_path)
    # Same two-layout rule as the documents stream (harness.py
    # _docs_stream, round-8 sf1 lesson): a Spark-written corpus makes
    # events.parquet a DIRECTORY of part-files, where the leaf-file
    # glob silently streams zero rows — stream the directory directly.
    if os.path.isdir(ev_path):
        stream = (
            spark.readStream.schema(raw_schema).format("parquet").load(ev_path)
        )
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream


def _events_ts_is_ntz(spark: SparkSession, sf_dir: str) -> bool:
    from pyspark.sql.types import TimestampNTZType

    schema = _raw_parquet_schema(spark, f"{sf_dir}/events.parquet")
    return isinstance(schema["ts"].dataType, TimestampNTZType)


def _restore_source_ts(df: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming plans force tz-aware TIMESTAMP event time (watermarks
    reject NTZ); when the SOURCE parquet carries NTZ, emitted timestamps
    are cast back so the stream query's output schema matches what the
    batch reader — and the DuckDB oracle — produce. Value-preserving
    under the engine's UTC session tz."""
    from ..functions.timeutil import cast_timestamps_ntz

    return cast_timestamps_ntz(df, when=_events_ts_is_ntz(spark, sf_dir))


def _stream_checkpoint_base(spark: SparkSession) -> str:
    """Session-scoped checkpoint base for the bounded harness replays:
    one directory per session under the system temp dir. The checkpoint
    is write-only bookkeeping for these run-to-completion replays, so
    results do not depend on where it lives; each query's subdir is
    removed right after stop(), and the base at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    def build() -> str:
        base = tempfile.mkdtemp(prefix="stream_ckpt_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        return base

    base = memo.value(spark, ("stream_ckpt_base",), build)
    os.makedirs(base, exist_ok=True)
    return base


# Streaming state width of every harness replay. Each state-store
# instance (stores/operator x partitions) commits files every
# micro-batch; with checkpoint files forking no process
# (session.build_session), widths 2, 4 and 8 time alike on the sf0.1
# interval join (SCALE.md § Streaming checkpoints), and 2 writes the
# fewest files.
STREAM_STATE_PARTITIONS = 2


def _run_to_completion(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
) -> DataFrame:
    """Run a stream over the bounded harness source to completion and
    return the memory-sink table's frame. The sink's temp view is
    dropped before returning: the frame keeps the sink's rows, and a
    session running many replays does not collect ``stream_q_*`` views.

    The query runs at ``STREAM_STATE_PARTITIONS`` shuffle partitions
    (Structured Streaming reads the conf at query start and pins it in
    the checkpoint); the session conf is restored afterwards so batch
    queries keep their width.
    """
    import shutil
    import uuid

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    name = f"stream_q_{uuid.uuid4().hex[:8]}"
    ckpt = f"{_stream_checkpoint_base(spark)}/{name}"
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def stream_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window aggregation, watermark-finalized; oracle
    is the lag/cumsum batch sessionization with the same finalization
    filter (session_end <= max ts)."""
    from ..streaming.windows import session_rollup_stream

    out = _run_to_completion(
        session_rollup_stream(_events_stream(spark, sf_dir)),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_SESSION_ORACLE = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 1 HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
sess AS (
  -- (ts, event_id) ordering must match the LAG ordering above so tied-ts
  -- rows cannot swap past a session boundary nondeterministically
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
),
rolled AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 1 HOUR AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events FROM rolled
WHERE session_end <= (SELECT MAX(ts) FROM events)
"""


def stream_tumbling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window rollup (1-day windows per event_type)."""
    from ..streaming.windows import tumbling_rollup_stream

    out = _run_to_completion(
        tumbling_rollup_stream(_events_stream(spark, sf_dir)),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_TUMBLING_ORACLE = """
SELECT date_trunc('day', ts) AS window_start,
       date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY date_trunc('day', ts), event_type
HAVING date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events)
"""


def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap streaming sessions ('error' holds 30 min, others
    1 h); the oracle re-derives the merge with a running max of
    (ts + gap) per user and the same finalization filter."""
    from ..streaming.windows import session_rollup_dynamic_stream

    out = _run_to_completion(
        session_rollup_dynamic_stream(_events_stream(spark, sf_dir)),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_SESSION_DYNAMIC_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type = 'error'
                   THEN INTERVAL 30 MINUTE ELSE INTERVAL 1 HOUR END AS w_end
  FROM events
),
runs AS (
  SELECT user_id, ts, event_id, w_end,
         CASE WHEN MAX(w_end) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
              OR ts > MAX(w_end) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_s
  FROM g
),
sess AS (
  -- order by (ts, event_id): must match the boundary-detection ordering
  -- in runs, else tied-ts rows can swap past a boundary nondeterministically
  SELECT user_id, ts, w_end,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM runs
),
rolled AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(w_end) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events FROM rolled
WHERE session_end <= (SELECT MAX(ts) FROM events)
"""


def stream_windowed_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained multiple-stateful-operator streaming query: hourly
    per-type counts, then a second windowed aggregation chained on the
    window column folds each hour into its total + per-type shares —
    two stateful operators, one source scan, watermark-finalized
    (round 11; was two aggs + a stream-stream window join over two
    source scans — same rows, same oracle)."""
    from ..streaming.windows import windowed_share_stream

    out = _run_to_completion(
        windowed_share_stream(_events_stream(spark, sf_dir)),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_WINDOWED_SHARE_ORACLE = """
WITH by_key AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_key,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           AS sum_value
  FROM events GROUP BY date_trunc('hour', ts), event_type
),
total AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CAST(COUNT(*) AS BIGINT) AS n_all
  FROM events GROUP BY date_trunc('hour', ts)
)
SELECT k.window_start,
       k.window_start + INTERVAL 1 HOUR AS window_end,
       k.event_type, k.n_key, k.sum_value, t.n_all,
       CAST(k.n_key AS DOUBLE) / t.n_all AS share
FROM by_key k JOIN total t ON t.window_start = k.window_start
WHERE k.window_start + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM events)
"""


def stream_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping-window rollup (2-hour windows sliding hourly
    per event_type): each event lands in width/slide = 2 overlapping
    windows. The oracle expands the same membership with a
    generate_series cross join and applies the identical
    watermark-finalization filter."""
    from ..streaming.windows import hopping_rollup_stream

    out = _run_to_completion(
        hopping_rollup_stream(_events_stream(spark, sf_dir)),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_HOPPING_ORACLE = """
WITH member AS (
  SELECT e.event_type, e.value,
         date_trunc('hour', e.ts) - k.k * INTERVAL 1 HOUR AS window_start
  FROM events e
  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
)
SELECT window_start,
       window_start + INTERVAL 2 HOUR AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
         AS sum_value
FROM member
GROUP BY window_start, event_type
HAVING window_start + INTERVAL 2 HOUR <= (SELECT MAX(ts) FROM events)
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run to completion: each click joins
    same-user purchases within the following hour. Two independent
    file-source streams over the same events table, watermarked on both
    sides; inner-join semantics make the finalized result equal the
    batch interval join, which is the oracle."""
    from pyspark.sql import functions as F

    from ..streaming.joins import interval_join_stream

    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join_stream(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour",
    )
    out = _run_to_completion(
        joined.select(
            "click_id", "user_id", "click_ts",
            "purchase_id", "purchase_ts", "purchase_value",
        ),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_INTERVAL_JOIN_ORACLE = """
SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join run to completion:
    matched click/purchase pairs emit as both sides arrive; an
    unmatched click emits once with nulls when the GLOBAL watermark
    (min of the two sides' max event times — Spark's default
    multipleWatermarkPolicy) passes the end of its one-hour window.
    The oracle encodes exactly that finalization contract: null rows
    only for clicks with click_ts + 1h < least(max click_ts,
    max purchase_ts); trailing unmatched clicks stay in state and do
    not emit."""
    from pyspark.sql import functions as F

    from ..streaming.joins import interval_join_stream_left

    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join_stream_left(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour",
    )
    out = _run_to_completion(
        joined.select(
            "click_id", "user_id", "click_ts",
            "purchase_id", "purchase_ts", "purchase_value",
        ),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_INTERVAL_JOIN_LEFT_ORACLE = """
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS mx
),
matched AS (
  SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
         p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched AS (
  SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND c.ts + INTERVAL 1 HOUR < wm.mx
    AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


def _click_purchase_streams(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return clicks, purchases


def stream_interval_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (native leftSemi): clicks
    that converted — a purchase followed within the hour. Each click
    emits at most once; no null finalization, so the oracle is the
    plain EXISTS filter."""
    from ..streaming.joins import interval_join_stream_semi

    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    out = _run_to_completion(
        interval_join_stream_semi(
            clicks, purchases, key="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
            lower="0 seconds", upper="1 hour",
        ),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_INTERVAL_JOIN_SEMI_ORACLE = """
SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
"""


def stream_interval_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT ANTI interval join — the abandonment stream
    (clicks whose hour closed with no purchase), derived from the
    left-outer join's watermark-gated null rows. Oracle applies the
    identical finalization boundary (window end strictly before the
    min-of-sides final watermark)."""
    from ..streaming.joins import interval_join_stream_anti

    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    out = _run_to_completion(
        interval_join_stream_anti(
            clicks, purchases, key="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
            lower="0 seconds", upper="1 hour",
        ),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_INTERVAL_JOIN_ANTI_ORACLE = """
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS mx
)
SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts
FROM events c, wm
WHERE c.event_type = 'click'
  AND c.ts + INTERVAL 1 HOUR < wm.mx
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
"""


def stream_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC snapshot in COMPLETE output mode (the engine's
    only complete-mode surface — a continuously maintained upsert view):
    per-user max_by under (ts, event_id) with 'error' rows acting as
    deletes, run to completion over the bounded events stream. Must
    equal the batch compaction, hence the SAME oracle as
    events_cdc_snapshot."""
    from ..operators.cdc import compact_log_stream
    from .relational import CDC_LOG_ARGS, CDC_SNAPSHOT_COLS, events_cdc_log

    log = events_cdc_log(_events_stream(spark, sf_dir))
    snap = compact_log_stream(log, **CDC_LOG_ARGS).select(*CDC_SNAPSHOT_COLS)
    out = _run_to_completion(snap, spark, output_mode="complete")
    return _restore_source_ts(out, spark, sf_dir)


def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously maintained histogram: the fixed-width (type, bin)
    counts as a COMPLETE-mode streaming aggregation — the live
    monitoring twin of events_value_histogram, state O(|types|x|bins|)
    regardless of event volume. Run to completion over the bounded
    source it must equal the batch histogram, hence the SAME oracle."""
    from pyspark.sql import functions as F

    e = _events_stream(spark, sf_dir)
    bin_ = F.least(
        F.greatest(F.floor((F.col("value") - 0.0) / 25.0), F.lit(0)),
        F.lit(19),
    ).cast("long")
    hist = (
        e.groupBy(F.col("event_type"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.col("bin") * 25.0).alias("bin_lo"),
            ((F.col("bin") + 1) * 25.0).alias("bin_hi"),
            "n",
        )
    )
    return _run_to_completion(hist, spark, output_mode="complete")


def stream_topk_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously maintained top-10 leaderboard: the hottest
    (event_type, day) activity cells as a COMPLETE-mode streaming
    aggregation with ORDER BY + LIMIT — sort-and-limit is legal in
    Structured Streaming ONLY in complete mode, which is exactly the
    live-leaderboard capability this query pins. Deterministic
    tiebreak (count desc, type asc, day asc) makes the emitted SET
    reproducible, so run to completion it must equal the batch top-10
    — the oracle runs the batch form."""
    from pyspark.sql import functions as F

    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"), F.asc("day"))
        .limit(10)
    )
    return _run_to_completion(agg, spark, output_mode="complete")


STREAM_TOPK_ORACLE = """
SELECT event_type, date_trunc('day', ts) AS day,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type, date_trunc('day', ts)
ORDER BY n DESC, event_type ASC, day ASC
LIMIT 10
"""


def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join run to completion
    (VERDICT r3 #8): matched pairs emit as both sides arrive; an
    unmatched click null-emits once the global watermark passes its
    window end (click_ts + 1h); an unmatched purchase null-emits once
    the watermark passes the latest click time that could still reach
    it (purchase_ts, since lower=0). The oracle encodes both
    finalization filters against the min-of-sides max event time."""
    from pyspark.sql import functions as F

    from ..streaming.joins import interval_join_stream_full

    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = interval_join_stream_full(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour",
    )
    out = _run_to_completion(
        joined.select(
            "click_id", "user_id", "click_ts",
            "purchase_id", "purchase_ts", "purchase_value",
        ),
        spark,
    )
    return _restore_source_ts(out, spark, sf_dir)


STREAM_INTERVAL_JOIN_FULL_ORACLE = """
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')) AS mx
),
matched AS (
  SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
         p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value
  FROM events c JOIN events p
    ON c.user_id = p.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
),
unmatched_clicks AS (
  SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM events c, wm
  WHERE c.event_type = 'click'
    AND c.ts + INTERVAL 1 HOUR < wm.mx
    AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
),
unmatched_purchases AS (
  SELECT CAST(NULL AS BIGINT) AS click_id, p.user_id AS user_id,
         CAST(NULL AS TIMESTAMP) AS click_ts,
         p.event_id AS purchase_id, p.ts AS purchase_ts,
         p.value AS purchase_value
  FROM events p, wm
  WHERE p.event_type = 'purchase'
    AND p.ts < wm.mx
    AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
)
SELECT * FROM matched
UNION ALL SELECT * FROM unmatched_clicks
UNION ALL SELECT * FROM unmatched_purchases
"""


def batch_interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_interval_join through the BUCKETIZED
    equi-join plan (operators.asof.interval_join_bucketed): joining on
    (user, time-bucket) bounds a hot user's work by overlapping-bucket
    pairs instead of |clicks|x|purchases| — checked against the SAME
    plain interval-join oracle as the streaming form."""
    from pyspark.sql import functions as F

    from ..operators.asof import interval_join_bucketed

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return interval_join_bucketed(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        lower_seconds=0.0, upper_seconds=3600.0,
    ).select(
        "click_id", "user_id", "click_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )


def stream_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication run to completion: dropDuplicates
    on (user_id, event_type) over the event stream, projected to the
    key columns so which physical row survives is immaterial — the
    finalized append output equals batch DISTINCT, which is the oracle.
    (The unbounded-stream form, dropDuplicatesWithinWatermark with
    state eviction, stays unit-tested — its kept-row timing is
    watermark-dependent and has no deterministic batch twin.)"""
    dedup = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_to_completion(dedup, spark)


STREAM_DISTINCT_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-quality gate: each arriving document is scored
    INLINE (text.stat_cols — narrow column expressions, no state, no
    shuffle) and gated at quality >= 0.5, the ingest-time form of the
    corpus_prep gate. Stateless ⇒ the finalized append output equals
    the batch gate, which is the oracle. At scale this is the shape
    that rejects junk documents before they ever reach storage —
    per-record cost only, no reprocessing batch."""
    from ..operators import text as T

    import os

    raw_schema = _raw_parquet_schema(spark, f"{sf_dir}/documents.parquet")
    # The streaming file source needs a DIRECTORY basePath. Two layouts
    # exist: the driver's testdata keeps documents.parquet as a single
    # FILE (so we stream the parent dir with a leaf-file glob), while
    # Spark-written corpora (the sf1 scale data) make it a directory of
    # part-files (streamed directly — the glob form matches leaf files
    # only and silently streamed ZERO rows there; caught by the round-8
    # sf1 spot-run).
    doc_path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(doc_path):
        stream = (
            spark.readStream.schema(raw_schema).format("parquet").load(doc_path)
        )
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .format("parquet")
            .option("pathGlobFilter", "documents.parquet")
            .load(sf_dir)
        )
    c = T.stat_cols()
    from pyspark.sql import functions as F

    gated = stream.select(
        "doc_id",
        "lang",
        "source",
        c["n_tokens"].cast("long").alias("n_tokens"),
        c["quality_score"].alias("quality_score"),
    ).where(F.col("quality_score") >= 0.5)
    return _run_to_completion(gated, spark)


def _stream_quality_gate_sql() -> str:
    from ..operators.text import corpus_prep_stages_sql

    return f"""
WITH {corpus_prep_stages_sql(0.5)}
SELECT doc_id, lang, source,
       CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
FROM good
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join, the enrichment shape the reference's
    consumer Lambda does per record (lambda_handler table lookups):
    each streaming event picks up its customer's static attributes. The
    static side broadcasts (no state store, no shuffle of the stream);
    stateless ⇒ append-mode rows equal the batch join, which is the
    oracle."""
    from pyspark.sql import functions as F

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_acctbal"
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .join(F.broadcast(customers), "user_id")
        .select(
            "event_id", "user_id", "event_type", "value",
            "c_mktsegment", "c_acctbal",
        )
    )
    return _run_to_completion(enriched, spark)


STREAM_STATIC_ENRICH_ORACLE = """
SELECT event_id, e.user_id AS user_id, event_type, value,
       c_mktsegment, c_acctbal
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join demo on events: each click gets the latest prior
    purchase value for the same user. Oracle: DuckDB's native ASOF JOIN.
    The right side is deduped per (user, ts) so tie-picking is
    deterministic in both engines."""
    from pyspark.sql import functions as F

    from ..operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["purchase_value"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_purchase_value").alias("last_purchase_value"),
    )


ASOF_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, p.purchase_value AS last_purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL sketch). Sketches differ across
    engines, so there is deliberately NO value oracle — the driver's
    rows-only check covers shape; accuracy is asserted in unit tests
    against the exact counts."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
    )


def pivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix (explicit value list keeps
    the output schema deterministic). Oracle: conditional aggregation."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


PIVOT_ORACLE = """
SELECT user_id,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error
FROM events
GROUP BY user_id
"""


def unpivot_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-user count matrix back to long
    (user_id, event_type, n) rows via DataFrame.unpivot — the inverse
    reshape. Zero-count cells are kept (an explicit pivot value list
    makes them real columns), so the oracle is the dense user x type
    grid with conditional counts."""
    from pyspark.sql import functions as F

    wide = pivot_event_type_counts(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return wide.unpivot(
        "user_id", types, "event_type", "n"
    ).select("user_id", "event_type", F.col("n").cast("long").alias("n"))


UNPIVOT_ORACLE = """
SELECT u.user_id, t.event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM (SELECT DISTINCT user_id FROM events) u
CROSS JOIN (VALUES ('click'), ('view'), ('purchase'), ('signup'),
                   ('error')) t(event_type)
LEFT JOIN (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
) c ON c.user_id = u.user_id AND c.event_type = t.event_type
"""


def events_daily_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient (two-phase salted) variant of events_daily_rollup —
    must produce IDENTICAL results; checked against the same oracle.
    countDistinct cannot ride the salt (not decomposable as-is), so the
    distinct-user count recombines via a collected set size."""
    from pyspark.sql import functions as F

    from ..operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
        "user_id",
    )
    out = salted_agg(
        e,
        ["day", "event_type"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events").cast("long")),
            "sum_value": (F.sum("v"), F.sum("sum_value")),
            "users": (
                F.collect_set("user_id"),
                F.array_distinct(F.flatten(F.collect_list("users"))),
            ),
        },
    )
    return out.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value").cast("string").cast("double").alias("sum_value"),
        F.size("users").cast("long").alias("active_users"),
    )


def ocsf_nested_endpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCSF-style nested-struct data model + dot-path query (SURVEY §1.2
    P6 — the notebook's commented OCSF variant reads
    ``src_endpoint.instance_uid`` / ``src_endpoint.ip``, NB cell 7).

    Events are lifted into a two-level OCSF endpoint struct
    (src_endpoint.os.type nests a second level), then filtered and
    projected purely through dot paths — the engine capability being
    demonstrated; Catalyst prunes the struct to the accessed fields.
    Oracle: DuckDB struct_pack + identical dot paths.
    """
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    ocsf = e.select(
        "event_id",
        F.struct(
            F.concat(
                F.lit("eni-"), F.lpad(F.col("user_id").cast("string"), 5, "0")
            ).alias("instance_uid"),
            F.concat(
                F.when(F.col("event_id") % 3 == 0, F.lit("10.")).otherwise(
                    F.lit("192.168.")
                ),
                (F.col("user_id") % 200).cast("string"),
                F.lit("."),
                (F.col("event_id") % 250).cast("string"),
            ).alias("ip"),
            (F.col("event_id") % 65536).cast("long").alias("port"),
            F.struct(F.col("event_type").alias("type")).alias("os"),
        ).alias("src_endpoint"),
    )
    return ocsf.where(F.col("src_endpoint.ip").startswith("10.")).select(
        "event_id",
        F.col("src_endpoint.instance_uid").alias("instance_uid"),
        F.col("src_endpoint.ip").alias("ip"),
        F.col("src_endpoint.port").alias("port"),
        F.col("src_endpoint.os.type").alias("os_type"),
    )


OCSF_NESTED_ORACLE = """
WITH ocsf AS (
  SELECT event_id,
         struct_pack(
           instance_uid := 'eni-' || lpad(CAST(user_id AS VARCHAR), 5, '0'),
           ip := (CASE WHEN event_id % 3 = 0 THEN '10.' ELSE '192.168.' END)
                 || CAST(user_id % 200 AS VARCHAR) || '.'
                 || CAST(event_id % 250 AS VARCHAR),
           port := CAST(event_id % 65536 AS BIGINT),
           os := struct_pack(type := event_type)
         ) AS src_endpoint
  FROM events
)
SELECT event_id,
       src_endpoint.instance_uid AS instance_uid,
       src_endpoint.ip AS ip,
       src_endpoint.port AS port,
       src_endpoint.os.type AS os_type
FROM ocsf
WHERE src_endpoint.ip LIKE '10.%'
"""


# ------------------------------------------- streaming EWMA alert


def stream_ewma_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained EWMA deviation alert: the per-(type,
    day) mean-value aggregate runs as a COMPLETE-mode streaming query
    (state = one row per type-day cell, updated as events arrive — the
    live-baseline capability next to stream_topk_cells), and the alert
    layer reads the finished snapshot: a day alerts when its mean
    exceeds 1.25x the EWMA (alpha = 1/8, initialized at the first
    day's mean) of all PRIOR days.

    Exactness: daily means use the decimal-staged _davg; the EWMA
    prefix folds are ORDERED (aggregate / list_reduce, the ewma
    recipe) with binary-exact literals 0.875/0.125/1.25, and the
    per-day prefix re-fold is O(days^2) on the CALENDAR-bounded day
    list (the isotonic bounded-domain contract). Run to completion the
    snapshot equals the batch daily agg, so the batch twin is the
    oracle. Scale: streaming state is |types| x |days| rows; the fold
    never sees event-sized data."""
    e = _events_stream(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(relational._davg(F.col("value")).alias("mu"))
    snap = _run_to_completion(daily, spark, output_mode="complete")

    st = snap.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "mu"))),
            lambda p: p["mu"],
        ).alias("mus"),
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.element_at(F.col("mus"), 1),
        lambda acc, x: acc * F.lit(0.875) + x * F.lit(0.125),
    )
    ewma = fold(F.slice(F.col("mus"), 2, (F.col("n_days") - 1).cast("int")))
    n_alerts = F.when(
        F.col("n_days") >= 2,
        F.aggregate(
            F.transform(
                F.sequence(F.lit(2), F.col("n_days").cast("int")),
                lambda i: F.when(
                    F.element_at(F.col("mus"), i)
                    > F.lit(1.25)
                    * F.aggregate(
                        F.slice(F.col("mus"), 2, i - F.lit(2)),
                        F.element_at(F.col("mus"), 1),
                        lambda acc, x: acc * F.lit(0.875)
                        + x * F.lit(0.125),
                    ),
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).otherwise(F.lit(0).cast("long"))
    return st.select(
        "event_type",
        "n_days",
        ewma.alias("baseline"),
        n_alerts.alias("n_alerts"),
    ).orderBy("event_type")


STREAM_EWMA_ALERT_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           / COUNT(value) AS mu
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         list(mu ORDER BY day) AS mus
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       list_reduce(
         list_prepend(mus[1],
           list_slice(mus, 2, CAST(n_days AS INTEGER))),
         (acc, x) -> acc * 0.875 + x * 0.125) AS baseline,
       CASE WHEN n_days >= 2 THEN
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(2, CAST(n_days AS INTEGER)),
             i -> CASE WHEN mus[i] > 1.25 * list_reduce(
                    list_prepend(mus[1], list_slice(mus, 2, i - 1)),
                    (acc, x) -> acc * 0.875 + x * 0.125)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
           (acc, x) -> acc + x)
       ELSE CAST(0 AS BIGINT) END AS n_alerts
FROM st
ORDER BY event_type
"""


# ----------------------------------- IPInsights fixed-matrix scoring


_IPF_DIM = 16
_IPF_CAP = 64
_IPF_DEN = 9409.0  # 97^2 — one final division, exact-int numerator


def _ipf_vec_entry(slot: str, d: int, kind: int) -> str:
    """SQL term for the fixed grid matrix: ((slot*31 + d*17 + kind) %
    97) - 48 — small exact integers, identical in Spark/NumPy/DuckDB."""
    return f"((({slot} * 31 + {d * 17 + kind}) % 97) - 48)"


def ml_ipinsights_score_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 scoring arithmetic under a VALUE oracle (VERDICT r9 #7):
    training is legitimately rows-only (iterative SGD), but scoring is
    a deterministic dot product — so score every distinct (user_id,
    event_type) pair against a FIXED integer-grid embedding pair
    (entity matrix E[s][d] = ((s*31+d*17)%97)-48, ip matrix shifted by
    +1) in hash-cap mode (md5-slot % 64, the reference's
    num_entity_vectors semantics — notebook cell 11), through the REAL
    broadcast + vectorized-pandas-UDF scoring path
    (ml/ipinsights.py:410 scorer_udf). anomaly_score = -(E[e]·P[i]) /
    97^2: the dot is a sum of 16 integer products (|v| <= 48, exact in
    float64, order-free), the division is the single rounding step —
    bit-identical to the DuckDB unrolled twin."""
    import numpy as np

    from ..ml.ipinsights import IPInsightsModel

    slots = np.arange(_IPF_CAP).reshape(-1, 1)
    dims = np.arange(_IPF_DIM).reshape(1, -1)
    ev = ((slots * 31 + dims * 17) % 97 - 48).astype(np.float64)
    pv = ((slots * 31 + dims * 17 + 1) % 97 - 48).astype(np.float64)
    model = IPInsightsModel(
        entity_index=None,
        ip_index=None,
        entity_vecs=ev,
        ip_vecs=pv,
        num_entity_vectors=_IPF_CAP,
        num_ip_vectors=_IPF_CAP,
    )
    pairs = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("user_id").cast("string").alias("entity"),
            F.col("event_type").alias("ip"),
        )
        .distinct()
    )
    scored = model.score_dataframe(spark, pairs)
    return (
        scored.select(
            F.col("entity").cast("long").alias("user_id"),
            F.col("ip").alias("event_type"),
            (F.col("anomaly_score") / F.lit(_IPF_DEN)).alias("anomaly_score"),
        )
        .orderBy("user_id", "event_type")
    )


def _ml_ipinsights_score_fixed_sql() -> str:
    es, isl = "eslot", "islot"
    dot = " + ".join(
        f"{_ipf_vec_entry(es, d, 0)} * {_ipf_vec_entry(isl, d, 1)}"
        for d in range(_IPF_DIM)
    )
    return f"""
WITH pairs AS (
  SELECT DISTINCT user_id, event_type FROM events
),
slotted AS (
  SELECT user_id, event_type,
         CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % {_IPF_CAP} AS BIGINT) AS eslot,
         CAST(CAST(concat('0x', substr(md5(event_type), 1, 8))
              AS UBIGINT) % {_IPF_CAP} AS BIGINT) AS islot
  FROM pairs
)
SELECT user_id, event_type,
       CAST(-({dot}) AS DOUBLE) / {_IPF_DEN!r} AS anomaly_score
FROM slotted
ORDER BY user_id, event_type
"""


# The driver's correctness harness records at most ~50 of these entries,
# taken in dict-insertion order (round 2's file held exactly the first 50
# and silently dropped the rest). Queries named here are moved to the
# FRONT of build_queries() so the official per-round check always covers
# the newest / riskiest surface. Everything NOT named here is ordered by
# ROTATION (VERDICT r8 #2): oracle-backed queries whose last driver-green
# round is OLDEST come first, computed from the committed CORRECTNESS_r0*
# files by _last_green_rounds() below — so in the steady state every
# stable query is periodically re-driver-checked instead of never again.
# The full surface (all oracles) is still verified locally each round via
# tools/check_oracles.py — see COVERAGE.md.
DRIVER_PRIORITY: tuple[str, ...] = (
    # -- round 11 (optimization round 2): every query whose EXECUTION
    # was rewritten this round is fronted for the driver's ~50-slot
    # correctness window (the VERDICT-endorsed rewrite-forces-recheck
    # policy). All verified bit-exact locally (two full 387-oracle
    # sf0.001 sweeps + targeted sf0.01/sf0.1 checks). Round 10's blocks
    # were all driver-green in CORRECTNESS_r10 and return to the
    # last-green rotation tail. --
    # block 0: structurally rewritten queries
    "sql_supplier_overlap",       # per-part-array pairs, token self-join removed
    "stream_windowed_share",      # 3 stateful ops -> 2 chained aggs, 1 scan
    "cep_fragmentation_stream",   # key-derived Python-stateful state width
    # block 0b (session 2): execution rewrites — window-pick exact
    # percentile, array-bounded capped jaccard, one-agg lang-mismatch,
    # and the last four direct tokenizers rewired onto the shared pass
    "sql_price_quantiles",        # ObjectHashAggregate -> window-pick, bit-exact
    "dedup_jaccard",              # capped pairs via per-shingle arrays
    "text_lang_mismatch",         # 2 windows + SMJ -> one (doc,lang) agg
    "text_bm25_topk",             # token arrays: was 2 own tokenize passes
    "dedup_lines",                # token arrays
    "dedup_span_stats",           # token arrays
    "corpus_gopher_rules",        # token arrays
    # block 1: the shared token-array pass (one tokenize per corpus)
    "corpus_top_terms",
    "corpus_top_terms_sketch",
    "corpus_zipf_fit",
    "corpus_oov_rate",
    "text_yule_k",
    "text_burstiness",
    "text_keywords",
    "corpus_cms_error",
    "text_bigram_lm",
    "dedup_simhash",
    "corpus_boilerplate",
    "corpus_dsir_select",
    "corpus_template_strip",
    "corpus_dsir_ess",
    "dedup_minhash_lsh",          # shingle builder reduces from token arrays
    "dedup_containment",          # same shingle path
    # block 2: shared daily-grid checkpoint (stattest family prefix)
    "events_spearman",
    "events_kendall_tau",
    "events_cusum",
    "events_seasonal_strength",
    # block 3: memoized graph edge/node frames + counted-bound memo
    "events_pagerank",
    "events_hits",
    "events_markov_stationary",
    "sql_copurchase_pagerank",
    "sql_copurchase_hits",
    "sql_repeat_pagerank",
    "dedup_canonical",
    "dedup_components_converged",
    "dedup_simhash_components",
    # block 4: blocked-cosine null-key drop + fallback reuse (ADVICE)
    "dedup_embedding",
    "dedup_embedding_ivf",
    "dedup_embedding_ivf_trained",
)

# Rows-only (no-oracle-by-design) queries are pushed BEHIND every
# oracle-backed registry entry so all ~50 driver slots carry a value
# hash (VERDICT r4 #2). They still get driver rows-only checks when the
# window reaches them, and the local sweep counts their rows each run.
DRIVER_DEPRIORITIZE: tuple[str, ...] = (
    "approx_distinct_parts",
    "ml_ipinsights_score",
    "sql_price_quantiles_approx",
)


def _last_green_rounds() -> dict[str, int]:
    """Last driver-green round per query, from the committed
    CORRECTNESS_r0*.json files at the repo root (VERDICT r8 #2).

    A query is "green in round N" when that round's record shows
    rows_match AND hash_match. The returned map drives the rotation
    tail of build_queries(): with 360+ registered queries and a ~50-row
    driver window, a stable query would otherwise never be
    re-driver-checked after its debut round — a silent-regression
    surface. Missing/unparsable files degrade to {} (registry-name
    order), so a bare checkout still builds."""
    import json
    import re
    from pathlib import Path

    out: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r0*(\d+)", f.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            recs = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(recs, dict):
            continue
        for name, rec in recs.items():
            if (
                isinstance(rec, dict)
                and rec.get("rows_match")
                and rec.get("hash_match")
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


QUERIES: dict[str, QueryFn] = {
    "cep_fragmentation": cep_fragmentation,
    "cep_fragmentation_skew": cep_fragmentation_skew,
    "cep_fragmentation_stream": cep_fragmentation_stream,
    "ml_ipinsights_score": ml_ipinsights_score,
    "ml_ipinsights_score_fixed": ml_ipinsights_score_fixed,
    "stream_session_rollup": stream_session_rollup,
    "stream_tumbling_rollup": stream_tumbling_rollup,
    "stream_hopping_rollup": stream_hopping_rollup,
    "stream_windowed_share": stream_windowed_share,
    "stream_session_dynamic": stream_session_dynamic,
    "stream_interval_join": stream_interval_join,
    "stream_interval_join_left": stream_interval_join_left,
    "stream_interval_join_full": stream_interval_join_full,
    "stream_interval_join_semi": stream_interval_join_semi,
    "stream_interval_join_anti": stream_interval_join_anti,
    "stream_cdc_snapshot": stream_cdc_snapshot,
    "stream_value_histogram": stream_value_histogram,
    "stream_topk_cells": stream_topk_cells,
    "batch_interval_join_bucketed": batch_interval_join_bucketed,
    "stream_distinct_pairs": stream_distinct_pairs,
    "stream_static_enrich": stream_static_enrich,
    "stream_quality_gate": stream_quality_gate,
    "stream_ewma_alert": stream_ewma_alert,
    "asof_click_purchase": asof_click_purchase,
    "approx_distinct_parts": approx_distinct_parts,
    "pivot_event_type_counts": pivot_event_type_counts,
    "unpivot_event_type_counts": unpivot_event_type_counts,
    "events_daily_rollup_salted": events_daily_rollup_salted,
    "ocsf_nested_endpoints": ocsf_nested_endpoints,
}

ORACLES: dict[str, str] = {
    "cep_fragmentation": cep_fragmentation_oracle(),
    "cep_fragmentation_skew": cep_fragmentation_oracle(),
    "cep_fragmentation_stream": cep_fragmentation_oracle(),
    "ml_ipinsights_score_fixed": _ml_ipinsights_score_fixed_sql(),
    "stream_session_rollup": STREAM_SESSION_ORACLE,
    "stream_tumbling_rollup": STREAM_TUMBLING_ORACLE,
    "stream_hopping_rollup": STREAM_HOPPING_ORACLE,
    "stream_windowed_share": STREAM_WINDOWED_SHARE_ORACLE,
    "stream_session_dynamic": STREAM_SESSION_DYNAMIC_ORACLE,
    "stream_interval_join": STREAM_INTERVAL_JOIN_ORACLE,
    "stream_interval_join_left": STREAM_INTERVAL_JOIN_LEFT_ORACLE,
    "stream_interval_join_full": STREAM_INTERVAL_JOIN_FULL_ORACLE,
    "stream_interval_join_semi": STREAM_INTERVAL_JOIN_SEMI_ORACLE,
    "stream_interval_join_anti": STREAM_INTERVAL_JOIN_ANTI_ORACLE,
    # complete-mode streaming snapshot == batch compaction: same oracle
    "stream_cdc_snapshot": relational.ORACLES["events_cdc_snapshot"],
    "stream_value_histogram": relational.ORACLES["events_value_histogram"],
    "stream_topk_cells": STREAM_TOPK_ORACLE,
    # bucketized batch twin: identical semantics, same oracle
    "batch_interval_join_bucketed": STREAM_INTERVAL_JOIN_ORACLE,
    "stream_distinct_pairs": STREAM_DISTINCT_ORACLE,
    "stream_static_enrich": STREAM_STATIC_ENRICH_ORACLE,
    "stream_quality_gate": _stream_quality_gate_sql(),
    "stream_ewma_alert": STREAM_EWMA_ALERT_SQL,
    "asof_click_purchase": ASOF_ORACLE,
    "pivot_event_type_counts": PIVOT_ORACLE,
    "unpivot_event_type_counts": UNPIVOT_ORACLE,
    "ocsf_nested_endpoints": OCSF_NESTED_ORACLE,
    # salted variant must equal the plain rollup: same oracle
    "events_daily_rollup_salted": relational.EVENTS_DAILY_SQL,
    # approx_distinct_parts: intentionally no oracle (sketches differ
    # across engines) -> rows-only check
}

# Plan modules whose QUERIES/ORACLES make up the registry, this one first.
_REGISTRY_MODULES = (
    "harness", "relational", "pipeline_ops", "relational_sql", "stattests",
    "insights", "tpch_tail", "curation", "event_stats", "order_analytics",
    "corpus_stats", "dq_checks",
)


def _registry_modules() -> list:
    # late import: keeps module load cheap
    from importlib import import_module

    return [import_module(f".{m}", __package__) for m in _REGISTRY_MODULES]


def _merged(attr: str) -> dict:
    """The registry modules' ``attr`` dicts (QUERIES or ORACLES) merged
    into one; a name that two modules define raises."""
    out: dict = {}
    owner: dict[str, str] = {}
    for module in _registry_modules():
        for name, entry in getattr(module, attr).items():
            if name in owner:
                raise ValueError(
                    f"{attr}: {name!r} is defined by both {owner[name]} "
                    f"and {module.__name__}"
                )
            owner[name] = module.__name__
            out[name] = entry
    return out


def build_queries() -> dict[str, QueryFn]:
    registry: dict[str, QueryFn] = _merged("QUERIES")

    out: dict[str, QueryFn] = {}
    for name in DRIVER_PRIORITY:
        if name in registry and name not in DRIVER_DEPRIORITIZE:
            out[name] = registry[name]
    # Rotation tail (VERDICT r8 #2): any window slots the explicit
    # priority block doesn't fill go to the queries whose last
    # driver-green round is OLDEST (never-green first, key -1), ties
    # broken by name — deterministic, derived from the committed
    # correctness files, no manual ordering to maintain.
    last_green = _last_green_rounds()
    for name in sorted(
        (
            n
            for n in registry
            if n not in out and n not in DRIVER_DEPRIORITIZE
        ),
        key=lambda n: (last_green.get(n, -1), n),
    ):
        out[name] = registry[name]
    for name in DRIVER_DEPRIORITIZE:  # rows-only tail, behind every oracle
        if name in registry:
            out[name] = registry[name]
    return out


def build_oracles() -> dict[str, str]:
    return _merged("ORACLES")

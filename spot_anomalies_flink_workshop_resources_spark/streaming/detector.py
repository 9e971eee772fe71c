"""Streaming CEP-equivalent fragmentation detector.

The Spark-native replacement for the reference's Flink CEP operator
(AnomalyDetection.java:126-167): per key, a run of [min_run, max_run]
low-metric events followed by one high-metric event within the window,
matches non-overlapping (skipPastLastEvent — AD.java:126).

Layout: the key space is split into ``N_BUCKETS`` fixed hash buckets,
``pmod(xxhash64(key), N_BUCKETS)``, and ``applyInPandasWithState`` runs
once per bucket and micro-batch instead of once per key. A bucket's
state holds the open runs of its keys as parallel arrays: the key plus
six running aggregates per key (count, matched-count, first/last
timestamps, size sum, first attacker) — no event buffering, so state
size is independent of run length and scales with the keys that have
an open run. The bucket count is a module constant, never read from
conf: it defines the state key space. A checkpoint written with the
earlier per-key state layout (one state row per key) cannot be resumed;
start such a query from a fresh checkpoint.

Per call the kernel sorts the bucket's rows once with NumPy by (key,
event time, order col) and keeps only the rows that can change a
result: anomalous rows, each key's first trigger, and each trigger that
directly follows an anomalous row (a trigger after a trigger meets an
empty run). It then folds each key exactly as
:func:`_process_batch_scalar` does, with the same sequential size sum.

Equivalence contract: identical output to
``operators.detection.detect_attack_runs`` on the same input (the batch
run-length oracle) — pinned by tests/test_streaming.py. Two deliberate
properties follow from that contract:

- A run ends ONLY at a trigger (high-metric) event, exactly like the
  batch maximal-run rule. There is NO state timeout: a GC timeout would
  re-anchor long runs and let later triggers match where the batch
  semantics say no match (state is O(1)/key, so retention cost is
  bounded by key cardinality).
- Within a micro-batch, events are sorted by (event_time, order col).
  Cross-batch disorder is late data: rows whose event time is below the
  query's watermark are dropped before the fold (rows equal to it are
  kept) — the behavior the reference gets from forMonotonousTimestamps
  (AD.java:121-124, zero-lateness watermark).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.timeutil import watermarkable

OUTPUT_SCHEMA = StructType(
    [
        StructField("target_key", StringType()),
        StructField("attack_start_time", DoubleType()),
        StructField("attack_end_time", DoubleType()),
        StructField("attacker_id", StringType()),
        StructField("fragment_count", LongType()),
        StructField("avg_packets", DoubleType()),
        StructField("avg_fragment_size", DoubleType()),
        StructField("size_reduction_percent", DoubleType()),
    ]
)
_OUTPUT_COLS = [f.name for f in OUTPUT_SCHEMA.fields]

# one key's open run: run_count, matched_count, first_ts,
# last_matched_end, sum_size, first_attacker
STATE_SCHEMA = StructType(
    [
        StructField("run_count", LongType()),
        StructField("matched_count", LongType()),
        StructField("first_ts", DoubleType()),
        StructField("last_matched_end", DoubleType()),
        StructField("sum_size", DoubleType()),
        StructField("first_attacker", StringType()),
    ]
)

EMPTY_STATE = (0, 0, 0.0, 0.0, 0.0, "")

# Fixed hash buckets of the state key space (see the module docstring).
N_BUCKETS = 16

# a bucket's state: its keys with an open run, then the six per-key
# fields above as parallel arrays
BUCKET_STATE_SCHEMA = StructType(
    [StructField("keys", ArrayType(StringType()))]
    + [StructField(f.name, ArrayType(f.dataType)) for f in STATE_SCHEMA.fields]
)

# processing-time mode appends, per key, the wall-clock instant the open
# run's first event was processed
BUCKET_STATE_SCHEMA_PROC = StructType(
    BUCKET_STATE_SCHEMA.fields
    + [StructField("first_proc", ArrayType(DoubleType()))]
)


def make_detector_fn(
    *,
    low_threshold: float,
    high_threshold: float,
    min_run: int,
    max_run: int,
    window_seconds: float,
    time_mode: str = "event",
    clock=None,
):
    """Build the per-bucket applyInPandasWithState function for the
    given pattern parameters (reference: 10/10/10-30/60 s —
    AD.java:126-132).

    ``time_mode``: ``"event"`` (default — deterministic, replayable)
    measures ``within()`` in event time; ``"processing"`` mirrors the
    reference exactly (AD.java:137 ``withinType.PROCESSING_TIME``): a
    partial match older than ``window_seconds`` of WALL CLOCK is pruned
    before the batch is applied — Flink's NFA within-pruning at
    micro-batch granularity (events inside one micro-batch share one
    processing instant, the only granularity micro-batching offers).
    ``clock`` injects a time source for deterministic tests
    (default ``time.time``).
    """
    if time_mode not in ("event", "processing"):
        raise ValueError(f"time_mode must be event|processing, got {time_mode!r}")
    proc_mode = time_mode == "processing"
    # in processing mode the event-time within() check is disabled; the
    # wall-clock pruning below enforces the window instead
    eff_window = float("inf") if proc_mode else window_seconds
    if clock is None:
        import time as _time

        clock = _time.time

    def detect(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        carry: dict[str, tuple] = {}
        first_proc: dict[str, float] = {}
        if state.exists:
            keys, *fields = state.get
            if proc_mode:
                *fields, procs = fields
                first_proc = dict(zip(keys, procs))
            carry = dict(zip(keys, zip(*fields)))
        now = float(clock()) if proc_mode else 0.0
        if proc_mode:
            # carried partial matches that exceeded the processing-time
            # window are pruned (skipPastLastEvent on expiry)
            carry = {
                k: v for k, v in carry.items()
                if now - first_proc[k] <= window_seconds
            }

        pdfs = list(pdfs)
        batch = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        out, carry, continued = _fold_bucket(
            batch,
            carry,
            low_threshold,
            high_threshold,
            min_run,
            max_run,
            eff_window,
            watermark_us=state.getCurrentWatermarkMs() * 1000,
        )

        if carry:
            keys = list(carry)
            value = [keys, *map(list, zip(*carry.values()))]
            if proc_mode:
                # a continued carried run keeps its first-seen instant;
                # a run opened in this batch starts its window now
                value.append(
                    [first_proc[k] if k in continued else now for k in keys]
                )
            state.update(tuple(value))
        elif state.exists:
            state.remove()

        yield pd.DataFrame(out, columns=_OUTPUT_COLS)

    return detect


def _process_batch_scalar(
    batch: pd.DataFrame,
    state_tuple: tuple,
    key_str: str,
    low_threshold: float,
    high_threshold: float,
    min_run: int,
    max_run: int,
    window_seconds: float,
) -> tuple[list[tuple], tuple]:
    """Reference implementation: event-at-a-time state machine over ONE
    key's rows, already in (event time, order col) order. Kept as the
    ground truth the bucketed kernel is property-tested against."""
    run_count, matched, first_ts, last_end, sum_size, attacker = state_tuple
    out: list[tuple] = []
    for ts, end_ts, metric, size, attk in zip(
        batch["_ts"], batch["_end_ts"], batch["_metric"], batch["_size"],
        batch["_attacker"],
    ):
        if pd.isna(metric) or pd.isna(ts):
            continue
        ts_s = ts.timestamp()
        if metric < low_threshold:  # anomalous fragment (AD.java:127)
            if run_count == 0:
                first_ts = ts_s
                attacker = str(attk)
            run_count += 1
            if run_count <= max_run:  # greedy cap: times(10,30)
                matched += 1
                last_end = end_ts.timestamp() if not pd.isna(end_ts) else ts_s
                sum_size += float(size)
        elif metric > high_threshold:  # back-to-normal trigger (AD.java:130)
            if run_count >= min_run and ts_s - first_ts <= window_seconds:
                avg_size = sum_size / matched
                avg_packets = float(metric)
                out.append(
                    (
                        key_str,
                        first_ts,
                        last_end,
                        attacker,
                        matched,
                        avg_packets,
                        avg_size,
                        (avg_packets - avg_size) / avg_packets * 100.0,
                    )
                )
            # skipPastLastEvent: reset regardless of emit (AD.java:126)
            run_count, matched, first_ts, last_end, sum_size, attacker = EMPTY_STATE
        # metric == thresholds: neutral, ignored (AD.java:127,130)
    return out, (run_count, matched, first_ts, last_end, sum_size, attacker)


def _sort_codes(col: pd.Series) -> np.ndarray:
    """``col`` as an array np.lexsort orders like pandas' sort_values
    (nulls last)."""
    if col.dtype.kind in "biufM":
        return col.to_numpy()
    codes, uniques = pd.factorize(col, sort=True)
    return np.where(codes < 0, len(uniques), codes)


def _fold_bucket(
    batch: pd.DataFrame,
    carry: dict[str, tuple],
    low_threshold: float,
    high_threshold: float,
    min_run: int,
    max_run: int,
    window_seconds: float,
    watermark_us: int = 0,
) -> tuple[list[tuple], dict[str, tuple], set[str]]:
    """Fold one bucket's micro-batch onto the open runs of its keys.

    ``carry`` maps each key with an open run to its six-field state.
    Rows with a null metric or event time, and rows below a positive
    watermark (``_ts`` < ``watermark_us``), are dropped. Returns the
    alerts, the open runs after the batch (keys without rows keep their
    carried run), and the keys whose carried run is still open.
    """
    metric = batch["_metric"].to_numpy(dtype=float)
    ts_col = batch["_ts"]
    ts_us = ts_col.to_numpy("datetime64[us]").astype("int64")
    is_a = metric < low_threshold
    is_n = metric > high_threshold
    # neutral and null-metric rows never touch a run
    keep = (is_a | is_n) & ~ts_col.isna().to_numpy()
    if watermark_us > 0:
        keep &= ts_us >= watermark_us
    idx = np.flatnonzero(keep)
    if not len(idx):
        return [], carry, set(carry)

    codes, uniques = pd.factorize(
        batch["_key"].to_numpy(dtype=object)[idx], use_na_sentinel=False
    )
    order = np.lexsort(
        (_sort_codes(batch["_oid"])[idx], ts_us[idx], codes)
    )
    rows, codes = idx[order], codes[order]
    trig = is_n[rows]
    new_key = np.empty(len(rows), dtype=bool)
    new_key[0] = True
    new_key[1:] = codes[1:] != codes[:-1]
    # a trigger right after a trigger of the same key meets an empty run
    sel = ~(trig & ~new_key & np.roll(trig, 1))
    rows, codes, trig, new_key = rows[sel], codes[sel], trig[sel], new_key[sel]

    # segments: a run of anomalous rows, closed by a trigger or not
    seg_start = new_key.copy()
    seg_start[1:] |= trig[:-1]
    starts = np.flatnonzero(seg_start)
    ends = np.append(starts[1:], len(rows))

    ts_s = (ts_us[rows] / 1e6).tolist()
    end_col = batch["_end_ts"]
    end_s = np.where(
        end_col.isna().to_numpy()[rows],
        ts_us[rows] / 1e6,
        end_col.to_numpy("datetime64[us]").astype("int64")[rows] / 1e6,
    ).tolist()
    size = np.nan_to_num(
        batch["_size"].to_numpy(dtype=float)[rows], nan=0.0
    ).tolist()
    attackers = batch["_attacker"].to_numpy(dtype=object)[rows]
    metric_l = metric[rows].tolist()
    trig_l = trig.tolist()
    # a null key folds as its own key and its alerts carry a null key,
    # as the batch twin's do
    keys = [k if isinstance(k, str) else None for k in uniques.tolist()]

    out: list[tuple] = []
    carry = dict(carry)
    continued = set(carry)
    for s, e, c, first in zip(
        starts.tolist(), ends.tolist(), codes[starts].tolist(),
        new_key[starts].tolist(),
    ):
        key = keys[c]
        closed = trig_l[e - 1]
        run_count, matched, first_ts, last_end, sum_size, attacker = (
            carry.pop(key, EMPTY_STATE) if first else EMPTY_STATE
        )
        n_a = e - s - closed
        if n_a:
            if run_count == 0:
                first_ts, attacker = ts_s[s], str(attackers[s])
            run_count += n_a
            take = min(n_a, max_run - matched)  # greedy cap: times(10,30)
            if take > 0:
                matched += take
                last_end = end_s[s + take - 1]
                for v in size[s : s + take]:
                    sum_size += v
        if not closed:
            carry[key] = (run_count, matched, first_ts, last_end, sum_size, attacker)
            continue
        continued.discard(key)
        if run_count >= min_run and ts_s[e - 1] - first_ts <= window_seconds:
            avg_size = sum_size / matched
            avg_packets = metric_l[e - 1]
            out.append(
                (
                    key,
                    first_ts,
                    last_end,
                    attacker,
                    matched,
                    avg_packets,
                    avg_size,
                    (avg_packets - avg_size) / avg_packets * 100.0,
                )
            )
    return out, carry, continued


def detect_attack_runs_stream(
    events: DataFrame,
    *,
    key_col: str,
    time_col: str,
    order_col: str,
    metric_col: str,
    low_threshold: float,
    high_threshold: float,
    min_run: int,
    max_run: int,
    window_seconds: float,
    size_expr=None,
    end_time_col: str | None = None,
    attacker_col: str | None = None,
    watermark: str = "0 seconds",
    time_mode: str = "event",
    clock=None,
) -> DataFrame:
    """Streaming twin of ``operators.detection.detect_attack_runs``.

    ``watermark`` mirrors the reference's zero-lateness monotonous
    watermark (AD.java:121-124); raise it to tolerate disorder.
    ``time_mode="processing"`` selects the reference's processing-time
    ``within()`` (AD.java:137) — see :func:`make_detector_fn`; the
    event-time default is the documented deterministic deviation
    (SURVEY §7.4.2).
    """
    from pyspark.sql import functions as F

    size = size_expr if size_expr is not None else F.col(metric_col)
    end_time = F.col(end_time_col) if end_time_col else F.col(time_col)
    attacker = F.col(attacker_col) if attacker_col else F.col(order_col)
    metric = F.col(metric_col).cast("double")
    # only anomalous rows read size, end time and attacker: null them
    # elsewhere so the Arrow batches sent to Python stay small
    anomalous = metric < F.lit(low_threshold)

    # watermark AFTER the projection so only _ts carries event-time
    # metadata (aliasing a watermarked column twice would create two
    # event-time columns and fail the stateful operator). Event-time
    # columns cast through TIMESTAMP: watermarks reject TIMESTAMP_NTZ
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and the cast is an identity
    # for already-tz-aware input under the engine's UTC session tz.
    key = F.col(key_col).cast("string")
    prepared = events.select(
        F.pmod(F.xxhash64(key), F.lit(N_BUCKETS)).alias("_bucket"),
        key.alias("_key"),
        watermarkable(F.col(time_col)).alias("_ts"),
        F.col(order_col).alias("_oid"),
        metric.alias("_metric"),
        F.when(anomalous, size.cast("double")).alias("_size"),
        F.when(anomalous, watermarkable(end_time)).alias("_end_ts"),
        F.when(anomalous, attacker.cast("string")).alias("_attacker"),
    ).withWatermark("_ts", watermark)
    fn = make_detector_fn(
        low_threshold=low_threshold,
        high_threshold=high_threshold,
        min_run=min_run,
        max_run=max_run,
        window_seconds=window_seconds,
        time_mode=time_mode,
        clock=clock,
    )
    state_schema = (
        BUCKET_STATE_SCHEMA_PROC if time_mode == "processing"
        else BUCKET_STATE_SCHEMA
    )
    return prepared.groupBy("_bucket").applyInPandasWithState(
        fn, OUTPUT_SCHEMA, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def detect_fragmentation_flowlogs_stream(
    events: DataFrame,
    watermark: str = "0 seconds",
    time_mode: str = "event",
    clock=None,
) -> DataFrame:
    """Reference-exact streaming specialization (Event schema, ip_dst key,
    packets thresholds, bytes/packets fragment size — AD.java:126-167).
    ``time_mode="processing"`` reproduces the reference's wall-clock
    within() (AD.java:137)."""
    from pyspark.sql import functions as F

    out = detect_attack_runs_stream(
        events,
        key_col="ip_dst",
        time_col="event_time",
        order_col="timestamp_start",
        metric_col="packets",
        low_threshold=10,
        high_threshold=10,
        min_run=10,
        max_run=30,
        window_seconds=60.0,
        size_expr=F.col("bytes").cast("double") / F.col("packets"),
        end_time_col="event_time_end",
        attacker_col="ip_src",
        watermark=watermark,
        time_mode=time_mode,
        clock=clock,
    )
    return out.withColumnRenamed("target_key", "target_ip")

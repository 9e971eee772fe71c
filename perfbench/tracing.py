"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here observes the program from outside, through the calls the
benchmark makes and Spark's public counters:

- ``Spans``: one span per call the benchmark makes into a layer, kept in
  memory and written out once at the end of the run.
- ``job_group``: tags the Spark jobs a call fires (``setJobGroup``) so
  ``statusTracker`` can count them per request.
- ``ProgressLog``: ``StreamingQueryProgress`` records, from a query's
  ``recentProgress`` or from a listener for queries the program starts
  and stops itself.
- ``event_log_summary``: folds Spark's JSON event log into job, stage
  and task figures for one wall-clock window.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Spans:
    """In-memory span recorder: name, start, end, parent, request id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request=None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "request": request,
            "start": time.time(),
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.records}, fh)


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag the jobs fired inside the block with ``group`` (no-op if None)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks of one job group, from ``statusTracker``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        sid for j in jobs if (info := tracker.getJobInfo(j)) for sid in info.stageIds
    ]
    tasks = sum(si.numTasks for sid in stages if (si := tracker.getStageInfo(sid)))
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs currently marked persistent in the session."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}


class ProgressLog:
    """StreamingQueryProgress records as dicts, tagged with a query label.

    Queries the benchmark owns are read with ``add_query`` (their
    ``recentProgress``); queries the program starts and stops on its own
    thread are caught by ``listen``, a ``StreamingQueryListener``.
    """

    def __init__(self):
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._listener = None

    def add_query(self, query, label: str, first_batch: int = 0) -> None:
        for p in query.recentProgress:
            rec = json.loads(p.json)
            if rec["batchId"] >= first_batch:
                rec["_label"] = label
                self.records.append(rec)

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                rec = json.loads(event.progress.json)
                rec["_label"] = "listener"
                with log._lock:
                    log.records.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def stop(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def summary(self) -> dict:
        """Medians of the micro-batch phases over batches that read rows;
        state figures of the latest such batch."""
        with self._lock:
            every = sorted(self.records, key=lambda r: (r["runId"], r["batchId"]))
        recs = [r for r in every if r.get("numInputRows", 0) > 0]

        def med(values):
            return statistics.median(values) if values else 0.0

        def phase(r, *keys):
            return sum(r.get("durationMs", {}).get(k, 0) for k in keys)

        def state(r, key):
            return sum(op.get(key, 0) for op in r.get("stateOperators", []))

        last = max(recs, key=lambda r: _epoch_ms(r["timestamp"])) if recs else {}
        # pickup gap: from one trigger's end to the next trigger's start
        # of the same query (JVM timestamps)
        gaps, prev = [], {}
        for r in every:
            start = _epoch_ms(r["timestamp"])
            p = prev.get(r["runId"])
            if p is not None and r["batchId"] == p[0] + 1:
                gaps.append(start - p[1])
            prev[r["runId"]] = (r["batchId"], start + phase(r, "triggerExecution"))
        return {
            "streaming.trigger_ms": med([phase(r, "triggerExecution") for r in recs]),
            "streaming.add_batch_ms": med([phase(r, "addBatch") for r in recs]),
            "streaming.query_planning_ms": med(
                [phase(r, "queryPlanning") for r in recs]
            ),
            "streaming.source_ms": med(
                [phase(r, "latestOffset", "getBatch") for r in recs]
            ),
            "streaming.wal_commit_ms": med([phase(r, "walCommit") for r in recs]),
            "streaming.commit_offsets_ms": med(
                [phase(r, "commitOffsets") for r in recs]
            ),
            "streaming.state_commit_ms": med(
                [state(r, "commitTimeMs") for r in recs]
            ),
            "streaming.rows_per_batch": med([r["numInputRows"] for r in recs]),
            "streaming.pickup_gap_ms": med(gaps),
            "streaming.state_rows": state(last, "numRowsTotal"),
            "streaming.state_bytes": state(last, "memoryUsedBytes"),
        }



def _epoch_ms(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_summary(log_dir: str, t0: float, t1: float, groups: set[str]) -> dict:
    """Job, stage and task figures for jobs submitted in [t0, t1].

    Times are epoch seconds.  ``groups`` are the job groups the benchmark
    set; jobs outside them (for example the ones a stream replay fires on
    its own thread) are counted as unattributed rather than guessed.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks = {"n": 0, "run_ms": 0, "gc_ms": 0, "shuffle_w": 0, "spill": 0}
    lo, hi = t0 * 1000, t1 * 1000
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or glob.glob(os.path.join(log_dir, "*"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not lo <= ev["Submission Time"] <= hi:
                        continue
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "end": None,
                        "grouped": props.get("spark.jobGroup.id") in groups,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if stage_job.get(info["Stage ID"]) not in jobs:
                        continue
                    if "Submission Time" in info and "Completion Time" in info:
                        stages[(info["Stage ID"], info["Stage Attempt ID"])] = (
                            info["Submission Time"],
                            info["Completion Time"],
                        )
                elif kind == "SparkListenerTaskEnd":
                    if stage_job.get(ev["Stage ID"]) not in jobs:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks["n"] += 1
                    tasks["run_ms"] += m.get("Executor Run Time", 0)
                    tasks["gc_ms"] += m.get("JVM GC Time", 0)
                    tasks["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    tasks["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    job_iv = [(j["start"], j["end"]) for j in jobs.values() if j["end"]]
    exec_s = _union(job_iv) / 1000
    stage_s = _union(list(stages.values())) / 1000
    return {
        "operators.exec_s": exec_s,
        "operators.jobs": len(jobs),
        "operators.stages": len(stages),
        "operators.tasks": tasks["n"],
        "operators.idle_s": max(0.0, exec_s - stage_s),
        "operators.task_run_s": tasks["run_ms"] / 1000,
        "operators.gc_s": tasks["gc_ms"] / 1000,
        "operators.shuffle_write_bytes": tasks["shuffle_w"],
        "operators.spill_bytes": tasks["spill"],
        "operators.unattributed_jobs": sum(
            1 for j in jobs.values() if not j["grouped"]
        ),
    }

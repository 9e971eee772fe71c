"""Benchmark of the spot-anomalies engine, end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload flowlog_replay --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``flowlog_replay``: a seeded flow-log backlog drained through the
  streaming pipeline in full-size micro-batches.
- ``analyst_mix``: one analyst session building and running a sample of
  registry queries, one after another.

``--seconds`` sets the amount of work, not a deadline: the same value
always gives the same work (at 10, six 100,000-event micro-batches, or
two timed passes over 14 queries, which take about 10 s or 25 s on a
4-core host).  With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run, and the spans go to ``.perfbench_out/`` in the checkout.
After its traced session, a traced run repeats the timed work untraced
on a fresh session in the same process, as the baseline of its tracing
overhead.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spot_anomalies_flink_workshop_resources_spark"
WORKLOADS = ("flowlog_replay", "analyst_mix")
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s"}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, in clock ticks
    (``steal`` on the ``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class Run:
    """State of one benchmark run, shared by the workload modules."""

    def __init__(self, args):
        import tracing

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.spans = tracing.Spans(self.trace)
        self.progress = tracing.ProgressLog()
        self.spark = None
        self.gen_s = 0.0
        self.session_build_s = 0.0
        self.warmup_s = 0.0
        self.plans_build_s = 0.0
        self.timed = (0.0, 0.0)
        self.groups: set[str] = set()
        self.layer: dict[str, float] = {}
        self.alert_checks: list[bool] = []
        self.notes: dict[str, list] = {}
        self.gaps: dict[str, str] = {}
        # set by the workload: repeats the timed work untraced on a fresh
        # session and returns its ops_per_s
        self.rerun_untraced = None

    def note(self, key: str, value) -> None:
        """Diagnostics for stderr, not metrics."""
        self.notes.setdefault(key, []).append(value)

    def not_applicable(self, metric: str, reason: str) -> None:
        """A per-layer metric this workload cannot measure: reported as 0,
        with the reason kept in the trace file."""
        self.layer[metric] = 0.0
        self.gaps[metric] = reason

    def start_session(self) -> None:
        from spot_anomalies_flink_workshop_resources_spark.session import build_session

        extra = None
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        with self.spans.span("session.build"):
            t = time.time()
            self.spark = build_session(app_name="perfbench", extra_conf=extra)
            self.session_build_s = time.time() - t
        if self.trace:
            # keep every batch of the run in recentProgress
            self.spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", "100000"
            )

    def fresh_session(self, **kw) -> None:
        """A new session in the same JVM, without the event log (a
        rebuilt session keeps the conf of the one before it)."""
        from spot_anomalies_flink_workshop_resources_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench-untraced",
            extra_conf={"spark.eventLog.enabled": "false"}, **kw,
        )

    def begin_timed(self) -> None:
        self.timed = (time.time(), 0.0)
        self.steal_ticks = _steal_ticks()

    def end_timed(self) -> None:
        self.timed = (self.timed[0], time.time())
        # host noise, for reading run-to-run spread: not a metric
        self.note("steal_s", (_steal_ticks() - self.steal_ticks) / os.sysconf("SC_CLK_TCK"))

    @property
    def timed_s(self) -> float:
        return self.timed[1] - self.timed[0]

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")


def _prepare_env(root: str) -> None:
    """Environment the program and its Python workers need, set before the
    JVM starts.  No Spark conf is set here: the session's defaults are
    part of what is measured."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for var, sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp")):
        path = os.path.join(root, ".perfbench_work", sub)
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    sys.path[:0] = [root]


OUT = os.path.join(ROOT, ".perfbench_out")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: no {PACKAGE} package at {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    _prepare_env(ROOT)
    run = Run(args)
    os.makedirs(run.work, exist_ok=True)
    try:
        result = _run_workload(run)
        metrics = _metrics(run, result)
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    correct = result["failed"] == 0 and all(run.alert_checks)
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


def _stop_jvm() -> None:
    """End the JVM py4j started and wait for it: it exits when its stdin
    closes, and takes the Python workers it started with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None


def _run_workload(run: Run) -> dict:
    if run.workload == "analyst_mix":
        import analyst

        result = analyst.run(run)
    else:
        import flowlog

        result = flowlog.replay(run)
    # set-up runs from process start to the first timed operation,
    # input generation excluded
    result["setup_s"] = run.timed[0] - T_START - run.gen_s
    result["peak_rss_mb"] = run.peak_rss_mb()
    print(
        f"perfbench: {run.workload} seed={run.seed} ops={result['ops']} "
        f"timed={run.timed_s:.2f}s generation={run.gen_s:.2f}s "
        f"latency_p50_ms={result['latency_p50_ms']:.1f} "
        f"peak_rss_mb={result['peak_rss_mb']:.0f} "
        f"warmup={run.warmup_s:.2f}s session={run.session_build_s:.2f}s "
        f"{json.dumps(run.notes)}",
        file=sys.stderr,
    )
    return result


def _metrics(run: Run, result: dict) -> dict:
    if not run.trace:
        return {k: {"value": result[k], "unit": u} for k, u in E2E_UNITS.items()}
    import tracing

    run.spark.stop()  # flushes the event log
    untraced = run.rerun_untraced()
    run.spark.stop()
    layer = {
        "session.build_s": run.session_build_s,
        "session.warmup_s": run.warmup_s,
        "session.peak_rss_mb": result["peak_rss_mb"],
        "plans.build_s": run.plans_build_s,
        "plans.build_jobs": 0,
        "plans.cache_rdds_built": 0,
        "plans.cache_rdds_kept": 0,
    }
    layer.update(tracing.event_log_summary(
        os.path.join(run.work, "eventlog"), *run.timed, run.groups
    ))
    layer.update(run.progress.summary())
    layer.update(run.layer)
    checks = run.alert_checks
    layer["streaming.alert_match_frac"] = sum(checks) / len(checks) if checks else 1.0
    layer["trace.overhead_frac"] = 1 - result["ops_per_s"] / untraced
    if run.workload == "flowlog_replay":
        import flowlog

        run.notes["local1_events_per_s"] = flowlog.local1_baseline(run)
    out_path = os.path.join(OUT, f"{run.workload}-seed{run.seed}-trace.json")
    run.spans.write(out_path, {
        "end_to_end_traced": result, "untraced_ops_per_s": untraced,
        "layer": layer, "not_measured": run.gaps, "notes": run.notes,
    })
    units = LAYER_UNITS
    return {k: {"value": layer[k], "unit": units[k]} for k in units}


LAYER_UNITS = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.cache_rdds_built": "count",
    "plans.cache_rdds_kept": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.idle_s": "s",
    "operators.task_run_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.unattributed_jobs": "count",
    "serde.parse_rows_per_s": "1/s",
    "streaming.detector_rows_per_s": "1/s",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.source_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.pickup_gap_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.rows_per_batch": "count",
    "streaming.alert_match_frac": "fraction",
    "trace.overhead_frac": "fraction",
}


if __name__ == "__main__":
    sys.exit(main())

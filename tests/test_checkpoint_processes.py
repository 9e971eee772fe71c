"""Streaming checkpoints fork no shell per rename: a stream replay's
checkpoint writes launch no `readlink` and at most one process per file.

Without Hadoop's native library, every process the local file system
starts is a fork of the driver JVM. JFR records each as a
``jdk.ProcessStart`` event, so a recording around one replay counts them.
"""

from __future__ import annotations

import collections

from spot_anomalies_flink_workshop_resources_spark.plans import harness

# Launches around one stream_interval_join_left replay at sf0.001 on this
# suite's session with Spark's default checkpoint settings: 352 readlink
# (FileContext renames) and 111 chmod (file creates).
_DEFAULT_SETTINGS_LAUNCHES = 463


def _process_launches(spark, run, jfr_path: str) -> collections.Counter:
    """Executables the JVM launched while ``run()`` ran, by base name."""
    jvm = spark._jvm
    path = jvm.java.io.File(jfr_path).toPath()
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        run()
        rec.stop()
        rec.dump(path)
    finally:
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    return collections.Counter(
        events.get(i).getString("command").split()[0].rsplit("/", 1)[-1]
        for i in range(events.size())
    )


def test_stream_replay_checkpoint_forks_no_readlink(spark, sf_dir, tmp_path):
    query = harness.build_queries()["stream_interval_join_left"]
    query(spark, sf_dir).count()  # warm-up: first-run launches excluded

    launches = _process_launches(
        spark, lambda: query(spark, sf_dir).count(), str(tmp_path / "r.jfr")
    )
    assert launches["readlink"] == 0, launches
    assert sum(launches.values()) <= _DEFAULT_SETTINGS_LAUNCHES // 2, launches

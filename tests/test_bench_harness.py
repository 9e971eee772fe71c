"""The benchmark harness's timing rule and its clean-up: every query runs
exactly ``bench.PASSES`` times, the stream-throughput replay deletes its
dataset, and bounded stream replays drop their memory-sink views."""

from __future__ import annotations

import tempfile
from collections import Counter
from pathlib import Path

import bench
from spot_anomalies_flink_workshop_resources_spark.plans import harness

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def test_timed_passes_runs_each_query_passes_times(spark):
    calls: Counter = Counter()

    def query(name):
        def fn(spark, sf_dir):
            calls[name] += 1
            return spark.range(3)

        return fn

    best, first = bench.timed_passes(
        spark, {"a": query("a"), "b": query("b")}, "unused"
    )
    assert calls == {"a": bench.PASSES, "b": bench.PASSES}
    assert set(best) == set(first) == {"a", "b"}
    assert all(best[n] <= first[n] for n in best)


def test_stream_measure_deletes_its_dataset(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(TOOLS))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    from bench_streaming import measure

    stats = measure(spark, 3_000, 2)
    assert stats["events"] > 3_000 and stats["alerts"] == 2
    assert not list(tmp_path.glob("bench_stream_*"))


def test_stream_replay_drops_its_memory_view(spark, sf_dir):
    out = harness.build_queries()["cep_fragmentation_stream"](spark, sf_dir)
    left = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_q_")
    ]
    assert left == []
    rows = out.collect()
    assert rows and len(rows) == out.count()


def test_warm_dir_prefers_the_tiny_corpus_beside_the_sf_dir(tmp_path):
    sf = tmp_path / "sf0.1"
    sf.mkdir()
    assert bench.warm_dir(str(sf)) == str(sf)
    (tmp_path / "sf0.001").mkdir()
    assert bench.warm_dir(str(sf) + "/") == str(tmp_path / "sf0.001")

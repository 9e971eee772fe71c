"""The session memo store's scope and cross-pass coherence.

- A pass that checkpoints several frames must never unpersist blocks of
  another corpus's entries: the gram pass of corpus B once evicted the
  gram pass of corpus A wholesale, including the blocks of A's
  token-array entry that A's gram pass had built, leaving that entry
  stale.
- Scope is the session object: a ``spark.newSession()`` child registers
  its own temp views and builds its own frames.
- A failed unpersist is counted, never raised.
"""

import shutil
from types import SimpleNamespace

from py4j.protocol import Py4JError

from spot_anomalies_flink_workshop_resources_spark import catalog, memo
from spot_anomalies_flink_workshop_resources_spark.operators import dedup
from spot_anomalies_flink_workshop_resources_spark.operators.text import (
    token_arrays,
)
from spot_anomalies_flink_workshop_resources_spark.plans import curation


def _corpus(sf_dir, tmp_path, name):
    # a fresh directory per corpus, so no earlier test has memoized it
    d = tmp_path / name
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    return str(d)


def test_gram_pass_keeps_other_corpus_token_arrays(spark, sf_dir, tmp_path):
    a, b = (_corpus(sf_dir, tmp_path, n) for n in ("a", "b"))
    docs_a = catalog.load_table(spark, a, "documents")
    curation._gram_pass(spark, a)
    # built inside A's gram pass; this call is a hit
    toks_a = token_arrays(docs_a, cache_key=a)
    expected = sorted(
        tuple(r) for r in toks_a.select("doc_id", "toks").collect()
    )

    curation._gram_pass(spark, b)

    again = token_arrays(docs_a, cache_key=a)
    assert again is toks_a, "B's gram pass made A's token-array entry stale"
    assert sorted(
        tuple(r) for r in again.select("doc_id", "toks").collect()
    ) == expected


def test_new_session_gets_its_own_views_and_frames(spark, sf_dir):
    catalog.register_views(spark, sf_dir)
    parent = dedup.shingle_frame(
        catalog.load_table(spark, sf_dir, "documents"), 3, cache_key=sf_dir
    )
    n = parent.count()

    child = spark.newSession()
    try:
        catalog.register_views(child, sf_dir)
        assert child.sql("SELECT COUNT(*) FROM documents").first()[0] > 0
        child_docs = catalog.load_table(child, sf_dir, "documents")
        assert child_docs.sparkSession is child
        got = dedup.shingle_frame(child_docs, 3, cache_key=sf_dir)
        assert got is not parent
        assert got.sparkSession is child
        assert got.count() == n
        child_frames = [f for f, _ids in memo._scope(child).frames.values()]
        assert all(f.sparkSession is child for f in child_frames)
    finally:
        ids = set().union(*(i for _f, i in memo._scope(child).frames.values()))
        memo._SCOPES.pop(child, None)
        memo._unpersist(spark, ids)
    # the parent's entry is untouched and still a hit
    assert dedup.shingle_frame(
        catalog.load_table(spark, sf_dir, "documents"), 3, cache_key=sf_dir
    ) is parent


def test_unpersist_failure_is_counted_not_raised():
    def fail(_blocking):
        raise Py4JError("block manager gone")

    block = SimpleNamespace(unpersist=fail)
    entries = [
        SimpleNamespace(getKey=lambda i=i: i, getValue=lambda: block)
        for i in (7, 8)
    ]
    jmap = SimpleNamespace(
        entrySet=lambda: SimpleNamespace(toArray=lambda: entries)
    )
    fake = SimpleNamespace(
        sparkContext=SimpleNamespace(
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: jmap)
        )
    )
    before = memo.stats()["unpersist_errors"]
    memo._unpersist(fake, {7, 8})
    assert memo.stats()["unpersist_errors"] == before + 2

"""Scale-pattern proofs: bucketed co-located joins (no shuffle) and
salted aggregation equivalence — the knobs SCALE.md claims for 1000x."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spot_anomalies_flink_workshop_resources_spark.catalog import load_table
from spot_anomalies_flink_workshop_resources_spark.operators.skew import salted_agg


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    """bucketBy(orderkey) on both sides of the orders⨝lineitem spine
    removes the join exchange entirely (SCALE.md knob #1)."""
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{wh}'")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("bucketdemo.orders_b")
    )
    (
        l.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bucketdemo.lineitem_b")
    )
    ob = spark.table("bucketdemo.orders_b")
    lb = spark.table("bucketdemo.lineitem_b")
    # disable auto-broadcast: at real scale neither side broadcasts, and
    # the point is that bucketing replaces the shuffle a SMJ would need
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).groupBy(
            "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must not introduce a shuffle between the scans
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        n_exchanges = plan.count("Exchange hashpartitioning")
        # only the final groupBy may shuffle (1); unbucketed needs 3
        assert n_exchanges <= 1, f"expected no join exchanges:\n{plan}"
        assert "Bucketed: true" in plan
        result = sorted(map(tuple, joined.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # sanity: same result as the unbucketed join
    plain = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert result == sorted(map(tuple, plain.collect()))


def test_salted_agg_equals_plain(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    plain = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("value").alias("mx"),
    )
    salted = salted_agg(
        e,
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum("n").cast("long")),
            "mx": (F.max("value"), F.max("mx")),
        },
        num_salts=8,
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_detector_state_rows_scale_with_keys_not_events(spark, sf_dir):
    """SCALE.md's streaming posture: detector state is O(1) per key
    (six scalars, kept in the row of the key's hash bucket), and state
    is CLEARED on emission (skipPastLastEvent), so the store holds at
    most one row per bucket with an open run — bounded by distinct
    keys, unrelated to event volume. Pin it from the query's own
    state-operator metrics."""
    from spot_anomalies_flink_workshop_resources_spark.plans.harness import (
        FLAGSHIP_PARAMS,
        _events_stream,
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.detector import (
        detect_attack_runs_stream,
    )

    alerts = detect_attack_runs_stream(
        _events_stream(spark, sf_dir), **FLAGSHIP_PARAMS
    )
    q = (
        alerts.writeStream.format("memory")
        .queryName("state_metrics_probe")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_keys = events.select("user_id").distinct().count()
    n_events = events.count()
    state_rows = progress["stateOperators"][0]["numRowsTotal"]
    assert 0 < state_rows <= n_keys, (state_rows, n_keys)
    assert state_rows < n_events / 10  # state tracks keys, not traffic


def test_interval_join_state_bounded_by_watermark(spark, sf_dir):
    """Stream-stream interval join state is O(range × rate), not
    O(stream): watermarks evict rows once the other side passes the
    join window, so after a month of events with a 1-hour range the
    final state holds a small sliver of the inputs. Pinned from the
    state-operator metrics."""
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.plans.harness import (
        _events_stream,
    )
    from spot_anomalies_flink_workshop_resources_spark.streaming.joins import (
        interval_join_stream,
    )

    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.col("ts").alias("click_ts"))
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"))
    )
    joined = interval_join_stream(
        clicks, purchases.withColumnRenamed("p_user", "user_id"),
        key="user_id", left_ts="click_ts", right_ts="purchase_ts",
        lower="0 seconds", upper="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_state_probe")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    progress = q.lastProgress
    q.stop()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_inputs = events.where(
        F.col("event_type").isin("click", "purchase")
    ).count()
    state_rows = progress["stateOperators"][0]["numRowsTotal"]
    # a month of input, a 1-hour join range: state must be a sliver
    assert 0 < state_rows < n_inputs / 10, (state_rows, n_inputs)


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md's skew posture names AQE skew-join split as the runtime
    mitigation for hot keys in shuffle joins — demonstrate it: a 90%-
    hot-key join, with thresholds scaled to test data, must execute as
    a SortMergeJoin marked skew=true (the hot partition split into
    subpartitions) and still return exact results."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot shuffle partition ~90k left rows (>64KB threshold); right
        # side has exactly one row per key so the collected output stays
        # small (the skew detector looks at shuffle bytes, not output)
        left = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("lv"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        joined = left.join(right, "k")
        # materialize through THIS DataFrame's QueryExecution so the
        # adaptive plan is finalized on the object we inspect
        n = len(joined.collect())
        assert n == 100_000  # every left row matches exactly one right row
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_chunk_windows_plan_is_shuffle_free(spark, sf_dir):
    """Chunking is a pure narrow map: tokenize → chunk-index explode →
    slice/join — the optimized plan must contain NO Exchange at all."""
    from spot_anomalies_flink_workshop_resources_spark.operators.chunking import (
        chunk_windows,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        chunk_windows(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_zorder_balanced_plan_broadcasts_bounds(spark, sf_dir):
    """The only join in the balanced z-key plan is the broadcast of the
    4-value bounds row — no shuffle join, no extra exchange over the
    events scan beyond the bounds aggregate itself."""
    from spot_anomalies_flink_workshop_resources_spark.operators.zorder import (
        zorder_events_balanced,
    )

    ev = load_table(spark, sf_dir, "events")
    plan = (
        zorder_events_balanced(ev)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_table_profile_counts_nulls_and_ndv(spark):
    from spot_anomalies_flink_workshop_resources_spark.operators.skew import (
        table_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b"), (5, None)], "id long, s string"
    )
    got = {r.col_name: r for r in table_profile(df, ["id", "s"]).collect()}
    assert got["id"].n_nulls == 0 and got["id"].n_distinct == 5
    assert got["id"].min_str == "1" and got["id"].max_str == "5"
    assert got["s"].n_nulls == 2 and got["s"].n_distinct == 2
    assert got["s"].min_str == "a" and got["s"].max_str == "b"


def test_skew_profile_null_keys_render_identically(spark):
    """NULL key columns group as '<null>' in BOTH engines (ADVICE r3:
    Spark's concat_ws maps NULL to '' while DuckDB's || yields NULL —
    the coalesce keeps the profiles aligned)."""
    import duckdb

    from spot_anomalies_flink_workshop_resources_spark.operators.skew import (
        skew_profile,
        skew_profile_sql,
    )

    rows = [(1, None), (2, None), (3, "a"), (4, "a"), (5, "b")]
    df = spark.createDataFrame(rows, "id long, k string")
    got = sorted(
        (r.key_value, r.n_rows) for r in skew_profile(df, ["k"]).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t AS SELECT * FROM (VALUES (1, NULL), (2, NULL), "
        "(3, 'a'), (4, 'a'), (5, 'b')) v(id, k)"
    )
    want = sorted(
        (r[1], r[2])
        for r in con.sql(skew_profile_sql("t", ["k"])).fetchall()
    )
    assert got == want
    assert ("<null>", 2) in got


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The approx_percentile production twin must stay within sketch
    tolerance of the exact percentile query (and of DuckDB's
    approx_quantile spirit): relative error well under 1% at
    accuracy=10000."""
    from spot_anomalies_flink_workshop_resources_spark.plans.relational_sql import (
        QUERIES,
    )

    exact = {
        r.l_returnflag: r
        for r in QUERIES["sql_price_quantiles"](spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r
        for r in QUERIES["sql_price_quantiles_approx"](spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for flag, e in exact.items():
        a = approx[flag]
        assert a.n_rows == e.n_rows
        for col in ("median_price", "p95_price"):
            rel = abs(getattr(a, col) - getattr(e, col)) / abs(getattr(e, col))
            assert rel < 0.01, f"{flag}.{col}: rel err {rel}"


def test_nested_struct_parquet_dot_paths_and_pruning(spark, tmp_path):
    """Real nested StructType fixture on disk: dot-path projection and
    filter work through two struct levels, and the parquet scan's
    ReadSchema is pruned to the accessed subfields only (nested-schema
    pruning — at 100 TB reading 2 of 40 endpoint fields is the
    difference between a narrow and a full-width scan)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "ocsf")
    src = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.struct(
            F.concat(F.lit("eni-"), F.col("id").cast("string")).alias(
                "instance_uid"
            ),
            F.concat(
                F.when(F.col("id") % 2 == 0, F.lit("10.0.0.")).otherwise(
                    F.lit("192.168.0.")
                ),
                F.col("id").cast("string"),
            ).alias("ip"),
            (F.col("id") % 65536).alias("port"),
            F.struct(F.lit("linux").alias("type")).alias("os"),
        ).alias("src_endpoint"),
    )
    src.write.mode("overwrite").parquet(path)

    df = spark.read.parquet(path)
    out = df.where(F.col("src_endpoint.ip").startswith("10.")).select(
        "event_id",
        F.col("src_endpoint.instance_uid").alias("instance_uid"),
        F.col("src_endpoint.os.type").alias("os_type"),
    )
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.os_type == "linux" for r in rows)
    assert {r.instance_uid for r in rows} == {f"eni-{i}" for i in range(0, 100, 2)}

    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    # pruned: accessed fields present, untouched 'port' absent
    assert "instance_uid" in read_schema[0]
    assert "port" not in read_schema[0]


def test_flagship_plan_invariants(spark, sf_dir):
    """Plan-quality regressions fail loudly: these invariants are the
    scale story (SCALE.md), so a code change that silently breaks them
    — a dim that stops broadcasting, a filter that stops reaching the
    scan, a second exchange in the detection plan — must fail CI, not
    wait for a 100 TB incident."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # q5: star join — every dim broadcast, no sort-merge joins
    p = plan("q5_local_supplier")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 5

    # q6: both predicates reach the parquet scan
    p = plan("q6_forecast_revenue")
    assert "PushedFilters: [" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]

    # detection: classify predicate pushed; exactly ONE exchange
    p = plan("cep_fragmentation")
    pushed = p.split("PushedFilters")[1][:200]
    assert "LessThan(value" in pushed and "GreaterThan(value" in pushed
    assert p.count("Exchange") // 2 == 1, "detection plan must have ONE shuffle"

    # top-k compiles to TakeOrderedAndProject (no global sort)
    p = plan("top_expensive_lineitems")
    assert "TakeOrderedAndProject" in p

    # corpus_prep: stats are inline — only the dedup-keep exchange pair,
    # no stats-frame self-join
    p = plan("corpus_prep")
    assert "SortMergeJoin" not in p

    # bucketized interval join: an EQUI join on (key, bucket) — never a
    # nested-loop/cartesian fallback (the failure mode of naive
    # range-predicate joins)
    p = plan("batch_interval_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    # q21 shape: the correlated EXISTS / NOT EXISTS must rewrite to
    # semi/anti joins, not a per-row subquery
    p = plan("sql_supplier_waits")
    assert "LeftSemi" in p and "LeftAnti" in p


def test_new_operator_plan_invariants(spark, sf_dir):
    """Scale-posture pins for the round-4 additions: the tiny sides
    broadcast, top-k compiles to per-partition heaps, and the dense
    spine never shuffles raw data."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # bm25: query terms / df / stats all broadcast; no cartesian blowup
    p = plan("text_bm25_topk")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p
    # lm score: vocab model and lang stats broadcast back to the stream
    p = plan("text_lm_score")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    # weighted sample: TakeOrdered heaps, not a global sort
    p = plan("corpus_sample_weighted")
    assert "TakeOrderedAndProject" in p, p
    # gapfill: the one-row spine reaches the grid via broadcast; the
    # only hash exchanges belong to the bucket aggregation + grid join,
    # never a raw-event sort
    p = plan("events_gapfill")
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p
    # part-name similarity (round 9, third design): dedup-first — the
    # thresholded levenshtein runs on the DISTINCT-NAME frame (pin the
    # distinct aggregate feeding the name-pair join), and the expansion
    # back to part pairs is a BROADCAST of the tiny similar-name table
    # plus (brand, name)-keyed equi-joins; never a cartesian and never
    # a parts x parts join. (The round-5 (brand, len_bucket) block pin
    # was retired with the design: both of those keys are bounded-
    # cardinality, which the round-9 sf1 spot-run measured as a
    # quadratic-in-N candidate blow-up — 691M candidates for 23M
    # results.)
    p = plan("sql_part_name_similarity")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "levenshtein" in p, p
    import re as _re

    # the levenshtein operates on the distinct-name frame: the distinct
    # aggregate keyed by the name column appears in the plan detail
    assert _re.search(r"Keys \[1\]: \[nm#\d+\]", p), p
    # round-5 additions: dims/scalars broadcast, no cartesian blowups
    # supplier scorecard: supplier+nation dims broadcast; the only
    # sort-merge-eligible join is the orderkey spine
    p = plan("sql_supplier_scorecard")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p
    # attribution: per-user bounded-range join, never a cartesian
    p = plan("events_attribution")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p, p
    # copair/lift: per-type rollups broadcast back
    p = plan("events_copair_support")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p
    # keywords: vocab df frame broadcast; TF agg is the only wide agg
    p = plan("text_keywords")
    assert "BroadcastHashJoin" in p, p
    # equi-depth: single-partition windows run over the DISTINCT-VALUE
    # frame only (bounded by the domain); the raw-event stage is a
    # plain hash agg
    p = plan("events_equidepth")
    assert p.count("Exchange SinglePartition") <= 2, p
    # media dedup: one map-side-combinable hash agg over
    # (sniffed_type, digest) — digests, never binary payloads, cross
    # the exchange; no join at all
    p = plan("multimodal_dedup")
    assert p.count("HashAggregate") >= 2, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    assert "Exchange SinglePartition" not in p, p
    # triangle counting: the returned plan reads the checkpointed
    # triangle frame (lineage cut at edges/oriented/tri — the Spark
    # analogue of AS MATERIALIZED); final rollup is a plain hash agg,
    # no join survives past the materialization boundaries
    p = plan("sql_copurchase_triangles")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # SCD2: exactly the compaction's one key exchange — a single
    # user_id hash partitioning feeds the lead window; no join
    p = plan("events_cdc_scd2")
    assert "Join" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    assert "Window" in p, p
    # AUC: the single-partition cumulative window runs over the
    # BOUNDED cents-bucket frame (post-agg), the events stage is a
    # map-side-combinable hash agg
    p = plan("events_score_auc")
    assert p.count("HashAggregate") >= 4, p  # bucket agg + final, partial+final each
    assert p.count("SinglePartition") <= 2, p
    assert "Join" not in p, p
    # snapshot diff: both compactions and the full-outer join share the
    # user_id partitioning — two snapshot exchanges, at most one more
    # for the join, and never a broadcast-nested-loop
    p = plan("events_cdc_diff")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("hashpartitioning(") <= 3, p
    # quantile transform: the rank frame (domain-bounded) broadcasts
    # back to events; the raw table is never sorted or windowed
    p = plan("events_quantile_transform")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "SinglePartition" not in p, p
    # session paths: the only window partitions by (user, day); the
    # path rollup is a plain hash agg — no single-partition stage
    p = plan("events_session_paths")
    assert "SinglePartition" not in p, p
    assert "Join" not in p, p
    # k-core: past the peel's checkpoint boundaries only the degree
    # rollup remains — a plain map-side-combinable hash agg, no join
    p = plan("sql_copurchase_kcore")
    assert p.count("HashAggregate") >= 2, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    # recs: the rank window partitions per part over the
    # support-bounded pair frame — never a single-partition sort
    p = plan("sql_copurchase_recs")
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    # PR sweep: the only data-sized stage is the bucket hash agg; the
    # 4-row threshold frame joins the BOUNDED bucket frame
    p = plan("events_score_pr")
    assert p.count("HashAggregate") >= 4, p
    assert "SortMergeJoin" not in p, p
    # media integrity: narrow map + one hash agg; binary payloads
    # never cross an exchange (only type strings and counts do)
    p = plan("multimodal_integrity")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # CMS: table + probes join via broadcast (the d*w table is the only
    # data that leaves the executors); top-k is a heap, not a sort
    p = plan("corpus_cms_error")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # RFM: two hash aggs, the second over the |customers| frame; no
    # join and no single-partition stage
    p = plan("sql_rfm_segments")
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    # reconciliation: one orderkey-spine join (detail pre-aggregated
    # before the join, so the join is order-sized on both sides)
    p = plan("dq_rollup_reconciliation")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # theil-sen: the raw table collapses to (type, day) BEFORE the
    # pair self-join, so the join inputs are calendar-bounded; the
    # rank window partitions per type
    p = plan("events_theil_sen")
    assert "CartesianProduct" not in p, p
    assert "SinglePartition" not in p, p
    # round-6 additions --------------------------------------------
    # mann-whitney: the only single-partition window runs over the
    # DOMAIN-BOUNDED distinct-cents frame; the raw stage is a plain
    # hash agg, and the below-counts frame broadcasts back
    p = plan("events_mannwhitney")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("Exchange SinglePartition") <= 3, p
    # KS: same domain-bounded shape — distinct-cents cumulative only
    p = plan("events_ks_2samp")
    assert "SortMergeJoin" not in p, p
    # chi2: three dimension-sized rollups broadcast onto the cell
    # frame; no data-sized join and no sort anywhere
    p = plan("events_chi2_independence")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    # gini: the rank window partitions per nation; dims broadcast
    p = plan("sql_gini_revenue")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p
    # pareto: the cumulative window runs over the |parts| frame, after
    # the revenue agg — one bounded single-partition stage, no join
    # beyond the broadcast total
    p = plan("sql_pareto_abc")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # itemsets3: baskets collapse to distinct items BEFORE the triple
    # join, so join fan-out is capped by |types| choose 3 per basket
    p = plan("events_itemsets3")
    assert "CartesianProduct" not in p, p
    # bigram novelty: reference vocabulary joins on the bigram hash
    # key — a shuffled hash join is acceptable (vocab may exceed
    # broadcast at corpus scale); never a nested-loop
    p = plan("text_ngram_novelty")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # hits: past the per-round checkpoint boundaries only the final
    # authority/hub join of two |V|-sized frames remains
    p = plan("events_hits")
    assert "CartesianProduct" not in p, p
    # mann-kendall / OLS: the raw table collapses to (type, day) in
    # the one data-sized agg; pair join and power sums run on the
    # calendar-bounded frame; per-type scalars broadcast back
    p = plan("events_mann_kendall")
    assert "CartesianProduct" not in p, p
    assert "SinglePartition" not in p, p
    p = plan("events_trend_ols")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p
    # kappa / MI: dimension-sized margin rollups re-broadcast; the
    # only data-sized stage is the first counting agg
    p = plan("text_kappa_langid")
    assert "CartesianProduct" not in p, p
    p = plan("events_mutual_information")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    # bootstrap: x10 narrow BLOCK explode + (type, block) hash agg; the
    # rank window partitions per type over 40 rows — no global sort
    p = plan("events_bootstrap_ci")
    assert "Generate" in p, p  # the replicate explode is narrow
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    # stratified split: windows partition per language stratum only
    p = plan("corpus_split_stratified")
    assert "SinglePartition" not in p, p
    assert "Join" not in p, p
    # leak audit: content-hash group stats join back on the hash key;
    # two hash aggs, no nested loop
    p = plan("corpus_cross_source_leak")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # monthly growth: dims broadcast; the lag window partitions per
    # nation over the month-bounded rollup
    p = plan("sql_monthly_growth")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p
    # trimmed mean: domain-bounded cumulative window (per-type cents),
    # no data-sized sort
    p = plan("events_trimmed_mean")
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    # knn eval: queries broadcast onto the corpus scan (the brute-force
    # contract); votes/rank windows partition per query
    p = plan("simsearch_knn_eval")
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    # changepoint: cumulative + argmax windows partition per type over
    # the calendar-bounded daily frame; no data-sized sort
    p = plan("events_changepoint")
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    # acf: the lag fan-out is a broadcast of the 7-row lag dim; the
    # self-join runs on the calendar-bounded daily frame
    p = plan("events_acf")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # anova / brown-forsythe: data collapses to (type[, cents]) hash
    # aggs; every later frame is |types|-sized
    p = plan("events_anova")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p
    p = plan("events_brown_forsythe")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    # qq drift: windows partition per (type, half) over the
    # domain-bounded cents frame; the decile dim broadcasts; the only
    # single-partition stages belong to the one-row epoch-span scalar
    p = plan("events_qq_drift")
    assert p.count("Exchange SinglePartition") <= 2, p
    assert "SortMergeJoin" not in p, p
    # burst: the hour-cell agg is the only data-sized stage; totals
    # and the one-row span broadcast back
    p = plan("events_burst_hours")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # pmi: df stats join on the token key; the pair join runs on the
    # vocabulary-bounded kept frame; the only nested-loop is the
    # one-row n_docs scalar broadcast
    p = plan("text_pmi_pairs")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # range search: queries broadcast (the brute-force contract)
    p = plan("simsearch_range_search")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # PIT enrich: the asof union-window shape — ONE user_id hash
    # partitioning, no join operator at all
    p = plan("events_pit_enrich")
    assert "Join" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    # MMR: the returned plan reads the checkpointed selection frames
    # (pool/pairs bounded by parameters); no cartesian anywhere
    p = plan("simsearch_mmr")
    assert "CartesianProduct" not in p, p
    # holt-winters: one (type, day) hash agg feeds the bounded fold —
    # no join, no window over raw events
    p = plan("events_holt_winters")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # region share: dims broadcast; share windows partition per region
    p = plan("sql_region_share")
    assert "BroadcastHashJoin" in p, p
    # HHI: supplier rollup then a bounded per-nation fold; dims
    # broadcast onto the lineitem scan
    p = plan("sql_supplier_hhi")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    # media entropy: narrow hex explode + two hash aggs; the byte
    # histogram is the only exchange (256 x |types| cells)
    p = plan("multimodal_entropy")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # round-6 second wave ------------------------------------------
    # PSI / JSD: per-type range/total scalars broadcast onto the one
    # data-sized counting agg; divergence terms live on 10/24-cell
    # frames — no sort-merge join, no cartesian
    p = plan("events_psi_drift")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    p = plan("events_jsd_profile")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p
    assert "SinglePartition" not in p, p  # peak window partitions per type
    # fano: one hash agg + one broadcast scalar — no equi-join at all
    p = plan("events_fano")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    assert p.count("HashAggregate") >= 2, p
    # skyline: dominance via windows — the oracle's quadratic self-join
    # NEVER materializes; per-brand partitions, no single-partition sort
    p = plan("sql_part_skyline")
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    # weighted median: part dim broadcasts; windows run per brand over
    # the (brand, quantity) grid
    p = plan("sql_weighted_median")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p
    # link prediction: wedge join fan-out is support-bounded; large-
    # large stages may sort-merge, but nothing nested-loops
    p = plan("sql_copurchase_linkpred")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p  # top-50 is a heap
    # hazard: the KM frame — folds on the bounded delay-day domain
    p = plan("sql_ship_hazard")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    # croston: per-type threshold broadcast; fold agg per type
    p = plan("events_croston")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p
    # session coverage: the sessionization shape — exactly one
    # user_id exchange feeds windows and both rollups; no join
    p = plan("events_session_coverage")
    assert "Join" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    assert "SinglePartition" not in p, p
    # heaps: narrow tokenizing map + one |langs|-sized agg; no join
    p = plan("text_heaps_fit")
    assert "Join" not in p, p
    assert p.count("hashpartitioning(") == 1, p
    # SPC: per-type limits broadcast back onto the bounded day frame
    p = plan("events_spc_control")
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p and "SortMergeJoin" not in p, p
    # winsorized mean: windows over the distinct-cents grid, cut
    # points broadcast back — no single-partition stage anywhere
    p = plan("events_winsorized_mean")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SinglePartition" not in p, p
    # peaks: one agg + per-type lag/lead windows, no join
    p = plan("events_peak_days")
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    # token coverage: the only single-partition window runs over the
    # VOCAB frame; the data-sized stage is the token-count hash agg
    p = plan("corpus_token_coverage")
    assert p.count("Exchange SinglePartition") <= 1, p
    assert "CartesianProduct" not in p, p
    # tier migration: scalar midpoint/median broadcast; the pivot and
    # matrix aggs are plain hash aggs
    p = plan("sql_spend_tier_migration")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p, p
    # rapid reorders: customer-blocked equi-join only — at scale this
    # shuffles both sides on custkey; never a nested loop
    p = plan("sql_rapid_reorders")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # dim audit: posexplode (narrow Generate) + ONE idx hash agg
    p = plan("simsearch_dim_audit")
    assert "Join" not in p, p
    assert "Generate" in p, p
    assert p.count("hashpartitioning(") == 1, p
    # assortativity: degree map joined onto stubs; never a cartesian
    p = plan("sql_copurchase_assortativity")
    assert "CartesianProduct" not in p, p
    # lexical diversity: token explode + three chained hash aggs; no join
    p = plan("corpus_lexical_diversity")
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    # CCF: daily frames broadcast onto the 15-lag spine; no cartesian
    # beyond the lag broadcast (calendar-bounded on both sides)
    p = plan("events_ccf")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # interpolated deciles: windows over the distinct-cents grid only;
    # the rank spine joins back via broadcast
    p = plan("events_quantile_interp")
    assert "SinglePartition" not in p, p
    assert "SortMergeJoin" not in p, p
    # clustering: triangle checkpoints cut lineage; the node rollup is
    # a hash agg; no cartesian
    p = plan("sql_copurchase_clustering")
    assert "CartesianProduct" not in p, p
    # uniqueness audit: six independent distinct-aggs unioned; no join
    p = plan("dq_uniqueness_audit")
    assert "Join" not in p, p
    # lang JSD matrix: the pair join runs on the bounded trigram-domain
    # grid (|charset|^3 saturating), never on documents
    p = plan("text_jsd_lang_matrix")
    assert "CartesianProduct" not in p, p
    # ABC/XYZ: ranking window over the |parts| frame; scalar spans
    # broadcast; the cell rollup is a hash agg
    p = plan("sql_abc_xyz_matrix")
    assert "CartesianProduct" not in p, p
    assert p.count("Exchange SinglePartition") <= 2, p
    # survivorship: per-component window over cluster-sized groups
    p = plan("dedup_canonical")
    assert "CartesianProduct" not in p, p
    # silence gaps: one type-partitioned sort window, stats broadcast
    p = plan("events_silence_gaps")
    assert "SinglePartition" not in p, p
    assert "BroadcastHashJoin" in p, p
    # holt backtest: prefix histories broadcast onto cutoffs; the
    # re-fold runs on the calendar-bounded frame — no sort-merge join
    p = plan("events_holt_backtest")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    # user features: two user-keyed hash aggs, no window, no cartesian
    p = plan("events_user_features")
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p
    # reliability bins: one 10-bin hash agg; scalars broadcast
    p = plan("events_reliability_bins")
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p, p
    # copurchase pagerank (round 7, VERDICT r6 #4): top-100 is a heap;
    # the per-round score-join strategy is pinned separately in
    # test_pagerank_shuffle_join_no_v_sized_broadcast (the per-round
    # lazy checkpoint hides round plans behind RDD scans here).
    p = plan("sql_copurchase_pagerank")
    assert "BroadcastHashJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # line-block dedup (round 7): one narrow explode, ONE block-keyed
    # exchange feeding the first-occurrence window, then a two-phase
    # rollup — no join, no single-partition stage anywhere
    p = plan("dedup_lines")
    assert "Join" not in p, p
    assert "SinglePartition" not in p, p
    assert p.count("hashpartitioning(") <= 2, p
    assert "Window" in p, p
    # gopher rules: token/doc two-phase aggs; the docs-base join keys
    # on doc_id (broadcast at harness scale, shuffle at corpus scale —
    # either is fine, a nested-loop is not); the 5x rule stack is a
    # narrow Generate
    p = plan("corpus_gopher_rules")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SinglePartition" not in p, p
    assert p.count("HashAggregate") >= 4, p
    # DSIR selection: pt is checkpointed (one explode+agg, read by both
    # branches); the 1-row totals frame broadcasts; vocab log-ratio
    # joins back via hash join; top-k is a heap, not a global sort
    p = plan("corpus_dsir_select")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    assert p.count("SinglePartition") <= 1, p  # the 1-row totals agg
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p
    # STL decomposition: one data-sized (type, day) agg; the window and
    # seasonal join run on the calendar-bounded day frame, seasonal
    # frame broadcasts, never a single-partition stage
    p = plan("events_stl_decompose")
    assert "SinglePartition" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Window" in p, p
    # binary near-dup: candidates only via the inverted-index equi-join
    # on the window hash — never a nested-loop/cartesian; the shingle
    # frame is checkpointed (one hex explode feeds cap, counts, join)
    p = plan("multimodal_near_dup")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SinglePartition" not in p, p
    # RHP-LSH embedding blocker: bucket-keyed equi-join only; the
    # signature build is a narrow map over the checkpointed frame
    p = plan("dedup_embedding_lsh")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SinglePartition" not in p, p
    # RRF fusion: the query panel broadcasts against one vector scan
    # (the NDCG shape — BroadcastNestedLoopJoin on the != predicate is
    # the intended panel join); windows partition per query
    p = plan("simsearch_rrf")
    assert "CartesianProduct" not in p, p
    assert "SinglePartition" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert "Window" in p, p
    # bigram LM: model built on the vocab-bounded bigram frame (libm ln
    # there, ArrowEvalPython allowed); the scoring join keys on (v, w);
    # the only SinglePartition stage is the 1-row totals agg
    p = plan("text_bigram_lm")
    assert "CartesianProduct" not in p, p
    assert p.count("SinglePartition") <= 1, p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p
    # modularity: node-keyed equi-joins over the checkpointed edge
    # frame; m is a Python literal (no 1-row crossJoin), so no
    # nested-loop and no single-partition stage
    p = plan("sql_copurchase_modularity")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SinglePartition" not in p, p


def test_pagerank_shuffle_join_no_v_sized_broadcast(spark):
    """VERDICT r6 #4 pin: with broadcast_scores=False the round body's
    score join must be a node-keyed SHUFFLE join — no |V|-sized
    broadcast anywhere (the 1-row dangling scalar is the only broadcast
    allowed). With broadcast_scores=True the same body broadcasts.
    Inspects _pagerank_round (the exact loop body pagerank executes)
    pre-checkpoint, since the per-iteration checkpoint rewrites the SQL
    plan to an RDD barrier."""
    from pyspark.sql import functions as F

    from spot_anomalies_flink_workshop_resources_spark.operators.graph import (
        _pagerank_round,
    )

    edges = spark.range(5000).select(
        (F.col("id") % 997).cast("string").alias("src"),
        ((F.col("id") * 7) % 997).cast("string").alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_w = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    ew = edges.join(out_w, "src")
    ranks = nodes.select("node", F.lit(1 << 20).cast("long").alias("r"))

    def explain(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffle_p = explain(
            _pagerank_round(
                nodes, ew, out_w, ranks, 997, 0.85, 100, lambda df: df
            )
        )
        bcast_p = explain(
            _pagerank_round(nodes, ew, out_w, ranks, 997, 0.85, 100, F.broadcast)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in shuffle_p, shuffle_p
    assert (
        "SortMergeJoin" in shuffle_p or "ShuffledHashJoin" in shuffle_p
    ), shuffle_p
    assert "CartesianProduct" not in shuffle_p, shuffle_p
    assert "BroadcastHashJoin" in bcast_p, bcast_p


def test_tpch_tail_plan_invariants(spark, sf_dir):
    """Scale pins for the TPC-H tail (q2/q11/q13/q16/q20/q21/q22):
    dims broadcast, anti/semi shapes compile to hash joins, top-k
    compiles to heaps, and nothing falls back to a cartesian."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # q2: supplier/nation/region/part dims all broadcast; the only wide
    # exchange keys the supply agg + per-part min window
    p = plan("q2_min_cost_supplier")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # q11: the one-row total joins back via broadcast, never a shuffle
    p = plan("q11_important_parts")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    # q16: the NOT-IN exclusion compiles to a broadcast left-anti join
    p = plan("q16_parts_supplier_relationship")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p, p
    # q20: the dominant-supplier set reaches supplier as a semi join
    p = plan("q20_dominant_part_suppliers")
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p
    # q21: single window pass — no correlated self-join explosion; the
    # status filter reaches the orders scan
    p = plan("q21_waiting_suppliers")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # q22: dormancy test is an anti join; the AVG scalar broadcasts
    p = plan("q22_dormant_customers")
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p
    # boilerplate: narrow gram explode + (source, gram) hash agg; the
    # per-source doc counts broadcast back
    # boilerplate reads the SHARED gram-pass checkpoint since the
    # round-7 fusion (plans/curation._gram_pass): the gram explode and
    # the doc-count broadcast live BEHIND the checkpoint boundary, so
    # the visible plan must be just the tiny rollup — no explode, no
    # join, no cartesian re-derivation of the gram stream
    p = plan("corpus_boilerplate")
    assert "Generate" not in p, p
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    # ndcg: the 16-query side broadcasts against the vector scan; the
    # only wide op is the per-query top-10 rank
    p = plan("simsearch_ndcg")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    # join fanout: per-side count aggs, never the materialized join
    p = plan("dq_join_fanout")
    assert "CartesianProduct" not in p, p
    # template strip: boiler set reaches gram stream as a semi join;
    # interval-union window runs on the flagged (small) frame only
    p = plan("corpus_template_strip")
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p
    # order-cycle: bounded grid windows + broadcast rank spine, no
    # per-row percentile buffering (no ObjectHashAggregate)
    p = plan("sql_order_cycle_percentiles")
    assert "ObjectHashAggregate" not in p, p
    assert "CartesianProduct" not in p, p
    # entropy rate: one user window + |types|^2 agg, totals broadcast
    p = plan("events_entropy_rate")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    # retention triangle: custkey-keyed aggs; offset-0 base broadcast
    p = plan("sql_cohort_retention_matrix")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    # split drift: the one-row totals broadcast onto the bounded
    # length-grid cumulative frame
    p = plan("corpus_split_drift")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    # price elasticity: part dim broadcast; one brand-keyed hash agg
    p = plan("sql_price_elasticity")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # icc: user-keyed agg + one-row broadcast; no window, no cartesian
    p = plan("events_icc")
    assert "Window" not in p, p
    # brier: 10-bin hash agg with range scalars broadcast
    p = plan("events_score_brier")
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p, p
    # log-rank: bounded-day windows; the only data-sized stage is the
    # per-order min-ship agg (orderkey spine join)
    p = plan("sql_ship_logrank")
    assert "CartesianProduct" not in p, p


def test_dq_audit_counts_orphans_and_null_fks(spark):
    """Orphans and NULL fks are distinguished on a fixture with both."""
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.operators.dq import (
        referential_integrity,
    )

    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    tables = {"c": child, "p": parent}
    out = referential_integrity(
        lambda _s, _d, name: tables[name],
        spark,
        "",
        relationships=(("c.fk", "c", "fk", "p", "pk"),),
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_rows, r.n_null_fk, r.n_orphans) == (4, 1, 1)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Star-schema scan hygiene at scale: joining a partitioned fact to
    a FILTERED dim must prune fact partitions at runtime (DPP) — the
    mechanism that keeps a 100 TB date-partitioned fact from full-scan
    when the dim filter only selects a few partition values."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact")
    spark.range(10000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 30).alias("day"),
        (F.col("id") % 7.0).alias("value"),
    ).write.partitionBy("day").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(30).select(
        F.col("id").alias("day"), (F.col("id") % 3).alias("grp")
    )
    j = fact.join(dim.where(F.col("grp") == 1), "day").groupBy("day").count()
    p = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruningexpression" in p, p
    # and the pruning reaches the fact scan's PartitionFilters
    part_filters = p.split("PartitionFilters")[1][:220]
    assert "dynamicpruning" in part_filters, part_filters


def test_events_moments_match_numpy(spark, tmp_path):
    """Exact-power-sum moments equal numpy's population moments."""
    import numpy as np
    from pyspark.sql import Row

    from spot_anomalies_flink_workshop_resources_spark.plans.relational import (
        events_moments,
    )

    rng = np.random.RandomState(3)
    vals = np.round(rng.gamma(2.0, 30.0, size=500), 2)
    df = spark.createDataFrame(
        [
            Row(event_id=i, ts=__import__("datetime").datetime(2024, 1, 1),
                user_id=1, event_type="a", value=float(v), props="")
            for i, v in enumerate(vals)
        ]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = events_moments(spark, str(tmp_path)).collect()[0]
    m = vals.mean()
    m2 = ((vals - m) ** 2).mean()
    m3 = ((vals - m) ** 3).mean()
    m4 = ((vals - m) ** 4).mean()
    assert out.n == 500
    assert abs(out.mean - m) < 1e-9
    assert abs(out.variance - m2) < 1e-6
    assert abs(out.skewness - m3 / m2 ** 1.5) < 1e-9
    assert abs(out.kurtosis_excess - (m4 / m2 ** 2 - 3)) < 1e-9


def test_round8_plan_invariants(spark, sf_dir):
    """Scale-posture pins for the round-8 additions: shared-edge graph
    queries stay keyed (no |V| broadcast), curation passes keep to one
    data-sized shuffle, statistics queries bound their windows to the
    value grid, and nothing compiles to a cartesian."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # repeat pagerank: top-100 heap, no |V| broadcast hash join (the
    # per-round strategy is pinned in the pagerank operator test)
    p = plan("sql_repeat_pagerank")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # reciprocity: the reverse probe is a KEYED LeftSemi join on
    # (src,dst) — hash or sort-merge, never nested-loop (the only
    # nested-loop allowed is the Cross of the two 1-row scalar aggs)
    p = plan("sql_repeat_reciprocity")
    assert "CartesianProduct" not in p, p
    # formatted plans print each op twice (tree + detail), so test the
    # TREE line: the semi probe must be a keyed hash/sort-merge join,
    # and no nested-loop LeftSemi may exist anywhere
    assert (
        "SortMergeJoin LeftSemi" in p
        or "ShuffledHashJoin LeftSemi" in p
        or ("BroadcastHashJoin" in p and "LeftSemi" in p)
    ), p
    assert "BroadcastNestedLoopJoin LeftSemi" not in p, p
    # degree imbalance: two keyed aggs + full-outer merge + heap
    p = plan("sql_repeat_degree_imbalance")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # trade balance: nation broadcasts on both sides; no global sort of
    # data-sized frames (the 25-row report sort is fine)
    p = plan("sql_nation_trade_balance")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") >= 2, p
    # gap CV: one per-customer window + one segment agg, no cartesian
    p = plan("sql_customer_gap_cv")
    assert "CartesianProduct" not in p, p
    assert "Window" in p, p
    # rank momentum: month filter broadcast; ranking windows partition
    # by month (never a global unpartitioned data-sized sort)
    p = plan("sql_rank_momentum")
    assert "CartesianProduct" not in p, p
    # band S-curve: candidate pairs come from the banded join (equi on
    # band+hash); the 17-row histogram agg is the only tail
    p = plan("dedup_minhash_scurve")
    assert "CartesianProduct" not in p, p
    # ESS: one scalar max broadcast + one 1-row agg; Arrow eval for the
    # libm exp twin is expected, row-at-a-time BatchEvalPython is not
    p = plan("corpus_dsir_ess")
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    # OOV: vocab ranking window runs on the vocab frame; the probe is a
    # broadcast semi join
    p = plan("corpus_oov_rate")
    assert "CartesianProduct" not in p, p
    assert "LeftSemi" in p, p
    # doclen quartiles: windows partitioned by source on the grid
    p = plan("corpus_doclen_quartiles")
    assert "CartesianProduct" not in p, p
    # char-trigram entropy: one explode + (source, gram) agg; libm via
    # Arrow only
    p = plan("text_char_trigram_entropy")
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    # Kruskal-Wallis / Mood median: cumulative windows run on the VALUE
    # GRID (bounded), so the single-partition window is grid-sized; the
    # data-sized stages are plain hash aggs
    for name in ("events_kruskal_wallis", "events_mood_median"):
        p = plan(name)
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p, p


def test_round8_wave3_plan_invariants(spark, sf_dir):
    """Scale pins for the round-8 third wave."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # result diversity: panel-bounded pairing; embeddings broadcast onto
    # the 80-row pair frame, never the reverse
    p = plan("simsearch_result_diversity")
    assert "CartesianProduct" not in p, p
    # supplier overlap: inverted-index join on part (equi), df-capped;
    # top-20 heap
    p = plan("sql_supplier_overlap")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # funnel paths: edge self-join on the MID node (equi), heap top-k
    p = plan("sql_repeat_funnel_paths")
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # media size quartiles: source-partitioned grid windows only
    p = plan("multimodal_size_quartiles")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p
    # seasonal strength: (type, day) agg then calendar-bounded windows
    p = plan("events_seasonal_strength")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_round8_wave4_plan_invariants(spark, sf_dir):
    """Scale pins for the final round-8 additions."""
    from spot_anomalies_flink_workshop_resources_spark.plans import harness

    def plan(name):
        df = harness.build_queries()[name](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    # return rate: part broadcast onto lineitem, one brand agg
    p = plan("sql_return_rate_by_brand")
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    # centroid balance: zero-shuffle argmax assignment (ArrowEval, no
    # row-at-a-time Python), 16-row histogram tail
    p = plan("simsearch_centroid_balance")
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p

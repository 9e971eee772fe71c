"""The ``analyst_mix`` workload: one analyst session over the registry.

One client builds and runs registry queries one after another
(``plans.harness.build_queries``) on the benchmark's sf0.01 tables.  Each
query's result comes back to the client as Arrow, the way an analyst
reads it, and is compared afterwards with its DuckDB oracle through
``tools/check_oracles.compare``.  The harness clears no caches between
queries.

The sample is fixed by name: ``SAMPLE`` below was drawn once from the
registry names, stratified by name prefix (``q<N>`` names form one
``tpch`` stratum, prefixes with fewer than three names one ``misc``
stratum), one name per stratum plus a share proportional to its size,
taking the names with the lowest SHA-256 in each stratum, interleaved
so that every prefix of the list is itself spread over the strata.  A
run takes the first ``n`` names and the seed shuffles their order.  A
sampled name missing from the registry or without an oracle fails the
run before it starts.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import tracing as tr

SAMPLE = (
    "events_ccf", "sql_supplier_scorecard", "corpus_sample_exact_k_per_lang",
    "events_gtest", "dedup_exact", "simsearch_brute_force", "sql_region_share",
    "text_ngram_novelty", "q2_min_cost_supplier", "events_qq_drift",
    "dq_referential_integrity", "unpivot_event_type_counts",
    "multimodal_media_profile", "stream_interval_join_left",
    "events_winsorized_mean", "sql_repeat_degree_imbalance", "corpus_top_terms",
    "events_itemsets3", "sql_rank_momentum", "events_copair_support",
    "cep_fragmentation", "corpus_mixture_weights", "dedup_sig_quality",
    "events_silence_gaps", "simsearch_pq_distortion", "sql_lorenz_deciles",
    "text_stats", "q16_parts_supplier_relationship", "events_stl_decompose",
    "sql_supplier_hhi", "events_theil_sen", "corpus_boilerplate",
    "sql_repeat_purchase", "events_partial_corr", "dq_join_fanout",
    "asof_click_purchase", "multimodal_near_dup", "stream_topk_cells",
    "events_quantile_transform", "dedup_embedding_lsh",
    "simsearch_centroid_balance", "sql_shapley_attribution", "text_keywords",
    "q3_shipping_priority", "events_fano", "corpus_gopher_rules",
    "sql_price_elasticity", "events_hellinger",
)
# The warm-up pass and each timed pass run the same queries in the same
# order, each pass on its own copy of the tables under another path.
# Every session cache is keyed by the table directory, so each pass
# starts with empty caches and does the same work: it pays every
# shared-pass build again.
TIMED_PASSES = 2
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class _Collected:
    """Hands an already collected Arrow table to ``check_oracles.compare``."""

    def __init__(self, table):
        self._table = table

    def toArrow(self):
        return self._table


def sample(seed: int, n: int) -> list[str]:
    names = list(SAMPLE[: max(1, min(n, len(SAMPLE)))])
    random.Random(seed).shuffle(names)
    return names


def run(ctx) -> dict:
    from spot_anomalies_flink_workshop_resources_spark.plans.harness import (
        build_oracles,
        build_queries,
    )

    names = sample(ctx.seed, round(1.4 * ctx.seconds))
    registry, oracles = build_queries(), build_oracles()
    missing = [n for n in names if n not in registry]
    if missing:
        raise SystemExit(f"analyst_mix: sampled queries not in the registry: {missing}")
    missing = [n for n in names if n not in oracles]
    if missing:
        raise SystemExit(f"analyst_mix: sampled queries without an oracle: {missing}")
    t = time.time()
    dirs = []
    for p in range(2 * TIMED_PASSES + 1 if ctx.trace else TIMED_PASSES + 1):
        dirs.append(os.path.join(ctx.work, f"sf-pass{p}"))
        shutil.copytree(DATA, dirs[-1])
    ctx.gen_s += time.time() - t
    ctx.start_session()
    spark = ctx.spark

    with ctx.spans.span("session.warmup"):
        t = time.time()
        warm = _pass(ctx, registry, names, dirs[0], "warmup", traced=False)
        ctx.warmup_s = time.time() - t

    if ctx.trace:
        ctx.progress.listen(spark)
    passes = []
    built: set[int] = set()
    before = tr.persistent_rdd_ids(spark) if ctx.trace else set()
    ctx.begin_timed()
    for p in range(1, TIMED_PASSES + 1):
        passes.append(_pass(ctx, registry, names, dirs[p], f"pass{p}", ctx.trace))
        if ctx.trace:
            built |= tr.persistent_rdd_ids(spark) - before
            before = tr.persistent_rdd_ids(spark)
    ctx.end_timed()
    per_query = _fastest(passes)
    ctx.note("query_ms", [[n, round(ms * 1000)] for n, ms in zip(names, per_query)])
    ctx.note("pass_s", [round(sum(p["latency"]), 2) for p in [warm] + passes])
    if ctx.trace:
        ctx.progress.stop(spark)
        build_jobs = 0
        for p in range(1, TIMED_PASSES + 1):
            for n in names:
                counts = {ph: tr.group_counts(spark, f"{n}:pass{p}:{ph}")
                          for ph in ("build", "exec")}
                ctx.note("query_jobs", [n, p, counts])
                build_jobs += counts["build"]["jobs"]
        ctx.layer["plans.build_jobs"] = build_jobs
        ctx.layer["plans.cache_rdds_built"] = len(built)
        ctx.layer["plans.cache_rdds_kept"] = len(tr.persistent_rdd_ids(spark))

    def rerun_untraced() -> float:
        ctx.fresh_session()
        again = [_pass(ctx, registry, names, dirs[TIMED_PASSES + p], f"untraced{p}",
                       traced=False) for p in range(1, TIMED_PASSES + 1)]
        ctx.note("untraced_pass_s", [round(sum(p["latency"]), 2) for p in again])
        return len(names) / sum(_fastest(again))

    ctx.rerun_untraced = rerun_untraced
    ok = _check(ctx, names, [warm] + passes, oracles)
    ctx.alert_checks += [ok[k] for k in ok if k[1].startswith(("stream_", "cep_"))]
    ctx.not_applicable("serde.parse_rows_per_s", "the session parses no flow-log JSON")
    ctx.not_applicable("streaming.detector_rows_per_s", "the session runs no flow-log detector")
    return {
        "ops_per_s": len(names) / sum(per_query),
        "latency_p50_ms": statistics.median(per_query) * 1000,
        "attempted": len(ok),
        "failed": sum(1 for v in ok.values() if not v),
        "ops": len(names) * TIMED_PASSES,
    }


def _fastest(passes: list[dict]) -> list[float]:
    """Each query's time, its fastest over the passes: a burst of host
    load that slows one query in one pass does not move it."""
    return [min(p["latency"][i] for p in passes) for i in range(len(passes[0]["latency"]))]


def _pass(ctx, registry, names, sf_dir, label, traced) -> dict:
    """One session pass over ``names`` on the tables in ``sf_dir``: each
    query is built, run and read back as Arrow, one after another.  With
    ``traced``, its jobs are tagged with job groups."""
    spark = ctx.spark
    results, latency, errors = {}, [], {}
    for name in names:
        group = f"{name}:{label}" if traced else None
        with ctx.spans.span("query", f"{name}:{label}"):
            t0 = time.time()
            try:
                with tr.job_group(spark, group and f"{group}:build"):
                    with ctx.spans.span("plans.build", name):
                        df = registry[name](spark, sf_dir)
                if traced:
                    ctx.plans_build_s += time.time() - t0
                with tr.job_group(spark, group and f"{group}:exec"):
                    with ctx.spans.span("operators.exec", name):
                        results[name] = df.toArrow()
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                errors[name] = f"{type(e).__name__}: {e}"
                print(f"analyst_mix: {name} ({label}) raised {errors[name]}",
                      file=sys.stderr)
            latency.append(time.time() - t0)
        if traced:
            ctx.groups |= {f"{group}:build", f"{group}:exec"}
    return {"label": label, "results": results, "latency": latency, "errors": errors}


def _check(ctx, names, passes, oracles) -> dict[tuple[str, str], bool]:
    """Every result of every pass against its DuckDB oracle, keyed by
    (pass, query)."""
    import duckdb
    from spot_anomalies_flink_workshop_resources_spark.catalog import TABLES

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    import check_oracles

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    ok = {}
    with ctx.spans.span("check", "analyst_mix"):
        for p in passes:
            for name in names:
                key = (p["label"], name)
                if name in p["errors"]:
                    ok[key] = False
                    continue
                msg = check_oracles.compare(
                    name, _Collected(p["results"][name]), con, oracles[name]
                )
                ok[key] = msg.startswith("OK")
                if not ok[key]:
                    print(f"analyst_mix: {p['label']}: {msg}", file=sys.stderr)
    con.close()
    return ok

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (<1.2 KB so the driver's stdout-tail window captures
it whole — r8/r9 both recorded "parsed": null from an overflowing line):
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {10 slowest: sec}, "sf": ..., ...}
and writes the FULL per-query/per-operator map to BENCH_DETAIL.json
(tracked artifact).

Every number is a median of REPEATS (default 3) runs — single-run timings at
these sub-second scales swing 1.3-1.8x with JVM/codegen/GC state (the round-2
"regression" on untouched queries was exactly that), so one run is not a
measurement. Override with SPARK_GRAFT_BENCH_REPEATS=1 for a quick pass.

Round 9 protocol: each tier (sf0.1 headline suite, operator throughput,
sf1.0 scale point) runs in its OWN subprocess — a fresh JVM and Python
worker pool — because round 8 recorded 2-4x slowdowns on unchanged sf1.0
queries that were pure within-session aging (the sf1.0 list ran after ~49
headline queries). `python bench.py --tier headline|ops|sf2` runs one tier;
no args orchestrates all and prints the combined JSON as the last line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

# Second scale point: the driver testdata tops out at sf0.1 where half the
# suite runs sub-second inside the 1.3-1.8x timing-noise band; a 10x point
# (self-generated, seed-pinned — artan_spark/sources/datagen.py) makes
# round-over-round deltas and the scaling exponent measurable (round 5 ran
# 5x; 10x gives the exponent real leverage). Round-7 measured SINGLE-shot
# sf1.0 walls swinging 2-3x run-to-run on this container (IO/page-cache/GC
# state: e.g. corpus_clean_stats 12.9 vs 40.6s, jaccard 10.5 vs 29.6s in
# back-to-back sessions), so the default is median-of-3 here too — ~4 min
# extra, and the recorded number means something. Set SPARK_GRAFT_SF2=""
# to skip the scale point entirely.
SF2 = os.environ.get("SPARK_GRAFT_SF2", "1.0")
# 3 in-process repeats, NOT 2: the first run is COLD (JIT/codegen/fit
# memos, 2-4x warm) and a 2-sample median averages cold into the record
# (measured: curation 13.1 recorded = avg(22.0 cold, 5.8 warm)); 3 repeats
# make the median the second warm run — the r1-r8 measurement condition.
REPEATS2 = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS2", "3")))
# independent sf1.0 tier processes; >1 medians the per-process warm
# medians across JVM draws (deep adjudication; default 1 keeps total
# bench wall-time at the r8 level for the driver)
SF2_PROCS = max(1, int(os.environ.get("SPARK_GRAFT_SF2_PROCS", "1")))
# r9 watch items: queries whose fresh-process sf1.0 walls moved without a
# code change. These ALWAYS get cross-process medians (SF2_WATCH_PROCS
# independent JVMs, warm median each) so the recorded artifact adjudicates
# per-JVM draw noise for them even when SF2_PROCS stays 1 — the extra cost
# is bounded to this short list, not the full sf2 tier.
SF2_WATCH = [
    q for q in os.environ.get(
        "SPARK_GRAFT_SF2_WATCH",
        # q5 joined r10: its money sums moved to exact decimal (same-session
        # sf1.0 A/B: decimal 2.26 s warm vs float 1.91 s — 1.18x; watch
        # medians settled it at 1.6-1.73 s, identical to the float-sum r9
        # record). corpus_curation_report joined after drawing 21.3 s in one
        # JVM vs 5.1 s in another the same day on identical code.
        # corpus_curation_with_quality + docs_domain_quality joined r11:
        # the r10 headline drew 32.2 s vs a 4.5 s fast-boot record on
        # identical code — the NB-fit memo landed the same round, so the
        # watch medians adjudicate what remains of the swing.
        # dedup_ngram_jaccard joined r12: single-sample draws of 23.2 s
        # (builder) vs 6.6 s (driver, same HEAD, same day) forced manual
        # adjudication twice — watch medians settle it in the artifact.
        "rts_smoother_events,corpus_clean_stats,dedup_clusters,"
        "q5_nation_revenue,corpus_curation_report,"
        "corpus_curation_with_quality,docs_domain_quality,"
        "dedup_ngram_jaccard",
    ).split(",") if q
]
SF2_WATCH_PROCS = max(1, int(os.environ.get("SPARK_GRAFT_SF2_WATCH_PROCS", "3")))
# --tier sf2 subprocess restriction (set by the orchestrator for the extra
# watch-item processes)
SF2_ONLY = [q for q in os.environ.get("SPARK_GRAFT_SF2_ONLY", "").split(",") if q]
SF2_DIR = os.environ.get(
    "SPARK_GRAFT_SF2_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_data", f"sf{SF2}"),
)
# the 10 most expensive headline queries (BENCH_r04 ranking)
SF2_QUERIES = [
    "dedup_clusters",
    "ann_ivf_kmeans",
    "corpus_clean_stats",
    "corpus_curation_report",  # round 8: the composed pipeline's scale curve
    "corpus_curation_with_quality",  # round 11: NB-memo adjudication (r10 flag)
    "docs_domain_quality",  # round 11: same fit, halves in-suite with the memo
    "docs_gopher_repetition",  # round 8: the arrow gate's scale curve
    "dedup_ngram_jaccard",
    "ann_ivf_topk",
    "gmm_events_value",
    "q5_nation_revenue",
    "ukf_events_local_level",
    "lkf_ols_multikey",
    "rts_smoother_events",
]


def _median_time(run) -> tuple[float, int, list]:
    """(median wall-clock, rowcount, raw per-repeat times) of REPEATS
    calls of run(). The raw list is recorded in BENCH_DETAIL so a reader
    can see the first-call/warm split per entry (times[0] is the cold
    call that pays JIT/codegen/fit memos) instead of re-adjudicating
    "is it the fit or the query" from the median alone."""
    times, n = [], 0
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        n = run()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), n, [round(t, 3) for t in times]

# representative slice: relational, windowed streaming-ish, dedup, simsearch,
# text, and the stateful estimation operators
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "events_hypertable_rollup",
    "events_window_stats",
    "events_user_activity",
    "events_asof_join",
    "events_range_join",
    "events_kmv_distinct",
    "docs_split_assign",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans",
    "dedup_semantic",  # new round 7: raises the suite total by its own wall
    "docs_dedup_substrings",  # new round 8: ditto
    "corpus_curation_report",  # new round 8: ditto
    "ann_pq_topk",  # new round 8: ditto
    "ann_ivfadc_topk",  # new round 8: ditto
    "docs_gopher_repetition",  # new round 8: ditto
    "docs_lm_perplexity",  # new round 8: ditto
    "docs_dsir_select",  # new round 8: ditto
    "docs_temperature_mix",  # new round 8: ditto
    "docs_c4_quality",  # new round 8: ditto
    "events_cms_topk",  # new round 8: ditto
    "docs_bm25_topk",  # new round 8: ditto
    "docs_decontaminate_bloom",  # new round 8: ditto
    "docs_unimax_mix",  # new round 8: ditto
    "docs_compression_ratio",  # new round 8: ditto (pytest-pinned, no SQL deflate)
    "docs_collocations",  # new round 8: ditto
    "events_kmv_overlap",  # new round 8: ditto
    "events_funnel",  # new round 8: ditto
    "events_retention_cohorts",  # new round 8: ditto
    "events_hll_union",  # new round 8: ditto
    "ann_filtered_topk",  # new round 8: ditto
    "docs_url_dedup",  # new round 9: URL-level first-stage dedup
    "docs_unigram_tokens",  # new round 9: learned-vocab token report
    "docs_quality_classifier",  # new round 10: NB curated-vs-crawl scorer
    "docs_wordpiece_tokens",  # new round 10: third tokenizer family
    "corpus_curation_with_quality",  # new round 10: full pipeline + NB stage
    "docs_chunk_windows",  # new round 10: sliding-window chunking
    "docs_normalize_text",  # new round 10: pre-shingle normalization pass
    "docs_source_divergence",  # new round 10: mixing-drift diagnostic
    "docs_domain_quality",  # new round 10: per-domain blocklist-curation input
    "docs_decontaminate_embedding",  # new round 10b: semantic eval-leak scan
    "docs_zipf_stats",  # new round 10b: vocabulary/Zipf diagnostics
    "embedding_outliers",  # new round 10b: label-cohesion outlier scan
    "dedup_keep_best",  # new round 10b: quality-aware cluster resolution
    "events_anomaly_zscore",  # new round 10b: rolling z-score anomalies
    "events_anomaly_robust",  # new round 10b: median/MAD anomalies
    "events_cusum_drift",  # new round 10b: closed-form CUSUM drift report
    "docs_decontaminate_minhash",  # new round 10c: cross-split near-dup leak scan
    "docs_group_split",  # new round 10c: domain-keyed leakage-safe split
    "events_profile",  # new round 10c: one-pass per-column table profile
    "events_value_psi",  # new round 10c: PSI distribution-drift report
    "docs_kn_perplexity",  # new round 10c: interpolated-KN perplexity buckets
    "q4_order_priority_exists",  # new round 10d: EXISTS semi-join shape
    "q12_priority_line_classes",  # new round 10d: fact-fact CASE aggregation
    "q14_promo_revenue",  # new round 10d: conditional revenue ratio
    "q16_supplier_part_variety",  # new round 10d: anti-join + COUNT DISTINCT
    "q22_idle_customer_balance",  # new round 10d: scalar-subquery threshold + anti-join
    "ann_knn_join",  # new round 10d: two-table batch retrieval join
    "docs_export_plan",  # new round 10d: sharded training-export manifest
    "events_skew_report",  # new round 10d: key-skew / salt-sizing diagnostics
    "events_zorder_layout",  # new round 10d: Morton-tile lake-layout manifest
    "q7_nation_volume",  # new round 10d: two-nation volume (dim-prefiltered star)
    "q15_top_supplier",  # new round 10d: revenue view == its own MAX
    "q18_large_volume_customers",  # new round 10d: HAVING semi-join detail
    "q19_disjunctive_revenue",  # new round 10d: OR-of-ANDs pushdown
    "docs_snapshot_diff",  # new round 10d: corpus snapshot diff report
    "q9_product_type_profit",  # new round 10d: multi-dim star profit rollup
    "q11_important_stock",  # new round 10d: share-of-total HAVING scalar
    "docs_tokenizer_eval",  # new round 10d: three-family tokenizer comparison
    "q2_min_cost_supplier",  # new round 10d: correlated-MIN decorrelation
    "q8_market_share",  # new round 10d: two-level conditional star agg
    "q20_excess_shipping",  # new round 10d: doubly-nested IN semi-join
    "q21_waiting_supplier",  # new round 10d: EXISTS/NOT-EXISTS double correlation
    "text_quality_score",
    "text_doc_features",
    "corpus_clean_stats",
    "lkf_events_local_level",
    "lkf_ols_multikey",
    "ukf_events_local_level",
    "rls_events_1d",
    "gmm_events_value",
    "rts_smoother_events",
    "mmae_events",
]


def _resolve(name):
    # headline entries may live beyond the 50-entry driver registry
    # (PYTEST_ORACLES holds (fn, sql) pairs; NO_SQL_QUERIES holds the
    # wrappers with no SQL-expressible oracle)
    from artan_spark.plans import NO_SQL_QUERIES, PYTEST_ORACLES, QUERIES

    if name in QUERIES:
        return QUERIES[name]
    if name in PYTEST_ORACLES:
        return PYTEST_ORACLES[name][0]
    return NO_SQL_QUERIES[name]


def _fresh_session(app_name: str):
    """One bench session: AQE/arrow flags from the library builder, console
    progress bars OFF so the driver's output capture stays parseable."""
    from artan_spark.sources import session_builder

    spark = (
        session_builder(
            app_name=app_name, master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
        )
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM (codegen, parquet reader) and the Python worker pool so
    # the first timed query doesn't absorb session startup
    from artan_spark.sources import read_table

    read_table(spark, SF_DIR, "region").count()
    spark.createDataFrame([(1,)], "x int").groupBy("x").applyInPandas(
        lambda p: p, "x int"
    ).count()
    return spark


def _run_tier(tier: str) -> dict:
    """One measurement tier in THIS process (the orchestrator spawns each
    tier as its own subprocess = its own fresh JVM).

    Round-8 adjudication: the sf1.0 list used to run after ~49 headline
    queries + the throughput sweep in an aged JVM, and the recorded numbers
    inherited 2-4x within-session climb on queries whose code had not
    changed (BENCH_r08 lkf_ols_multikey 31.8s vs 10s fresh). Per-tier
    process isolation makes the recorded artifact a measurement of the
    query, not of the suite's wake."""
    if tier == "headline":
        spark = _fresh_session("artan_spark-bench")
        timings: dict[str, float] = {}
        repeats: dict[str, list] = {}
        for name in HEADLINE:
            fn = _resolve(name)
            sec, n, raw = _median_time(lambda: fn(spark, SF_DIR).count())
            timings[name] = round(sec, 3)
            repeats[name] = raw
            print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        spark.stop()
        return {"queries": timings, "queries_repeats": repeats}

    if tier == "ops":
        # Per-operator throughput in its own session: suite history (JVM
        # heap/GC, listener state, worker pool) taxes the Python-fold
        # operators ~30% — measured 47.7k rows/s for vectorized LKF inside
        # the suite session vs 73k fresh (the round-1 baseline's condition).
        spark = _fresh_session("artan_spark-bench-ops")
        throughput = _operator_throughput(spark)
        spark.stop()
        return {"operator_rows_per_sec": throughput}

    if tier == "sf2":
        # standalone `bench.py --tier sf2` must work on a clean checkout:
        # generation is numpy/pyarrow-only (no JVM) and idempotent, so it
        # does not age the measured session (r9 ADVICE)
        from artan_spark.sources.datagen import ensure_generated

        ensure_generated(float(SF2), SF2_DIR)
        # Two noise sources, handled separately (round-9 A/B):
        # 1. COLD vs WARM: a query's first execution in a session pays
        #    JIT/codegen/worker-pool/fit-memo costs 2-4x its steady state
        #    (corpus_curation_report 22.0 s cold, 5.8 s warm, same idle
        #    machine) — so each process runs REPEATS2 in-process repeats
        #    and medians them, recording the WARM number (what r1-r8
        #    recorded, so round-over-round deltas stay meaningful).
        # 2. PER-JVM DRAW: whole fresh-process runs still swing 2-3x with
        #    the JVM's heap/JIT/GC draw and host contention
        #    (gmm_events_value warm-median 8.9 vs 24.0 s in back-to-back
        #    sessions) — the orchestrator launches this tier SF2_PROCS
        #    times and medians the process-medians.
        spark = _fresh_session("artan_spark-bench-sf2")
        timings2: dict[str, float] = {}
        repeats2: dict[str, list] = {}
        for name in (SF2_ONLY or SF2_QUERIES):
            fn = _resolve(name)
            runs = []
            for _ in range(REPEATS2):
                t0 = time.perf_counter()
                n = fn(spark, SF2_DIR).count()
                runs.append(time.perf_counter() - t0)
            timings2[name] = round(statistics.median(runs), 3)
            repeats2[name] = [round(t, 3) for t in runs]
            print(f"# sf{SF2} {name}: {timings2[name]:.3f}s ({n} rows)", file=sys.stderr)
        spark.stop()
        return {"queries_sf2": timings2, "queries_sf2_repeats": repeats2}

    raise SystemExit(f"unknown tier {tier!r}")


def main() -> None:
    import subprocess

    if "--tier" in sys.argv:
        part = _run_tier(sys.argv[sys.argv.index("--tier") + 1])
        print(json.dumps(part, separators=(",", ":")), flush=True)
        return

    # Orchestrator: each tier is a subprocess (fresh JVM + fresh Python
    # worker pool), partial JSON on the child's last stdout line; progress
    # lines pass through on stderr. Data generation is numpy/pyarrow-only
    # (no JVM) so it runs here without aging any measured session.
    if SF2:
        from artan_spark.sources.datagen import ensure_generated

        ensure_generated(float(SF2), SF2_DIR)

    def run_tier(tier: str, only: list[str] | None = None) -> dict:
        env = dict(os.environ)
        if only:
            env["SPARK_GRAFT_SF2_ONLY"] = ",".join(only)
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tier", tier],
            stdout=subprocess.PIPE,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            env=env,
        )
        if r.returncode != 0:
            raise SystemExit(f"bench tier {tier!r} failed with rc={r.returncode}")
        lines = [ln for ln in r.stdout.decode().splitlines() if ln.strip()]
        return json.loads(lines[-1])

    parts: dict = {}
    parts.update(run_tier("headline"))
    parts.update(run_tier("ops"))
    if SF2:
        # median of per-process WARM medians across independent JVMs
        # (see the sf2 tier comment for the two noise sources)
        sf2_parts = [run_tier("sf2") for _ in range(SF2_PROCS)]
        samples = [sp["queries_sf2"] for sp in sf2_parts]
        # watch items get SF2_WATCH_PROCS independent JVMs regardless:
        # extra watch-only processes top the sample count up
        watch = [q for q in SF2_WATCH if q in samples[0]]
        for _ in range(max(0, SF2_WATCH_PROCS - SF2_PROCS)):
            if not watch:
                break
            wp = run_tier("sf2", only=watch)
            sf2_parts.append(wp)
            samples.append(wp["queries_sf2"])
        # per-process raw repeat lists: [cold, warm, ...] per entry
        parts["queries_sf2_repeats"] = [
            sp.get("queries_sf2_repeats", {}) for sp in sf2_parts
        ]
        parts["queries_sf2"] = {
            name: round(
                statistics.median(s[name] for s in samples if name in s), 3
            )
            for name in samples[0]
        }
        parts["queries_sf2_samples"] = {
            name: [s[name] for s in samples if name in s] for name in samples[0]
        }

    try:
        sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or "0.1")
    except ValueError:
        sf = -1.0

    # warm-min per entry: min over repeats AFTER the cold first call —
    # the draw-insensitive number round-over-round comparison should key
    # on (medians still absorb one bad draw out of three)
    warm_min = {
        name: round(min(runs[1:] or runs), 3)
        for name, runs in parts.get("queries_repeats", {}).items()
    }

    detail = {
        "metric": "headline_suite_runtime",
        "value": round(sum(parts["queries"].values()), 3),
        "unit": "sec",
        "queries": parts["queries"],
        "operator_rows_per_sec": parts["operator_rows_per_sec"],
        # raw per-repeat times: [cold, warm, ...] per entry — the
        # first/warm split that ends fit-vs-query adjudications
        "queries_repeats": parts.get("queries_repeats", {}),
        "queries_warm_min": warm_min,
        "value_warm_min": round(sum(warm_min.values()), 3) if warm_min else None,
        "sf": sf,
    }
    if SF2:
        detail["sf2"] = float(SF2)
        detail["sf2_procs"] = SF2_PROCS
        detail["sf2_watch"] = SF2_WATCH
        detail["sf2_watch_procs"] = SF2_WATCH_PROCS
        detail["queries_sf2"] = parts["queries_sf2"]
        detail["queries_sf2_samples"] = parts["queries_sf2_samples"]
        detail["queries_sf2_repeats"] = parts["queries_sf2_repeats"]
        detail["value_sf2"] = round(sum(parts["queries_sf2"].values()), 3)
        # warm-min across ALL processes (min of every post-cold repeat):
        # the per-JVM-draw-insensitive floor for the watch items
        wm2: dict[str, float] = {}
        for sp in parts["queries_sf2_repeats"]:
            for name, runs in sp.items():
                w = min(runs[1:] or runs)
                wm2[name] = min(w, wm2.get(name, w))
        detail["queries_sf2_warm_min"] = {k: round(v, 3) for k, v in wm2.items()}

    # Full per-query map -> a tracked artifact; the driver's stdout-tail
    # window is smaller than the full map (r8 AND r9 both recorded
    # "parsed": null because the ~2.2 KB line overflowed it and the FRONT
    # was clipped). The LAST stdout line is a <1.2 KB summary that fits:
    # suite totals, the worst queries, per-tier medians.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")

    ops = sorted(parts["operator_rows_per_sec"].values())
    worst = dict(
        sorted(parts["queries"].items(), key=lambda kv: -kv[1])[:10]
    )
    out = {
        "metric": "headline_suite_runtime",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(parts["queries"]),
        "value_warm_min": detail["value_warm_min"],  # draw-insensitive floor
        "queries": worst,  # 10 slowest; full map in BENCH_DETAIL.json
        "ops_rows_per_sec": {
            "min": ops[0],
            "median": int(statistics.median(ops)),
            "max": ops[-1],
        },
        "detail": "BENCH_DETAIL.json",
    }
    if SF2:
        out["sf2"] = float(SF2)
        out["value_sf2"] = detail["value_sf2"]
        out["queries_sf2"] = parts["queries_sf2"]

    # The metric JSON must survive the driver's tail capture: compact form,
    # printed as the very LAST line, flushed, with no Spark shutdown noise
    # after it (every child session already stopped in its own process).
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1200:  # hard budget: drop sf2 per-query, then worst map
        out.pop("queries_sf2", None)
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1200:
        out["queries"] = dict(list(worst.items())[:3])
        line = json.dumps(out, separators=(",", ":"))
    sys.stderr.flush()
    print(line, flush=True)


def _operator_throughput(spark) -> dict[str, int]:
    import numpy as np
    from pyspark.sql import functions as F

    from artan_spark.operators import (
        ExtendedKalmanFilter,
        LinearKalmanFilter,
        LinearKalmanSmoother,
        MultivariateGaussianMixture,
        RecursiveLeastSquaresFilter,
    )
    from artan_spark.sources import read_table

    e = read_table(spark, SF_DIR, "events").cache()
    n_rows = e.count()
    out: dict[str, int] = {}

    def rate(name: str, op, df) -> None:
        sec, _, _raw = _median_time(lambda: op.transform(df).count())
        out[name] = int(n_rows / sec)
        print(f"# {name}: {out[name]} rows/s", file=sys.stderr)

    for n_keys in (10, 1000):
        key = (F.col("event_id") % n_keys).cast("string").alias("key")

        lkf = (
            LinearKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setInitialStateCovariance(np.array([[100.0]]))
            .setProcessNoise(np.array([[1.0]]))
            .setMeasurementNoise(np.array([[10.0]]))
        )
        df = e.select(key, F.array("value").alias("measurement"))
        rate(f"lkf_{n_keys}keys", lkf, df)

        if n_keys >= 1000:
            # the many-small-models shape: per-group call overhead dominates
            # at ~100 rows/group; the vectorized multi-key fold amortizes it.
            # Buckets PINNED to the sweep optimum (base.py resolve_engine
            # sizes them otherwise) so the recorded number measures the
            # fold, not the auto heuristic. With
            # the scalar 1-D fast path (vectorized.py
            # vectorized_scalar_lkf_fold_factory) the fold is cheap enough
            # that task parallelism wins: sweep (median-of-5, quiet machine)
            # 2: 119k, 4: 86k, 8: 132k, 16: 114k rows/s -> pin 8.
            rate(
                f"lkf_{n_keys}keys_vectorized",
                lkf.copy().setVectorizedBatch(True).setVectorizedBuckets(8),
                df,
            )

        rls = RecursiveLeastSquaresFilter(1).setStateKeyCol("key")
        df = e.select(key, F.col("value").alias("label"), F.array(F.lit(1.0)).alias("features"))
        rate(f"rls_{n_keys}keys", rls, df)
        if n_keys >= 1000:
            rate(
                f"rls_{n_keys}keys_vectorized",
                rls.copy().setVectorizedBatch(True).setVectorizedBuckets(8),
                df,
            )

        gmm = (
            MultivariateGaussianMixture()
            .setStateKeyCol("key")
            .setInitialMeans([[25.0], [75.0]])
            .setInitialCovariances([[100.0], [100.0]])
            .setMinibatchSize(20)
            .setStepSize(0.1)
        )
        df = e.select(key, F.array("value").alias("sample"))
        rate(f"gmm_{n_keys}keys", gmm, df)

        if n_keys >= 1000:
            rate(f"gmm_{n_keys}keys_vectorized", gmm.copy().setVectorizedBatch(True), df)
            # the per-row stochastic-EM shape (gmm_events_value): fused
            # scalar minibatch-1 path + flat primitive emission
            rate(
                f"gmm_{n_keys}keys_mb1_vectorized",
                gmm.copy().setMinibatchSize(1).setVectorizedBatch(True),
                df,
            )

            sm = (
                LinearKalmanSmoother(1, 1)
                .setStateKeyCol("key")
                .setInitialStateCovariance(np.array([[100.0]]))
                .setProcessNoise(np.array([[1.0]]))
                .setMeasurementNoise(np.array([[10.0]]))
                .setFixedLag(10)
            )
            df = e.select(key, F.array("value").alias("measurement"))
            for vec, tag in ((False, ""), (True, "_vectorized")):
                rate(f"smoother_{n_keys}keys{tag}", sm.copy().setVectorizedBatch(vec), df)

            ekf = (
                ExtendedKalmanFilter(1, 1)
                .setStateKeyCol("key")
                .setInitialStateCovariance(np.array([[10.0]]))
                .setProcessNoise(np.array([[0.1]]))
                .setMeasurementNoise(np.array([[5.0]]))
                .setMeasurementFunction(_bench_exp_fn)
                .setMeasurementStateJacobian(_bench_exp_jac)
            )
            for vec, tag in ((False, ""), (True, "_vectorized")):
                rate(f"ekf_{n_keys}keys{tag}", ekf.copy().setVectorizedBatch(vec).setVectorizedFunctions(vec), df)

    # the rows-per-key serial bound (base.py): ONE key, every row — the
    # sequential fold is a single serial chain here, the scan engine
    # (Särkkä & García-Fernández 2021 associative formulation) runs
    # ~log2(N) full-width numpy passes instead (measured 22x at 1M
    # rows/key standalone; at sf0.1's 100k rows the gap is smaller but
    # the SHAPE is the recorded scale argument)
    one_key = e.select(F.lit("k").alias("key"), F.array("value").alias("measurement"))
    hot = (
        LinearKalmanFilter(1, 1)
        .setStateKeyCol("key")
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[10.0]]))
        .setVectorizedBatch(True)
    )
    # explicit pins: foldEngine="auto" (the default) resolves these shapes
    # to the scan, so the sequential rows need the escape hatch to keep
    # measuring the serial fold they are named after
    rate("lkf_1key_sequential", hot.copy().setFoldEngine("sequential"), one_key)
    rate("lkf_1key_scan", hot.copy().setFoldEngine("scan"), one_key)
    # the CROSS-TASK engine (operators/distscan.py): two/three shuffles +
    # a driver prefix buy #chunks-way task parallelism for the hot key.
    # At sf0.1 (100k rows) shuffle overhead eats part of the win — the
    # rows record the SHAPE; the standalone 1M-rows/key medians-of-3
    # (local[32], idle, r12) are the scale record: LKF sequential 14.3k /
    # scan 60.4k / distributedScan 162k rows/s; RLS 27.4k / 38.5k / 159k;
    # smoother(lag 10) scan 14.8k (the one-task backward emission binds
    # at this length) / distributedScan 187k.
    one_key_ts = e.select(
        F.lit("k").alias("key"), F.col("ts"), F.array("value").alias("measurement")
    )
    rate(
        "lkf_1key_distscan",
        hot.copy()
        .setEventTimeCol("ts")
        .setFoldEngine("distributedScan")
        .setScanChunkDuration("12 hours"),
        one_key_ts,
    )
    hot_sm = (
        LinearKalmanSmoother(1, 1)
        .setStateKeyCol("key")
        .setInitialStateCovariance(np.array([[100.0]]))
        .setProcessNoise(np.array([[1.0]]))
        .setMeasurementNoise(np.array([[10.0]]))
        .setFixedLag(10)
        .setVectorizedBatch(True)
    )
    rate("smoother_1key_sequential", hot_sm.copy().setFoldEngine("sequential"), one_key)
    rate("smoother_1key_scan", hot_sm.copy().setFoldEngine("scan"), one_key)
    rate(
        "smoother_1key_distscan",
        hot_sm.copy()
        .setEventTimeCol("ts")
        .setFoldEngine("distributedScan")
        .setScanChunkDuration("12 hours"),
        one_key_ts,
    )
    # n-D (2-state local linear trend) smoother: the r12 scan extension —
    # matrix elements + anchor-vectorized backward window
    hot_sm2 = (
        LinearKalmanSmoother(2, 1)
        .setStateKeyCol("key")
        .setInitialStateMean(np.zeros(2))
        .setInitialStateCovariance(100.0 * np.eye(2))
        .setProcessModel(np.array([[1.0, 1.0], [0.0, 1.0]]))
        .setProcessNoise(np.array([[0.2, 0.0], [0.0, 0.05]]))
        .setMeasurementModel(np.array([[1.0, 0.0]]))
        .setMeasurementNoise(np.array([[8.0]]))
        .setFixedLag(10)
        .setVectorizedBatch(True)
    )
    rate("smoother2d_1key_sequential", hot_sm2.copy().setFoldEngine("sequential"), one_key)
    rate("smoother2d_1key_scan", hot_sm2.copy().setFoldEngine("scan"), one_key)
    one_key_rls = e.select(
        F.lit("k").alias("key"),
        F.col("value").alias("label"),
        F.array(F.lit(1.0)).alias("features"),
    )
    hot_rls = RecursiveLeastSquaresFilter(1).setStateKeyCol("key").setVectorizedBatch(True)
    rate("rls_1key_sequential", hot_rls.copy().setFoldEngine("sequential"), one_key_rls)
    rate("rls_1key_scan", hot_rls.copy().setFoldEngine("scan"), one_key_rls)
    one_key_rls_ts = e.select(
        F.lit("k").alias("key"),
        F.col("ts"),
        F.col("value").alias("label"),
        F.array(F.lit(1.0)).alias("features"),
    )
    rate(
        "rls_1key_distscan",
        hot_rls.copy()
        .setEventTimeCol("ts")
        .setFoldEngine("distributedScan")
        .setScanChunkDuration("12 hours"),
        one_key_rls_ts,
    )
    e.unpersist()
    return out


def _bench_exp_fn(m, H):
    import numpy as np

    m = np.asarray(m)
    if m.ndim == 2:  # vectorizedFunctions contract
        lin = np.einsum("aij,aj->ai", H, m) if H.ndim == 3 else m @ H.T
        return np.exp(0.1 * lin)
    return np.exp(0.1 * (H @ m))


def _bench_exp_jac(m, H):
    import numpy as np

    m = np.asarray(m)
    if m.ndim == 2:
        lin = np.einsum("aij,aj->ai", H, m) if H.ndim == 3 else m @ H.T
        return 0.1 * np.exp(0.1 * lin)[:, :, None] * (H if H.ndim == 3 else H[None, :, :])
    return 0.1 * np.exp(0.1 * (H @ m))[:, None] * H


if __name__ == "__main__":
    main()

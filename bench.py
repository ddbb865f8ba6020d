#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Pipeline shape mirrors production (and the reference): an *ingest* stage
materializes the normalized event relation once (the reference normalizes every
event in Python before ClickHouse, etl.py:16-49; we pay it once, columnar), then
queries run against the materialized relation so their plans are small, codegen
stays under janino limits, and scans prune columns/partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from qradar_restapi_kafka_datapipeline_spark.engine import get_spark
from qradar_restapi_kafka_datapipeline_spark.entry_queries import registry, setup

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _loadavg() -> list[float] | None:
    """1/5/15-min load — lets a reader adjudicate co-tenant noise (this host
    is shared; loadavg spikes of 10-25 inflate every timing uniformly)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None

# Representative coverage: flagship AQL, GLOBALVIEW scan, every §2B operator
# family, and the multi-join/window analytics. Dedup/similarity entries are
# included when present in the registry.
HEADLINE = [
    "aql_AllowedInboundTraffic",
    "aql_AllowedOutboundTraffic",
    "aql_TopSecurityEvents",
    "incidr_classification",
    "full_network_name",
    "refset_membership",
    "summing_rollup_hourly",
    "normalize_dates",
    "aql_agg_by_customer",
    "sessionize_events",
    "salted_rollup",
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "top_users_per_event_type",
    "dedup_exact",
    "dedup_prefix",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "contamination_check",
    "text_quality_scores",
    "text_repetition_stats",
    "knn_bruteforce_cosine",
    "pii_redaction_report",
    "boilerplate_ngrams",
    "boilerplate_doc_coverage",
    "dedup_incremental",
    "dedup_minhash_incremental",
    "dedup_exact_substring",
    "dedup_exact_substring_apply",
    "aql_day_pruned_scan",
    "multimodal_png_decode",
    "knn_ivf_persisted",
    "resample_hourly_gapfill",
    "user_status_intervals",
    "dedup_passages",
    "dedup_passage_spans",
    "text_unigram_loglik",
    "text_tfidf_topk",
    "text_winnow_overlap",
    "curate_blocklist",
    "mix_to_target_weights",
    "event_transition_matrix",
    "beaconing_score",
    "multimodal_wav_decode",
    # round 4
    "sessionize_events_bucketed",
    "text_bpe_tokenize",
    "multimodal_jpeg_decode",
    "multimodal_bmp_resize",
    "corpus_drift_js",
    "snapshot_diff_report",
    "window_funnel_conversion",
    "cohort_retention_exact",
    "sample_exact_k_per_stratum",
    # round 9
    "window_funnel_strict_order",
    "dedup_image_phash",
    "dedup_image_phash_clusters",
    "sketch_kmv_cohort",
    "hysteresis_alert_episodes",
    "event_path_trigrams",
    "knn_ivf_appended",
    "knn_ivf_rebalanced",
    "aql_parameterized",
    # the dense-bucket-capped AllPairs config — the bounded-candidate regime
    # a power-law corpus needs; the uncapped prefix entry stays gate-checked
    # but its cost on THIS corpus is dominated by the synthetic 31-word
    # vocabulary's degenerate bucket occupancy (measured 19 s vs 6.5 s).
    "text_semantic_pairs_hashed_capped",
    # aggregate navigator: the routed scan reads pre-collapsed hourly rows
    "aql_auto_rollup_routed",
    # round 5: re-aggregation rewrite — day grain + dim subset +
    # COUNT(DISTINCT dim) re-aggregated from the hourly view
    "aql_auto_rollup_reagg",
    # round 5: PQ codes + ADC serving (cold pays codebook training, memoized)
    "knn_pq_adc",
    # round 5: IVF-PQ — pruned partitions + compressed codes, no raw vectors
    "knn_ivfpq_persisted",
    # round 5: Okapi BM25 ranked retrieval, integer-exact contributions
    "text_bm25_topk",
    # round 5: distilled quality classifier applied corpus-wide (cold pays
    # the bounded driver-side training, memoized)
    "curate_quality_classifier",
    # persisted text-search serving (cold pass pays the index build, memoized)
    "text_knn_indexed",
    # train-side decontamination (semi-join against the eval shingles)
    "decontaminate_train",
    # round 5b: CCNet head/middle/tail terciles over the bigram-LM score
    "curate_ccnet_buckets",
    # round 5b: quality-aware canonical per near-dup cluster
    "dedup_cluster_representatives",
    # round 6: COUNT(*)/AVG routed through the views' summed n_rows measure
    "aql_auto_rollup_count",
    # round 6: MMR diversification — exact pool and IVF-PQ-served pool
    "knn_mmr_diversified",
    "knn_mmr_ivfpq",
    # round 6: Z-order layout pass (Morton keys + range repartition)
    "zorder_layout_keys",
    # round 6: mergeable sketches — CM heavy hitters + HLL distinct +
    # fixed-universe histogram quantiles
    "sketch_cm_heavy_hitters",
    "sketch_hll_distinct",
    "sketch_histogram_quantiles",
    # round 6: uniqState/uniqMerge — per-day distinct from the hourly cube
    "sketch_hll_daily_cube",
    # round 6: DSIR importance-resampling data selection
    "curate_dsir_topk",
    # round 7: MIN/MAX(eventCount) routed through the min/max view states
    "aql_auto_rollup_minmax",
    # round 7: HDR rank quantiles — the unbounded-domain sketch
    "sketch_rank_quantiles",
    # round 7: frozen-DSIR incremental apply (cold pays the selector build,
    # memoized — the stream-scoring shape timed as a batch pass)
    "curate_dsir_apply",
    # round 7: KMV set algebra, cube-served rolling distinct, chunking
    "sketch_kmv_jaccard",
    "sketch_hll_rolling_distinct",
    "text_chunk_windows",
    # round 7: cohort retention from the KMV time cube
    "sketch_kmv_retention",
    # round 7: chunk-level retrieval (the RAG serving composition)
    "text_chunk_knn",
    # round 10: hot-user-safe event-sequence twins (plain forms above stay
    # for the crossover comparison) + the refined IVF-PQ serve (ADC
    # shortlist re-ranked by exact cosine — the production ANN path)
    "window_funnel_bucketed",
    "event_path_trigrams_bucketed",
    "knn_ivfpq_refined",
    "multimodal_video_frames",
    "window_funnel_latency",
    # round 11: √n auto-geometry build→refine serve, streamed IVF append
    # (steady = serve over base ∪ per-epoch log), audio fingerprint dedup
    # (cluster form — the scale shape)
    "knn_ivfpq_auto_refined",
    "streaming_ivf_append_parity",
    "dedup_audio_fingerprint_clusters",
    "text_hybrid_rrf",
    "knn_ivf_deleted",
    "rollup_time_travel",
    # round 12: hybrid serve with BOTH constituents from the on-disk
    # artifact (steady = two index reads + bounded fusion), and the
    # streamed-codes IVF-PQ serve (steady = refined serve over the
    # base ∪ codes_stream trees).  The delete/globalview parity entries
    # stay out of bench like their replay-parity siblings — every timed
    # pass would re-run the whole stream by construction.
    "text_hybrid_rrf_indexed",
    "streaming_ivfpq_append_parity",
    # round 13: the production hybrid (BM25 tf-artifact serve fused with
    # the real IVF-PQ refined serve) and the one-call multi-index
    # takedown composition (steady = the four post-takedown serves —
    # masked text knn, compacted hybrid fusion, tombstone-anti-joined
    # ivf + ivfpq — over memoized builds)
    "text_hybrid_rrf_ivfpq",
    "takedown_all_indexes_parity",
]
# Round 11 (VERDICT r10 #5, the r9 #8 growth policy now due at 100
# entries): one-time builds are SPLIT out of the steady section.  Every
# name below runs ONCE before the timed passes — that run pays the
# memoized artifact build (index/codebook/vocab/classifier training, day
# partition or qevents materialization) and is recorded under
# ``cold_builds``; the two timed passes then measure only the steady
# serve.  ``value`` is therefore the pure steady total from this round
# on; ``cold_build_value`` carries the build costs (BASELINE.md notes
# the r10→r11 composition change).
COLD_BUILDS = [
    "aql_day_pruned_scan",        # day-partition materialization
    "text_bpe_tokenize",          # BPE vocab train (also feeds fertility)
    "curate_dsir_topk",           # DSIR hashed-count selector build
    "curate_dsir_apply",          # frozen-selector artifact
    "curate_quality_classifier",  # driver-side classifier training
    "text_knn_indexed",           # text postings index build
    "text_chunk_knn",             # chunk postings index build
    "sketch_kmv_retention",       # KMV day cube build
    "sketch_kmv_cohort",
    "knn_ivf_persisted",          # IVF index builds + lifecycle
    "knn_ivf_appended",
    "knn_ivf_rebalanced",
    "knn_ivf_deleted",
    "rollup_time_travel",       # 3-epoch txn-table build
    "text_hybrid_rrf",          # on-disk hybrid artifact build (r12)
    "text_hybrid_rrf_indexed",  # shares the artifact; cold pays the read
    "streaming_ivf_append_parity",
    "streaming_ivfpq_append_parity",  # base build + streamed code parts
    "knn_pq_adc",                 # PQ codebook train
    "knn_ivfpq_persisted",        # IVF-PQ index builds
    "knn_ivfpq_refined",
    "knn_ivfpq_auto_refined",
    "knn_mmr_ivfpq",
    "text_hybrid_rrf_ivfpq",        # shares the ivfpq + hybrid artifacts
    "takedown_all_indexes_parity",  # 4 private index builds + the fan-out
]


def _extra_paths():
    """Bench-only callables for names whose PRODUCTION mode differs from the
    registry's oracle mode.  ``dedup_minhash_lsh`` times the xxhash64 fast
    path a cluster would run (64 long-mixes per shingle); the registry entry
    of the same name runs the md5-portable mode so DuckDB can recompute the
    whole pipeline.  Same plan shape, different hash family — the number here
    is the production one, continuous with BENCH_r01."""
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D

    return {
        "dedup_minhash_lsh": lambda spark, sf: D.minhash_lsh_pairs(
            spark.table("documents"), threshold=0.3
        ),
        "dedup_minhash_incremental": lambda spark, sf: D.incremental_minhash_pairs(
            spark.table("documents").where("doc_id % 7 = 0"),
            spark.table("documents").where("doc_id % 7 != 0"),
            threshold=0.3,
        ),
    }


def _consume(df) -> int:
    """Execute the full plan without driver-side materialization."""
    return df.write.format("noop").mode("overwrite").save() or 0


#: quiet-host reference for the calibration probe, measured 2026-08-15 at
#: loadavg 0.06 (min of 3) — the same run that recorded the round-6 71-query
#: band (76.6 s; BASELINE.md "Round 6").  Normalized totals = raw *
#: (PROBE_REF_SEC / probe_sec): > raw when the host was slower than
#: reference at bench time, < raw when faster.  Observed probe spread on
#: this shared box: ~0.55-0.70 quiet, 1.0+ under co-tenant load.  Re-pin
#: only together with re-recording BASELINE bands.
#:
#: VALIDITY WINDOW (r6 verdict #3): the probe is a single serial-ish
#: workload while the suite amortizes load across 32 cores, so under heavy
#: co-tenancy the probe inflates MORE than the suite and normalization
#: over-corrects (r6 driver run: probe 1.79x slow, suite only 1.07x slow →
#: normalized total read as a 40% speedup that didn't happen).  Trust
#: value_probe_normalized only when probe_sec <= ~1.3x PROBE_REF_SEC;
#: beyond that, adjudicate with per-query min-of-runs on a quieter pass.
PROBE_REF_SEC = 0.583


def _calibration_probe(spark) -> float:
    """Fixed synthetic workload timed at bench start (VERDICT r5 #4): a
    constant-size generate → project → hash-agg → sort with NO I/O, so its
    runtime tracks host CPU/scheduler speed and nothing else.  Recorded as
    ``probe_sec`` so readers can separate host drift from code regressions —
    round 5 burned a full A/B re-run proving a 24% across-the-board "slowdown"
    was the shared sandbox, not the code.  Min of 3 runs (first pays codegen
    compile; co-tenant spikes hit single runs)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _consume(
            spark.range(0, 20_000_000, 1, 32)
            .selectExpr(
                "id % 9973 AS k",
                "CAST(id * 2654435761 % 1000003 AS BIGINT) AS v",
            )
            .groupBy("k")
            .agg({"v": "sum", "*": "count"})
            .orderBy("k")
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    load_before = _loadavg()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    timings: dict[str, float] = {}
    total = 0.0

    # Ingest stage: materialize the normalized event relation (timed).
    tmp = tempfile.mkdtemp(prefix="bench_qevents_")
    try:
        # Untimed engine warm-up, consistent with the steady-state query
        # policy below: the very first parquet read in a JVM pays ~3 s of
        # one-time datasource classloading — a per-process constant that
        # amortizes to zero on a long-running cluster, not ingest work.
        spark.read.parquet(f"{SF_DIR}/region.parquet").count()
        probe_sec = _calibration_probe(spark)

        t0 = time.time()
        # events.parquet is one file → one partition; spread the SOURCE before
        # the derivation so the projection itself runs wave-parallel (at real
        # scale the source arrives pre-split)
        frontend = setup(spark, SF_DIR, events_partitions=32)
        # lz4 for the hot intermediate: measured 2.4x faster to write than
        # snappy on this relation at identical size and read speed — the
        # right codec for a materialization that exists to be re-scanned
        spark.table("qevents").write.mode("overwrite").option(
            "compression", "lz4"
        ).parquet(f"{tmp}/qevents")
        spark.read.parquet(f"{tmp}/qevents").createOrReplaceTempView("qevents")
        # re-derive the views that read qevents so they use the materialized one
        from qradar_restapi_kafka_datapipeline_spark.views import (
            register_globalviews,
            register_ref_sets,
        )

        register_globalviews(spark)
        register_ref_sets(spark)
        ingest_sec = round(time.time() - t0, 3)

        extra = _extra_paths()

        def _runner(name):
            return extra.get(name) or (reg[name].run if name in reg else None)

        # Cold section: every memoized one-time build pays its cost HERE,
        # recorded separately — the steady passes below then time only
        # the serve shape a long-running cluster job repeats.
        cold_builds: dict[str, float] = {
            "ingest_materialize_qevents": ingest_sec
        }
        for name in COLD_BUILDS:
            runner = _runner(name)
            if runner is None:
                continue
            t0 = time.time()
            _consume(runner(spark, SF_DIR))
            cold_builds[name] = round(time.time() - t0, 3)

        # Two passes per query; report the per-query MIN (steady state).
        # Pass 1 pays one-time codegen compilation and any co-tenant CPU
        # spikes on this shared host (observed 15-20 s lands on a random
        # query); pass 2 measures the plan itself — the number that scales
        # to a long-running cluster job. Both passes are recorded.
        cold: dict[str, float] = {}
        for passno in range(2):
            for name in HEADLINE:
                runner = _runner(name)
                if runner is None:
                    continue
                t0 = time.time()
                _consume(runner(spark, SF_DIR))
                dt = round(time.time() - t0, 3)
                if passno == 0:
                    cold[name] = dt
                    timings[name] = dt
                else:
                    timings[name] = min(timings[name], dt)
        total = round(sum(timings.values()), 3)
        cold_build_value = round(sum(cold_builds.values()), 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Self-describing interference tag (round 13, VERDICT r12 #7): a run
    # captured under co-tenant load should SAY so in its own JSON instead
    # of needing forensic probe comparison afterwards (the r12 driver run
    # was 1.23x median-inflated and read as a regression until adjudicated
    # by hand).  Thresholds mirror the documented adjudication protocol:
    # probe beyond ~1.3x the quiet reference, or a busy host at start.
    band = (
        "loaded"
        if probe_sec > 1.3 * PROBE_REF_SEC
        or (load_before is not None and load_before[0] > 2.0)
        else "quiet"
    )
    if band == "loaded":
        print(
            f"WARNING: loaded-host run (probe {probe_sec:.3f}s vs ref "
            f"{PROBE_REF_SEC}s, loadavg {load_before}) — timings are "
            "interference-inflated; adjudicate per BASELINE.md protocol",
            file=sys.stderr,
        )
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "band": band,
        "probe_sec": probe_sec,
        "probe_ref_sec": PROBE_REF_SEC,
        "value_probe_normalized": round(total * PROBE_REF_SEC / probe_sec, 3),
        "queries": timings,
        "methodology": "one-time builds (index/vocab/classifier training, "
        "materializations) run first and are recorded under cold_builds; "
        "steady value = per-query min of 2 subsequent runs; first steady "
        "pass under cold_queries",
        "cold_builds": cold_builds,
        "cold_build_value": cold_build_value,
        "cold_queries": cold,
        "cold_value": round(sum(cold.values()), 3),
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "sf": sf_val,
    }
    print(json.dumps(full))
    # Durable copy: tail-capture of stdout truncated BENCH_r02.json at the
    # front, losing the steady headline — the file always has the whole thing.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_full.json"), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    # Short summary second-to-last: a tail-capture that clips the final
    # line still keeps the headline steady value + load context.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "band": band,
                "probe_sec": probe_sec,
                "value_probe_normalized": full["value_probe_normalized"],
                "cold_build_value": cold_build_value,
                "cold_value": full["cold_value"],
                "n_queries": len(timings),
                "loadavg_before": load_before,
                "loadavg_after": full["loadavg_after"],
                "sf": sf_val,
                "note": "summary; per-query timings in the final line below "
                "and in bench_full.json",
            }
        )
    )
    # Contract line LAST (round 14, VERDICT r13 #2): the driver parses the
    # FINAL one-line JSON and needs the per-query dict there to build its
    # per-query speedup table and scaling map (PERF r12/r13 both had
    # n_common: 0 because the old final line was a summary without
    # ``queries``).  Compact separators keep the line small; the timings
    # are the identical steady min-of-2 values as the full line above —
    # same methodology, nothing re-measured.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "band": band,
                "probe_sec": probe_sec,
                "value_probe_normalized": full["value_probe_normalized"],
                "cold_build_value": cold_build_value,
                "cold_value": full["cold_value"],
                "n_queries": len(timings),
                "queries": timings,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()

"""Driver-contract guards for __spark_entry__.

The driver calls ``entry(spark)`` on a VANILLA SparkSession (none of
get_spark()'s confs) and expects ``queries()`` / ``oracle_sql()`` to be
mutually consistent.  These tests lock that interface so a registry refactor
can't silently break the gate.
"""

import importlib.util
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _entry_module():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_key_consistency():
    mod = _entry_module()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 90
    # every oracle key must name a real query; every oracle is non-empty SQL
    assert set(oracles) <= set(qs)
    assert all(isinstance(o, str) and o.strip() for o in oracles.values())
    # the vast majority of entries are value-checked (rows-only is the
    # documented exception for Spark-native-hash operators)
    assert len(oracles) >= len(qs) - 8


def test_entry_runs_on_vanilla_session():
    # a FRESH builder with no engine confs — exactly how the driver calls it;
    # setup() must apply the runtime-settable confs itself.  Run in a
    # SUBPROCESS: getOrCreate inside this pytest process would return the
    # session fixture's (non-vanilla) session, and stopping it would kill it
    # for every later test.
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys, importlib.util; sys.path.insert(0, %r)\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', %r)\n"
        "mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').appName('vanilla').getOrCreate()\n"
        "df = mod.entry(spark)\n"
        "rows = df.collect()\n"
        "assert len(df.schema.fields) > 5\n"
        "print('ENTRY_OK', len(rows))\n"
    ) % (repo, os.path.join(repo, "__spark_entry__.py"))
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert "ENTRY_OK" in out.stdout, out.stdout[-500:] + out.stderr[-1500:]


def test_gate_window_leads_registry_and_is_fully_oracled():
    """VERDICT r3 #1: the driver hashes only the first 50 entries — those
    must be exactly GATE_WINDOW (one representative per operator family),
    every one of them value-checked (an oracle, never rows-only)."""
    import __spark_entry__ as entrymod

    from qradar_restapi_kafka_datapipeline_spark.entry_queries import GATE_WINDOW

    names = list(entrymod.queries().keys())
    assert len(GATE_WINDOW) == 50
    assert tuple(names[:50]) == GATE_WINDOW
    oracles = entrymod.oracle_sql()
    assert all(n in oracles for n in GATE_WINDOW)
    # VERDICT r7 #2: the round-8 window rotated 5 slots — one rep per
    # round-7 family (KMV cube, HDR daily cube, chunk-level RAG, token
    # budget, weighted sampling) swapped in for redundant family twins
    # that stay mirror-checked (hll_distinct ⊂ hll_daily_cube,
    # cm_merge_parity ⊂ heavy_hitters + streaming parity,
    # rank_merge_parity ⊂ rank_quantiles, auto_rollup_count ⊂ minmax +
    # routed, dsir_apply ⊂ streaming_dsir_apply_parity)
    for rotated_in in (
        # (sketch_kmv_retention rotated out in r10 for its strictly-larger
        # cohort twin, pinned below)
        # (text_chunk_knn rotated out in r12 — chunk retrieval is
        # gate-checked through chunk_index_delete_parity, pinned below)
        "sketch_rank_daily_cube",
        "mix_token_budget",
        # round-9 rotation (VERDICT r8 #2): one rep per round-8 family —
        # event-sequence funnel (displaced sketch_rank_quantiles ⊂ rank
        # daily cube), exact first-seen cohorts (displaced dedup_clusters
        # ⊂ minhash pairs), IVF index lifecycle (displaced
        # knn_ivfpq_persisted ⊂ knn_mmr_ivfpq on the same index),
        # streamed chunk-index maintenance (displaced the text-grain
        # streaming_text_index_parity — same per-epoch parts protocol,
        # strictly larger pipeline), exactly-k stratum sampling
        # (displaced sample_weighted_tokens — mix_token_budget +
        # stratum draw rep sampling); all displaced stay mirror-checked
        # (streaming_chunk_index_parity rotated out in r12 — its parts
        # protocol runs inside chunk_index_delete_parity, pinned below)
        "cohort_retention_exact",
        # (knn_ivf_rebalanced rotated out in r13 for phash_index_delete_
        # parity — the ANN lifecycle keeps streaming_ivfpq_append_parity,
        # knn_ivfpq_auto_refined and takedown_all's two vector slices;
        # rebalance stays mirror-checked + pytested)
        "sample_exact_k_per_stratum",
        # r9 second pass: perceptual-hash image dedup (displaced
        # streaming_sessionize_parity — streaming parity keeps 4 reps,
        # sessionize is repped by the funnel; both stay mirror-checked)
        # (dedup_image_phash rotated out in the second r11 pass for the
        # audio twin on the same banding machinery, pinned below)
        # round-10 rotation (VERDICT r9 #1): one rep per round-9 family —
        # strict funnel modes (window_funnel_strict_order displaced the
        # plain conversion: same anchor core plus the segmentation pass),
        # KMV first-seen cohorts (sketch_kmv_cohort displaced
        # sketch_kmv_retention, same cube), hysteresis alert episodes
        # (displaced text_knn_indexed ⊂ text_chunk_knn), event-path
        # trigrams (displaced knn_bruteforce_cosine — the mirror keeps it
        # as the ANN recall baseline), the AQL MITRE kill-chain funnel
        # (displaced aql_auto_rollup_minmax ⊂ aql_auto_rollup_routed),
        # and BPE fertility-by-language (displaced text_bpe_tokenize —
        # fertility runs tokenize plus the per-lang aggregation).
        "sketch_kmv_cohort",
        "event_path_trigrams_bucketed",
        "aql_mitre_chain_funnel", "text_bpe_fertility_by_lang",
        # round-11 rotation (VERDICT r10 #1): the five r10 flagships —
        # refined IVF-PQ serve (displaced knn_mmr_ivfpq on the same
        # index), both dual-formulation funnel twins (Spark bucketed vs
        # plain-SQL oracle; displaced window_funnel_strict_order, whose
        # segmentation stays mirror-checked + fuzzed, and
        # sketch_hll_daily_cube, repped by the rank cube), the streamed
        # hysteresis fold (strictly stronger than the displaced batch
        # hysteresis_alert_episodes — identical oracle), and the video
        # frame-sample family (displaced aql_routed_materialized ⊂
        # aql_auto_rollup_routed).  All displaced stay mirror-checked.
        "window_funnel_bucketed",
        "window_funnel_latency", "streaming_hysteresis_parity",
        "multimodal_video_frames",
        # second r11 pass: this round's flagships — √n auto-geometry
        # refine (displaced knn_ivfpq_refined ⊂ same pipeline, pinned
        # geometry), streamed IVF append (displaced
        # streaming_sketch_parity — additive-parts protocol keeps 4
        # reps), audio fingerprint dedup (displaced dedup_image_phash —
        # the shared banding machinery stays gate-checked; image keeps
        # its pytests + mirror)
        # (streaming_ivf_append_parity rotated out in r12 for its
        # strictly-larger compressed twin, pinned below)
        "knn_ivfpq_auto_refined",
        "dedup_audio_fingerprint",
        # third r11 pass: time travel (displaced summing_rollup_hourly,
        # whose aggregate IS the txn parity entry's oracle), hybrid RRF
        # (displaced text_bm25_topk ⊂ the hybrid), tombstone deletes
        # (displaced dedup_exact_stats — normalized-md5 exact dedup runs
        # inside pipeline_corpus_funnel; only the exclude-predicate
        # oracle can catch a tombstone leak)
        # (text_hybrid_rrf upgraded in r12 to its indexed twin — same
        # fusion, both constituents served from the on-disk artifact;
        # upgraded AGAIN in r13 to text_hybrid_rrf_ivfpq: the dense
        # constituent is now the REAL maintained IVF-PQ index with the
        # full ADC+refine replay in the oracle, while the lexical side
        # keeps the same tf-artifact serve + rebuild freshness check.
        # knn_ivf_deleted rotated out in r13 — takedown_all_indexes_
        # parity runs the identical ivf serve under the identical
        # exclude-predicate emitted oracle as one of its four slices.)
        "rollup_time_travel", "text_hybrid_rrf_ivfpq",
        # round-13 rotation (VERDICT r12 #1/#3): the one-call multi-index
        # takedown composition + the late-r12 multimodal takedown flagship
        "takedown_all_indexes_parity", "phash_index_delete_parity",
        # round-12 rotation (VERDICT r11 #1/#4): the text-side takedown
        # flagships — chunk_index_delete_parity (displaced
        # streaming_chunk_index_parity: identical per-epoch parts
        # protocol PLUS the tombstone stream + serve-minus, strictly
        # larger) and text_index_delete_parity (displaced text_chunk_knn:
        # chunk retrieval stays gate-checked through the chunk delete
        # entry, which ranks chunk_knn_sql over the maintained parts;
        # only the rebuild-over-remaining oracle can catch a stale
        # df/N/avgdl after takedown).  Both displaced stay mirror-checked.
        "text_index_delete_parity", "chunk_index_delete_parity",
        "streaming_ivfpq_append_parity",
        # round-8 rotations stay pinned
        "corpus_drift_js", "snapshot_diff_report",
        # carried r6/r7 rotations stay pinned
        "pipeline_corpus_funnel",
        "streaming_dsir_apply_parity",
        "curate_quality_classifier",
        "decontaminate_train",
        "zorder_layout_keys",
        "sketch_cm_heavy_hitters",
        "curate_dsir_topk",
    ):
        assert rotated_in in GATE_WINDOW, rotated_in
    # family spot-checks: at least one of each major family inside the window
    for prefix in (
        "aql_", "dedup_minhash", "dedup_exact_substring",
        "knn_", "semantic_dedup", "text_bpe", "text_semantic", "pii_",
        "boilerplate_", "curate_", "multimodal_", "streaming_",
        "pack_sequences",
        # round 6 families (r11: the HLL cube rotated out — the cube
        # navigator is repped by sketch_rank_daily_cube; hll stays
        # mirror-checked)
        "sketch_cm", "curate_dsir", "zorder_",
        "decontaminate_",
        # round 7 families
        # (aql_auto_rollup_routed rotated out in r12 — the navigator is
        # gate-checked through streaming_globalview_routed, which routes
        # the same AQL onto the streamed-parts view)
        "sketch_rank", "pipeline_corpus", "streaming_globalview",
        "streaming_dsir",
        # round 8 rotation (r12: text_chunk_knn rotated out — chunk
        # retrieval is gate-checked through chunk_index_delete_parity)
        "sketch_kmv", "mix_token",
        # round 9 rotation (r12: streaming_chunk_index_parity rotated
        # out — its parts protocol runs inside chunk_index_delete_parity)
        "window_funnel", "cohort_retention", "knn_ivfpq",
        "sample_exact",
        # round 12 rotation (the takedown flagships)
        "text_index_delete", "chunk_index_delete",
        # round 10 rotation (the r9 additions, now hard-gated;
        # hysteresis kept via its strictly-stronger streamed parity)
        "sketch_kmv_cohort", "streaming_hysteresis",
        "event_path_", "aql_mitre_", "text_bpe_fertility",
        # round 11 rotation (the r10 flagships, now hard-gated)
        "knn_ivfpq_", "window_funnel_bucketed",
        "window_funnel_latency", "multimodal_video",
        # second r11 pass (r12: the raw-vector streamed append rotated
        # out for its compressed twin)
        "knn_ivfpq_auto", "dedup_audio_",
        # second r12 pass (the compressed streamed append)
        "streaming_ivfpq_append",
    ):
        assert any(n.startswith(prefix) for n in GATE_WINDOW), prefix


def test_emitting_entries_read_their_own_emitted_dir():
    """An emitted-keys oracle re-derives the values of the rows its OWN
    Spark runner wrote to ``_emit_dir(name)``.  Emitted dirs are named by
    registry key, so an oracle reading ``<_emit_dir(x)>/*.parquet`` for a
    registry key ``x`` must be entry ``x`` itself — two entries sharing a
    dir would check one entry's rows against the other's oracle.  (Shared
    trained artifacts such as ``bpe_vocab`` are not registry keys.)"""
    import re

    from qradar_restapi_kafka_datapipeline_spark.entry_queries import (
        _emit_dir,
        registry,
    )

    reg = registry()
    emitted = re.compile(
        r"read_parquet\('" + re.escape(_emit_dir("")) + r"([^/']+)/\*\.parquet'\)"
    )
    own = set()
    for name, q in reg.items():
        for dir_name in emitted.findall(q.oracle or ""):
            if dir_name in reg:
                assert dir_name == name, (name, dir_name)
                own.add(name)
    assert {
        "knn_ivf_cosine", "knn_ivf_persisted", "knn_ivf_appended",
        "streaming_ivf_append_parity", "knn_ivf_deleted",
        "knn_ivf_rebalanced", "takedown_all_indexes_parity",
        "semantic_dedup_pairs",
    } <= own

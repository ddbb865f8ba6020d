#!/usr/bin/env python3
"""Measured scaling curves for the heavy operators (100 TB design evidence).

Amplifies sf0.1 by K in /tmp — each copy is a DISTINCT user/doc population
(ids offset; document text word-interleaved with a copy tag so cross-copy
Jaccard ≈ 0.25 and the near-dup pair structure stays linear in K) — then
times the shuffle-heavy operators at 1x/4x/16x. Linear wall-time growth at
fixed parallelism means the plans are shuffle-bound, not driver-bound: the
property that survives a 1000-executor scale-out.

    python3 tools/scale_curve.py [K ...]    # default 1 4 16

Prints one JSON line per (K, operator).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.engine import get_spark
from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup

BASE_SF = "/root/testdata/sf0.1"


def amplify(spark, out_dir: str, k: int, skew_pct: int | None = None) -> None:
    """K shifted copies of events + documents (distinct populations per copy).

    ``skew_pct`` reassigns a deterministic ``skew_pct``% of ALL events (by
    event_id residue — uniform across time and copies) to ONE hot user —
    the bot-account population the uniform testdata can't show, for the
    window-family straggler measurements (VERDICT r2 #2)."""
    ev = spark.read.parquet(f"{BASE_SF}/events.parquet")
    max_eid = ev.agg(F.max("event_id")).first()[0] + 1
    max_uid = ev.agg(F.max("user_id")).first()[0] + 1
    copies = [
        ev.select(
            (F.col("event_id") + i * max_eid).alias("event_id"),
            "ts",
            (F.col("user_id") + i * max_uid).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(k)
    ]
    union = copies[0]
    for c in copies[1:]:
        union = union.unionByName(c)
    if skew_pct:
        union = union.withColumn(
            "user_id",
            F.when(
                F.pmod(F.col("event_id"), F.lit(100)) < skew_pct, F.lit(-1)
            ).otherwise(F.col("user_id")),
        )
    union.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    max_did = docs.agg(F.max("doc_id")).first()[0] + 1
    dcopies = []
    for i in range(k):
        d = docs.select(
            (F.col("doc_id") + i * max_did).alias("doc_id"),
            "source",
            "lang",
            "text",
        )
        if i > 0:
            # interleave a copy tag every 4th word: shingle overlap with the
            # original drops below any near-dup threshold, keeping the true
            # pair count linear in K instead of quadratic
            d = d.withColumn(
                "text",
                F.array_join(
                    F.transform(
                        F.split(F.trim(F.col("text")), r"\s+"),
                        lambda w, j: F.when(
                            j % 4 == F.lit(3), F.concat(F.lit(f"c{i}_"), w)
                        ).otherwise(w),
                    ),
                    " ",
                ),
            )
        dcopies.append(d)
    dunion = dcopies[0]
    for c in dcopies[1:]:
        dunion = dunion.unionByName(c)
    dunion.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
    max_vid = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = len(emb.select("embedding").first()[0])

    def _flip(i: int, d: int) -> float:
        """Deterministic ±1 — a per-copy diagonal orthogonal transform: within-
        copy pairwise cosines are EXACTLY preserved, cross-copy cosines land in
        the random-pair noise floor, so the true near-dup structure of each
        copy is intact and the populations are distinct."""
        return 1.0 - 2.0 * float((i * 2654435761 + d * 40503) >> 3 & 1)

    ecopies = []
    for i in range(k):
        e = emb
        if i > 0:
            pat = F.array(*[F.lit(_flip(i, d)) for d in range(dim)])
            e = e.withColumn(
                "embedding",
                F.zip_with(
                    F.col("embedding"), pat, lambda x, s: (x * s).cast("float")
                ),
            )
        ecopies.append(
            e.select((F.col("vec_id") + i * max_vid).alias("vec_id"), "embedding")
        )
    eunion = ecopies[0]
    for c in ecopies[1:]:
        eunion = eunion.unionByName(c)
    eunion.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )

    # the other tables pass through (operators under test don't scale them)
    for t in "region nation customer supplier part orders lineitem".split():
        src = f"{BASE_SF}/{t}.parquet"
        if os.path.exists(src):
            os.symlink(src, f"{out_dir}/{t}.parquet")


def _skew_ops(spark):
    """The per-user window family, plain LAG vs bucketed_lag, for the
    hot-user straggler measurement (run with ``--skew P``).  Plain forms
    mirror the registry entries; bucketed forms are the mitigations whose
    exact equivalence the gate proves (entries ``*_bucketed``)."""
    from pyspark.sql.window import Window

    from qradar_restapi_kafka_datapipeline_spark.operators import skew as SK
    from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
        event_path_trigrams_bucketed as _tgb,
        event_path_trigrams_sql as _tg,
        sessionize,
        sessionize_bucketed,
        window_funnel_sql as _wf,
    )

    def _ms(df):
        return df.withColumn("__ms", F.expr("unix_millis(ts)"))

    def gaps_plain():
        w = Window.partitionBy("user_id").orderBy("__ms", "event_id")
        return _ms(spark.table("events")).select(
            "event_id", "user_id",
            (F.col("__ms") - F.lag("__ms").over(w)).cast("long").alias("g"),
        )

    def trans_plain():
        w = Window.partitionBy("user_id").orderBy("__ms", "event_id")
        seq = _ms(spark.table("events")).withColumn(
            "prev", F.lag("event_type").over(w)
        )
        return (
            seq.where(F.col("prev").isNotNull())
            .groupBy("prev", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def beacon_plain():
        w = Window.partitionBy("user_id", "event_type").orderBy("__ms", "event_id")
        seq = _ms(spark.table("events")).withColumn("prev", F.lag("__ms").over(w))
        g = seq.where(F.col("prev").isNotNull()).selectExpr(
            "user_id", "event_type",
            "CAST(__ms AS BIGINT) DIV 1000 - CAST(prev AS BIGINT) DIV 1000 AS g",
        )
        return (
            g.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("g").alias("s1"),
                 F.sum(F.col("g") * F.col("g")).alias("s2"))
            .where((F.col("n") >= 5) & (F.col("s1") > 0))
        )

    return {
        "event_gaps_plain": gaps_plain,
        "event_gaps_bucketed": lambda: SK.event_gaps_bucketed(
            spark.table("events")
        ),
        "event_transition_plain": trans_plain,
        "event_transition_bucketed": lambda: SK.event_transitions_bucketed(
            spark.table("events")
        ),
        "beaconing_plain": beacon_plain,
        "beaconing_bucketed": lambda: SK.beaconing_score_bucketed(
            spark.table("events")
        ),
        "sessionize_plain": lambda: sessionize(
            spark.table("events"), gap_minutes=30, agg_cols={"value": "total_value"}
        ),
        "sessionize_bucketed": lambda: sessionize_bucketed(
            spark.table("events"), gap_minutes=30, agg_cols={"value": "total_value"}
        ),
        # round 10 (VERDICT r9 #3): the event-sequence ops join the skew
        # family — plain forms sort each user's whole stream in one
        # window partition; bucketed twins bound partitions by
        # (user × 2·window) / (user × day) and are oracle-proven equal
        "funnel_plain": lambda: spark.sql(
            _wf("spark", window_ms=86_400_000)
        ),
        "funnel_bucketed": lambda: spark.sql(
            _wf("spark", window_ms=86_400_000, bucketed=True)
        ),
        "trigrams_plain": lambda: spark.sql(_tg("spark")),
        "trigrams_bucketed": lambda: _tgb(spark),
    }


def main() -> None:
    args = list(sys.argv[1:])
    skew_pct = None
    if "--skew" in args:
        i = args.index("--skew")
        skew_pct = int(args[i + 1])
        del args[i : i + 2]
    op_prefixes: tuple[str, ...] = ()
    if "--ops" in args:
        i = args.index("--ops")
        op_prefixes = tuple(args[i + 1].split(","))
        del args[i : i + 2]
    ks = [int(a) for a in args] or [1, 4, 16]
    spark = get_spark(app_name="scale-curve")
    spark.sparkContext.setLogLevel("ERROR")

    def consume(df):
        df.write.format("noop").mode("overwrite").save()

    for k in ks:
        base = tempfile.mkdtemp(prefix=f"scale_{k}x_")
        try:
            amplify(spark, base, k, skew_pct)
            setup(spark, base)
            if skew_pct:
                ops = _skew_ops(spark)
            else:
                ops = _uniform_ops(spark, k)
            if op_prefixes:
                ops = {n: f for n, f in ops.items() if n.startswith(op_prefixes)}
            n_events = spark.table("events").count()
            n_docs = spark.table("documents").count()
            for name, build in ops.items():
                # steady state: min of 3 (co-tenant noise, codegen warm-up);
                # loadavg recorded so polluted lines are identifiable — a
                # reading > ~2 means another tenant was burning the cores
                times = []
                for _ in range(3):
                    t0 = time.time()
                    consume(build())
                    times.append(time.time() - t0)
                    # the persisting ops (winnow, exact-substring, hashed
                    # pairs) cache a fresh relation per call — release it so
                    # accumulated storage never distorts later timings
                    spark.catalog.clearCache()
                with open("/proc/loadavg") as f:
                    load1 = float(f.read().split()[0])
                print(
                    json.dumps(
                        {
                            "k": k,
                            "skew_pct": skew_pct,
                            "op": name,
                            "sec": round(min(times), 2),
                            "runs": [round(t, 2) for t in times],
                            "loadavg1": load1,
                            "events": n_events,
                            "docs": n_docs,
                        }
                    ),
                    flush=True,
                )
        finally:
            shutil.rmtree(base, ignore_errors=True)
    spark.stop()


def _uniform_ops(spark, k: int):
    from qradar_restapi_kafka_datapipeline_spark.operators import asof as A
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
    from qradar_restapi_kafka_datapipeline_spark.operators import similarity as Sim
    from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K_sk
    from qradar_restapi_kafka_datapipeline_spark.operators import curation as Cur
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T
    from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
        contamination_report,
        decontaminate_train,
    )
    from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
        sessionize,
        sessionize_bucketed,
    )

    return {
                "dedup_exact": lambda: D.exact_dup_groups(spark.table("documents")),
                "dedup_minhash_lsh_highsim": lambda: D.minhash_lsh_pairs(
                    spark.table("documents"), threshold=0.85
                ),
                "contamination_check": lambda: contamination_report(
                    spark.table("documents")
                ),
                # the one iterative operator: pair graph grows linearly in K
                # (copies are distinct populations), rounds stay O(diameter)
                "dedup_clusters": lambda: D.dup_clusters(
                    D.minhash_lsh_pairs(spark.table("documents"), threshold=0.85)
                ),
                # range-condition join: candidate set is per-user, so the
                # shuffle (hash on user_id) grows linearly in K
                "asof_join_last_signup": lambda: A.asof_join(
                    spark.table("events").select("event_id", "user_id", "ts"),
                    spark.table("events")
                    .where(F.col("event_type") == "signup")
                    .groupBy("user_id", "ts")
                    .agg(F.max("event_id").alias("signup_event_id")),
                    on="user_id",
                    right_cols=["signup_event_id"],
                    suffix="_s",
                ),
                "sessionize_events": lambda: sessionize(
                    spark.table("events"),
                    gap_minutes=30,
                    agg_cols={"value": "total_value"},
                ),
                # the documented scale practice for the cluster path: cells
                # stay constant-SIZE (n_centroids ∝ N), so candidate pairs —
                # and wall time — grow linearly in K; threshold 0.7 is in the
                # linear-output regime (5.6σ above the random-cosine floor)
                "semantic_dedup_pairs": lambda: Sim.semantic_dedup_pairs(
                    spark.table("embeddings"),
                    threshold=0.7,
                    n_centroids=16 * k,
                    probes=2,
                    sample_n=max(1024, 8 * 16 * k),
                ),
                "summing_rollup_hourly": lambda: spark.sql(
                    "SELECT date_trunc('hour', ts) AS h, domainId, eventName, "
                    "SUM(eventCount) AS ec FROM qevents GROUP BY 1, 2, 3"
                ),
                # explode → hash-count → anti-join → per-doc reassembly; every
                # shuffle keyed on the 60-bit passage hash or doc_id, so wall
                # time tracks corpus tokens linearly
                "dedup_passages": lambda: D.passage_dedup(spark, k=10),
                # fingerprint anti-join: both sides project to 16-byte keys
                # before the join — linear in rows, text never shuffles
                "dedup_incremental": lambda: D.incremental_dedup(
                    spark.table("documents").where("doc_id % 7 = 0"),
                    spark.table("documents").where("doc_id % 7 != 0"),
                    prefix_words=20,
                ),
                # token explode + vocab-sized joins: linear in corpus tokens
                "text_unigram_loglik": lambda: spark.sql(
                    T.unigram_loglik_sql("spark")
                ),
                # gram explode + frame-window minima + fingerprint equi-join:
                # candidate pairs only on equal fingerprints (K copies are
                # distinct populations, so pair volume stays linear in K)
                "text_winnow_overlap": lambda: T.winnow_overlap(spark),
                # round-3: gram-hash equi-join + diagonal islands; copies are
                # distinct populations so runs (and candidates) stay linear
                "dedup_exact_substring": lambda: D.exact_substring_pairs(
                    spark, n=8, min_run=12
                ),
                # round-6 sketches: the INPUT scan grows linearly in K but
                # the shuffled keyspace is the fixed d*w / 2^p cell set —
                # wall time should track the scan, never the key cardinality
                # (the curve that justifies sketches at 100 TB)
                "sketch_cm_cells": lambda: spark.sql(
                    K_sk.cm_cells_sql("spark")
                ),
                "sketch_hll_registers": lambda: spark.sql(
                    K_sk.hll_registers_sql("spark")
                ),
                # the exact competitor at the same K: full distinct keyspace
                # shuffle (what the sketch replaces)
                "exact_distinct_event_ids": lambda: spark.sql(
                    "SELECT COUNT(DISTINCT CAST(event_id AS STRING)) AS n "
                    "FROM events"
                ),
                # round-3: prefix-filtered hashed-embedding cosine — the
                # AllPairs scale path (rarest-df prefixes, postings built
                # once, full exact-cosine verify).  dim ∝ K, the documented
                # practice (like n_centroids ∝ N above): fixed dim would
                # densify every bucket linearly in K and candidate volume
                # quadratically; with dim scaling, bucket occupancy — and
                # candidates per doc — stay constant
                "text_semantic_pairs_hashed_prefix": lambda: T.hashed_semantic_pairs(
                    spark, dim=4096 * k, threshold=0.5, prefix_m=4
                ),
                # round-4: dense-bucket-capped AllPairs — the bounded-candidate
                # regime; same dim ∝ K rule
                "text_semantic_pairs_hashed_capped": lambda: T.hashed_semantic_pairs(
                    spark, dim=4096 * k, threshold=0.5, prefix_m=4,
                    max_bucket_docs=64,
                ),
                # round-4: per-(user, day) sessionize twin — bounded windows
                "sessionize_events_bucketed": lambda: sessionize_bucketed(
                    spark.table("events"),
                    gap_minutes=30,
                    agg_cols={"value": "total_value"},
                ),
                # train-side decontamination: explode + semi-join against
                # the distinct eval shingles
                "decontaminate_train": lambda: decontaminate_train(
                    spark.table("documents")
                ),
                # round-5b: CCNet terciles — bigram explode + vocab joins +
                # one narrow global NTILE over per-doc rows
                "curate_ccnet_buckets": lambda: spark.sql(
                    T.ccnet_buckets_sql("spark")
                ),
                # round-4: BPE train (vocab extraction + bounded-collect merge
                # learning) + relational longest-match apply, end to end
                "text_bpe_tokenize": lambda: _bpe(spark),
                # round-4: Arrow-batched encode + full baseline JPEG decode
                "multimodal_jpeg_decode": lambda: _jpeg(spark),
                # round-7 (VERDICT r6 #5): DSIR selection — bigram explode +
                # two narrow aggregates + a broadcast (bucket, λ) join; the
                # only corpus-wide shuffle keys are doc_id/bucket, so wall
                # time should track corpus tokens linearly
                "curate_dsir_topk": lambda: Cur.dsir_scores(spark),
                # round-7: the composed funnel — four stages handing off
                # through materialized relations; its curve is the SUM of
                # its stages' curves (decontaminate dominates), no
                # cross-stage quadratic term
                "pipeline_corpus_funnel": lambda: Cur.corpus_funnel(spark),
                # round-7: HDR rank sketch — fixed bucket keyspace like
                # CM/HLL; the curve that extends the sketch family's
                # constant-keyspace argument to unbounded domains
                "sketch_hdr_cells": lambda: spark.sql(
                    K_sk.hdr_cells_sql("spark")
                ),
            }


def _bpe(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators import bpe as B

    return B.bpe_doc_tokens(spark, B.train_bpe(spark))


def _jpeg(spark):
    from qradar_restapi_kafka_datapipeline_spark.operators import multimodal as M

    return M.media_features(spark.table("documents"), "jpeg")


if __name__ == "__main__":
    main()

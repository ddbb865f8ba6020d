"""Mergeable-sketch contracts (operators/sketches.py, round 6).

The gate entries prove cross-engine hash equality (including the
merge-parity pairs); these tests pin the SKETCH guarantees themselves:
Count-Min never underestimates, HLL lands within its published error
band, and both merges equal the whole-corpus build on Spark alone.
"""

import pytest
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K


@pytest.fixture(scope="module")
def ev(spark, sf_dir):
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import load_tables

    load_tables(spark, sf_dir)
    return spark.table("events")


def test_cm_estimate_never_underestimates(spark, ev):
    exact = {
        r["k"]: r["n"]
        for r in ev.groupBy(
            F.col("user_id").cast("string").alias("k")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r["key"]: r["est"]
        for r in spark.sql(K.cm_heavy_hitters_sql("spark", threshold=0)).collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact), "CM underestimated a key"


def test_cm_merged_halves_equal_whole_corpus_cells(spark, ev):
    whole = spark.sql(K.cm_cells_sql("spark")).collect()
    merged = spark.sql(K.cm_merged_halves_cells_sql("spark")).collect()
    key = lambda rows: sorted((r["i"], r["col"], r["c"]) for r in rows)
    assert key(whole) == key(merged)


def test_hll_estimate_within_error_band(spark, ev):
    row = spark.sql(K.hll_distinct_sql("spark")).first()
    exact = ev.select(F.col("event_id").cast("string")).distinct().count()
    # sigma = 1.04/sqrt(m) ~ 4.6 % at p=9; assert 3 sigma
    m = 1 << K.HLL_P
    assert abs(row["distinct_est"] - exact) / exact <= 3 * 1.04 / m ** 0.5


def test_hll_estimate_over_no_registers(run_both):
    """One estimator serves both forms: without a group key an empty
    register relation still gives its one ``m`` row (every register zero),
    with one it gives no group row, in both engines."""
    regs = ("bucket BIGINT, r INT", [(0, 1)])
    empty = "SELECT * FROM {regs} WHERE r < 0"
    whole = run_both(K.hll_estimate_sql("spark", empty), regs=regs)
    assert whole[0] == whole[1]
    assert [row[:2] for row in whole[0]] == [(1 << K.HLL_P, 1 << K.HLL_P)]
    by_day = f"SELECT 0 AS day_id, * FROM ({empty})"
    grouped = run_both(
        K.hll_estimate_sql("spark", by_day, group_col="day_id"), regs=regs
    )
    assert grouped == ([], [])


def test_hll_merged_halves_equal_whole_corpus_registers(spark, ev):
    whole = spark.sql(K.hll_registers_sql("spark")).collect()
    merged = spark.sql(K.hll_merged_halves_registers_sql("spark")).collect()
    key = lambda rows: sorted((r["bucket"], r["r"]) for r in rows)
    assert key(whole) == key(merged)


def test_cm_cells_relation_is_bounded(spark, ev):
    """The 100 TB contract: the sketch relation is d*w cells regardless of
    corpus size — the groupBy shuffles a constant keyspace."""
    n = spark.sql(K.cm_cells_sql("spark")).count()
    assert n <= K.CM_D * K.CM_W


def test_hll_daily_cube_tracks_exact_per_day(spark, ev):
    """uniqMerge-from-hourly must track the exact per-day distinct within
    the HLL error band for EVERY day, and agree with the direct per-day
    build exactly."""
    from pyspark.sql import functions as F

    cube = {
        r["day_id"]: r["distinct_est"]
        for r in spark.sql(K.hll_daily_from_hourly_sql("spark")).collect()
    }
    direct = {
        r["day_id"]: r["distinct_est"]
        for r in spark.sql(K.hll_daily_direct_sql("spark")).collect()
    }
    assert cube == direct  # merge grain is lossless
    exact = {
        r["d"]: r["n"]
        for r in ev.groupBy(
            (F.unix_millis("ts") / F.lit(86400000)).cast("long").alias("d")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(cube) == set(exact)
    m = 1 << K.HLL_P
    for d, n in exact.items():
        assert abs(cube[d] - n) / n <= 3 * 1.04 / m ** 0.5, (d, cube[d], n)


class TestHdrRankQuantiles:
    """Unbounded-domain rank sketch (round 7, VERDICT r6 #3): integer
    HdrHistogram bucketing — no fixed [lo, hi] universe, keys monotonic in
    value, cells additive, relative error <= 2^-M."""

    def test_estimates_within_relative_error(self, spark, ev):
        import math

        exact = ev.selectExpr(
            "percentile(value, array(0.5, 0.9, 0.99)) AS p"
        ).first()["p"]
        est = {
            r["q"]: r["est"] for r in K.hdr_quantiles(spark).collect()
        }
        tol = 2.0 ** -K.HDR_M
        for q, ex in zip((0.5, 0.9, 0.99), exact):
            assert math.isclose(est[q], ex, rel_tol=2 * tol), (q, est[q], ex)

    def test_merged_halves_equal_whole_corpus_cells(self, spark, ev):
        whole = spark.sql(K.hdr_cells_sql("spark")).collect()
        merged = spark.sql(K.hdr_merged_halves_cells_sql("spark")).collect()
        key = lambda rows: sorted((r["hk"], r["c"]) for r in rows)
        assert key(whole) == key(merged)

    def test_cells_bounded_regardless_of_volume(self, spark, ev):
        """The 100 TB contract: cells are bounded by the key geometry
        (≤ ~2·62·2^M + 2^(M+1) for all of ±2^62), never by corpus size."""
        n = spark.sql(K.hdr_cells_sql("spark")).count()
        assert n <= 2 * 62 * (1 << K.HDR_M) + (1 << (K.HDR_M + 1)) + 1

    def test_key_is_monotonic_in_value_incl_negatives_and_zero(self, spark):
        """Bucket keys must sort exactly like the values they bucket —
        the property that makes one cumulative SUM a valid rank query —
        including the sign-split regions the events corpus never hits."""
        vals = [-12345.67, -1000.5, -3.2, -0.01, 0.0, 0.01, 0.02,
                2.5, 99.99, 100.0, 327.53, 99999999.99]
        keys = []
        for i, v in enumerate(sorted(vals)):
            spark.createDataFrame(
                [(0, float(v))], "event_id BIGINT, value DOUBLE"
            ).createOrReplaceTempView("__hdr_one")
            k = spark.sql(
                K.hdr_cells_sql("spark", source="__hdr_one")
            ).first()["hk"]
            keys.append(k)
        assert keys == sorted(keys), keys

    def test_grouped_estimates_track_per_group_exact(self, spark, ev):
        """Compare against the VALUE-AT-RANK exact (the sketch's rank
        definition, `ceil(q·n)`): interpolating percentiles diverge
        arbitrarily on sparse tails (at sf0.001 one group's 186th→187th
        values jump 228→285), which is a definition difference, not sketch
        error."""
        import math

        groups = {}
        for r in ev.select(
            F.col("event_type").alias("g"), "value"
        ).collect():
            groups.setdefault(r["g"], []).append(r["value"])
        est = {
            (r["g"], r["q"]): r["est"]
            for r in K.hdr_grouped_quantiles(spark).collect()
        }
        tol = 2.0 ** -K.HDR_M
        for g, vals in groups.items():
            vals.sort()
            n = len(vals)
            for qm in (500, 900, 990):
                ex = vals[(n * qm + 999) // 1000 - 1]
                got = est[(g, qm / 1000.0)]
                assert math.isclose(got, ex, rel_tol=2 * tol), (g, qm, got, ex)

    def test_rank_is_integer_exact(self, spark, ev):
        """ceil(q*n) must be the integer (n*qm + 999) DIV 1000 — no float
        rank (a 0.5*even-n halfway in float is the classic cross-engine
        divergence)."""
        n = ev.count()
        for qm in (500, 900, 990):
            assert (n * qm + 999) // 1000 == -(-n * qm // 1000)


class TestKmvSketch:
    """Bottom-k distinct sketch: deterministic order statistics, exact
    merge, set algebra (Jaccard/intersection) the HLL family can't do."""

    def test_estimate_within_error_band(self, spark, ev):
        exact = ev.selectExpr(
            "COUNT(DISTINCT CAST(event_id AS STRING)) AS n"
        ).first()["n"]
        row = spark.sql(K.kmv_distinct_sql("spark")).first()
        if row["n_kept"] < K.KMV_K:
            assert row["distinct_est"] == exact  # below saturation: exact
        else:
            sigma = 1.0 / (K.KMV_K - 2) ** 0.5
            assert abs(row["distinct_est"] - exact) / exact <= 3 * sigma

    def test_merged_halves_equal_whole_corpus_sketch(self, spark, ev):
        whole = [r["h"] for r in spark.sql(K.kmv_sketch_sql("spark")).collect()]
        merged = [
            r["h"]
            for r in spark.sql(K.kmv_merged_halves_sketch_sql("spark")).collect()
        ]
        assert sorted(whole) == sorted(merged) and len(whole) > 0

    def test_sketch_is_bounded(self, spark, ev):
        assert spark.sql(K.kmv_sketch_sql("spark")).count() <= K.KMV_K

    def test_jaccard_tracks_exact_overlap(self, spark, ev):
        from pyspark.sql import functions as F

        key = F.expr(K.kmv_user_day_key("spark"))
        a = set(
            r["k"]
            for r in ev.where("event_type = 'click'").select(key.alias("k")).distinct().collect()
        )
        b = set(
            r["k"]
            for r in ev.where("event_type = 'view'").select(key.alias("k")).distinct().collect()
        )
        exact_j = len(a & b) / len(a | b)
        row = K.kmv_jaccard(spark).first()
        # union-sketch overlap estimator: sigma ~ sqrt(J(1-J)/k); 4 sigma +
        # a small-k floor keeps the band honest at tiny corpora
        sigma = max((exact_j * (1 - exact_j) / K.KMV_K) ** 0.5, 0.02)
        assert abs(row["jaccard_est"] - exact_j) <= 4 * sigma, (
            row["jaccard_est"], exact_j,
        )
        exact_i = len(a & b)
        assert abs(row["intersection_est"] - exact_i) / max(exact_i, 1) <= 0.35


def test_cm_streaming_survives_crash_between_write_and_commit(spark, ev):
    """Crash-injection for the replay double-count window (round-6 verdict
    #1): kill the fold AFTER the increment write — the widest failure
    window the old read-merge-overwrite-then-marker protocol had — restart
    the stream from the same checkpoint so the epoch replays, and require
    the streamed estimates to still equal the whole-corpus one-shot build
    value-for-value.  Under the old protocol the replayed epoch re-added
    into a cells table that already contained it (SUM double-fold); under
    per-epoch parts the replay overwrites its own part and nothing
    changes."""
    crashed = {
        (r["key"], r["est"])
        for r in K.cm_sketch_streaming(
            spark, threshold=0, _crash_after_write_epoch=1
        ).collect()
    }
    oneshot = {
        (r["key"], r["est"])
        for r in spark.sql(K.cm_heavy_hitters_sql("spark", threshold=0)).collect()
    }
    assert crashed == oneshot


def test_hll_streaming_cube_survives_crash_between_write_and_commit(spark, ev):
    """Same injection for the HLL cube fold: crash after the register-part
    write, replay the epoch, and the served per-day estimates must equal
    the batch cube exactly."""
    crashed = {
        (r["day_id"], r["zero_registers"], r["distinct_est"])
        for r in K.hll_cube_streaming(spark, _crash_after_write_epoch=1).collect()
    }
    batch = {
        (r["day_id"], r["zero_registers"], r["distinct_est"])
        for r in spark.sql(K.hll_daily_from_hourly_sql("spark")).collect()
    }
    assert crashed == batch


def test_hdr_streaming_survives_crash_between_write_and_commit(spark, ev):
    """The HDR fold shares the per-epoch part protocol: crash after a part
    write, replay from the checkpoint, served quantiles still equal the
    whole-corpus one-shot ranks."""
    crashed = {
        (r["q"], r["est"])
        for r in K.hdr_sketch_streaming(
            spark, _crash_after_write_epoch=1
        ).collect()
    }
    oneshot = {
        (r["q"], r["est"])
        for r in spark.sql(K.hdr_quantiles_full_sql("spark")).collect()
    }
    assert crashed == oneshot and len(oneshot) == 3


def test_hll_streaming_cube_matches_batch_cube(spark, ev, sf_dir):
    """The streamed cube must equal the batch cube row-for-row, and
    re-folding a batch (epoch replay) must be a no-op — register MAX is
    naturally idempotent, which is why this sink needs no epoch ledger."""
    from pyspark.sql import functions as F

    streamed = {
        (r["day_id"], r["zero_registers"], r["distinct_est"])
        for r in K.hll_cube_streaming(spark).collect()
    }
    batch = {
        (r["day_id"], r["zero_registers"], r["distinct_est"])
        for r in spark.sql(K.hll_daily_from_hourly_sql("spark")).collect()
    }
    assert streamed == batch
    # replay idempotence at the register level: folding the SAME increment
    # into a register file twice changes nothing
    regs = spark.sql(K.hll_hourly_registers_sql("spark"))
    once = regs.unionByName(regs).groupBy("hour_id", "bucket").agg(
        F.max("r").alias("r")
    )
    key = lambda df: sorted((r["hour_id"], r["bucket"], r["r"]) for r in df.collect())
    assert key(once) == key(regs)


def test_compact_sketch_parts_value_neutral_and_idempotent(spark, ev, tmp_path):
    """The background-merge half of the parts motif: folding N epoch parts
    into one must not change any served estimate (same aggregate as the
    read-side merge), must leave exactly one part, and re-compacting is a
    no-op."""
    base = str(tmp_path / "cells")
    for i in range(3):
        spark.sql(
            K.cm_cells_sql("spark", where=f"event_id % 3 = {i}")
        ).write.parquet(f"{base}/epoch={i}")

    def estimates():
        rel = (
            "SELECT i, col, CAST(SUM(c) AS BIGINT) AS c "
            f"FROM parquet.`{base}` GROUP BY i, col"
        )
        return {
            (r["key"], r["est"])
            for r in spark.sql(
                K.cm_estimates_sql("spark", rel, threshold=0)
            ).collect()
        }

    before = estimates()
    oneshot = {
        (r["key"], r["est"])
        for r in spark.sql(K.cm_heavy_hitters_sql("spark", threshold=0)).collect()
    }
    assert before == oneshot  # the 3-part tree already serves exactly
    assert K.compact_sketch_parts(spark, base, ("i", "col"), {"c": "sum"}) == 3
    assert estimates() == before
    assert spark.read.parquet(base).select("epoch").distinct().count() == 1
    assert K.compact_sketch_parts(spark, base, ("i", "col"), {"c": "sum"}) == 1
    assert estimates() == before


def test_cm_inner_product_never_underestimates_join_size(spark, ev):
    """The inner-product estimator shares CM's one-sided error: collisions
    only ADD cross terms, so est >= exact always."""
    row = spark.sql(K.cm_inner_product_sql("spark")).first()
    assert row["join_size_est"] >= row["join_size_exact"] > 0


def test_cm_inner_product_zero_overlap_returns_zero(spark, ev):
    """ADVICE r8: a sketch row with no colliding cells contributes 0 via
    the d-row spine left-join — with a fully EMPTY side the estimator must
    return the one correct row (est=0, exact=0), never an empty relation
    or a loosened (inner-join-only) minimum."""
    row = spark.sql(
        K.cm_inner_product_sql("spark", where_b="1 = 0")
    ).first()
    assert row is not None
    assert row["join_size_est"] == 0 and row["join_size_exact"] == 0
    # disjoint key populations: exact is 0; one-sided error still holds
    # and the spine guarantees a non-empty result
    row2 = spark.sql(
        K.cm_inner_product_sql(
            "spark",
            where_a="event_type = 'click' AND user_id % 2 = 0",
            where_b="event_type = 'view' AND user_id % 2 = 1",
        )
    ).first()
    assert row2 is not None and row2["join_size_exact"] == 0
    assert row2["join_size_est"] >= 0


def test_compact_respects_committed_frontier(spark, ev, tmp_path):
    """ADVICE r8: the compactor folds only epochs at/below the stream's
    committed frontier (checkpoint commits/ log or explicit max_epoch);
    an uncommitted epoch's part is carried through VERBATIM so a replayed
    micro-batch still overwrites exactly its own part — no double-count
    window exists."""
    import os

    base = str(tmp_path / "cells")
    for i in range(3):
        spark.sql(
            K.cm_cells_sql("spark", where=f"event_id % 3 = {i}")
        ).write.parquet(f"{base}/epoch={i}")

    def estimates():
        rel = (
            "SELECT i, col, CAST(SUM(c) AS BIGINT) AS c "
            f"FROM parquet.`{base}` GROUP BY i, col"
        )
        return {
            (r["key"], r["est"])
            for r in spark.sql(
                K.cm_estimates_sql("spark", rel, threshold=0)
            ).collect()
        }

    before = estimates()
    # checkpoint with epochs 0 and 1 committed; epoch 2 still in flight
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"))
    for b in (0, 1):
        open(os.path.join(ckpt, "commits", str(b)), "w").close()
    assert K.last_committed_epoch(ckpt) == 1
    assert K.last_committed_epoch(str(tmp_path / "nope")) == -1

    folded = K.compact_sketch_parts(
        spark, base, ("i", "col"), {"c": "sum"}, checkpoint_dir=ckpt
    )
    assert folded == 2
    epochs = {
        r["epoch"]
        for r in spark.read.parquet(base).select("epoch").distinct().collect()
    }
    assert epochs == {0, 2}
    assert estimates() == before

    # the in-flight epoch replays: overwriting its own part stays correct
    spark.sql(
        K.cm_cells_sql("spark", where="event_id % 3 = 2")
    ).write.mode("overwrite").parquet(f"{base}/epoch=2")
    assert estimates() == before

    # nothing committed yet → nothing folds, tree untouched
    assert K.compact_sketch_parts(
        spark, base, ("i", "col"), {"c": "sum"}, max_epoch=-1
    ) == 0
    assert estimates() == before
    # quiescent full fold still collapses everything to one part
    assert K.compact_sketch_parts(
        spark, base, ("i", "col"), {"c": "sum"}
    ) == 2
    assert estimates() == before


def test_hll_rolling_distinct_tracks_exact_windows(spark, ev):
    """The cube-served trailing-7-day distinct must sit inside the HLL
    error band of the EXACT rolling distinct for every day."""
    from pyspark.sql import functions as F

    pairs = ev.select(
        (F.expr("unix_millis(ts)") / F.lit(86400000)).cast("long").alias("d"),
        "user_id",
    ).distinct().collect()
    by_day = {}
    for r in pairs:
        by_day.setdefault(r["d"], set()).add(r["user_id"])
    est = {
        r["day_id"]: r["distinct_est"]
        for r in K.hll_rolling_distinct(spark).collect()
    }
    assert set(est) == set(by_day)
    m = 1 << K.HLL_P
    for d in by_day:
        exact = len(set().union(*(by_day.get(x, set())
                                  for x in range(d - 6, d + 1))))
        assert abs(est[d] - exact) / exact <= 3 * 1.04 / m ** 0.5, (
            d, est[d], exact,
        )


def test_hdr_daily_cube_merge_is_lossless(spark, ev):
    """quantileMerge: day-grain quantiles from SUM-merged hourly cells
    must equal the direct per-day build EXACTLY (additivity), and track
    the per-day value-at-rank exact within 2^-M."""
    import math

    cube = {
        (r["g"], r["q"]): r["est"]
        for r in spark.sql(K.hdr_daily_from_hourly_sql("spark")).collect()
    }
    direct = {
        (r["g"], r["q"]): r["est"]
        for r in spark.sql(K.hdr_daily_direct_sql("spark")).collect()
    }
    assert cube == direct and len(cube) > 0
    by_day = {}
    for r in ev.selectExpr(
        "unix_millis(ts) DIV 86400000 AS d", "value"
    ).collect():
        by_day.setdefault(r["d"], []).append(r["value"])
    tol = 2.0 ** -K.HDR_M
    for d, vals in by_day.items():
        vals.sort()
        n = len(vals)
        for qm in (500, 900, 990):
            ex = vals[(n * qm + 999) // 1000 - 1]
            got = cube[(d, qm / 1000.0)]
            assert math.isclose(got, ex, rel_tol=2 * tol), (d, qm, got, ex)


def test_compactor_recovers_from_kill_between_renames(spark, ev, tmp_path):
    """Simulate the compactor dying after stage-out (live tree moved to
    .__compact_old, nothing at the live path): recovery must restore the
    tree and serving must resume with identical estimates."""
    import os

    base = str(tmp_path / "cells")
    for i in range(2):
        spark.sql(
            K.cm_cells_sql("spark", where=f"event_id % 2 = {i}")
        ).write.parquet(f"{base}/epoch={i}")

    def estimates():
        rel = (
            "SELECT i, col, CAST(SUM(c) AS BIGINT) AS c "
            f"FROM parquet.`{base}` GROUP BY i, col"
        )
        return {
            (r["key"], r["est"])
            for r in spark.sql(
                K.cm_estimates_sql("spark", rel, threshold=0)
            ).collect()
        }

    before = estimates()
    os.rename(base, base + ".__compact_old")  # the mid-swap crash state
    os.makedirs(base + ".__compact_tmp")      # plus a stale staging dir
    assert K.recover_sketch_parts(spark, base) == "restored_old"
    assert not os.path.exists(base + ".__compact_tmp")
    assert estimates() == before
    assert K.recover_sketch_parts(spark, base) == "ok"  # idempotent
    # and the compactor itself self-heals: kill-state again, then compact
    os.rename(base, base + ".__compact_old")
    assert K.compact_sketch_parts(spark, base, ("i", "col"), {"c": "sum"}) == 2
    assert estimates() == before


def test_kmv_retention_tracks_exact_cohorts(spark, ev):
    """The cube-served retention must track the exact day-pair retention:
    below saturation the per-day summaries are the full key sets and only
    the (possibly saturated) union estimator adds error — assert every
    pair within a 3-sigma KMV band plus a small-count floor."""
    from pyspark.sql import functions as F

    by_day = {}
    for r in ev.select(
        F.expr("unix_millis(ts) DIV 86400000").alias("d"), "user_id"
    ).distinct().collect():
        by_day.setdefault(r["d"], set()).add(r["user_id"])
    got = {
        (r["cohort_day"], r["later_day"]): (r["retained_est"], r["retention_rate"])
        for r in K.kmv_retention(spark).collect()
    }
    assert len(got) > 10
    sigma = 1.0 / (K.KMV_K - 2) ** 0.5
    for (d1, d2), (est, rate) in got.items():
        a, b = by_day[d1], by_day[d2]
        exact = len(a & b)
        tol = 3 * sigma * max(exact, 20) + 3
        assert abs(est - exact) <= tol, (d1, d2, est, exact)
        assert abs(rate - exact / len(a)) <= 3 * sigma + 0.1, (d1, d2)
    # every in-window pair present in the data is reported
    days = sorted(by_day)
    expect = {
        (d1, d2)
        for d1 in days for d2 in days
        if 1 <= d2 - d1 <= 7
    }
    assert set(got) == expect


def test_kmv_cohort_exact_below_saturation(spark, ev):
    """Round 9: the θ-sketch first-seen cohort form.  When every day's
    distinct-key count sits below k the sketches are COMPLETE (θ = 2^60),
    so cohort_est / retained_est must equal the exact first-seen counts
    row-for-row and retention_rate the exact ratio — no error band at all.
    (The sf0.001/sf0.01 corpora are in this regime: per-day distinct
    users < 256.)"""
    from pyspark.sql import functions as F

    first = {}
    active = {}
    for r in ev.select(
        F.expr("unix_millis(ts) DIV 86400000").alias("d"), "user_id"
    ).distinct().collect():
        u, d = r["user_id"], r["d"]
        first[u] = min(first.get(u, d), d)
        active.setdefault(u, set()).add(d)
    cohort_cnt = {}
    for u, d0 in first.items():
        cohort_cnt[d0] = cohort_cnt.get(d0, 0) + 1
    retained = {}
    for u, days in active.items():
        d0 = first[u]
        for d in days:
            if 1 <= d - d0 <= 7:
                retained[(d0, d - d0)] = retained.get((d0, d - d0), 0) + 1
    # guard the regime assumption the exactness claim rests on
    per_day = {}
    for u, days in active.items():
        for d in days:
            per_day[d] = per_day.get(d, 0) + 1
    assert max(per_day.values()) < K.KMV_K

    got = {
        (r["cohort_day"], r["offset_days"]):
            (r["cohort_est"], r["retained_est"], r["retention_rate"])
        for r in K.kmv_cohort(spark).collect()
    }
    assert set(got) == set(retained)
    for (d0, off), (cest, rest, rate) in got.items():
        assert cest == cohort_cnt[d0], (d0, off)
        assert rest == retained[(d0, off)], (d0, off)
        assert abs(rate - retained[(d0, off)] / cohort_cnt[d0]) < 1e-5


def test_kmv_cohort_saturation_matches_python_oracle(spark):
    """Round 9: the θ-sample estimator in the SATURATED regime (per-day
    distinct keys > k, so θ < 2^60 and the sample is a strict subset) —
    replayed exactly in python from the same md5 hash family: daily
    bottom-k, per-day thresholds, θ, the sub-θ sample, first-seen days,
    and the scaled estimates must all agree (the gate hash only proves
    the two ENGINES agree; this proves the estimator does what the spec
    says)."""
    import datetime
    import hashlib
    import random

    rng = random.Random(20260816)
    rows, eid = [], 0
    base = datetime.datetime(2024, 3, 1)
    for day in range(6):
        # 20-35 active users per day out of 60 → saturated at k=8
        for u in rng.sample(range(60), rng.randrange(20, 36)):
            rows.append(
                (eid, base + datetime.timedelta(days=day, hours=3), u,
                 "view", 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE",
    ).createOrReplaceTempView("prop_kmv_events")

    K_SMALL = 8
    got = {
        (r["cohort_day"], r["offset_days"]):
            (r["cohort_est"], r["retained_est"], r["retention_rate"])
        for r in K.kmv_cohort(
            spark, k=K_SMALL, source="prop_kmv_events"
        ).collect()
    }

    h60 = lambda u: int(
        hashlib.md5(f"{u}#kmv".encode()).hexdigest()[:15], 16
    )
    by_day = {}
    for _, ts, u, _, _ in rows:
        d = int(ts.timestamp() * 1000) // 86400000
        by_day.setdefault(d, set()).add(u)
    daily = {
        d: sorted(h60(u) for u in us)[:K_SMALL] for d, us in by_day.items()
    }
    th = {
        d: (2 ** 60 if len(by_day[d]) < K_SMALL else max(hs))
        for d, hs in daily.items()
    }
    assert any(t < 2 ** 60 for t in th.values())  # saturation reached
    theta = min(th.values())
    samp = {}
    for d, hs in daily.items():
        for h in hs:
            if h < theta:
                samp.setdefault(h, set()).add(d)
    first = {h: min(ds) for h, ds in samp.items()}
    cohort_cnt = {}
    for h, d0 in first.items():
        cohort_cnt[d0] = cohort_cnt.get(d0, 0) + 1
    retained = {}
    for h, ds in samp.items():
        d0 = first[h]
        for d in ds:
            if 1 <= d - d0 <= 7:
                retained[(d0, d - d0)] = retained.get((d0, d - d0), 0) + 1
    assert set(got) == set(retained)
    scale = 2.0 ** 60 / theta
    for (d0, off), cnt in retained.items():
        cest, rest, rate = got[(d0, off)]
        assert abs(cest - cohort_cnt[d0] * scale) < 2e-3, (d0, off)
        assert abs(rest - cnt * scale) < 2e-3, (d0, off)
        assert abs(rate - cnt / cohort_cnt[d0]) < 2e-6, (d0, off)

"""Gap-based sessionization over the event stream.

Not in the reference's surface (SURVEY §2 "not present" list) but core to a
security/UBA engine: group a user's events into sessions separated by ≥ gap of
inactivity.  Classic two-window formulation — lag to mark session starts,
running sum to number them — all JVM window functions, one shuffle on the
partition key.  At 100 TB the shuffle is by ``user_id`` (high cardinality, no
skew hot-spot); the windows never materialize more than a partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    agg_cols: dict[str, str] | None = None,
) -> DataFrame:
    """One row per (user, session): bounds, event count, value sum.

    ``agg_cols`` maps measure column → output alias (summed per session).
    """
    gap_ms = gap_minutes * 60 * 1000
    w = Window.partitionBy(user_col).orderBy(ts_col)
    marked = df.withColumn(
        "__new_session",
        F.when(
            (
                F.unix_millis(F.col(ts_col))
                - F.unix_millis(F.lag(ts_col).over(w))
            )
            > gap_ms,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "session_id",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    for col, alias in (agg_cols or {}).items():
        aggs.append(F.round(F.sum(col), 2).alias(alias))
    return (
        marked.groupBy(user_col, "session_id")
        .agg(*aggs)
        .drop("__new_session")
    )


def sessionize_bucketed(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    agg_cols: dict[str, str] | None = None,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Skew-safe twin of :func:`sessionize` — identical output, window
    partitions bounded by (user × day).

    The plain form sorts each user's ENTIRE history in one task; a bot
    account holding 5–20 % of 100 TB of events makes that a single straggler
    (measured 7.88 s vs 3.47–4.37 s for the bucketed LAG family at 64×/50 %
    skew — DESIGN.md).  Same two-level decomposition as
    :func:`~qradar_restapi_kafka_datapipeline_spark.operators.skew.bucketed_lag`,
    specialized to gaps-and-islands numbering:

    1. per-(user, day) windows mark intra-day session starts and number them
       (``__intra_run``) — every window partition is bounded by one user-day;
    2. a per-(user, day) relation (|users × days| rows, tiny vs events)
       carries first/last event ms and the intra-day start count; a LAG over
       THAT relation decides whether each day's FIRST event continues the
       previous day's session (``__bflag``) and a running sum supplies the
       session-number offset of all prior days;
    3. ``session_id = offset + __bflag + __intra_run`` reproduces the plain
       running-sum numbering exactly, and the final per-(user, session)
       aggregate combines map-side (sum/min/max/count), so no straggler.

    Exactly equal to :func:`sessionize` because day is a monotone truncation
    of ``ts``: intra-day rows see the same LAG predecessor either way, and a
    day's first row's start flag is precisely the cross-midnight gap test.
    Sub-ms ordering differences cannot flip a flag (rows within one ms have
    gap 0 — they can never split a session), so ordering by
    (ms, ``tiebreak_col``) is deterministic AND plain-LAG-compatible.
    Oracle-proven: the gate entry's DuckDB oracle IS the plain form's SQL.
    """
    gap_ms = gap_minutes * 60 * 1000
    e = df.withColumn("__ms", F.unix_millis(F.col(ts_col))).withColumn(
        "__day", F.to_date(ts_col)
    )
    w_in = Window.partitionBy(user_col, "__day").orderBy("__ms", tiebreak_col)
    marked = (
        e.withColumn("__prev_ms", F.lag("__ms").over(w_in))
        .withColumn(
            "__flag",
            F.when(F.col("__ms") - F.col("__prev_ms") > gap_ms, 1)
            .otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "__intra_run",
            F.sum("__flag").over(
                w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    bstats = marked.groupBy(user_col, "__day").agg(
        F.min("__ms").alias("__first_ms"),
        F.max("__ms").alias("__last_ms"),
        F.sum("__flag").alias("__intra_starts"),
    )
    w_b = Window.partitionBy(user_col).orderBy("__day")
    b2 = (
        bstats.withColumn("__prev_last", F.lag("__last_ms").over(w_b))
        .withColumn(
            "__bflag",
            F.when(F.col("__first_ms") - F.col("__prev_last") > gap_ms, 1)
            .otherwise(0)  # first day: NULL gap → continue (plain LAG NULL → 0)
            .cast("long"),
        )
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum(F.col("__intra_starts") + F.col("__bflag")).over(
                    w_b.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .select(user_col, "__day", "__bflag", "__offset")
    )
    sessions = marked.join(b2, [user_col, "__day"]).withColumn(
        "session_id", F.col("__offset") + F.col("__bflag") + F.col("__intra_run")
    )
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    for col, alias in (agg_cols or {}).items():
        aggs.append(F.round(F.sum(col), 2).alias(alias))
    return sessions.groupBy(user_col, "session_id").agg(*aggs)


def sessionize_sql(dialect: str, gap_minutes: int = 30, source: str = "events") -> str:
    """The same sessionization as one SQL string per dialect (oracle twin)."""
    epoch_ms = "unix_millis({c})" if dialect == "spark" else "epoch_ms({c})"
    gap_ms = gap_minutes * 60 * 1000
    prev = epoch_ms.format(c="LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)")
    cur = epoch_ms.format(c="ts")
    return f"""
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM (
        SELECT user_id, ts, value,
               CASE WHEN {cur} - {prev} > {gap_ms}
                    THEN 1 ELSE 0 END AS new_session
        FROM {source}
      ) m
    ) s
    GROUP BY user_id, session_id
    """


def window_funnel_sql(
    dialect: str,
    steps: tuple[str, ...] = (
        "event_type = 'view'",
        "event_type = 'click'",
        "event_type = 'purchase'",
    ),
    window_ms: int = 3_600_000,
    source: str = "events",
    mode: str = "default",
    bucketed: bool = False,
    _emit: str = "levels",
    _quantiles: tuple[tuple[str, float], ...] = (),
) -> str:
    """ClickHouse ``windowFunnel`` as a relation (round 8): per user, the
    deepest funnel level L such that step events occur in (non-strict)
    time order with the WHOLE chain inside ``window_ms`` of its step-1
    anchor; emits ``(funnel_level, n_users)`` over users with ≥1 step
    event.  The conversion question every product/security journey asks
    ("viewed → clicked → purchased within an hour").

    NO self-joins (a per-user step1×step2 join is quadratic on hot
    users): one window pass per step propagates a RUNNING-MAX anchor —
    a_1(t) = latest step-1 ts ≤ t; a_k(t) = latest a_{k-1} carried by a
    step-k row ≤ t — and a step-k row reaches level k iff
    t − a_{k-1} ≤ window (intermediate steps need no own check: they lie
    between anchor and the final step, so their span is implied; a MAX
    anchor is optimal for the final-span test).  Linear per user, one
    shuffle on user_id; ordering is ({ms}(ts), event_id) — the
    generation-stable discipline (CLAUDE.md) — so both engines walk
    identical sequences and the result is fully hash-checked.

    ``mode`` (round 9, VERDICT r8 #5 — the strict variants a ClickHouse
    windowFunnel user reaches next, as SEGMENTATION over the same anchor
    chain; one extra window pass, still linear per user):

    - ``"default"``: as above.
    - ``"strict_order"``: any event matching NO step predicate breaks
      every in-flight chain (ClickHouse ``strict_order``'s A→B→D→C = 2).
      Needs the full event stream: rows are segmented by a running count
      of non-step events and the anchor chain runs PARTITION BY
      (user, segment) — chains can only form over CONSECUTIVE step
      events.  Out-of-order step events do not break (they are chain
      material, not foreign).
    - ``"strict_dedup"``: a step event repeating the IMMEDIATELY
      PRECEDING step value breaks the chain at that point (ClickHouse
      ``strict_deduplication``'s consecutive-repeat reading: A→A stops
      at 1, A→B→B→C at 2).  The breaking event opens the next segment,
      so it may itself start a new chain.  Divergence from ClickHouse is
      documented, not hidden: ClickHouse also interrupts on a NON-
      consecutive repeat (A→B→A→C stops at 2; here the stale repeat is
      ignored and C completes level 3) — the consecutive rule is the one
      expressible as segmentation, and the fuzz oracle enumerates chains
      under exactly this rule.
    - ``"strict_increase"``: consecutive chain events must have STRICTLY
      increasing timestamps (ClickHouse ``strict_increase``: same-ms
      view+click cannot chain).  Implemented by switching the anchor
      windows to ``RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``
      over ``t`` — ties on t fall out of the frame, so an anchor is only
      visible to strictly-later rows; MAX is order-independent inside
      the frame, so no event_id tie-break is needed and the result is
      deterministic in both engines with no ordering discipline at all.

    ``bucketed`` (round 10, VERDICT r9 #3 — the hot-user straggler
    mitigation, the window-family ``skew.py`` discipline applied to the
    funnel): the plain form sorts each user's ENTIRE stream in one
    window partition, so one bot account holding a large share of the
    corpus becomes a single straggler task.  But every VALID chain spans
    at most ``window_ms`` (the final-step check bounds it), so aligned
    time buckets of width ``window_ms`` decompose the problem: a chain
    whose final event falls in bucket b has its anchor in bucket b or
    b−1 — never earlier (an anchor two buckets back is > window away
    and the span check rejects it).  Each row fans out into the TWO
    adjacent bucket-pairs (p = b and p = b+1, each pair covering buckets
    {p−1, p}); the identical anchor cascade runs per (user, pair); the
    per-user funnel level is the MAX across pairs — duplicate-
    insensitive, and pair-local anchors are a SUBSET of global ones
    while the responsible pair contains every valid chain whole, so
    bucketed ≡ plain exactly.  Strict modes survive the decomposition
    because segment membership is LOCAL (two chain events are
    co-segment iff no breaker lies between them, and the pair contains
    every event in its 2-bucket time range); a pair's first row starts
    a fresh segment under either its global or local break flag, so
    boundary rows cannot diverge.  2× row fan-out buys window
    partitions bounded by (user × 2·window) regardless of how hot the
    user is.  Gate-proven equal to the PLAIN form (the DuckDB oracle is
    the unbucketed SQL — an independent formulation, not shared text).
    """
    ms = "unix_millis" if dialect == "spark" else "epoch_ms"
    step_case = " ".join(
        f"WHEN {p} THEN {i + 1}" for i, p in enumerate(steps)
    )
    n = len(steps)
    if n < 1:
        raise ValueError("window_funnel_sql needs at least one step")
    if mode not in (
        "default", "strict_order", "strict_dedup", "strict_increase"
    ):
        raise ValueError(f"window_funnel_sql: unknown mode {mode!r}")
    frame = (
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    # strict_increase: anchors visible only from STRICTLY later t — a
    # RANGE frame excludes ties on the (single) ordering key, and MAX is
    # order-independent within the frame, so event_id never appears
    anchor_order = f"ORDER BY t, event_id {frame}"
    if mode == "strict_increase":
        anchor_order = (
            "ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        )
    div = "DIV" if dialect == "spark" else "//"
    # bucketed: fan each row into its two adjacent bucket-pairs — a
    # constant-fan-out join with a 2-row literal (never a cartesian on
    # data), then every window partition gains the pair key
    fan = (
        f", (t {div} {window_ms}) + s.i AS p"
        if bucketed
        else ""
    )
    two = (
        " CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) s"
        if bucketed
        else ""
    )
    upk = "user_id, p" if bucketed else "user_id"
    if mode in ("default", "strict_increase"):
        pk = upk
        ctes = [
            f"""ev AS (
      SELECT e.*{fan} FROM (
        SELECT user_id, {ms}(ts) AS t, event_id,
               CASE {step_case} ELSE 0 END AS step
        FROM {source} WHERE CASE {step_case} ELSE 0 END > 0
      ) e{two}
    )"""
        ]
    elif mode == "strict_order":
        pk = f"{upk}, seg"
        ctes = [
            f"""raw AS (
      SELECT e.*{fan} FROM (
        SELECT user_id, {ms}(ts) AS t, event_id,
               CASE {step_case} ELSE 0 END AS step
        FROM {source}
      ) e{two}
    )""",
            f"""ev AS (
      SELECT * FROM (
        SELECT *, CAST(SUM(CASE WHEN step = 0 THEN 1 ELSE 0 END) OVER (
                 PARTITION BY {upk} ORDER BY t, event_id {frame})
               AS BIGINT) AS seg
        FROM raw
      ) s WHERE step > 0
    )""",
        ]
    else:  # strict_dedup
        pk = f"{upk}, seg"
        ctes = [
            f"""raw AS (
      SELECT e.*{fan} FROM (
        SELECT user_id, {ms}(ts) AS t, event_id,
               CASE {step_case} ELSE 0 END AS step
        FROM {source} WHERE CASE {step_case} ELSE 0 END > 0
      ) e{two}
    )""",
            f"""ev AS (
      SELECT user_id, t, event_id, step{", p" if bucketed else ""},
             CAST(SUM(brk) OVER (
               PARTITION BY {upk} ORDER BY t, event_id {frame})
             AS BIGINT) AS seg
      FROM (
        SELECT *, CASE WHEN step = LAG(step) OVER (
                 PARTITION BY {upk} ORDER BY t, event_id)
               THEN 1 ELSE 0 END AS brk
        FROM raw
      ) m
    )""",
        ]
    ctes.append(f"""a1 AS (
      SELECT *, MAX(CASE WHEN step = 1 THEN t END) OVER (
               PARTITION BY {pk} {anchor_order}) AS anc1
      FROM ev
    )""")
    for k in range(2, n):
        ctes.append(f"""a{k} AS (
      SELECT *, MAX(CASE WHEN step = {k} THEN anc{k - 1} END) OVER (
               PARTITION BY {pk} {anchor_order}) AS anc{k}
      FROM a{k - 1}
    )""")
    if _emit == "latency":
        if n < 2:
            raise ValueError("funnel latency needs at least two steps")
        qvals = ", ".join(
            f"('{lbl}', CAST({q} AS DOUBLE))" for lbl, q in _quantiles
        )
        qt = (
            f"VALUES {qvals} AS qt(ql, q)"
            if dialect == "spark"
            else f"(VALUES {qvals}) qt(ql, q)"
        )
        return f"""
    WITH {", ".join(ctes)},
    lat AS (
      SELECT user_id,
             MIN(CASE WHEN step = {n} AND anc{n - 1} IS NOT NULL
                       AND t - anc{n - 1} <= {window_ms}
                  THEN t - anc{n - 1} END) AS ms
      FROM a{n - 1} GROUP BY user_id
    ),
    ranked AS (
      SELECT ms, ROW_NUMBER() OVER (ORDER BY ms, user_id) AS rk,
             COUNT(*) OVER () AS nconv
      FROM lat WHERE ms IS NOT NULL
    )
    SELECT qt.ql AS quantile, CAST(r.ms AS BIGINT) AS latency_ms,
           CAST(r.nconv AS BIGINT) AS n_converted
    FROM ranked r
    JOIN {qt}
      ON r.rk = CAST(CEIL(qt.q * r.nconv) AS BIGINT)
    """
    level_arms = " ".join(
        f"WHEN step = {k} AND anc{k - 1} IS NOT NULL "
        f"AND t - anc{k - 1} <= {window_ms} THEN {k}"
        for k in range(n, 1, -1)
    )
    return f"""
    WITH {", ".join(ctes)},
    lv AS (
      SELECT user_id,
             MAX(CASE {level_arms} WHEN step = 1 THEN 1 ELSE 0 END)
               AS funnel_level
      FROM a{max(n - 1, 1)} GROUP BY user_id
    )
    SELECT funnel_level, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM lv GROUP BY funnel_level
    """


def window_funnel_latency_sql(
    dialect: str,
    steps: tuple[str, ...] = (
        "event_type = 'view'",
        "event_type = 'click'",
        "event_type = 'purchase'",
    ),
    window_ms: int = 3_600_000,
    source: str = "events",
    mode: str = "default",
    bucketed: bool = False,
    quantiles: tuple[tuple[str, float], ...] = (
        ("p50", 0.5), ("p90", 0.9), ("p99", 0.99),
    ),
) -> str:
    """Conversion-LATENCY distribution over the same anchor cascade
    (round 10) — the question every funnel user asks next: for users who
    complete all ``steps`` within ``window_ms``, how long did the
    fastest completing chain take?  Per user the latency is
    ``MIN(t_final − anc_{{n−1}})`` over qualifying final-step rows — the
    running-MAX anchor already maximizes the chain start per final row,
    so the row-wise span is minimal and the per-user MIN is the true
    minimal end-to-end duration (the brute-force fuzz oracle enumerates
    chains and agrees).  Emits one row per quantile:
    ``(quantile, latency_ms, n_converted)`` where ``latency_ms`` is the
    VALUE-AT-RANK exact order statistic (``ceil(q·n)``-th, ties settled
    by user_id) — the CLAUDE.md rank discipline, fully hash-checkable,
    no interpolation.  ``mode``/``bucketed`` compose exactly as in
    :func:`window_funnel_sql`; under ``bucketed`` the per-user MIN over
    bucket-pairs equals the plain MIN (every pair chain is a real chain
    and the responsible pair contains the minimal one)."""
    return window_funnel_sql(
        dialect, steps=steps, window_ms=window_ms, source=source,
        mode=mode, bucketed=bucketed, _emit="latency",
        _quantiles=quantiles,
    )


def cohort_retention_exact_sql(
    dialect: str,
    max_offset: int = 7,
    source: str = "events",
) -> str:
    """Exact cohort retention (round 8): for every (cohort day d, offset
    i ≤ ``max_offset``) with any returning activity, how many of the
    users FIRST SEEN on day d were active again on day d+i — the classic
    product cohort metric, complementing the KMV-cube estimator
    (:func:`...sketches.kmv_retention_sql`, which estimates the related
    DAY-PAIR overlap — day-d actives returning on d+i — from bounded
    per-day summaries without rescanning events).

    Shape: distinct (user, day) pairs → per-user MIN day (the cohort) →
    one equi-join of activity back to cohorts on user_id → count per
    (cohort, offset).  Every shuffle keys on user_id or the bounded
    (cohort_day, offset) pair; no window, no range join.  Day ids come
    from the shared epoch-ms truncation (generation-stable, CLAUDE.md)."""
    ms = "unix_millis" if dialect == "spark" else "epoch_ms"
    div = "DIV" if dialect == "spark" else "//"
    return f"""
    WITH ud AS (
      SELECT DISTINCT user_id, {ms}(ts) {div} 86400000 AS day_id
      FROM {source}
    ),
    cohort AS (
      SELECT user_id, MIN(day_id) AS cohort_day FROM ud GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM cohort GROUP BY cohort_day
    ),
    ret AS (
      SELECT c.cohort_day, u.day_id - c.cohort_day AS offset_days,
             CAST(COUNT(*) AS BIGINT) AS retained
      FROM ud u JOIN cohort c ON c.user_id = u.user_id
      WHERE u.day_id - c.cohort_day BETWEEN 1 AND {max_offset}
      GROUP BY c.cohort_day, u.day_id - c.cohort_day
    )
    SELECT r.cohort_day, r.offset_days, s.cohort_users, r.retained,
           ROUND(CAST(r.retained AS DOUBLE)
                 / CAST(s.cohort_users AS DOUBLE) + 1e-9, 6)
             AS retention_rate
    FROM ret r JOIN sizes s ON s.cohort_day = r.cohort_day
    ORDER BY r.cohort_day, r.offset_days
    """


def cohort_retention_exact(
    spark,
    max_offset: int = 7,
    source: str = "events",
) -> DataFrame:
    """DataFrame-chain twin of :func:`cohort_retention_exact_sql` with ONE
    events scan (VERDICT r8 #1).

    The SQL form's ``ud`` CTE is consumed by two downstream relations and
    ``cohort`` by two more — and Spark re-executes lineage referenced
    through SQL ``WITH`` CTEs (round-4 CacheManager finding), so the plan
    carried THREE full event scans for what is logically one distinct pass
    plus two small joins.  Here ``ud`` is a persisted DataFrame object:
    CacheManager substitution reaches DataFrame-object references, so every
    consumer scans the compact InMemoryRelation and events is read once.
    ``sizes`` (≤ |days| rows) is broadcast into the final join.  The DuckDB
    oracle stays the SQL form — value parity is engine-proven, not claimed.
    """
    from qradar_restapi_kafka_datapipeline_spark import engine

    ud = (
        spark.table(source)
        .select(
            "user_id",
            F.expr("unix_millis(ts) DIV 86400000").alias("day_id"),
        )
        .distinct()
    )
    ud = engine.persist_tracked(ud, "cohort_retention_ud")
    cohort = ud.groupBy("user_id").agg(F.min("day_id").alias("cohort_day"))
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    ret = (
        ud.join(cohort, "user_id")
        .withColumn("offset_days", F.col("day_id") - F.col("cohort_day"))
        .where(F.col("offset_days").between(1, max_offset))
        .groupBy("cohort_day", "offset_days")
        .agg(F.count(F.lit(1)).cast("long").alias("retained"))
    )
    return (
        ret.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "offset_days",
            "cohort_users",
            "retained",
            F.round(
                F.col("retained").cast("double")
                / F.col("cohort_users").cast("double")
                + F.lit(1e-9),
                6,
            ).alias("retention_rate"),
        )
    )
    # No final orderBy: the gate's value hash is order-insensitive and the
    # range-partition exchange for a global sort would be the plan's 6th
    # shuffle for pure presentation.


def hysteresis_alerts_sql(
    dialect: str,
    hi_pct: int = 120,
    lo_pct: int = 95,
    source: str = "events",
    rates_rel: str | None = None,
) -> str:
    """Threshold alerting WITH HYSTERESIS (round 9) — the flapping-proof
    alert rule every SIEM/monitoring stack runs: per event_type, an
    alert episode turns ON when the daily rate reaches ``hi_pct``% of
    that type's own mean daily rate and stays ON until the rate falls
    to ``lo_pct``% (two thresholds, so rates oscillating around a single
    boundary cannot flap the alert).  Emits one row per alert EPISODE:
    (event_type, start_day, end_day, n_days, peak_rate).

    Relative thresholds make the rule scale-free: crossings compare
    ``rate · n_days · 100`` against ``total · pct`` — exact BIGINT
    arithmetic, no float mean, identical in both engines at any SF.

    State propagation without a state machine: each crossing encodes its
    direction INTO a running MAX — ``day_id · 2 + 1`` for an up-cross,
    ``day_id · 2`` for a down-cross — so the current state is just
    ``(max encoding so far) % 2`` (later days dominate regardless of
    direction; the parity carries the verdict).  One window pass per
    series, no self-joins.  Episodes are maximal runs of CONSECUTIVE
    ON days: a day with no events ENDS the episode (islands split on day
    gaps rather than densifying a spine — the scale-safe semantic; at
    100 TB the per-(type, day) relation is tiny but a dense spine per
    entity would not be), while the state machine itself is driven only
    by OBSERVED crossings — a dead-band day after a gap resumes in the
    inherited state, which is exactly hysteresis ("hold the last
    verdict until a boundary says otherwise").  Windows order by day_id
    (unique per series) — no tie-break discipline needed.

    ``rates_rel``: optional SQL relation already at ``(event_type,
    day_id, rate)`` grain (e.g. SUM-merged per-epoch streaming parts,
    :func:`hysteresis_streaming`); when given it replaces the events
    scan — the episode derivation is identical, which is the point:
    daily rates are the exactly-once unit, episodes derive at read."""
    ms = "unix_millis" if dialect == "spark" else "epoch_ms"
    div = "DIV" if dialect == "spark" else "//"
    dr = rates_rel or f"""
      SELECT event_type, {ms}(ts) {div} 86400000 AS day_id,
             CAST(COUNT(*) AS BIGINT) AS rate
      FROM {source} GROUP BY event_type, {ms}(ts) {div} 86400000
    """
    return f"""
    WITH dr AS ({dr}),
    tot AS (
      SELECT event_type, CAST(SUM(rate) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM dr GROUP BY event_type
    ),
    marks AS (
      SELECT /*+ BROADCAST(t) */ d.event_type, d.day_id, d.rate,
             CASE WHEN d.rate * t.n_days * 100 >= t.total * {hi_pct}
                  THEN d.day_id * 2 + 1
                  WHEN d.rate * t.n_days * 100 <= t.total * {lo_pct}
                  THEN d.day_id * 2
                  ELSE NULL END AS crossing
      FROM dr d JOIN tot t ON t.event_type = d.event_type
    ),
    st AS (
      SELECT event_type, day_id, rate,
             MAX(crossing) OVER (PARTITION BY event_type ORDER BY day_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
      FROM marks
    ),
    onrows AS (
      SELECT event_type, day_id, rate FROM st
      WHERE lc IS NOT NULL AND lc % 2 = 1
    ),
    runs AS (
      SELECT event_type, day_id, rate,
             day_id - ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY day_id) AS run_id
      FROM onrows
    )
    SELECT event_type, CAST(MIN(day_id) AS BIGINT) AS start_day,
           CAST(MAX(day_id) AS BIGINT) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(rate) AS BIGINT) AS peak_rate
    FROM runs GROUP BY event_type, run_id
    """


def event_path_trigrams_sql(
    dialect: str,
    top_k: int = 20,
    source: str = "events",
) -> str:
    """Top event-type paths of length 3 (round 9) — the Sankey/path
    analysis every product- and security-analytics UI draws: for each
    user's event stream in time order, count every consecutive
    (e1 → e2 → e3) window and rank corpus-wide.  Two LEAD passes over
    ONE user-keyed window sort (no self-joins — the naive formulation is
    a double self-join on adjacency), then a tiny (|types|³-bounded)
    aggregate.  Ordering is ({ms}(ts), event_id) — the generation-stable
    discipline — and rank ties settle on the path labels, so the top-k
    cut is deterministic and fully hash-checked."""
    ms = "unix_millis" if dialect == "spark" else "epoch_ms"
    return f"""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM {source}
      WINDOW w AS (PARTITION BY user_id ORDER BY {ms}(ts), event_id)
    ),
    paths AS (
      SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY e1, e2, e3
    )
    SELECT e1, e2, e3, n_paths, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY n_paths DESC, e1, e2, e3) AS rk
      FROM paths
    ) r WHERE rk <= {top_k}
    """


def event_path_trigrams_bucketed(
    spark,
    top_k: int = 20,
    source: str = "events",
) -> DataFrame:
    """Hot-user-safe twin of :func:`event_path_trigrams_sql` (round 10,
    VERDICT r9 #3 — the ``skew.py`` bucketed-window discipline applied
    to the path LEADs): the plain form sorts each user's entire stream
    in ONE window partition, so a bot account owning half the corpus is
    a single straggler task.  Here the two LEADs run per (user, DAY)
    bucket — bounded partitions — and the ≤2 rows per bucket whose
    leads cross the day boundary are stitched from a tiny per-(user,
    day) FIRSTS relation (first two event types of each day, ≤ 2·days
    rows per user no matter how hot the user is):

    - last row of a day:       e2 = next day's 1st, e3 = next day's 2nd
      (or the day-after-next's 1st when the next non-empty day has a
      single row — LEAD over the firsts relation skips empty days, and
      the flattened firsts are exactly the user's next stream rows);
    - second-to-last row:      e3 = next day's 1st (e2 is in-bucket).

    The stitch is POSITIONAL (row-number cases), never coalesce — the
    ``bucketed_lag`` rule — though event_type is non-null here, the
    discipline keeps the twin textually honest with the family.  Output
    ≡ plain form exactly; the gate oracle is the PLAIN single-window
    SQL on DuckDB — an independent formulation, so the equality is
    engine-proven, not shared-builder text."""
    from pyspark.sql.window import Window

    ev = spark.table(source).select(
        "user_id",
        "event_id",
        F.col("event_type").alias("e1"),
        F.expr("unix_millis(ts)").alias("__ms"),
        F.expr("unix_millis(ts) DIV 86400000").alias("__day"),
    )
    w_in = Window.partitionBy("user_id", "__day").orderBy("__ms", "event_id")
    w_end = Window.partitionBy("user_id", "__day").orderBy(
        F.col("__ms").desc(), F.col("event_id").desc()
    )
    inner = (
        ev.withColumn("__l1", F.lead("e1", 1).over(w_in))
        .withColumn("__l2", F.lead("e1", 2).over(w_in))
        .withColumn("__rn", F.row_number().over(w_in))
        .withColumn("__rn_end", F.row_number().over(w_end))
    )
    # per-(user, day) first two event types, pivoted to one row per day
    firsts = (
        inner.where(F.col("__rn") <= 2)
        .groupBy("user_id", "__day")
        .agg(
            F.max(F.when(F.col("__rn") == 1, F.col("e1"))).alias("__f1"),
            F.max(F.when(F.col("__rn") == 2, F.col("e1"))).alias("__f2"),
        )
    )
    w_days = Window.partitionBy("user_id").orderBy("__day")
    nxt = (
        firsts.withColumn("__nf1", F.lead("__f1").over(w_days))
        .withColumn("__nf2", F.lead("__f2").over(w_days))
        .withColumn("__nnf1", F.lead("__f1", 2).over(w_days))
        .select(
            "user_id",
            "__day",
            F.col("__nf1").alias("__nxt1"),
            F.when(
                F.col("__nf2").isNotNull(), F.col("__nf2")
            )
            .when(F.col("__nf1").isNotNull(), F.col("__nnf1"))
            .alias("__nxt2"),
        )
    )
    stitched = (
        inner.join(nxt, ["user_id", "__day"], "left")
        .select(
            "e1",
            F.when(F.col("__rn_end") == 1, F.col("__nxt1"))
            .otherwise(F.col("__l1"))
            .alias("e2"),
            F.when(F.col("__rn_end") == 1, F.col("__nxt2"))
            .when(F.col("__rn_end") == 2, F.col("__nxt1"))
            .otherwise(F.col("__l2"))
            .alias("e3"),
        )
    )
    paths = (
        stitched.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )
    w_rk = Window.orderBy(
        F.col("n_paths").desc(), F.col("e1"), F.col("e2"), F.col("e3")
    )
    return (
        paths.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .where(F.col("rk") <= top_k)
    )


def hysteresis_streaming(
    spark,
    hi_pct: int = 120,
    lo_pct: int = 95,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
) -> DataFrame:
    """Continuously-maintained hysteresis alerting (round 10, VERDICT r9
    #7) — the ``streaming_*_parity`` motif applied to the most
    streaming-shaped round-9 op: replay the events relation as an
    ``n_batches`` file stream, fold each micro-batch's ``(event_type,
    day_id, rate)`` counts as an immutable PER-EPOCH increment part
    (``rates/epoch=N``, mode=overwrite — a replayed epoch rewrites its
    own part, so there is no commit window and no double-fold; the
    round-7 protocol), SUM-merge the parts at read, and derive alert
    EPISODES from the merged daily rates with the one-shot
    :func:`hysteresis_alerts_sql` tail.  Daily rates are the
    exactly-once additive unit; episodes (thresholds, crossings,
    islands) are a pure function of them, so streamed ≡ one-shot
    value-for-value — the gate oracle computes episodes from the whole
    corpus in a single statement and a lost or double-folded batch
    shifts a rate past a threshold boundary and hash-fails.

    ``_crash_after_write_epoch``: crash-injection hook (raise once AFTER
    the part write — the widest failure window — then restart from the
    same checkpoint; the replayed epoch overwrites its own part).

    The scratch tree (landing splits, per-epoch parts, checkpoint) is
    eagerly removed before returning (ADVICE r10): episodes are a
    bounded relation (per-type threshold crossings), so they are
    materialized driver-side and returned as a literal DataFrame — a
    long-lived session running the parity entry repeatedly no longer
    accumulates scratch until interpreter exit."""
    import os
    import shutil

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir
    from qradar_restapi_kafka_datapipeline_spark.parts import replay_epochs

    src_rel = spark.table("events").select(
        F.col("event_id"), F.col("event_type"), F.col("ts")
    )
    base = scratch_dir("hyst_stream_")
    rates_path = os.path.join(base, "rates")

    def rates(batch: DataFrame) -> DataFrame:
        return batch.sparkSession.sql(
            """
            SELECT event_type, unix_millis(ts) DIV 86400000 AS day_id,
                   CAST(COUNT(*) AS BIGINT) AS rate
            FROM {batch}
            GROUP BY event_type, unix_millis(ts) DIV 86400000
            """,
            batch=batch,
        )

    try:
        replay_epochs(
            spark, src_rel, ["event_id"], n_batches, base, rates_path, rates,
            crash_after_write_epoch=_crash_after_write_epoch,
        )
        merged = (
            "SELECT event_type, day_id, CAST(SUM(rate) AS BIGINT) AS rate "
            f"FROM parquet.`{rates_path}` GROUP BY event_type, day_id"
        )
        episodes = spark.sql(
            hysteresis_alerts_sql(
                "spark", hi_pct, lo_pct, rates_rel=merged
            )
        )
        return local_relation(spark, episodes.toArrow(), episodes.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)

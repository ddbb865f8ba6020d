"""Mergeable sketches — Count-Min heavy hitters + HyperLogLog distinct
(round 6, beyond-ref).

The reference's ClickHouse tables answer top-K / uniq questions with full
scans at its scale (reference ``clickhouse/clickhouse.py:70-81``); at
100 TB the engine-side answer is FIXED-SIZE mergeable summaries kept per
partition/hour and combined without re-scanning: Count-Min cells ADD
(Cormode & Muthukrishnan 2005) and HLL registers MAX (Flajolet et al.
2007).  Both merges are exact by construction — proven here by the
merge-parity gate entries, whose Spark side merges per-half sketches while
the DuckDB oracle computes the whole-corpus sketch directly, so a single
wrong cell/register hash-fails.  The CM cell relation is literally a
SummingMergeTree shape ((i, col) dims + an additive count measure), so the
existing rollup/merge machinery applies to it unchanged.

Cross-engine determinism: the hash family is the portable 60-bit
md5-derived one (the ``operators/dedup.py`` ``PORTABLE_SEED_HASH``
contract), every cell/register is an exact BIGINT, and the HLL 2^-r series
is summed as exact integers (``2^(RMAX-r)`` — doubles would lose the
low-order bits of mixed-magnitude partial sums and become
order-dependent).  Doubles appear only in the final estimate expression,
shared text both engines, rounded at 6 dp (+1e-9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.parts import (
    heal_swap,
    list_names,
    replay_epochs,
    swap_dir,
)

# defaults sized for the gate corpora; at 100 TB these are config knobs —
# the sketch stays d*w (CM) / 2^p (HLL) cells regardless of data volume
CM_D = 4
CM_W = 256
HLL_P = 9  # 512 registers, sigma ~ 1.04/sqrt(512) ~ 4.6 %

#: 60-bit budget of the portable hash (15 hex digits); HLL splits it into
#: p bucket bits + (60-p) rank bits, so rho in [1, 60-p+1]
_HASH_BITS = 60


def _h60(dialect: str, key: str, seed_expr: str) -> str:
    """Portable per-seed 60-bit hash of a STRING expression — md5 of
    ``key || '#' || seed``, first 15 hex digits as BIGINT (the dedup
    portable-hash family, seed as an expression so Count-Min's d rows can
    derive it from the exploded row index)."""
    if dialect == "spark":
        return (
            f"CAST(CONV(SUBSTR(MD5(CONCAT({key}, '#', {seed_expr})), 1, 15), "
            f"16, 10) AS BIGINT)"
        )
    return (
        f"CAST(('0x' || substr(md5({key} || '#' || {seed_expr}), 1, 15)) "
        f"AS BIGINT)"
    )


def _seeds(dialect: str, d: int) -> str:
    if dialect == "spark":
        return f"SELECT explode(sequence(0, {d - 1})) AS i"
    return f"SELECT UNNEST(generate_series(0, {d - 1})) AS i"


def cm_cells_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    d: int = CM_D,
    w: int = CM_W,
    where: str = "",
) -> str:
    """The Count-Min sketch as a relation: ``(i, col, c)`` — d×w additive
    cells.  Build is one wide groupBy with map-side partial aggregation
    (each input row lands in d cells); the shuffled keyspace is the d·w
    constant, never the corpus.  Cells ADD: sketches built per partition /
    per hour / per source merge by SUM — the CM linearity that makes this
    the 100 TB topK primitive."""
    wcl = f"WHERE {where} " if where else ""
    h = _h60(dialect, "src.k", "CAST(s.i AS STRING)")
    return f"""
    SELECT s.i, {h} % {w} AS col, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT {key_expr} AS k FROM {source} {wcl}) src
    CROSS JOIN ({_seeds(dialect, d)}) s
    GROUP BY s.i, {h} % {w}
    """


def cm_estimates_sql(
    dialect: str,
    cells_rel: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    d: int = CM_D,
    w: int = CM_W,
    threshold: int = 0,
) -> str:
    """Point estimates from ANY cells relation: est(k) = MIN over the d
    probed cells — never an underestimate (every probed cell holds k's
    full count plus nonnegative collisions).  ``threshold`` keeps the
    heavy hitters.  The candidate keys here come from the corpus (the
    gate needs a deterministic key set); a production stream would probe
    only its watchlist."""
    h = _h60(dialect, "keys.k", "CAST(s.i AS STRING)")
    return f"""
    WITH probes AS (
      SELECT keys.k, s.i, {h} % {w} AS col
      FROM (SELECT DISTINCT {key_expr} AS k FROM {source}) keys
      CROSS JOIN ({_seeds(dialect, d)}) s
    ),
    est AS (
      SELECT p.k, MIN(cells.c) AS est
      FROM probes p JOIN ({cells_rel}) cells
        ON cells.i = p.i AND cells.col = p.col
      GROUP BY p.k
    )
    SELECT k AS key, CAST(est AS BIGINT) AS est
    FROM est WHERE est >= {threshold}
    """


def cm_heavy_hitters_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    d: int = CM_D,
    w: int = CM_W,
    threshold: int = 0,
) -> str:
    """Whole-corpus build + estimate in one statement (the single-engine
    reference answer the merge-parity entry is checked against)."""
    return cm_estimates_sql(
        dialect,
        cm_cells_sql(dialect, key_expr, source, d, w),
        key_expr, source, d, w, threshold,
    )


def cm_merged_halves_cells_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    split_expr: str = "event_id % 2",
    d: int = CM_D,
    w: int = CM_W,
) -> str:
    """Two independent sketches (corpus halves) merged by cell SUM — the
    distributed-build path.  Equal to the whole-corpus cells relation by
    CM linearity; the gate entry hash-checks exactly that."""
    h0 = cm_cells_sql(dialect, key_expr, source, d, w, where=f"({split_expr}) = 0")
    h1 = cm_cells_sql(dialect, key_expr, source, d, w, where=f"({split_expr}) = 1")
    return f"""
    SELECT i, col, CAST(SUM(c) AS BIGINT) AS c
    FROM (SELECT * FROM ({h0}) ha UNION ALL SELECT * FROM ({h1}) hb) u
    GROUP BY i, col
    """


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def hll_registers_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
    where: str = "",
) -> str:
    """The HLL register file as a relation: ``(bucket, r)`` — 2^p rows max.
    bucket = low p hash bits; r = position of the lowest set bit of the
    remaining ``60-p`` bits (+1), the rank whose per-bucket MAX the
    estimator consumes.  ``(h & -h)`` isolates the lowest set bit — an
    exact power of two, so LOG2 of it is exact in double and
    engine-agnostic.  Registers MERGE by MAX: per-partition register files
    combine without rescanning (the merge-parity entry proves it
    cell-for-cell)."""
    m = 1 << p
    wcl = f"WHERE {where} " if where else ""
    h = _h60(dialect, f"({key_expr})", "'0'")
    rmax = _HASH_BITS - p + 1
    div = "DIV" if dialect == "spark" else "//"
    return f"""
    SELECT bucket, MAX(r) AS r FROM (
      SELECT h % {m} AS bucket,
             CASE WHEN (h {div} {m}) = 0 THEN {rmax}
                  ELSE CAST(ROUND(LOG2(CAST(
                       (h {div} {m}) & (0 - (h {div} {m})) AS DOUBLE))) AS INT)
                       + 1
             END AS r
      FROM (SELECT {h} AS h FROM {source} {wcl}) hashed
    ) ranked
    GROUP BY bucket
    """


def hll_estimate_sql(
    dialect: str, regs_rel: str, p: int = HLL_P, group_col: str | None = None
) -> str:
    """The estimator over ANY register relation.  Without ``group_col``
    it is one row ``(m, zero_registers, distinct_est)``, also over an empty
    relation; with it, one ``(group_col, zero_registers, distinct_est)``
    row per group of a ``(group_col, bucket, r)`` relation.

    The 2^-r series is summed as EXACT integers (2^(RMAX-r) ≤ 2^51; total
    ≤ m·2^51 fits BIGINT) — summing doubles of mixed magnitude rounds
    differently per partial-sum order.  Missing buckets are zero registers
    (2^0 each → 2^RMAX integer units).  Doubles enter only in the final
    shared-text expression; Flajolet small-range correction (linear
    counting) applies below 2.5m when zero registers exist."""
    m = 1 << p
    rmax = _HASH_BITS - p + 1
    # integer units per 2^0 register: 2^rmax, so the deepest rank r=rmax
    # still contributes 2^(rmax-r) = 1 exact unit; the total is bounded by
    # m * 2^rmax = 2^(p + 61 - p) = 2^61 — BIGINT-safe at any p
    unit = float(2 ** rmax)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    key = f"{group_col}, " if group_col else ""
    group_by = f"GROUP BY {group_col}" if group_col else ""
    out_key = group_col or f"CAST({m} AS BIGINT) AS m"
    return f"""
    WITH agg AS (
      SELECT {key}CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(CAST(POWER(2.0, {rmax} - r) AS BIGINT)) AS BIGINT)
               AS s_int
      FROM ({regs_rel}) regs
      {group_by}
    ),
    scored AS (
      SELECT {key}({m} - nb) AS v,
             (CAST({alpha!r} AS DOUBLE) * {m} * {m})
               / ((CAST(s_int AS DOUBLE) + ({m} - nb) * {unit!r})
                  / {unit!r}) AS raw
      FROM agg
    )
    SELECT {out_key},
           CAST(v AS BIGINT) AS zero_registers,
           ROUND(CASE WHEN raw <= 2.5 * {m} AND v > 0
                      THEN {m} * LN({m} * 1.0 / v)
                      ELSE raw END + 1e-9, 6) AS distinct_est
    FROM scored
    """


def hll_distinct_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
) -> str:
    """Whole-corpus register build + estimate.  No exact count rides
    along: a ``SELECT DISTINCT`` over the corpus is the work the sketch
    exists to avoid."""
    return hll_estimate_sql(
        dialect, hll_registers_sql(dialect, key_expr, source, p), p
    )


def hll_merged_halves_registers_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    split_expr: str = "event_id % 2",
    p: int = HLL_P,
) -> str:
    """Two independent register files (corpus halves) merged by register
    MAX — equal to the whole-corpus register file because max is the join
    of the per-key rank maxima.  The gate entry hash-checks the full
    merged relation against the directly-built one."""
    h0 = hll_registers_sql(dialect, key_expr, source, p, where=f"({split_expr}) = 0")
    h1 = hll_registers_sql(dialect, key_expr, source, p, where=f"({split_expr}) = 1")
    return f"""
    SELECT bucket, MAX(r) AS r
    FROM (SELECT * FROM ({h0}) ha UNION ALL SELECT * FROM ({h1}) hb) u
    GROUP BY bucket
    """


# ---------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) distinct sketch — Bar-Yossef et al. 2002
# ---------------------------------------------------------------------------
# The k smallest DISTINCT portable-hash values of a key set.  Unlike HLL it
# supports SET OPERATIONS directly (the union sketch is the bottom-k of the
# merged summaries; Jaccard estimates from the union sketch's overlap —
# Beyer et al. 2007), and unlike a random sample it is fully DETERMINISTIC
# given the hash family: the sketch relation itself is an order statistic,
# so Spark and DuckDB build byte-identical summaries and every entry is
# hash-checked, not quality-gated.  Merge is exact by construction:
# bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — per-partition
# summaries combine without rescanning, the same contract as CM/HLL/HDR.
# Estimator: (k-1) · 2^60 / h_(k) (the k-th order statistic of a uniform
# [0, 2^60) hash), σ ≈ 1/√(k−2); below k distinct keys the sketch IS the
# exact key set.

KMV_K = 256


def kmv_sketch_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
    where: str = "",
) -> str:
    """``(h)`` — the k smallest distinct 60-bit hashes.  Build is a
    DISTINCT on a 60-bit key + a global top-k (Spark plans
    TakeOrderedAndProject: per-partition heaps of k, then a k-row driver
    merge — the shuffled volume is k·n_partitions, never the corpus)."""
    wcl = f"WHERE {where} " if where else ""
    h = _h60(dialect, "src.k", "'kmv'")
    return f"""
    SELECT h FROM (
      SELECT DISTINCT {h} AS h
      FROM (SELECT {key_expr} AS k FROM {source} {wcl}) src
    ) d
    ORDER BY h ASC LIMIT {k}
    """


def kmv_estimate_sql(dialect: str, sketch_rel: str, k: int = KMV_K) -> str:
    """``(n_kept, h_max, distinct_est)`` from ANY sketch relation: exact
    count below saturation, the order-statistic estimator at or above it.
    2^60 is a power of two (exact in double); h_max is the same BIGINT in
    both engines, so the single division is bit-identical."""
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MAX(h) AS BIGINT) AS h_max,
           ROUND(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE (CAST({k - 1} AS DOUBLE)
                            * CAST({2 ** _HASH_BITS} AS DOUBLE))
                           / CAST(MAX(h) AS DOUBLE)
                 END + 1e-9, 6) AS distinct_est
    FROM ({sketch_rel}) sk
    """


def kmv_distinct_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
) -> str:
    """Whole-corpus build + estimate in one statement."""
    return kmv_estimate_sql(
        dialect, kmv_sketch_sql(dialect, key_expr, source, k), k
    )


def kmv_merged_halves_sketch_sql(
    dialect: str,
    key_expr: str = "CAST(event_id AS STRING)",
    source: str = "events",
    split_expr: str = "event_id % 2",
    k: int = KMV_K,
) -> str:
    """Bottom-k of two per-half bottom-k summaries — EQUAL to the
    whole-corpus sketch relation row-for-row (every true bottom-k hash
    survives into its half's summary); the gate entry hash-checks the full
    256-row order statistic, the strongest merge proof in the family."""
    h0 = kmv_sketch_sql(dialect, key_expr, source, k, where=f"({split_expr}) = 0")
    h1 = kmv_sketch_sql(dialect, key_expr, source, k, where=f"({split_expr}) = 1")
    return f"""
    SELECT h FROM (
      SELECT DISTINCT h
      FROM (SELECT h FROM ({h0}) ha UNION ALL SELECT h FROM ({h1}) hb) u
    ) d
    ORDER BY h ASC LIMIT {k}
    """


def kmv_user_day_key(dialect: str) -> str:
    """(user, day) engagement key — the populations whose click/view
    overlap is PARTIAL on the synthetic corpus (user_id alone fully
    overlaps, a degenerate Jaccard of 1.0); day id from the shared
    epoch-ms truncation (generation-stable, CLAUDE.md)."""
    div = "DIV" if dialect == "spark" else "//"
    return (
        f"CONCAT(CAST(user_id AS STRING), '#', "
        f"CAST(({_epoch_ms(dialect)}) {div} 86400000 AS STRING))"
    )


def kmv_jaccard_sql(
    dialect: str,
    key_expr: str | None = None,
    where_a: str = "event_type = 'click'",
    where_b: str = "event_type = 'view'",
    source: str = "events",
    k: int = KMV_K,
) -> str:
    """Audience-overlap from two KMV summaries (Beyer et al. 2007): build
    the union sketch U = bottom-k(A-sketch ∪ B-sketch), count how many of
    U's hashes sit in BOTH summaries, J ≈ overlap / |U|; the intersection
    estimate is J · distinct_est(U).  Everything is arithmetic on shared
    order statistics — deterministic both engines, so the estimates
    hash-check.  At 100 TB the two set scans are the only corpus passes;
    the set algebra runs on ≤ 3k rows.

    NOTE (Spark path): ``sa``/``sb`` are each referenced twice below (the
    union sketch and the overlap probe) and Spark re-executes a CTE per
    reference — 4 corpus scans.  :func:`kmv_jaccard` pins the two ≤k-row
    summaries as literals first; this one-statement form is the oracle."""
    if key_expr is None:
        key_expr = kmv_user_day_key(dialect)
    sa = kmv_sketch_sql(dialect, key_expr, source, k, where=where_a)
    sb = kmv_sketch_sql(dialect, key_expr, source, k, where=where_b)
    est_u = kmv_estimate_sql(dialect, "SELECT h FROM u", k)
    return f"""
    WITH sa AS ({sa}), sb AS ({sb}),
    u AS (
      SELECT h FROM (
        SELECT DISTINCT h
        FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb) uu
      ) d ORDER BY h ASC LIMIT {k}
    ),
    ov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
             CAST(SUM(CASE WHEN ina.h IS NOT NULL AND inb.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      FROM u
      LEFT JOIN sa ina ON ina.h = u.h
      LEFT JOIN sb inb ON inb.h = u.h
    ),
    eu AS ({est_u})
    SELECT ov.n_union, ov.n_both,
           ROUND(CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE)
                 + 1e-9, 6) AS jaccard_est,
           ROUND((CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE))
                 * eu.distinct_est + 1e-9, 6) AS intersection_est
    FROM ov, eu
    """


def kmv_jaccard(
    spark,
    key_expr: str | None = None,
    where_a: str = "event_type = 'click'",
    where_b: str = "event_type = 'view'",
    source: str = "events",
    k: int = KMV_K,
):
    """Spark path: build BOTH summaries in ONE corpus scan and ONE action
    (round 14, guide §2.3/§5 — the two per-set builds each re-scanned
    events and paid their own collect): rows fan out to the sets whose
    predicate they satisfy (a 2-element array filter + explode, so a row
    matching both predicates lands in both sketches), one DISTINCT over
    (set_id, h), and the per-set bottom-k is the ROW_NUMBER ≤ k form the
    KMV time cube already uses (Spark plans WindowGroupLimit: per-map-
    partition partial top-k before the exchange, so the shuffle carries
    ≤ k·partitions rows per set — the grouped twin of
    TakeOrderedAndProject, scale-safe).  The two ≤k-row order statistics
    are pinned as literals and the union/overlap algebra runs over the
    pins — the one-statement oracle form scans each set twice (CTE
    re-execution) and hash-proves the fused build equal."""
    if key_expr is None:
        key_expr = kmv_user_day_key("spark")
    h = _h60("spark", "src.k", "'kmv'")
    both = spark.sql(f"""
    SELECT set_id, h FROM (
      SELECT set_id, h,
             ROW_NUMBER() OVER (PARTITION BY set_id ORDER BY h ASC) AS rk
      FROM (
        SELECT DISTINCT src.set_id, {h} AS h
        FROM (
          SELECT s.set_id, {key_expr} AS k
          FROM {source}
          LATERAL VIEW explode(filter(array(0, 1),
            i -> (i = 0 AND ({where_a})) OR (i = 1 AND ({where_b}))
          )) s AS set_id
        ) src
      ) d
    ) r WHERE rk <= {k}
    """)
    both = local_relation(spark, both.toArrow(), both.schema)
    est_u = kmv_estimate_sql("spark", "SELECT h FROM u", k)
    return spark.sql(f"""
    WITH u AS (
      SELECT h FROM (
        SELECT DISTINCT h
        FROM (SELECT h FROM {{a}} UNION ALL SELECT h FROM {{b}}) uu
      ) d ORDER BY h ASC LIMIT {k}
    ),
    ov AS (
      SELECT /*+ BROADCAST(ina, inb) */
             CAST(COUNT(*) AS BIGINT) AS n_union,
             CAST(SUM(CASE WHEN ina.h IS NOT NULL AND inb.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      FROM u
      LEFT JOIN {{a}} ina ON ina.h = u.h
      LEFT JOIN {{b}} inb ON inb.h = u.h
    ),
    eu AS ({est_u})
    SELECT ov.n_union, ov.n_both,
           ROUND(CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE)
                 + 1e-9, 6) AS jaccard_est,
           ROUND((CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE))
                 * eu.distinct_est + 1e-9, 6) AS intersection_est
    FROM ov, eu
    """,
        a=both.where("set_id = 0").select("h"),
        b=both.where("set_id = 1").select("h"),
    )


# ---------------------------------------------------------------------------
# Fixed-universe histogram quantiles — the third classic mergeable summary
# (equi-width cells ADD like CM cells; quantiles interpolate within a bin,
# so the estimate error is bounded by one bin width regardless of volume)
# ---------------------------------------------------------------------------

HIST_LO = 0.0
HIST_HI = 512.0
HIST_BINS = 128


def hist_cells_sql(
    dialect: str,
    value_expr: str = "value",
    source: str = "events",
    lo: float = HIST_LO,
    hi: float = HIST_HI,
    bins: int = HIST_BINS,
    where: str = "",
) -> str:
    """``(bin, c)`` — fixed-universe equi-width histogram cells.  Out-of-
    range values clamp to the edge bins (documented lossy edge, like any
    fixed-universe sketch); bin assignment is FLOOR of one shared double
    expression, identical both engines."""
    wcl = f"WHERE {where} " if where else ""
    width = (hi - lo) / bins
    b = (
        f"CAST(LEAST({bins - 1}, GREATEST(0, "
        f"FLOOR(({value_expr} - {lo!r}) / {width!r}))) AS INT)"
    )
    return f"""
    SELECT {b} AS bin, CAST(COUNT(*) AS BIGINT) AS c
    FROM {source} {wcl}
    GROUP BY {b}
    """


def hist_quantiles_sql(
    dialect: str,
    cells_rel: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    lo: float = HIST_LO,
    hi: float = HIST_HI,
    bins: int = HIST_BINS,
) -> str:
    """Quantile estimates from ANY cells relation: for each q, the first
    bin whose running count reaches ``ceil(q*n)``, linearly interpolated
    inside the bin.  Ranks are exact BIGINTs (CEIL of a shared double);
    the single interpolation division is the only estimate-side float."""
    width = (hi - lo) / bins
    qrows = " UNION ALL ".join(
        f"SELECT CAST({q!r} AS DOUBLE) AS q" for q in qs
    )
    return f"""
    WITH cells AS ({cells_rel}),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    cum AS (
      SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum FROM cells
    ),
    qrel AS ({qrows}),
    ranked AS (
      SELECT q.q, CAST(CEIL(q.q * tot.n) AS BIGINT) AS tq FROM qrel q, tot
    ),
    picked AS (
      SELECT r.q, r.tq, MIN(c.bin) AS bin
      FROM ranked r JOIN cum c ON c.cum >= r.tq
      GROUP BY r.q, r.tq
    )
    SELECT p.q,
           ROUND({lo!r} + {width!r} * (p.bin
                 + (p.tq - (c.cum - c.c)) * 1.0 / c.c) + 1e-9, 6) AS est
    FROM picked p JOIN cum c ON c.bin = p.bin
    """


def hist_quantiles_full_sql(
    dialect: str,
    value_expr: str = "value",
    source: str = "events",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    return hist_quantiles_sql(
        dialect, hist_cells_sql(dialect, value_expr, source), qs
    )


# ---------------------------------------------------------------------------
# HDR rank/quantile sketch — UNBOUNDED domains (round 7, VERDICT r6 #3)
# ---------------------------------------------------------------------------
# The fixed-universe histogram above needs a known [lo, hi]; latency/size
# columns at 100 TB don't have one.  This is the HdrHistogram bucketing
# (Gil Tene's public design; log2 bucket + linear sub-bucket) expressed as
# a relation: any BIGINT value maps to key
#
#     sign(v) * (shift * 2^(M+1) + (|v| >> shift)),
#     shift = max(bitlen(|v|) - (M+1), 0)
#
# — computed ENTIRELY in integer ops (bitlen via LENGTH(BIN(x)), proven
# byte-identical Spark/DuckDB), so unlike KLL/GK there is no randomness
# and no float boundary to diverge per engine: the cells are exactly
# hash-checkable.  Keys are monotonic in v (larger shift ⇔ strictly larger
# magnitude; within a shift, ordered by the top bits), so rank queries are
# one cumulative SUM over key order.  Cells are bounded by construction
# (≤ ~2·62·2^M + 2^(M+1) keys for all of ±2^62) and ADD like CM cells —
# per-partition/per-hour sketches merge by SUM, the same
# SummingMergeTree shape.  Relative error ≤ 2^-M per estimate (bucket
# lower bound at ratio 1+2^-M).

HDR_M = 7  # sub-bucket bits: relative error <= 2^-7 ~ 0.8 %

#: default integer-unit mapping for the events ``value`` column: 2-decimal
#: inputs → exact centi-units (one shared double multiply + ROUND, no
#: half-way values reachable at integer rounding of 2dp inputs)
HDR_CENTI = "CAST(ROUND(value * CAST(100 AS DOUBLE)) AS BIGINT)"


def _shr(dialect: str, x: str, s: str) -> str:
    if dialect == "spark":
        return f"SHIFTRIGHT({x}, CAST({s} AS INT))"
    return f"(({x}) >> ({s}))"


def _shl(dialect: str, x: str, s: str) -> str:
    if dialect == "spark":
        return f"SHIFTLEFT({x}, CAST({s} AS INT))"
    return f"(({x}) << ({s}))"


def hdr_cells_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    m: int = HDR_M,
    where: str = "",
) -> str:
    """``(hk, c)`` — HDR histogram cells over an unbounded BIGINT domain.
    ``hk`` is the signed monotonic bucket key above; NULL inputs are
    dropped (the SQL-aggregate convention).  One narrow groupBy with
    map-side partial aggregation; the shuffled keyspace is the bounded
    bucket set, never the corpus."""
    wcl = f"WHERE ({int_expr}) IS NOT NULL " if not where else (
        f"WHERE ({where}) AND ({int_expr}) IS NOT NULL "
    )
    m2 = 1 << (m + 1)
    sgn = "(CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END)"
    top = _shr(dialect, "ABS(v)", "sh")
    return f"""
    SELECT hk, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT {sgn} * (CAST(sh AS BIGINT) * {m2} + {top}) AS hk
      FROM (
        SELECT v, GREATEST(LENGTH(BIN(ABS(v))) - {m + 1}, 0) AS sh
        FROM (SELECT {int_expr} AS v FROM {source} {wcl}) s0
      ) s1
    ) s2
    GROUP BY hk
    """


def hdr_quantiles_sql(
    dialect: str,
    cells_rel: str,
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    """Quantile estimates from ANY hdr cells relation: for each q (given
    as EXACT per-mille integers — ``ceil(q·n)`` computed as
    ``(n·qm + 999) DIV 1000``, no float rank), the first bucket whose
    running count reaches the rank; the estimate is the bucket's exact
    integer lower bound scaled back by ``scale`` (the ONLY float op, one
    shared division + 6dp round)."""
    m2 = 1 << (m + 1)
    div = "DIV" if dialect == "spark" else "//"
    qrows = " UNION ALL ".join(
        f"SELECT CAST({qm} AS BIGINT) AS qm" for qm in qs_permille
    )
    bound = _shl(dialect, f"(ABS(p.hk) % {m2})", f"(ABS(p.hk) {div} {m2})")
    return f"""
    WITH cells AS ({cells_rel}),
    cum AS (
      SELECT hk, c, CAST(SUM(c) OVER (ORDER BY hk) AS BIGINT) AS cum
      FROM cells
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    ranked AS (
      SELECT q.qm, (tot.n * q.qm + 999) {div} 1000 AS tq
      FROM ({qrows}) q, tot
    ),
    picked AS (
      SELECT r.qm, MIN(c.hk) AS hk
      FROM ranked r JOIN cum c ON c.cum >= r.tq
      GROUP BY r.qm
    )
    SELECT CAST(p.qm AS DOUBLE) / CAST(1000 AS DOUBLE) AS q,
           ROUND(
             CAST((CASE WHEN p.hk < 0 THEN -1 WHEN p.hk > 0 THEN 1 ELSE 0 END)
                  * {bound} AS DOUBLE)
             / CAST({scale} AS DOUBLE) + 1e-9, 6) AS est
    FROM picked p
    """


def hdr_quantiles_full_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    """Whole-corpus build + rank in one statement (the oracle's answer)."""
    return hdr_quantiles_sql(
        dialect, hdr_cells_sql(dialect, int_expr, source, m), qs_permille,
        m, scale,
    )


def hdr_grouped_cells_sql(
    dialect: str,
    group_expr: str = "event_type",
    int_expr: str = HDR_CENTI,
    source: str = "events",
    m: int = HDR_M,
) -> str:
    """``(g, hk, c)`` — one HDR sketch per group (the per-endpoint-latency
    shape): cells stay bounded at groups × bucket-geometry and still ADD,
    so per-partition grouped sketches merge by (g, hk) SUM."""
    m2 = 1 << (m + 1)
    sgn = "(CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END)"
    top = _shr(dialect, "ABS(v)", "sh")
    return f"""
    SELECT g, hk, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT g, {sgn} * (CAST(sh AS BIGINT) * {m2} + {top}) AS hk
      FROM (
        SELECT g, v, GREATEST(LENGTH(BIN(ABS(v))) - {m + 1}, 0) AS sh
        FROM (SELECT {group_expr} AS g, {int_expr} AS v FROM {source}
              WHERE ({int_expr}) IS NOT NULL) s0
      ) s1
    ) s2
    GROUP BY g, hk
    """


def hdr_grouped_quantiles_sql(
    dialect: str,
    cells_rel: str,
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    """Per-group quantiles from ANY grouped cells relation: the rank query
    of :func:`hdr_quantiles_sql` with every window/aggregate partitioned
    by ``g`` — same integer rank targets, same exact bucket-bound
    estimates."""
    m2 = 1 << (m + 1)
    div = "DIV" if dialect == "spark" else "//"
    qrows = " UNION ALL ".join(
        f"SELECT CAST({qm} AS BIGINT) AS qm" for qm in qs_permille
    )
    bound = _shl(dialect, f"(ABS(p.hk) % {m2})", f"(ABS(p.hk) {div} {m2})")
    return f"""
    WITH cells AS ({cells_rel}),
    cum AS (
      SELECT g, hk, c,
             CAST(SUM(c) OVER (PARTITION BY g ORDER BY hk) AS BIGINT) AS cum
      FROM cells
    ),
    tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY g),
    ranked AS (
      SELECT tot.g, q.qm, (tot.n * q.qm + 999) {div} 1000 AS tq
      FROM ({qrows}) q, tot
    ),
    picked AS (
      SELECT r.g, r.qm, MIN(c.hk) AS hk
      FROM ranked r JOIN cum c ON c.g = r.g AND c.cum >= r.tq
      GROUP BY r.g, r.qm
    )
    SELECT p.g, CAST(p.qm AS DOUBLE) / CAST(1000 AS DOUBLE) AS q,
           ROUND(
             CAST((CASE WHEN p.hk < 0 THEN -1 WHEN p.hk > 0 THEN 1 ELSE 0 END)
                  * {bound} AS DOUBLE)
             / CAST({scale} AS DOUBLE) + 1e-9, 6) AS est
    FROM picked p
    """


def hdr_grouped_quantiles_full_sql(
    dialect: str,
    group_expr: str = "event_type",
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    return hdr_grouped_quantiles_sql(
        dialect,
        hdr_grouped_cells_sql(dialect, group_expr, int_expr, source, m),
        qs_permille, m, scale,
    )


def hdr_grouped_quantiles(
    spark,
    group_expr: str = "event_type",
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
    cells_rel: str | None = None,
):
    """Spark path: pin the bounded grouped cells as a literal relation
    (two CTE references otherwise re-scan the corpus) and rank over it."""
    cells = spark.sql(
        cells_rel
        if cells_rel is not None
        else hdr_grouped_cells_sql("spark", group_expr, int_expr, source, m)
    )
    return spark.sql(
        hdr_grouped_quantiles_sql(
            "spark", "SELECT g, hk, c FROM {cells}", qs_permille, m, scale
        ),
        cells=local_relation(spark, cells.toArrow(), cells.schema),
    )


# ---------------------------------------------------------------------------
# HDR time cube — per-HOUR rank cells as the maintained state; any coarser
# grain (day, week) is answered by (hk) SUM over the hours it covers — the
# quantileState/quantileMerge analog of the HLL uniqState cube: quantiles
# cannot re-aggregate from collapsed rows, but their sketch state merges.
# ---------------------------------------------------------------------------


def hdr_hourly_cells_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    m: int = HDR_M,
) -> str:
    """``(hour_id, hk, c)`` — the continuously-maintainable quantileState:
    bounded cells per hour, additive, so hourly files fold into any
    coarser grain by SUM without touching raw events."""
    div = "DIV" if dialect == "spark" else "//"
    m2 = 1 << (m + 1)
    sgn = "(CASE WHEN v < 0 THEN -1 WHEN v > 0 THEN 1 ELSE 0 END)"
    top = _shr(dialect, "ABS(v)", "sh")
    return f"""
    SELECT hour_id, hk, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT hour_id, {sgn} * (CAST(sh AS BIGINT) * {m2} + {top}) AS hk
      FROM (
        SELECT hour_id, v, GREATEST(LENGTH(BIN(ABS(v))) - {m + 1}, 0) AS sh
        FROM (SELECT ({_epoch_ms(dialect)}) {div} 3600000 AS hour_id,
                     {int_expr} AS v
              FROM {source} WHERE ({int_expr}) IS NOT NULL) s0
      ) s1
    ) s2
    GROUP BY hour_id, hk
    """


def hdr_daily_from_hourly_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    """Per-day quantiles by SUM-merging the HOURLY cells to day grain —
    never re-touching raw events (ms DIV 86400000 == (ms DIV 3600000) DIV
    24 for the positive epoch, so the day key matches the direct build)."""
    div = "DIV" if dialect == "spark" else "//"
    hourly = hdr_hourly_cells_sql(dialect, int_expr, source, m)
    daily = f"""
      SELECT hour_id {div} 24 AS g, hk, CAST(SUM(c) AS BIGINT) AS c
      FROM ({hourly}) h
      GROUP BY hour_id {div} 24, hk
    """
    return hdr_grouped_quantiles_sql(dialect, daily, qs_permille, m, scale)


def hdr_daily_direct_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
) -> str:
    """Per-day cells built straight from events (the oracle's one-shot
    answer; equal to the cube's day grain by additivity)."""
    div = "DIV" if dialect == "spark" else "//"
    grouped = hdr_grouped_cells_sql(
        dialect,
        f"({_epoch_ms(dialect)}) {div} 86400000",
        int_expr, source, m,
    )
    return hdr_grouped_quantiles_sql(dialect, grouped, qs_permille, m, scale)


def hdr_merged_halves_cells_sql(
    dialect: str,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    split_expr: str = "event_id % 2",
    m: int = HDR_M,
) -> str:
    """Two independent sketches (corpus halves) merged by cell SUM — the
    distributed-build path, equal to the whole-corpus cells by
    additivity; the merge-parity gate entry hash-checks the full rank
    answer derived from it."""
    h0 = hdr_cells_sql(dialect, int_expr, source, m, where=f"({split_expr}) = 0")
    h1 = hdr_cells_sql(dialect, int_expr, source, m, where=f"({split_expr}) = 1")
    return f"""
    SELECT hk, CAST(SUM(c) AS BIGINT) AS c
    FROM (SELECT * FROM ({h0}) ha UNION ALL SELECT * FROM ({h1}) hb) u
    GROUP BY hk
    """


def hdr_quantiles(
    spark,
    int_expr: str = HDR_CENTI,
    source: str = "events",
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
    cells_rel: str | None = None,
):
    """Spark-path HDR quantiles: build the cells ONCE, pin the bounded
    result as a literal relation (the probe-list posture — the one-
    statement form references the cells CTE twice and Spark re-executes a
    CTE per reference, re-scanning the corpus each time; CLAUDE.md), and
    rank over it."""
    cells = spark.sql(
        cells_rel
        if cells_rel is not None
        else hdr_cells_sql("spark", int_expr, source, m)
    )
    return spark.sql(
        hdr_quantiles_sql(
            "spark", "SELECT hk, c FROM {cells}", qs_permille, m, scale
        ),
        cells=local_relation(spark, cells.toArrow(), cells.schema),
    )


def hdr_sketch_streaming(
    spark,
    int_expr: str = HDR_CENTI,
    qs_permille: tuple[int, ...] = (500, 900, 990),
    m: int = HDR_M,
    scale: int = 100,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
):
    """Continuously-maintained rank sketch: replay events as a micro-batch
    stream, land each batch's HDR cells as a per-epoch immutable part
    (``cells/epoch=N``, the round-7 replay-safe protocol shared with the
    CM/HLL folds — replay overwrites its own part, no commit window), and
    serve quantiles from the SUM-merge at read.  Completes the streaming
    symmetry of the sketch family: every mergeable summary (CM topK, HLL
    distinct, HDR ranks) now has a maintained form whose served answers
    are hash-checked against the whole-corpus oracle."""
    import os

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    def cells(batch):
        return batch.sparkSession.sql(
            hdr_cells_sql("spark", int_expr, "{batch}", m), batch=batch
        )

    base = scratch_dir("hdr_stream_")
    cells_path = os.path.join(base, "cells")
    replay_epochs(
        spark, spark.table("events").select("event_id", "value"),
        ["event_id"], n_batches, base, cells_path, cells,
        crash_after_write_epoch=_crash_after_write_epoch,
    )
    merged = (
        "SELECT hk, CAST(SUM(c) AS BIGINT) AS c "
        f"FROM parquet.`{cells_path}` GROUP BY hk"
    )
    return hdr_quantiles(spark, qs_permille=qs_permille, m=m, scale=scale,
                         cells_rel=merged)


# ---------------------------------------------------------------------------
# Streaming Count-Min maintenance — the sketch folded per micro-batch by
# the same ledgered foreachBatch pattern as the streaming roll-up (CM cells
# ARE a summing-rollup shape), proving the batch ≡ incremental parity the
# 100 TB deployment relies on (hourly partition sketches folded as they land)
# ---------------------------------------------------------------------------


def cm_sketch_streaming(
    spark,
    key_expr: str = "CAST(user_id AS STRING)",
    d: int = CM_D,
    w: int = CM_W,
    n_batches: int = 3,
    threshold: int = 0,
    _crash_after_write_epoch: int | None = None,
):
    """Replay the events relation as an ``n_batches`` file stream and fold
    each micro-batch's CM cells as a PER-EPOCH increment part
    (``cells/epoch=N``) — exactly-once by idempotence, not by a ledger: a
    replayed epoch overwrites ITS OWN part and can never re-add into an
    accumulated table, so there is no commit window at all (the round-6
    read-merge-overwrite committed its marker after a non-atomic overwrite
    and double-folded on a crash between the two; this is the ClickHouse
    parts motif instead — immutable increments, SUM-merge at read).  The
    merged cells stay a bounded constant (≤ n_batches · d·w rows; a real
    deployment compacts old parts with the same SUM, which is the
    ``summing_rollup`` shape).  ``_crash_after_write_epoch`` is the
    crash-injection hook for the replay test: raise once AFTER the part
    write (the widest failure window) and restart the stream from the same
    checkpoint.  Returns the heavy-hitter estimates from the streamed
    sketch; the gate oracle computes them from the whole corpus in one
    shot, so a lost or double-folded batch hash-fails."""
    import os

    from pyspark.sql import functions as F

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    def cells(batch):
        return batch.sparkSession.sql(
            cm_cells_sql("spark", "k", "{batch}", d, w), batch=batch
        )

    base = scratch_dir("cm_stream_")
    cells_path = os.path.join(base, "cells")
    replay_epochs(
        spark,
        spark.table("events").select(
            F.col("event_id"), F.expr(key_expr).alias("k")
        ),
        ["event_id"], n_batches, base, cells_path, cells,
        crash_after_write_epoch=_crash_after_write_epoch,
    )
    cells_rel = (
        "SELECT i, col, CAST(SUM(c) AS BIGINT) AS c "
        f"FROM parquet.`{cells_path}` GROUP BY i, col"
    )
    return spark.sql(
        cm_estimates_sql("spark", cells_rel, threshold=threshold)
    )


# ---------------------------------------------------------------------------
# HLL time cube — ClickHouse AggregatingMergeTree uniqState/uniqMerge as
# plain relations: per-HOUR register files are the materialized state, and
# ANY coarser grain (day, week) is answered by register MAX over the hours
# it covers — the non-additive-measure analog of the GLOBALVIEW
# re-aggregation rewrites (COUNT(DISTINCT x) cannot sum, but its sketch
# state merges).  Time keys are integer hour/day ids from the shared
# epoch-ms truncation (unix_millis / epoch_ms), the generation-stable form
# (raw-ts grouping diverges between NANOS testdata readers; CLAUDE.md).
# ---------------------------------------------------------------------------


def _epoch_ms(dialect: str) -> str:
    return "unix_millis(ts)" if dialect == "spark" else "epoch_ms(ts)"


def hll_hourly_registers_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
) -> str:
    """``(hour_id, bucket, r)`` — the continuously-maintainable uniqState:
    one register file per hour, each ≤ 2^p rows regardless of traffic."""
    m = 1 << p
    h = _h60(dialect, f"({key_expr})", "'0'")
    rmax = _HASH_BITS - p + 1
    div = "DIV" if dialect == "spark" else "//"
    return f"""
    SELECT hour_id, bucket, MAX(r) AS r FROM (
      SELECT ({_epoch_ms(dialect)}) {div} 3600000 AS hour_id,
             h % {m} AS bucket,
             CASE WHEN (h {div} {m}) = 0 THEN {rmax}
                  ELSE CAST(ROUND(LOG2(CAST(
                       (h {div} {m}) & (0 - (h {div} {m})) AS DOUBLE))) AS INT)
                       + 1
             END AS r
      FROM (SELECT ts, {h} AS h FROM {source}) hashed
    ) ranked
    GROUP BY hour_id, bucket
    """


def hll_daily_from_hourly_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
) -> str:
    """Distinct-per-DAY answered from the HOURLY register cube: MAX-merge
    each day's 24 hourly register files, then estimate — never re-touching
    the raw events (uniqMerge over uniqState).  The gate oracle computes
    per-day registers DIRECTLY from events, so a wrong merge grain, a
    dropped hour, or a register mixup hash-fails."""
    div = "DIV" if dialect == "spark" else "//"
    hourly = hll_hourly_registers_sql(dialect, key_expr, source, p)
    daily_regs = f"""
      SELECT hour_id {div} 24 AS day_id, bucket, MAX(r) AS r
      FROM ({hourly}) h
      GROUP BY hour_id {div} 24, bucket
    """
    return hll_estimate_sql(dialect, daily_regs, p, group_col="day_id")


def hll_daily_direct_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
) -> str:
    """Per-day registers built straight from events (the oracle's one-shot
    answer; ms DIV 86400000 == (ms DIV 3600000) DIV 24 for the positive
    epoch, so the day key is identical to the cube's)."""
    m = 1 << p
    h = _h60(dialect, f"({key_expr})", "'0'")
    rmax = _HASH_BITS - p + 1
    div = "DIV" if dialect == "spark" else "//"
    daily_regs = f"""
      SELECT day_id, bucket, MAX(r) AS r FROM (
        SELECT ({_epoch_ms(dialect)}) {div} 86400000 AS day_id,
               h % {m} AS bucket,
               CASE WHEN (h {div} {m}) = 0 THEN {rmax}
                    ELSE CAST(ROUND(LOG2(CAST(
                         (h {div} {m}) & (0 - (h {div} {m})) AS DOUBLE)))
                         AS INT) + 1
               END AS r
        FROM (SELECT ts, {h} AS h FROM {source}) hashed
      ) ranked
      GROUP BY day_id, bucket
    """
    return hll_estimate_sql(dialect, daily_regs, p, group_col="day_id")


def hll_cube_streaming(
    spark,
    key_expr: str = "CAST(user_id AS STRING)",
    p: int = HLL_P,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
):
    """Continuously-maintained uniqState: replay events as a micro-batch
    stream and land each batch's HOURLY register file as a PER-EPOCH part
    (``cube/epoch=N``), MAX-merged by (hour_id, bucket) at read.  MAX is
    replay-idempotent even under the old read-merge-overwrite, but the
    per-epoch-part protocol (shared with :func:`cm_sketch_streaming`)
    additionally removes the transient-read-error hazard: there is no read
    of accumulated state inside the fold at all, so a flaky read can never
    silently reset the cube to the current batch.  ``_crash_after_write_
    epoch`` injects a crash after a part write for the replay test.
    Returns the per-day estimates served from the streamed cube; the gate
    oracle computes them from the whole corpus directly, so a dropped
    batch or a wrong merge grain hash-fails."""
    import os

    from pyspark.sql import functions as F

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    def registers(batch):
        return batch.sparkSession.sql(
            hll_hourly_registers_sql("spark", "k", "{batch}", p), batch=batch
        )

    base = scratch_dir("hll_stream_")
    cube_path = os.path.join(base, "cube")
    replay_epochs(
        spark,
        spark.table("events").select(
            "event_id", "ts", F.expr(key_expr).alias("k")
        ),
        ["event_id"], n_batches, base, cube_path, registers,
        crash_after_write_epoch=_crash_after_write_epoch,
    )
    div = "DIV"
    daily = f"""
      SELECT hour_id {div} 24 AS day_id, bucket, MAX(r) AS r
      FROM parquet.`{cube_path}`
      GROUP BY hour_id {div} 24, bucket
    """
    return spark.sql(hll_estimate_sql("spark", daily, p, group_col="day_id"))


def hist_quantiles(
    spark,
    value_expr: str = "value",
    source: str = "events",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    lo: float = HIST_LO,
    hi: float = HIST_HI,
    bins: int = HIST_BINS,
):
    """Spark-path histogram quantiles: build the cells ONCE, pin the ≤
    ``bins``-row result as a literal relation (the probe-list bounded-
    constant posture), and rank over it — the one-statement form
    (:func:`hist_quantiles_full_sql`, kept as the oracle) references the
    cells three times and Spark re-executes a CTE per reference, re-scanning
    the corpus for each."""
    cells = spark.sql(hist_cells_sql("spark", value_expr, source, lo, hi, bins))
    return spark.sql(
        hist_quantiles_sql("spark", "SELECT bin, c FROM {cells}", qs, lo, hi, bins),
        cells=local_relation(spark, cells.toArrow(), cells.schema),
    )


def last_committed_epoch(checkpoint_dir: str, spark=None) -> int:
    """The highest batch id the stream has durably committed — read from
    the checkpoint's ``commits/`` log (one numerically-named file per
    committed micro-batch, Spark's own exactly-once frontier).  Returns
    -1 when nothing has committed yet (so a compactor folds nothing).

    With ``spark`` given the log is read through the Hadoop FileSystem
    API — the same handle the compactor uses for the parts tree — so a
    non-local checkpoint (HDFS/object store) resolves correctly; the
    plain ``os.listdir`` path only ever applied to local paths and made
    any other scheme look committed-nothing (ADVICE r8).  In both modes
    a MISSING commits/ directory means "no commits yet" (-1) while any
    other access failure raises — a compactor silently folding nothing
    is indistinguishable from an empty log otherwise."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    if spark is not None:
        names = list_names(spark, commits)
        return max((int(f) for f in names if f.isdigit()), default=-1)
    try:
        ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    except FileNotFoundError:
        return -1
    return max(ids, default=-1)


def compact_sketch_parts(
    spark,
    path: str,
    key_cols: tuple[str, ...],
    measures: dict[str, str],
    max_epoch: int | None = None,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold a per-epoch part tree (``path/epoch=N``) into ONE compacted
    part — the background-merge half of the parts motif (the streaming
    folds write immutable increments; at 100 TB a compactor bounds the
    part count the read-side merge touches).  ``measures`` maps each
    measure column to its state function (``sum``/``max`` — the same
    lattice as :func:`~...operators.rollup.summing_rollup`).

    Value-neutral by construction (the read-side merge is the SAME
    aggregate), and crash-safe by the stage-out/stage-in rename swap
    (``compact_text_index``'s pattern, ADVICE r5): every crash point
    leaves either the old part tree or the compacted one fully readable.

    Replay safety is ENFORCED, not documented (ADVICE r7): an epoch the
    stream has not committed yet may replay and overwrite its own part —
    compacting it into ``epoch=0`` first would double-count additive
    measures when the rewrite lands.  Pass ``checkpoint_dir`` (the
    stream's checkpoint location; its ``commits/`` log names every
    durably-committed batch id) or an explicit ``max_epoch``: only epochs
    ≤ the committed frontier are folded, later parts are carried through
    VERBATIM so a replay still overwrites exactly its own epoch.  With
    neither given, ALL epochs fold (the caller asserts quiescence — e.g.
    the trigger=availableNow stream has terminated).  Returns the number
    of epoch parts folded."""
    from pyspark.sql import functions as F

    from qradar_restapi_kafka_datapipeline_spark.operators.rollup import _AGG

    if checkpoint_dir is not None:
        committed = last_committed_epoch(checkpoint_dir, spark)
        max_epoch = committed if max_epoch is None else min(
            max_epoch, committed
        )
    recover_sketch_parts(spark, path)  # self-heal a prior killed compactor
    cur = spark.read.parquet(path)  # partition discovery yields `epoch`
    if max_epoch is not None:
        eligible = cur.where(F.col("epoch") <= max_epoch)
        carry = cur.where(F.col("epoch") > max_epoch)
    else:
        eligible, carry = cur, None
    n_parts = eligible.select("epoch").distinct().count()
    merged = (
        eligible.groupBy(*[F.col(c) for c in key_cols])
        .agg(*[_AGG[fn](F.col(m)).alias(m) for m, fn in measures.items()])
        .withColumn("epoch", F.lit(0))
    )
    if carry is not None:
        merged = merged.unionByName(carry.select(*merged.columns))
    swap_dir(
        spark, path, *_compact_staging(path),
        lambda tmp: merged.coalesce(1).write.partitionBy("epoch").parquet(tmp),
        "compact_sketch_parts",
    )
    return n_parts


def cm_inner_product_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    where_a: str = "event_type = 'click'",
    where_b: str = "event_type = 'view'",
    source: str = "events",
    d: int = CM_D,
    w: int = CM_W,
) -> str:
    """Join-cardinality estimation from two CM sketches (Cormode &
    Muthukrishnan 2005 §4.2): |A ⋈_k B| = Σ_k f_A(k)·f_B(k) is estimated
    by MIN over rows i of Σ_col a[i,col]·b[i,col] — never an
    underestimate (collisions add nonnegative cross terms).  The
    optimizer's classic use: size a join from two d·w summaries without
    touching either input.  Self-auditing: ``join_size_exact`` rides
    along from the per-key frequency join so the gate checks both the
    estimate arithmetic AND the ground truth.

    Every row i contributes via a generated d-row spine (ADVICE r7): an
    inner join alone drops rows with ZERO colliding cells, loosening the
    min (and with no overlap at all returns an empty relation instead of
    the correct ``join_size_est = 0``); the spine left-join coalesces
    such rows to 0, which the MIN then correctly selects."""
    ca = cm_cells_sql(dialect, key_expr, source, d, w, where=where_a)
    cb = cm_cells_sql(dialect, key_expr, source, d, w, where=where_b)
    return f"""
    WITH ca AS ({ca}), cb AS ({cb}),
    ip AS (
      SELECT sp.i, CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS s
      FROM ({_seeds(dialect, d)}) sp
      LEFT JOIN ca ON ca.i = sp.i
      LEFT JOIN cb ON cb.i = ca.i AND cb.col = ca.col
      GROUP BY sp.i
    ),
    ex AS (
      SELECT CAST(COALESCE(SUM(fa.n * fb.n), 0) AS BIGINT) AS x
      FROM (SELECT {key_expr} AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM {source} WHERE {where_a} GROUP BY {key_expr}) fa
      JOIN (SELECT {key_expr} AS k, CAST(COUNT(*) AS BIGINT) AS n
            FROM {source} WHERE {where_b} GROUP BY {key_expr}) fb
        ON fb.k = fa.k
    )
    SELECT CAST(MIN(ip.s) AS BIGINT) AS join_size_est,
           ex.x AS join_size_exact
    FROM ip, ex
    GROUP BY ex.x
    """


def hll_rolling_distinct_sql(
    dialect: str,
    window_days: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
) -> str:
    """Trailing ``window_days``-day distinct count PER DAY served entirely
    from the maintained register cube — the uniqMerge answer to the
    rolling-DAU question the exact entry computes from raw (day, user)
    pairs.  Sliding windows are where non-additive distinct hurts most
    (windows overlap, so raw recompute scans each day ``window_days``
    times); register MAX over the window's days touches only the bounded
    (days × 2^p) cube."""
    div = "DIV" if dialect == "spark" else "//"
    hourly = hll_hourly_registers_sql(dialect, key_expr, source, p)
    day_regs = f"""
      SELECT hour_id {div} 24 AS day_id, bucket, MAX(r) AS r
      FROM ({hourly}) h
      GROUP BY hour_id {div} 24, bucket
    """
    # windowing as a CONSTANT-fan-out contribution join, not a range join
    # (a BETWEEN-only join plans as CartesianProduct): each day's registers
    # contribute to the window_days target days day_id + i, equi-joined to
    # the days actually present
    win = f"""
      SELECT dd.day_id, c.bucket, MAX(c.r) AS r
      FROM (
        SELECT dr.day_id + s.i AS t_day, dr.bucket, dr.r
        FROM ({day_regs}) dr
        CROSS JOIN ({_seeds(dialect, window_days)}) s
      ) c
      JOIN (SELECT DISTINCT day_id FROM ({day_regs}) dx) dd
        ON dd.day_id = c.t_day
      GROUP BY dd.day_id, c.bucket
    """
    return hll_estimate_sql(dialect, win, p, group_col="day_id")


def hll_rolling_distinct(
    spark,
    window_days: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    p: int = HLL_P,
):
    """Spark path: build the day-grain registers ONCE, pin the bounded
    (days × 2^p) relation as a literal (the one-statement form embeds it
    twice — distinct-days and window sides — and Spark re-executes inline
    subqueries per reference), then window + estimate over the pin."""
    div = "DIV"
    hourly = hll_hourly_registers_sql("spark", key_expr, source, p)
    day_regs = spark.sql(f"""
      SELECT hour_id {div} 24 AS day_id, bucket, MAX(r) AS r
      FROM ({hourly}) h
      GROUP BY hour_id {div} 24, bucket
    """)
    win = f"""
      SELECT /*+ BROADCAST(dd) */ dd.day_id, c.bucket, MAX(c.r) AS r
      FROM (
        SELECT dr.day_id + s.i AS t_day, dr.bucket, dr.r
        FROM {{regs}} dr
        CROSS JOIN ({_seeds("spark", window_days)}) s
      ) c
      JOIN (SELECT DISTINCT day_id FROM {{regs}}) dd
        ON dd.day_id = c.t_day
      GROUP BY dd.day_id, c.bucket
    """
    return spark.sql(
        hll_estimate_sql("spark", win, p, group_col="day_id"),
        regs=local_relation(spark, day_regs.toArrow(), day_regs.schema),
    )


def _compact_staging(path: str) -> tuple[str, str]:
    """``(tmp, old)`` staging dirs of a parts-tree compaction swap
    (:func:`compact_sketch_parts`, :func:`...text.compact_tf_parts`)."""
    return f"{path}.__compact_tmp", f"{path}.__compact_old"


def recover_sketch_parts(spark, path: str) -> str:
    """Startup repair for a compactor killed mid-swap:
    :func:`...parts.heal_swap` over the ``path.__compact_*`` staging dirs
    (restore the staged-out tree, drop a stale copy or a staged temp).
    Idempotent, called automatically by :func:`compact_sketch_parts`.
    Returns what it did (``ok`` / ``restored_old`` / ``dropped_stale_old``
    / ``dropped_tmp``)."""
    return heal_swap(spark, path, *_compact_staging(path))


def kmv_daily_sketches_sql(
    dialect: str,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
) -> str:
    """``(day_id, h)`` — one bottom-k summary per day (the KMV time cube):
    windowed top-k per day over the distinct day-key hashes, bounded at
    days × k rows.  The per-day summaries support the same set algebra as
    the global sketch — day-pair intersections, unions, retention — over
    the cube alone."""
    div = "DIV" if dialect == "spark" else "//"
    h = _h60(dialect, "src.k", "'kmv'")
    return f"""
    SELECT day_id, h FROM (
      SELECT day_id, h,
             ROW_NUMBER() OVER (PARTITION BY day_id ORDER BY h ASC) AS rk
      FROM (
        SELECT DISTINCT ({_epoch_ms(dialect)}) {div} 86400000 AS day_id,
               {h} AS h
        FROM (SELECT ts, {key_expr} AS k FROM {source}) src
      ) dh
    ) ranked WHERE rk <= {k}
    """


def kmv_retention_sql(
    dialect: str,
    daily_rel: str | None = None,
    max_offset: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
) -> str:
    """Cohort retention from the KMV time cube (round 7): for every
    (cohort day d, later day d+i, i ≤ ``max_offset``) pair present in the
    data, estimate how many of day d's distinct users returned on day
    d+i — entirely from the bounded per-day summaries, never re-touching
    raw events (the set-algebra analog of the HLL cube's uniqMerge; an
    exact recompute scans the corpus once per day PAIR).

    Per pair: union sketch U = bottom-k(s_d ∪ s_{d+i}) (windowed top-k
    again), overlap = |{h ∈ U : h in both}|, J = overlap/|U|;
    ``retained_est`` = J · est(|A ∪ B|) and ``retention_rate`` =
    retained_est / est(|A|).  Every term is arithmetic on shared order
    statistics — deterministic both engines, fully hash-checked.  Pair
    relation is bounded: days × ``max_offset`` × 2k rows."""
    div = "DIV" if dialect == "spark" else "//"
    daily = daily_rel or kmv_daily_sketches_sql(dialect, key_expr, source, k)
    two60 = f"CAST({2 ** _HASH_BITS} AS DOUBLE)"

    def est(n_col, hmax_col):
        return (
            f"CASE WHEN {n_col} < {k} THEN CAST({n_col} AS DOUBLE) "
            f"ELSE (CAST({k - 1} AS DOUBLE) * {two60}) "
            f"/ CAST({hmax_col} AS DOUBLE) END"
        )

    return f"""
    WITH daily AS ({daily}),
    days AS (SELECT DISTINCT day_id FROM daily),
    prs AS (
      SELECT /*+ BROADCAST(b) */ a.day_id AS d1, b.day_id AS d2
      FROM days a
      CROSS JOIN ({_seeds(dialect, max_offset)}) s
      JOIN days b ON b.day_id = a.day_id + s.i + 1
    ),
    contrib AS (
      SELECT /*+ BROADCAST(p) */ p.d1, p.d2, u.h,
             1 AS ia, 0 AS ib
      FROM prs p JOIN daily u ON u.day_id = p.d1
      UNION ALL
      SELECT /*+ BROADCAST(p2) */ p2.d1, p2.d2, u2.h,
             0 AS ia, 1 AS ib
      FROM prs p2 JOIN daily u2 ON u2.day_id = p2.d2
    ),
    uni AS (
      SELECT d1, d2, h, in_a, in_b FROM (
        SELECT d1, d2, h,
               MAX(ia) AS in_a, MAX(ib) AS in_b,
               ROW_NUMBER() OVER (PARTITION BY d1, d2 ORDER BY h ASC)
                 AS rk
        FROM contrib
        GROUP BY d1, d2, h
      ) g WHERE rk <= {k}
    ),
    ov AS (
      SELECT d1, d2,
             CAST(COUNT(*) AS BIGINT) AS n_union,
             CAST(MAX(h) AS BIGINT) AS h_union,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both
      FROM uni GROUP BY d1, d2
    ),
    sizes AS (
      SELECT day_id, CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(MAX(h) AS BIGINT) AS h_a
      FROM daily GROUP BY day_id
    )
    SELECT /*+ BROADCAST(sz) */
           ov.d1 AS cohort_day, ov.d2 AS later_day,
           ROUND((CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE))
                 * ({est("ov.n_union", "ov.h_union")}) + 1e-9, 6)
             AS retained_est,
           ROUND(((CAST(ov.n_both AS DOUBLE) / CAST(ov.n_union AS DOUBLE))
                 * ({est("ov.n_union", "ov.h_union")}))
                 / ({est("sz.n_a", "sz.h_a")}) + 1e-9, 6)
             AS retention_rate
    FROM ov JOIN sizes sz ON sz.day_id = ov.d1
    """


def kmv_cohort_sql(
    dialect: str,
    daily_rel: str | None = None,
    max_offset: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
) -> str:
    """FIRST-SEEN cohort retention served from the KMV time cube (round 9,
    VERDICT r8 #8) — the θ-sketch set-algebra twin of
    :func:`...sessionize.cohort_retention_exact_sql`, answering the same
    question (“of the users first seen on day d, how many returned on
    d+i?”) without ever rescanning events.

    θ = the MINIMUM per-day threshold across all days (a day with fewer
    than ``k`` distinct keys has a COMPLETE sketch → threshold 2^60).
    Every hash below θ is in every day's sketch where its key was active,
    so over that uniform sample first-seen day and return days are EXACT
    set operations; ``retention_rate`` is a pure ratio of integer counts
    (the θ scale cancels), and only the absolute ``cohort_est``/
    ``retained_est`` columns apply the 2^60/θ inverse-probability scale.
    All shuffles key on h or the bounded (cohort_day, offset) pair; the
    whole computation reads days × k bounded rows.  Deterministic
    arithmetic on shared order statistics — fully hash-checked.

    DuckDB pins the multi-referenced CTEs ``AS MATERIALIZED`` (inlining
    re-runs the upstream per consumer — round-8 lesson); the Spark
    caller (:func:`kmv_cohort`) injects the bounded daily relation as a
    literal instead."""
    daily = daily_rel or kmv_daily_sketches_sql(dialect, key_expr, source, k)
    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    two60 = f"CAST({2 ** _HASH_BITS} AS DOUBLE)"
    hint = "/*+ BROADCAST(t) */ " if dialect == "spark" else ""
    hint_c = "/*+ BROADCAST(c, t2) */ " if dialect == "spark" else ""
    # fs is ≤ days × k rows but sits behind a groupBy over the pinned
    # literal, so Spark has no stats and falls to SortMergeJoin without
    # the hint (caught by plan_report's SMJ assert at generation time)
    hint_f = "/*+ BROADCAST(f) */ " if dialect == "spark" else ""
    return f"""
    WITH daily AS {mat}({daily}),
    th AS (
      SELECT day_id,
             CASE WHEN COUNT(*) < {k}
                  THEN CAST({2 ** _HASH_BITS} AS BIGINT)
                  ELSE CAST(MAX(h) AS BIGINT) END AS th
      FROM daily GROUP BY day_id
    ),
    theta AS (SELECT MIN(th) AS theta FROM th),
    samp AS {mat}(
      SELECT {hint}d.h, d.day_id
      FROM daily d JOIN theta t ON d.h < t.theta
    ),
    fs AS {mat}(
      SELECT h, MIN(day_id) AS first_day FROM samp GROUP BY h
    ),
    coh AS (
      SELECT first_day AS cohort_day,
             CAST(COUNT(*) AS BIGINT) AS cohort_cnt
      FROM fs GROUP BY first_day
    ),
    ret AS (
      SELECT {hint_f}f.first_day AS cohort_day,
             s.day_id - f.first_day AS offset_days,
             CAST(COUNT(*) AS BIGINT) AS retained_cnt
      FROM samp s JOIN fs f ON f.h = s.h
      WHERE s.day_id - f.first_day BETWEEN 1 AND {max_offset}
      GROUP BY f.first_day, s.day_id - f.first_day
    )
    SELECT {hint_c}r.cohort_day, r.offset_days,
           ROUND(CAST(c.cohort_cnt AS DOUBLE) * {two60}
                 / CAST(t2.theta AS DOUBLE) + 1e-9, 3) AS cohort_est,
           ROUND(CAST(r.retained_cnt AS DOUBLE) * {two60}
                 / CAST(t2.theta AS DOUBLE) + 1e-9, 3) AS retained_est,
           ROUND(CAST(r.retained_cnt AS DOUBLE)
                 / CAST(c.cohort_cnt AS DOUBLE) + 1e-9, 6) AS retention_rate
    FROM ret r
    JOIN coh c ON c.cohort_day = r.cohort_day
    CROSS JOIN theta t2
    """


def kmv_daily_rows(
    spark,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
) -> DataFrame:
    """Collect the bounded daily cube (≤ days × k rows) — the ONE
    corpus-touching pass the retention/cohort estimators share — and pin
    it as a literal relation.  Callers that answer repeated questions over
    the same corpus should collect once and hand the pin to
    :func:`kmv_retention` / :func:`kmv_cohort` (``daily_rows=``): the cube
    is the MAINTAINED artifact in production (the streaming fold entries
    prove the per-epoch protocol), so re-deriving it per query is a
    re-scan the posture forbids.  The registry memoizes per (session, sf)
    in ``entry_queries``."""
    daily = spark.sql(kmv_daily_sketches_sql("spark", key_expr, source, k))
    return local_relation(spark, daily.toArrow(), daily.schema)


def kmv_cohort(
    spark,
    max_offset: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
    daily_rows: DataFrame | None = None,
):
    """Spark path: pin the bounded daily cube as a literal (the statement
    references ``daily`` twice and ``samp``/``fs`` twice each; Spark
    re-executes CTEs per reference — :func:`kmv_retention`'s posture).
    ``daily_rows``: pinned cube (:func:`kmv_daily_rows`) — the
    maintained-cube serving path; omitted → built here (one scan)."""
    if daily_rows is None:
        daily_rows = kmv_daily_rows(spark, key_expr, source, k)
    return spark.sql(
        kmv_cohort_sql(
            "spark", daily_rel="SELECT day_id, h FROM {daily}",
            max_offset=max_offset, k=k,
        ),
        daily=daily_rows,
    )


def kmv_retention(
    spark,
    max_offset: int = 7,
    key_expr: str = "CAST(user_id AS STRING)",
    source: str = "events",
    k: int = KMV_K,
    daily_rows: DataFrame | None = None,
):
    """Spark path: pin the bounded daily-sketch cube (days × k rows) as a
    literal — the one-statement form references ``daily`` three times
    (pairs, union build, sizes) and Spark re-executes a CTE per
    reference — then run the pair algebra over the pin.
    ``daily_rows``: pinned cube (:func:`kmv_daily_rows`)."""
    if daily_rows is None:
        daily_rows = kmv_daily_rows(spark, key_expr, source, k)
    return spark.sql(
        kmv_retention_sql(
            "spark", daily_rel="SELECT day_id, h FROM {daily}",
            max_offset=max_offset, k=k,
        ),
        daily=daily_rows,
    )

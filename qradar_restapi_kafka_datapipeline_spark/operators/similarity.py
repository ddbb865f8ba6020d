"""Similarity search over an embedding column (north-star M6).

Two paths:
- **brute-force top-k** — the correctness baseline: broadcast the (small) query
  set against the full corpus, deterministic cosine (sequential fold), window
  top-k.  Scales linearly in corpus size × queries; right answer, O(N·Q).
- **LSH-bucketed top-k** — the scale path: sign-random-projection sketches put
  near vectors in shared buckets; candidates come from equal-bucket joins, then
  exact cosine re-ranks.  Projections are derived deterministically from
  (plane, dim) hashes, so results are reproducible with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.operators.dedup import cosine_expr
from qradar_restapi_kafka_datapipeline_spark.parts import (
    INDEX_KINDS,
    append_tombstones,
    heal_swap,
    read_live,
    replay_epochs,
    require_live,
    stream_log,
    swap_dir,
    tombstone_log,
)


def knn_bruteforce(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is tiny (a handful of probe vectors) → broadcast; the big
    corpus streams through one task wave with no shuffle until the final
    per-query top-k (k rows per query).
    """
    q = emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"))
    if query_ids is not None:
        q = q.where(F.col("q_id").isin(query_ids))
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_id") != F.col("n_id"))
        .withColumn("cos", F.round(cosine_expr("qv", "nv") + F.lit(1e-9), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def _plane_weight(table: int, plane: int, dim: int) -> float:
    """Deterministic projection-matrix entry in {-3..3} from integer mixing of
    (table, plane, dim) — the ONE definition both the Spark sketch and the
    DuckDB oracle mirror fold into their expressions, so the two engines build
    bit-identical sketches with no RNG state."""
    return float((((table * 1000003 + plane) * 2654435761 + dim * 40503) % 7) - 3)


def _sign_sketch(vec_col: str, planes: int, dims: int, table: int = 0):
    """Deterministic sign-random-projection sketch as an int64 bucket key.

    The sketch is a pure Column expression (codegen, no UDF).  Cross-engine
    exactness: weights are small ints, embedding entries are float32 → every
    product is exactly representable in double and the 64-term sums stay far
    under 53 bits of significand, so the dot products are EXACT (order-
    independent) and the sign bits agree bit-for-bit with the DuckDB mirror
    (:func:`_sign_sketch_sql_duckdb`).
    """
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        weights = F.array(
            *[F.lit(_plane_weight(table, p, d)) for d in range(dims)]
        )
        # zip_with keeps the dot product a runtime loop (compact codegen)
        # instead of `dims` unrolled multiply-adds per plane.
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit * F.lit(1 << p).cast("long")
    return bucket


def _multi_table_buckets(vec_col: str, planes: int, dims: int, tables: int):
    """(table_id, bucket) pairs for OR-amplified LSH: a near pair is a
    candidate if it collides in ANY table — the standard recall amplifier."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_id"),
                    _sign_sketch(vec_col, planes, dims, t).alias("bucket"),
                )
                for t in range(tables)
            ]
        )
    )


def _train_ivf_centroids(
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sample_n: int,
    iters: int,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer trained on a deterministic sample.

    IVF quantizers are trained on a bounded sample even at full scale (this is
    how FAISS does it): the sample is the ``sample_n`` lowest-id vectors —
    deterministic across runs/partitionings — and Lloyd iterations run on the
    driver in numpy.  Only the resulting ``n_centroids × dim`` floats ever
    leave the driver, folded into the assignment expression as literals; the
    corpus itself is never collected.
    """
    import numpy as np

    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms == 0, 1.0, norms)
    cents = x[:n_centroids].copy()
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents.tolist()


def _nearest_lists(vec_col: str, centroids: list[list[float]], nprobe: int):
    """Array of the ``nprobe`` nearest centroid ids (by dot product — centroids
    are unit-norm, so argmax dot = argmax cosine).  Pure Column expression:
    array_sort over (−dot, cid) structs, slice, project cid — no UDF."""
    structs = []
    for cid, cv in enumerate(centroids):
        weights = F.array(*[F.lit(float(w)) for w in cv])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), weights, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        structs.append(F.struct((-dot).alias("nd"), F.lit(cid).alias("cid")))
    ranked = F.array_sort(F.array(*structs))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def knn_ivf(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_n: int = 1024,
    iters: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: corpus vectors
    live in their nearest-centroid list; each query probes its ``nprobe``
    nearest lists and re-ranks candidates with exact cosine.

    Expected candidates per query ≈ corpus·nprobe/n_centroids — tune the ratio,
    not the absolutes, when scaling (e.g. 100 M vectors → 4096 lists, nprobe
    64 keeps ~1.5 % scanned).  Unlike sign-LSH the partition adapts to the data
    distribution (centroids move toward density), so clustered real-world
    embeddings get sharply better recall at equal candidate budget.
    """
    cents = _train_ivf_centroids(emb, n_centroids, id_col, vec_col, sample_n, iters)
    corpus = _assign(emb, cents, 1, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"), "list_id"
    )
    q = emb
    if query_ids is not None:
        q = q.where(F.col(id_col).isin(query_ids))
    q = _assign(q, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"), "list_id"
    )
    return _rerank_topk(q, corpus, k)


def _assign(
    df: DataFrame,
    cents: list[list[float]],
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(id, vec, list_id)`` — ``probes`` rows per vector, nearest-centroid
    assignment.  ONE definition keyed on the TRAINED geometry (not the
    requested one — the sample can yield fewer): small quantizers
    literal-fold into codegen, larger take the broadcast centroid-table
    join (:func:`_assign_cells_join`).  The budget is centroids × dims
    LITERALS, not centroid count (round 11: auto geometry's 45×64 = 2,880
    literals fell off the janino codegen cliff and the interpreted
    expression served 1.8× slower than the broadcast join — 16×64 = 1,024
    stays comfortably inside).  Shared by the per-call IVF, the index
    build, the index append, and the serving-path probes, so all four
    stay on the same scale split."""
    if cents and len(cents) * len(cents[0]) <= 1536:
        return df.select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(_nearest_lists(vec_col, cents, probes)).alias("list_id"),
        )
    return _assign_cells_join(df, cents, probes, id_col, vec_col)


def _rerank_topk(q: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Shared exact-cosine re-rank: broadcast the (small) probe side, join on
    list_id, round per CLAUDE.md float discipline, per-query top-k.
    (q_id, list_id) and (n_id, list_id) are both unique ⇒ no distinct
    needed.  ONE definition for the per-call and persisted-index paths."""
    scored = (
        F.broadcast(q)
        .join(corpus, "list_id")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", F.round(cosine_expr("qv", "nv") + F.lit(1e-9), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def knn_lsh(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    dims: int = 64,
    tables: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates from equal sign-sketch buckets in ANY of
    ``tables`` hash tables (OR-amplification), exact cosine re-rank.

    2^planes buckets per table ⇒ expected corpus·tables/2^planes candidates per
    query — the IVF-style scale path; raise ``tables`` for recall, ``planes``
    for selectivity. Defaults favor recall: measured on the synthetic corpus,
    planes=4/tables=8 triples recall vs planes=8 at lower cost. Caveat: on
    UNIFORMLY RANDOM embeddings (like the test corpus) recall is bounded by
    candidate coverage (~33% here) because "nearest" neighbors are barely
    above the similarity floor; clustered real-world embeddings concentrate
    true neighbors into shared buckets and recall rises sharply."""
    sk = emb.select(
        F.col(id_col),
        F.col(vec_col),
        _multi_table_buckets(vec_col, planes, dims, tables).alias("tb"),
    ).select(id_col, vec_col, "tb.table_id", "tb.bucket")
    q = sk.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"),
        "table_id", "bucket",
    )
    if query_ids is not None:
        q = q.where(F.col("q_id").isin(query_ids))
    c = sk.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"),
        "table_id", "bucket",
    )
    scored = (
        F.broadcast(q)
        .join(c, ["table_id", "bucket"])
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "qv", "n_id", "nv")
        .distinct()
        .withColumn("cos", F.round(cosine_expr("qv", "nv") + F.lit(1e-9), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def knn_ivf_recall_report(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    min_avg_recall: float = 0.5,
    **ivf_kwargs,
) -> DataFrame:
    """The approximate path's quality CONTRACT as a checkable relation.

    Runs IVF and brute force side by side and emits one row:
    ``(n_queries, n_result_rows, avg_recall_ge_floor)``.  The counts are exact
    values the oracle recomputes from the spec (|Q| queries × k rows); the
    recall floor is a deliberate margin below measured behavior (IVF recall@3
    is 0.83–0.97 across sf0.001–0.1 vs a 0.5 floor), so the gate catches a
    probe/assignment regression without being flaky to data-scale noise.
    The driver-trained centroids are why the IVF top-k itself can't have a
    static SQL oracle; this entry pins its quality to the value-checked
    brute-force truth instead.
    """
    bf = knn_bruteforce(emb, query_ids=query_ids, k=k).select("q_id", "n_id")
    approx = knn_ivf(emb, query_ids=query_ids, k=k, **ivf_kwargs)
    hits = approx.select("q_id", "n_id").join(bf, ["q_id", "n_id"], "left_semi")
    a = approx.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_result_rows"),
    )
    h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return a.crossJoin(h).select(
        "n_queries",
        "n_result_rows",
        (
            F.col("n_hits")
            >= F.col("n_queries") * F.lit(float(k) * min_avg_recall)
        ).alias("avg_recall_ge_floor"),
    )


def _centroid_rel(spark, cents) -> DataFrame:
    """The trained centroids as the ``(cid, cv)`` relation: the broadcast
    side of :func:`_assign_cells_join` and the persisted ``centroids/``
    artifact."""
    return local_relation(
        spark,
        [(cid, [float(x) for x in cv]) for cid, cv in enumerate(cents)],
        "cid INT, cv ARRAY<DOUBLE>",
    )


def _assign_cells_join(
    emb: DataFrame,
    cents: list[list[float]],
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``(id, vec, list_id)`` rows (``probes`` per vector) via a BROADCAST
    centroid-table join instead of literal-folded expressions.

    Literal folding (:func:`_nearest_lists`) is the fast path up to ~64
    centroids; past that the expression tree falls out of whole-stage codegen
    (janino's 64 KB method limit), so the scale path ships the ``C×dim``
    centroid floats as a broadcast relation: corpus ⨯ centroids is a
    broadcast nested-loop with C rows per vector, ranked per vector with the
    same (−dot, cid) order the folded path uses — identical assignment,
    plan that survives thousands of cells.
    """
    spark = emb.sparkSession
    cent_df = _centroid_rel(spark, cents)
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("cv"), lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("dot").desc(), F.col("cid").asc())
    return (
        emb.select(id_col, vec_col)
        .join(F.broadcast(cent_df))
        .withColumn("dot", dot)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= probes)
        .select(id_col, vec_col, F.col("cid").alias("list_id"))
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    probes: int = 2,
    sample_n: int = 1024,
    iters: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, compare ONLY
    within-cluster pairs with exact cosine, keep pairs ≥ ``threshold``.

    Each vector is assigned to its ``probes`` nearest centroids (multi-probe,
    the IVF recall amplifier — plain SemDeDup is ``probes=1``): a pair is a
    candidate iff the two share ANY assigned cell, which rescues near-dups
    that straddle a cluster boundary.  Measured on the synthetic corpus at
    threshold 0.42: recall vs brute force 0.26→0.72 going from 1 to 2 probes.

    Candidate volume is capped at probes²·Σ|cluster|²/2 instead of N²/2, and
    the equi-join on ``list_id`` shuffles each vector ``probes`` times — no
    cross product.  At 100 TB raise ``n_centroids`` so cells stay
    executor-sized (FAISS-style: ~√N lists); the quantizer still trains on a
    bounded driver sample (:func:`_train_ivf_centroids`, the engine's one
    sanctioned collect).
    """
    cents = _train_ivf_centroids(emb, n_centroids, id_col, vec_col, sample_n, iters)
    # shared assignment split: ≤64 TRAINED centroids literal-fold (codegen),
    # more take the broadcast centroid-table join (see _assign)
    assigned = _assign(emb, cents, probes, id_col, vec_col)
    a = assigned.select(
        F.col("list_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = assigned.select(
        F.col("list_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    cands = (
        a.join(b, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
    )
    if probes > 1:  # multi-assignment can produce the same pair via two cells
        cands = cands.distinct()
    return (
        cands.withColumn("cos", F.round(cosine_expr("va", "vb") + F.lit(1e-9), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup_contract(
    emb: DataFrame,
    threshold: float = 0.2,
    min_recall: float = 0.3,
    **kwargs,
) -> DataFrame:
    """Quality contract for the cluster-pruned path, as a checkable relation.

    One row: ``(n_true_pairs, found_subset_of_true, recall_ge_floor)``.
    ``n_true_pairs`` is the exact brute-force pair count (the oracle recomputes
    it in DuckDB); subset-ness is exact by construction (the cluster path
    verifies with the same rounded cosine, so any violation is a real bug);
    the recall floor pins cluster quality without being flaky to data noise
    (measured recall 0.67–0.76 across sf0.001–0.01 vs the 0.3 floor; the
    synthetic corpus has no true high-cosine near-dups, so this is the
    hard case — real near-dup embeddings co-cluster far more reliably).  Driver-trained
    centroids are why the pair set itself has no static oracle; this contract
    pins it to the value-checked brute-force truth instead (same pattern as
    :func:`knn_ivf_recall_report`).
    """
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    true_pairs = embedding_cosine_pairs(emb, threshold=threshold).select(
        "id_a", "id_b"
    )
    found = semantic_dedup_pairs(emb, threshold=threshold, **kwargs).select(
        "id_a", "id_b"
    )
    t = true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    extra = found.join(true_pairs, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_extra")
    )
    hits = found.join(true_pairs, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        t.crossJoin(extra)
        .crossJoin(hits)
        .select(
            "n_true_pairs",
            (F.col("n_extra") == 0).alias("found_subset_of_true"),
            (
                F.col("n_hits")
                >= F.ceil(F.col("n_true_pairs") * F.lit(min_recall)).cast("long")
            ).alias("recall_ge_floor"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB mirrors of the sign-LSH paths — full value-check oracles
# ---------------------------------------------------------------------------

def _sign_sketch_sql_duckdb(planes: int, dims: int, tables: int) -> str:
    """The ``(vec_id, v, table_id, bucket)`` sketch relation as DuckDB SQL,
    folding the SAME :func:`_plane_weight` literals the Spark sketch uses.

    One UNION ALL branch per table (the relation is small; clarity over
    cleverness in the oracle).  Each bucket bit is the sign of an inner
    product that is exact in double (see :func:`_sign_sketch`), so bucket
    values agree bit-for-bit with the engine.  Expects a CTE ``e(vec_id, v)``
    with ``v`` already ``DOUBLE[]``.
    """
    branches = []
    for t in range(tables):
        bits = []
        for p in range(planes):
            ws = ", ".join(repr(_plane_weight(t, p, d)) for d in range(dims))
            bits.append(
                f"(CASE WHEN list_inner_product(v, [{ws}]) > 0 "
                f"THEN {1 << p} ELSE 0 END)"
            )
        branches.append(
            f"SELECT vec_id, v, {t} AS table_id, "
            f"CAST({' + '.join(bits)} AS BIGINT) AS bucket FROM e"
        )
    return " UNION ALL ".join(branches)


def knn_lsh_oracle_sql(
    query_max: int = 10,
    k: int = 3,
    planes: int = 4,
    dims: int = 64,
    tables: int = 8,
    source: str = "embeddings",
) -> str:
    """Full DuckDB mirror of :func:`knn_lsh` — sketch, OR-amplified bucket
    join, distinct candidates, exact cosine re-rank, top-k.  Upgrades the
    production LSH entry from rows-only to a complete value check."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source}),
    sk AS ({_sign_sketch_sql_duckdb(planes, dims, tables)}),
    q AS (SELECT vec_id AS q_id, v AS qv, table_id, bucket FROM sk
          WHERE vec_id < {query_max}),
    c AS (SELECT vec_id AS n_id, v AS nv, table_id, bucket FROM sk),
    cand AS (SELECT DISTINCT q_id, qv, n_id, nv
             FROM q JOIN c USING (table_id, bucket) WHERE q_id != n_id),
    s AS (SELECT q_id, n_id,
                 ROUND(list_cosine_similarity(qv, nv) + 1e-9, 6) AS cos FROM cand),
    r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER
          (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rk FROM s)
    SELECT q_id, n_id, cos, rk FROM r WHERE rk <= {k}
    """


def embedding_lsh_oracle_sql(
    threshold: float,
    planes: int = 4,
    dims: int = 64,
    tables: int = 8,
    source: str = "embeddings",
) -> str:
    """Full DuckDB mirror of
    :func:`~qradar_restapi_kafka_datapipeline_spark.operators.dedup.embedding_near_dup_lsh`:
    same sketch, bucket join, distinct pairs, exact-cosine verify."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source}),
    sk AS ({_sign_sketch_sql_duckdb(planes, dims, tables)}),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, a.v AS va,
                    b.vec_id AS id_b, b.v AS vb
             FROM sk a JOIN sk b
               ON a.table_id = b.table_id AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id)
    SELECT id_a, id_b, ROUND(list_cosine_similarity(va, vb) + 1e-9, 6) AS cos
    FROM cand WHERE ROUND(list_cosine_similarity(va, vb) + 1e-9, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# int8 embedding quantization report — the Arrow-batched Python path, proven
# ---------------------------------------------------------------------------

def quantize_embeddings_report(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization stats: scale = max|v|/127,
    q_i = floor(v_i/scale + 0.5) (half-up — identical in every engine, unlike
    banker's rounding), and the max dequantization error, which the contract
    bounds by half a quantization step.

    This op deliberately rides ``mapInPandas`` (Arrow-batched numpy, the
    engine's sanctioned Python path — vectorized per PARTITION, never
    per-row) because it is the template for embedding kernels SQL can't
    express; the DuckDB oracle recomputes the identical formula with list
    lambdas, so the value gate proves the Arrow path bit-agrees with pure
    SQL.  All math in float64: float32 inputs widen exactly, and both engines
    then run the same IEEE ops.
    """
    import pandas as pd

    schema = (
        f"{id_col} LONG, scale DOUBLE, max_abs_err DOUBLE, "
        "within_half_step BOOLEAN"
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for vid, vec in zip(pdf[id_col], pdf[vec_col]):
                v = np.asarray(vec, dtype=np.float64)
                scale = np.abs(v).max() / 127.0
                if scale == 0.0:
                    out.append((vid, 0.0, 0.0, True))
                    continue
                q = np.floor(v / scale + 0.5)
                err = np.abs(q * scale - v).max()
                out.append((vid, scale, err, bool(err <= scale * 0.5 + 1e-12)))
            yield pd.DataFrame(
                out, columns=[id_col, "scale", "max_abs_err", "within_half_step"]
            )

    raw = emb.select(id_col, vec_col).mapInPandas(kernel, schema)
    return raw.select(
        F.col(id_col),
        F.round(F.col("scale") + F.lit(1e-12), 9).alias("scale"),
        F.round(F.col("max_abs_err") + F.lit(1e-12), 9).alias("max_abs_err"),
        "within_half_step",
    )


def quantize_embeddings_oracle_sql(source: str = "embeddings") -> str:
    """DuckDB twin of :func:`quantize_embeddings_report` (list lambdas)."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source}),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    ),
    err AS (
      -- scale = 0 (all-zero vector) must still emit a row: the Spark kernel
      -- yields (vid, 0, 0, TRUE) for it, so filtering here would break
      -- row-count parity the moment a zero embedding appears.
      SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN 0.0
                  ELSE list_max(list_transform(
                    v, x -> abs(floor(x / scale + 0.5) * scale - x)))
             END AS e
      FROM s
    )
    SELECT vec_id, ROUND(scale + 1e-12, 9) AS scale,
           ROUND(e + 1e-12, 9) AS max_abs_err,
           CAST(e <= scale * 0.5 + 1e-12 AS BOOLEAN) AS within_half_step
    FROM err
    """


# ---------------------------------------------------------------------------
# Persisted IVF index — the build-once / query-many ANN serving shape
# ---------------------------------------------------------------------------

def auto_nlist(n_vectors: int) -> int:
    """Coarse-quantizer geometry for a corpus of ``n_vectors`` (round 10):
    nlist ∝ √n, floored at the fixed-16 default the small-SF gate entries
    pin.  FIXED geometry dilutes retrieval quality as the corpus grows —
    measured at 16× (DESIGN.md round-10 recall table): the same 4 probed
    lists hold 16× more candidates, the ADC top-``refine_k`` shortlist
    cut becomes 16× more competitive, and refined recall@3 fell
    0.80 → 0.60.  √n lists at CONSTANT nprobe keep candidates-per-probe
    (and so both per-query scan cost and the shortlist-crowding regime)
    constant at any corpus size — the 100-TB serving posture: probe
    cost ∝ n/nlist · nprobe = O(√n · nprobe) codes per query."""
    import math

    return max(16, int(round(math.sqrt(n_vectors))))


def _resolve_nlist(emb: DataFrame, n_centroids, sample_n: int):
    """``n_centroids="auto"`` → √n lists; the training sample widens to
    ≥ 8 rows per centroid so driver-side Lloyd keeps non-degenerate
    cells (1024 lowest ids over 179 lists is ~5.7 each)."""
    if n_centroids == "auto":
        n_centroids = auto_nlist(emb.count())
        sample_n = max(sample_n, 8 * n_centroids)
    return int(n_centroids), sample_n


def build_ivf_index(
    spark,
    emb: DataFrame,
    path: str,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 1024,
    iters: int = 4,
) -> list[list[float]]:
    """Materialize an IVF index: ``centroids/`` (cid, cv) + ``assignments/``
    PARTITIONED BY list_id.

    The partition layout IS the index: a query probing ``nprobe`` lists
    reads only those directories (file-level pruning), so per-query scan
    cost is corpus·nprobe/n_centroids regardless of table size — the
    FAISS inverted-file idea expressed as storage layout + Catalyst
    partition pruning instead of an in-memory structure.  Assignment uses
    the same literal-folded/broadcast-join split as the per-call path
    (:func:`knn_ivf` / :func:`_assign_cells_join`).  Returns the trained
    centroids (also persisted, so a cold reader needs only ``path``).
    ``n_centroids="auto"`` → √n lists (:func:`auto_nlist`).
    """
    n_centroids, sample_n = _resolve_nlist(emb, n_centroids, sample_n)
    cents = _train_ivf_centroids(emb, n_centroids, id_col, vec_col, sample_n, iters)
    _centroid_rel(spark, cents).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    _assign(emb, cents, 1, id_col, vec_col).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{path}/assignments")
    return cents


def _merged_assignments(spark, path: str, probed: list[int],
                        id_col: str, vec_col: str) -> DataFrame:
    """The index's live assignments in the ``probed`` lists: base tree ∪
    streamed parts (:func:`ivf_append_streaming`) − tombstones
    (:func:`delete_from_ivf_index`), via :func:`...parts.read_live`."""
    return read_live(spark, path, "ivf", [id_col, vec_col, "list_id"],
                     id_col, probed)


#: bounded-serve collect budget (rows) for the probe relation, and the
#: IVF-PQ refine shortlist's literal cap (the janino/SQL-literal posture) —
#: far above any online serve batch, far below anything that could stress
#: the driver.  Larger batches keep the fully distributed path.
_SERVE_COLLECT_CAP = 4096


def _serve_q_schema(schema, id_col: str, vec_col: str):
    """Schema for the rebuilt local probe relation — id/vector types copied
    from the source DataFrame so the collected values round-trip exactly."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType(
        [
            StructField("q_id", schema[id_col].dataType, True),
            StructField("qv", schema[vec_col].dataType, True),
            StructField("list_id", IntegerType(), True),
        ]
    )


def knn_ivf_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k search against a persisted IVF index (:func:`build_ivf_index`).

    Centroids load from the index (driver-side, n_centroids × dim floats —
    bounded like the training sample); each query's ``nprobe`` probe lists
    are computed, COLLECTED (queries × nprobe ints, the serving-path
    equivalent of a query plan constant) and pushed as a static
    ``list_id IN (...)`` predicate, so the assignments scan is file-pruned
    to the probed partitions before a row is read — plan-asserted by
    ``test_ivf_index_scan_prunes_to_probed_lists``.  Exact cosine re-rank
    over the candidates, identical to :func:`knn_ivf`.
    """
    from qradar_restapi_kafka_datapipeline_spark.engine import read_artifact

    # r13 (guide §5): sort the bounded centroid rows driver-side — the
    # DataFrame orderBy ran a range-partition sampling pass plus a sort
    # stage (4 jobs measured vs 2 for the plain collect) on a relation of
    # at most nlist rows.  r14: schema supplied from the per-process memo
    # (engine.read_artifact) so steady serves skip the footer job.
    cent_rows = sorted(
        read_artifact(spark, f"{path}/centroids").collect(),
        key=lambda r: r["cid"],
    )
    cents = [list(r["cv"]) for r in cent_rows]
    q = _assign(queries, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv"), "list_id"
    )
    # r13 (guide §5): a serve batch is bounded (queries × nprobe rows), so
    # land the WHOLE probe relation in ONE action instead of a list_id
    # distinct-collect followed by the final plan re-executing the
    # assignment expression inside the broadcast build — the probed-list
    # predicate AND the broadcast side both come from the single collected
    # result (12 → ~5 Spark jobs per serve measured at sf0.1; the values
    # are the SAME Spark-computed assignments, no replica risk).  Batches
    # beyond the bounded-serve cap keep the distributed path.
    q_rows = q.limit(_SERVE_COLLECT_CAP + 1).collect()
    if len(q_rows) <= _SERVE_COLLECT_CAP:
        probed = sorted({r["list_id"] for r in q_rows})
        q = local_relation(
            spark,
            [(r["q_id"], r["qv"], r["list_id"]) for r in q_rows],
            _serve_q_schema(queries.schema, id_col, vec_col),
        )
    else:
        probed = sorted(
            {r["list_id"] for r in q.select("list_id").distinct().collect()}
        )
    corpus = _merged_assignments(spark, path, probed, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("nv"), "list_id"
    )
    return _rerank_topk(q, corpus, k)


def append_to_ivf_index(
    spark,
    path: str,
    new_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign NEW vectors with the index's
    PERSISTED centroids and append them into the partitioned assignments —
    no retrain, no rewrite of existing lists (each append lands new files
    inside the affected ``list_id=`` directories only).

    This is how production IVF serving absorbs a growing corpus (FAISS
    ``add`` after ``train``): the quantizer stays fixed so existing
    assignments remain valid; re-train + rebuild only when drift degrades
    the recall contract (measure with :func:`knn_ivf_recall_report` against
    the index's brute-force truth).
    """
    # r13: driver-side sort of the bounded centroid rows (see
    # knn_ivf_from_index — the orderBy cost a sampling pass + sort stage)
    cent_rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cid"],
    )
    cents = [list(r["cv"]) for r in cent_rows]
    _assign(new_emb, cents, 1, id_col, vec_col).write.mode("append").partitionBy(
        "list_id"
    ).parquet(f"{path}/assignments")


def ivf_append_streaming(
    spark,
    path: str,
    new_emb: DataFrame,
    n_batches: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _crash_after_write_epoch: int | None = None,
) -> None:
    """Continuously-maintained IVF index (round 11, VERDICT r10 #3) — the
    ``streaming_*_parity`` per-epoch-parts motif applied to vector-index
    freshness: micro-batched vector arrivals are assigned with the
    index's PERSISTED (frozen) quantizer and each epoch lands as an
    immutable part ``assignments_stream/epoch=N/list_id=L/``
    (mode=overwrite — a replayed epoch rewrites its own part, so there
    is no commit window and no double-append; contrast
    :func:`append_to_ivf_index`, whose bare ``mode("append")`` is only
    exactly-once under an external commit protocol).  Assignment under a
    frozen quantizer is a pure per-row function, so the streamed log's
    union IS the one-shot append relation row-for-row — serving through
    :func:`knn_ivf_from_index` (which unions the log via
    :func:`_merged_assignments`) is hash-equal to a one-shot build, and
    :func:`rebalance_ivf_index` compacts the log into the retrained
    tree.  Both trees stay list_id-partitioned, so probe file-pruning
    is unchanged.

    ``_crash_after_write_epoch``: crash-injection hook (raise once AFTER
    the part write — the widest failure window — then restart from the
    same checkpoint; the replayed epoch overwrites its own part)."""
    import shutil

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    # r13: driver-side sort of the bounded centroid rows (see
    # knn_ivf_from_index — the orderBy cost a sampling pass + sort stage)
    cent_rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cid"],
    )
    cents = [list(r["cv"]) for r in cent_rows]
    base = scratch_dir("ivf_stream_")
    try:
        replay_epochs(
            spark, new_emb.select(id_col, vec_col), [id_col], n_batches,
            base, stream_log(path, "ivf"),
            lambda batch: _assign(batch, cents, 1, id_col, vec_col),
            partition_by="list_id",
            crash_after_write_epoch=_crash_after_write_epoch,
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ivfpq_append_streaming(
    spark,
    path: str,
    new_emb: DataFrame,
    dim: int,
    m: int = 16,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
) -> None:
    """Streamed freshness for the COMPRESSED production index (round 12,
    VERDICT r11 #2) — :func:`ivf_append_streaming`'s per-epoch-parts
    motif applied to the IVF-PQ codes store: micro-batched vector
    arrivals are ENCODED under the index's persisted (frozen) codebooks
    and assigned under its persisted (frozen) coarse quantizer, each
    epoch landing as an immutable part
    ``codes_stream/epoch=N/list_id=L/`` (mode=overwrite — a replayed
    epoch rewrites its own part; no commit window, no double-append).
    Code assignment under frozen codebooks is a pure per-row function of
    the vector (the shared rounded/tie-broken :func:`pq_codes_sql`), so
    the streamed log's union IS the one-shot encode relation row-for-row
    — serving through :func:`knn_ivfpq_from_index` (which unions the log
    via :func:`...parts.read_live`) is hash-equal to a one-shot build's codes
    over the same artifacts, and the gate oracle proves it by replaying
    the WHOLE pipeline from the artifacts over the full corpus.  Both
    trees stay list_id-partitioned, so probed-list file pruning is
    unchanged; a retrain/rebuild compacts the log away (the codebooks
    are the index's identity — there is no codebook-preserving
    compaction worth doing that a plain batch re-encode doesn't do
    better).

    ``_crash_after_write_epoch``: crash-injection hook (raise once AFTER
    the part write, restart from the same checkpoint — the replay
    test)."""
    import shutil

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    def codes(batch: DataFrame) -> DataFrame:
        sp = batch.sparkSession
        assign = sp.sql(
            ivf_assign_sql("spark", f"{path}/centroids", dim, 1, "{batch}"),
            batch=batch,
        ).select("vec_id", "list_id")
        return sp.sql(
            pq_codes_sql("spark", f"{path}/codebooks", m, dim // m, "{batch}"),
            batch=batch,
        ).join(assign, "vec_id")

    base = scratch_dir("ivfpq_stream_")
    try:
        replay_epochs(
            spark, new_emb.select("vec_id", "embedding"), ["vec_id"],
            n_batches, base, stream_log(path, "ivfpq"), codes,
            partition_by="list_id",
            crash_after_write_epoch=_crash_after_write_epoch,
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def delete_from_ivf_index(
    spark,
    path: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Tombstone deletes (round 11) — the third lifecycle verb alongside
    :func:`append_to_ivf_index` and :func:`rebalance_ivf_index`, and the
    one a GDPR/right-to-be-forgotten pipeline actually needs: each call
    appends the ids as an immutable part under ``tombstones/``; serving
    (:func:`_merged_assignments`) anti-joins the broadcast tombstone set,
    and the next rebalance physically drops the rows and clears the log
    (the rebuild IS the compaction, same as the streamed-append log).
    Idempotent — deleting an id twice, or an id not in the index, is a
    no-op by anti-join semantics.  No list is rewritten at delete time,
    so deletes are O(|ids|) regardless of index size."""
    append_tombstones(ids, tombstone_log(path), id_col)


def compact_ivf_index(spark, path: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> int:
    """Maintenance compaction (round 11): fold the streamed assignments
    log (:func:`ivf_append_streaming`) and the tombstone set
    (:func:`delete_from_ivf_index`) into the base ``assignments/`` tree
    WITHOUT retraining — the quantizer (and therefore every assignment
    and probe decision) is untouched, so serving is VALUE-IDENTICAL
    before and after at any nprobe: this is the cheap periodic
    maintenance step between rebalances, bounding log length and
    restoring one-tree scans.  Same crash-safe stage-out/stage-in rename
    protocol (and the same ``__rebal_tmp``/``__rebal_old`` names) as
    :func:`rebalance_ivf_index`, so :func:`recover_ivf_index` heals a
    mid-swap crash of either operation.  Returns the number of live
    vectors in the compacted tree."""
    return _compact_lists(spark, path, "ivf", [id_col, vec_col, "list_id"],
                          id_col, ("centroids",), "compact_ivf_index")


def compact_ivfpq_index(spark, path: str) -> int:
    """Codebook-preserving maintenance compaction for the COMPRESSED
    index (round 12 — the :func:`compact_ivf_index` role for the
    IVF-PQ store): fold the streamed code parts
    (:func:`ivfpq_append_streaming`) and the tombstone log into the
    base ``codes/`` tree.  The quantizer AND codebooks are untouched —
    codes are already encoded, so compaction only reorganizes storage
    and serving is VALUE-IDENTICAL before and after at any nprobe
    (same guarantee class as the raw-index compaction, pinned in
    pytest).  Same crash-safe stage-out/stage-in rename protocol and
    ``__rebal_tmp``/``__rebal_old`` names, so :func:`recover_ivf_index`
    heals a mid-swap crash of this operation too.  Returns the number
    of live vectors in the compacted tree."""
    return _compact_lists(spark, path, "ivfpq",
                          ["vec_id", "mi", "j", "list_id"], "vec_id",
                          ("centroids", "codebooks"), "compact_ivfpq_index")


def _compact_lists(spark, path: str, kind: str, cols: list[str], id_col: str,
                   trained: tuple[str, ...], what: str) -> int:
    """The IVF/IVF-PQ compaction: heal, then swap in one list_id-partitioned
    tree of base ∪ stream − tombstones beside the unchanged ``trained``
    artifacts (the index's identity).  Returns the live vector count."""
    recover_ivf_index(spark, path)
    rel = read_live(spark, path, kind, cols, id_col)
    require_live(rel, what, path)
    data = INDEX_KINDS[kind][0]

    def write(tmp: str) -> int:
        for art in trained:
            spark.read.parquet(f"{path}/{art}").coalesce(1).write.parquet(
                f"{tmp}/{art}"
            )
        rel.write.partitionBy("list_id").parquet(f"{tmp}/{data}")
        return (
            spark.read.parquet(f"{tmp}/{data}")
            .select(id_col).distinct().count()
        )

    return swap_dir(spark, path, *_rebal_staging(path), write, what)


def _rebal_staging(path: str) -> tuple[str, str]:
    """``(tmp, old)`` staging dirs of the IVF/IVF-PQ index swaps."""
    return f"{path}.__rebal_tmp", f"{path}.__rebal_old"


def recover_ivf_index(spark, path: str) -> str:
    """Self-heal a rebalance or compaction killed mid-swap (the one crash
    point where the live index is briefly absent — the staged-out tree
    sits intact at ``path.__rebal_old``): :func:`...parts.heal_swap` over
    this layout's staging dirs.  Idempotent, called automatically by
    :func:`rebalance_ivf_index` and both compactors."""
    return heal_swap(spark, path, *_rebal_staging(path))


def rebalance_ivf_index(
    spark,
    path: str,
    n_centroids: int | str = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 1024,
    iters: int = 4,
) -> int:
    """Retrain-and-rebuild the persisted IVF index from ITS OWN vectors —
    the maintenance step :func:`append_to_ivf_index`'s contract defers to
    ("re-train + rebuild only when drift degrades the recall contract"):
    appends keep the quantizer frozen, so after enough distribution drift
    (detectable with the corpus_drift_js monitor on the source side, or a
    falling :func:`knn_ivf_recall_report`) lists skew and recall decays.

    The whole indexed corpus is read back from the assignments tree
    (vectors live in the index — no source rescan), centroids retrain on
    a bounded deterministic sample, every vector reassigns via the same
    broadcast-join path as the builder, and the new tree swaps in by
    stage-out/stage-in rename (every crash point leaves the OLD or the
    NEW index fully readable; :func:`recover_ivf_index` self-heals the
    one mid-swap window).  Serving code needs no change: the layout
    contract (centroids/ + assignments/ partitioned by list_id) is
    preserved.  Returns the number of vectors re-indexed.

    ``n_centroids`` defaults to ``"auto"`` (round 11, VERDICT r10 #2):
    the rebalance is exactly the moment the index should ADOPT the √n
    geometry — appends grow the corpus under a frozen quantizer, and
    retraining at the STALE fixed nlist reproduces the
    shortlist-crowding regime the rebuild exists to escape (the same
    nprobe lists hold k× more candidates; DESIGN.md round-10 recall
    table).  √n lists at constant nprobe restore constant
    candidates-per-probe, so per-query scan cost stays O(√n·nprobe)
    as the corpus keeps growing.  Pass an int to pin geometry (the
    small-SF gate entries do, for hash stability)."""
    recover_ivf_index(spark, path)
    # the rebuild IS the compaction: the streamed log folds in, tombstoned
    # rows drop, and the swap stages the whole old dir (logs included) out
    emb = read_live(spark, path, "ivf", [id_col, vec_col], id_col)
    n = emb.count()
    if n_centroids == "auto":
        n_centroids = auto_nlist(n)
        sample_n = max(sample_n, 8 * n_centroids)
    cents = _train_ivf_centroids(
        emb, int(n_centroids), id_col, vec_col, sample_n, iters
    )

    def write(tmp: str) -> None:
        _centroid_rel(spark, cents).coalesce(1).write.parquet(f"{tmp}/centroids")
        _assign(emb, cents, 1, id_col, vec_col).write.partitionBy(
            "list_id"
        ).parquet(f"{tmp}/assignments")

    swap_dir(spark, path, *_rebal_staging(path), write, "rebalance_ivf_index")
    return n


def knn_emitted_oracle_sql(query_max: int = 10, k: int = 3,
                           exclude_n_pred: str | None = None,
                           emitted_sel: str | None = None) -> str:
    """Emitted-keys property-oracle template for ENGINE-CHOSEN kNN results
    (``{emitted}`` expands to the materialized result relation): DuckDB reads
    back only (q_id, n_id) and recomputes cosine, rank, the k cutoff and the
    id-domain predicates from the raw embeddings — one builder drives every
    IVF-flavored entry (per-call and persisted-index), so the value checks
    cannot drift apart.

    ``exclude_n_pred`` (round 11, the delete entry): a predicate over
    ``em.n_id`` naming ids the serve MUST NOT return (the tombstoned
    set) — a deleted id surviving in the output is dropped by the
    oracle and fails the row-count match.

    ``emitted_sel`` (round 13, the composed takedown entry): override
    the emitted-keys projection — a COMPOSED entry unions several
    families into one artifact, so its per-family oracle slice reads
    e.g. ``SELECT k1 AS q_id, k2 AS n_id FROM {{emitted}} WHERE family
    = 'ivf'`` (keep the literal ``{{emitted}}`` placeholder)."""
    excl = f"AND NOT ({exclude_n_pred}) " if exclude_n_pred else ""
    sel = emitted_sel or "SELECT q_id, n_id FROM {emitted}"
    return (
        f"WITH emitted AS ({sel}), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "s AS (SELECT em.q_id, em.n_id, "
        "ROUND(list_cosine_similarity(a.v, b.v) + 1e-9, 6) AS cos "
        "FROM emitted em JOIN e a ON a.vec_id = em.q_id "
        "JOIN e b ON b.vec_id = em.n_id "
        f"WHERE em.q_id < {query_max} AND em.q_id != em.n_id {excl}), "
        "r AS (SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER "
        "(PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rk FROM s) "
        f"SELECT q_id, n_id, cos, rk FROM r WHERE rk <= {k}"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search — round 5.
# The memory-compression half of large-scale ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search"; the FAISS IVF-PQ
# pattern): corpus vectors are stored as m small centroid CODES (m bytes
# instead of dim floats — 16× compression at dim 64 / m 16, the measured
# fidelity sweet spot: m=4's 16-dim subspaces under 16 centroids drown the
# random-corpus dot spread, m=16's 4-dim subspaces track it), and a query
# scores candidates through a per-query lookup table without ever touching
# the raw corpus vectors.  At 100 TB this is what makes the serving scan
# read codes, not embeddings.  Composes with the IVF layout
# (build_ivf_index): assignments partition the corpus, PQ codes compress
# what each probe reads.
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 1024,
    iters: int = 4,
) -> list[list[list[float]]]:
    """Per-subvector k-means codebooks (``m`` books × ``ksub`` centroids of
    ``dim/m`` floats), trained like the IVF quantizer: a deterministic
    bounded sample (``sample_n`` lowest ids), Lloyd iterations in driver
    numpy, only m·ksub·dsub floats ever leaving the driver."""
    import numpy as np

    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(sample_n).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for mi in range(m):
        xs = x[:, mi * dsub : (mi + 1) * dsub]
        cents = xs[:ksub].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                members = xs[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        books.append(cents.tolist())
    return books


def write_pq_codebooks(spark, books: list[list[list[float]]], path: str) -> None:
    """Persist codebooks as the oracle-readable ``(m, j, cv)`` artifact —
    the emitted-artifact gate contract (the BPE vocab precedent): Spark
    trains and writes, the static DuckDB oracle recomputes the WHOLE
    encode → LUT → ADC pipeline from this artifact and the raw embeddings."""
    rows = [
        (mi, j, [float(x) for x in cv])
        for mi, book in enumerate(books)
        for j, cv in enumerate(book)
    ]
    local_relation(spark, rows, "m INT, j INT, cv ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def pq_adc_sql(
    dialect: str,
    artifact: str,
    m: int = 16,
    dsub: int = 4,
    query_max: int = 3,
    k: int = 3,
    source: str = "embeddings",
) -> str:
    """Top-``k`` by PQ asymmetric distance, one dialect-shared relational
    pipeline reading the codebook artifact:

    1. ``sub``: explode each vector into its ``m`` subvectors;
    2. ``codes``: nearest-centroid code per (vector, subvector) — distances
       ROUNDed (+1e-9, 6dp) before the argmin with a ``j`` tie-break, so
       both engines pick identical codes even at float-boundary distances;
    3. ``lut``: per-query dot(query subvector, centroid), ROUNDed the same
       way — each entry becomes an exact multiple of 1e-6, so the ADC sum
       over ``m`` entries is EXACT in doubles and order-independent
       (the CLAUDE.md round-per-row-then-aggregate discipline);
    4. ``scores``: SUM of the query's LUT entries at the candidate's codes —
       the ADC approximation of dot(q, v) that never reads the candidate's
       raw vector; rank by (score DESC, n_id).

    The encode join is corpus × m × ksub rows against a BROADCAST codebook —
    shuffle-free and linear in corpus size; serving reads only codes + the
    bounded per-query LUT.  Fully value-checked: every step is deterministic
    SQL from the artifact, no quality contract needed."""
    if dialect == "spark":
        cb = f"SELECT m, j, cv FROM parquet.`{artifact}`"
        vex = "CAST(embedding AS ARRAY<DOUBLE>)"
        sub = (
            f"SELECT vec_id, mi, slice(v, mi * {dsub} + 1, {dsub}) AS s "
            f"FROM (SELECT vec_id, {vex} AS v FROM {source}) e "
            f"LATERAL VIEW explode(sequence(0, {m - 1})) t AS mi"
        )
        d2 = ("aggregate(zip_with(s, cb.cv, (x, y) -> (x - y) * (x - y)), "
              "0D, (acc, z) -> acc + z)")
        dot = ("aggregate(zip_with(s, cb.cv, (x, y) -> x * y), "
               "0D, (acc, z) -> acc + z)")
    else:
        cb = f"SELECT m, j, cv FROM '{artifact}/*.parquet'"
        vex = "CAST(embedding AS DOUBLE[])"
        sub = (
            f"SELECT vec_id, mi, list_slice(v, mi * {dsub} + 1, "
            f"(mi + 1) * {dsub}) AS s "
            f"FROM (SELECT vec_id, {vex} AS v FROM {source}) e, "
            f"UNNEST(generate_series(0, {m - 1})) AS t(mi)"
        )
        d2 = (f"list_sum(list_transform(generate_series(1, {dsub}), "
              "i -> (s[i] - cb.cv[i]) * (s[i] - cb.cv[i])))")
        dot = (f"list_sum(list_transform(generate_series(1, {dsub}), "
               "i -> s[i] * cb.cv[i]))")
    return f"""
    WITH cb AS ({cb}),
    sub AS ({sub}),
    dists AS (
      SELECT sub.vec_id, sub.mi, cb.j,
             ROUND({d2} + 1e-9, 6) AS d2r
      FROM sub JOIN cb ON cb.m = sub.mi
    ),
    codes AS (
      SELECT vec_id, mi, j FROM (
        SELECT vec_id, mi, j, ROW_NUMBER() OVER (
          PARTITION BY vec_id, mi ORDER BY d2r ASC, j ASC) AS rn
        FROM dists
      ) r WHERE rn = 1
    ),
    lut AS (
      SELECT sub.vec_id AS q_id, sub.mi, cb.j,
             ROUND({dot} + 1e-9, 6) AS lv
      FROM sub JOIN cb ON cb.m = sub.mi
      WHERE sub.vec_id < {query_max}
    ),
    scores AS (
      -- BROADCAST: the LUT is queries x m x ksub rows (a bounded constant);
      -- the codes side is corpus-sized — without the hint Spark sort-merges
      -- on (mi, j), shuffling the whole corpus at 100 TB.  DuckDB parses
      -- /*+ ... */ as a plain comment, so the shared text stays one SQL.
      SELECT /*+ BROADCAST(l) */
             l.q_id, c.vec_id AS n_id, ROUND(SUM(l.lv) + 1e-9, 6) AS score
      FROM codes c JOIN lut l ON l.mi = c.mi AND l.j = c.j
      WHERE c.vec_id != l.q_id
      GROUP BY l.q_id, c.vec_id
    )
    SELECT q_id, n_id, score, rk FROM (
      SELECT q_id, n_id, score, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS INT) AS rk
      FROM scores
    ) ranked WHERE rk <= {k}
    """


def knn_pq_adc(
    spark,
    artifact: str,
    emb: DataFrame | None = None,
    m: int = 16,
    ksub: int = 16,
    query_max: int = 3,
    k: int = 3,
    source: str = "embeddings",
    retrain: bool = True,
) -> DataFrame:
    """Train (optionally), persist the codebook artifact, and run the shared
    ADC pipeline on the Spark side.  ``retrain=False`` reuses an existing
    artifact (the frozen-quantizer append posture of the IVF/text indexes)."""
    src = emb if emb is not None else spark.table(source)
    if retrain:
        books = train_pq_codebooks(src, m=m, ksub=ksub)
        write_pq_codebooks(spark, books, artifact)
    dim = len(src.select("embedding").first()[0])
    return spark.sql(
        pq_adc_sql("spark", artifact, m=m, dsub=dim // m,
                   query_max=query_max, k=k, source=source)
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the full FAISS serving architecture, composed from the two
# halves above: the IVF coarse quantizer prunes WHICH partitions a query
# reads (storage layout + static list_id predicates, as in
# build_ivf_index), and PQ codes compress WHAT it reads (16× smaller than
# raw vectors).  Round-5 addition: every stage — coarse assignment, code
# assignment, LUT, ADC — is dialect-shared SQL with the rounded-argmin
# discipline, so the DuckDB oracle recomputes the ENTIRE pipeline from the
# two emitted artifacts (centroids + codebooks) and a probe-selection bug
# hash-fails the gate, not just a scoring bug.
# ---------------------------------------------------------------------------


def _cb_rel_sql(dialect: str, artifact: str, cols: str) -> str:
    if dialect == "spark":
        return f"SELECT {cols} FROM parquet.`{artifact}`"
    return f"SELECT {cols} FROM '{artifact}/*.parquet'"


def _vec_rel_sql(dialect: str, source: str) -> str:
    cast = "ARRAY<DOUBLE>" if dialect == "spark" else "DOUBLE[]"
    return f"SELECT vec_id, CAST(embedding AS {cast}) AS v FROM {source}"


def _dot_full_sql(dialect: str, a: str, b: str, dim: int) -> str:
    """Ordered-fold dot product of two array expressions (length ``dim``)."""
    if dialect == "spark":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
                "(acc, z) -> acc + z)")
    return (f"list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> {a}[i] * {b}[i]))")


def ivf_assign_sql(
    dialect: str,
    cent_artifact: str,
    dim: int,
    nprobe: int = 1,
    source: str = "embeddings",
) -> str:
    """``(vec_id, list_id, rk)`` — each vector's ``nprobe`` nearest coarse
    centroids by ROUNDED dot (+1e-9, 6 dp) with a cid tie-break: the
    deterministic twin of :func:`_nearest_lists`, shared by the index BUILD
    (nprobe=1) and the oracle's recomputation, so the stored layout and the
    static oracle can never disagree on an assignment."""
    cents = _cb_rel_sql(dialect, cent_artifact, "cid, cv")
    vecs = _vec_rel_sql(dialect, source)
    dot = _dot_full_sql(dialect, "e.v", "c.cv", dim)
    return f"""
    SELECT vec_id, list_id, rk FROM (
      SELECT e.vec_id, c.cid AS list_id, CAST(ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND({dot} + 1e-9, 6) DESC, c.cid ASC) AS INT) AS rk
      FROM ({vecs}) e CROSS JOIN ({cents}) c
    ) r WHERE rk <= {nprobe}
    """


def pq_codes_sql(
    dialect: str,
    cb_artifact: str,
    m: int,
    dsub: int,
    source: str = "embeddings",
) -> str:
    """``(vec_id, mi, j)`` — the PQ code assignment CTE body, factored from
    :func:`pq_adc_sql`'s encode stage (identical rounding + tie-break)."""
    cb = _cb_rel_sql(dialect, cb_artifact, "m, j, cv")
    if dialect == "spark":
        sub = (
            f"SELECT vec_id, mi, slice(v, mi * {dsub} + 1, {dsub}) AS s "
            f"FROM ({_vec_rel_sql(dialect, source)}) e "
            f"LATERAL VIEW explode(sequence(0, {m - 1})) t AS mi"
        )
        d2 = ("aggregate(zip_with(s, cb.cv, (x, y) -> (x - y) * (x - y)), "
              "0D, (acc, z) -> acc + z)")
    else:
        sub = (
            f"SELECT vec_id, mi, list_slice(v, mi * {dsub} + 1, "
            f"(mi + 1) * {dsub}) AS s "
            f"FROM ({_vec_rel_sql(dialect, source)}) e, "
            f"UNNEST(generate_series(0, {m - 1})) AS t(mi)"
        )
        d2 = (f"list_sum(list_transform(generate_series(1, {dsub}), "
              "i -> (s[i] - cb.cv[i]) * (s[i] - cb.cv[i])))")
    return f"""
    SELECT vec_id, mi, j FROM (
      SELECT sub.vec_id, sub.mi, cb.j, ROW_NUMBER() OVER (
        PARTITION BY sub.vec_id, sub.mi
        ORDER BY ROUND({d2} + 1e-9, 6) ASC, cb.j ASC) AS rn
      FROM ({sub}) sub JOIN ({cb}) cb ON cb.m = sub.mi
    ) r WHERE rn = 1
    """


def pq_lut_sql(
    dialect: str,
    cb_artifact: str,
    m: int,
    dsub: int,
    query_max: int,
    source: str = "embeddings",
) -> str:
    """``(q_id, mi, j, lv)`` — per-query LUT entries, rounded to exact 1e-6
    multiples so downstream ADC sums are order-free."""
    cb = _cb_rel_sql(dialect, cb_artifact, "m, j, cv")
    if dialect == "spark":
        sub = (
            f"SELECT vec_id, mi, slice(v, mi * {dsub} + 1, {dsub}) AS s "
            f"FROM ({_vec_rel_sql(dialect, source)}) e "
            f"LATERAL VIEW explode(sequence(0, {m - 1})) t AS mi"
        )
        dot = ("aggregate(zip_with(s, cb.cv, (x, y) -> x * y), "
               "0D, (acc, z) -> acc + z)")
    else:
        sub = (
            f"SELECT vec_id, mi, list_slice(v, mi * {dsub} + 1, "
            f"(mi + 1) * {dsub}) AS s "
            f"FROM ({_vec_rel_sql(dialect, source)}) e, "
            f"UNNEST(generate_series(0, {m - 1})) AS t(mi)"
        )
        dot = (f"list_sum(list_transform(generate_series(1, {dsub}), "
               "i -> s[i] * cb.cv[i]))")
    return f"""
    SELECT sub.vec_id AS q_id, sub.mi, cb.j,
           ROUND({dot} + 1e-9, 6) AS lv
    FROM ({sub}) sub JOIN ({cb}) cb ON cb.m = sub.mi
    WHERE sub.vec_id < {query_max}
    """


def _ivfpq_rank_sql(codes_rel: str, probes_rel: str, lut_rel: str, k: int) -> str:
    """Dialect-common ADC scoring + ranking over any codes/probes/LUT
    relations: candidates are vectors whose assigned list is probed by the
    query; score = exact sum of the query's LUT entries at their codes."""
    return f"""
    scores AS (
      -- probes and LUT are bounded per-query constants; codes is the corpus.
      -- BROADCAST both small sides (DuckDB reads the hint as a comment).
      SELECT /*+ BROADCAST(p), BROADCAST(l) */
             p.q_id, c.vec_id AS n_id, ROUND(SUM(l.lv) + 1e-9, 6) AS score
      FROM ({probes_rel}) p
      JOIN ({codes_rel}) c ON c.list_id = p.list_id
      JOIN ({lut_rel}) l ON l.q_id = p.q_id AND l.mi = c.mi AND l.j = c.j
      WHERE c.vec_id != p.q_id
      GROUP BY p.q_id, c.vec_id
    )
    SELECT q_id, n_id, score, rk FROM (
      SELECT q_id, n_id, score, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS INT) AS rk
      FROM scores
    ) ranked WHERE rk <= {k}
    """


def _ivfpq_refine_sql(
    dialect: str,
    codes_rel: str,
    probes_rel: str,
    lut_rel: str,
    vec_rel: str,
    refine_k: int,
    k: int,
    dim: int,
    shortlist_rel: str | None = None,
    n_id_in: list[int] | None = None,
) -> str:
    """The FAISS refine stage as dialect-shared SQL (round 10, VERDICT r9
    #5): re-rank the ADC top-``refine_k`` shortlist by EXACT rounded
    cosine over the raw vectors, emit the top-``k``.  Measured at sf0.1
    (DESIGN.md round-10 recall table): raw ADC recall@3 vs brute force is
    ~0.3 — the 64-bit PQ codes blur near-ties — while the probed
    candidate set contains ~0.87 of the truth; refining the bounded
    shortlist recovers recall to ≈ the probe ceiling.

    Two formulations of the raw-vector read (ADVICE r10):

    - default (the oracle's): the shortlist and query vectors BROADCAST
      and ``ne`` hash-probes them in ONE streaming pass over the raw
      vectors — no shuffle, but the corpus relation is scanned once.
    - ``shortlist_rel`` + ``n_id_in`` (the Spark serve path): the ADC
      shortlist was already materialized, so ``ne`` carries a literal
      ``vec_id IN (...)`` predicate that pushes down to the parquet
      scan — genuinely queries×refine_k bounded raw-vector reads, never
      a corpus pass.  The gate hash-proves the two formulations equal."""
    if shortlist_rel is None:
        adc = ("(WITH "
               + _ivfpq_rank_sql(codes_rel, probes_rel, lut_rel, refine_k)
               + ")")
    else:
        adc = f"({shortlist_rel})"
    ne_rel = f"({vec_rel})"
    if n_id_in is not None:
        ids = ", ".join(str(int(i)) for i in sorted(set(n_id_in)))
        pred = f"vec_id IN ({ids})" if ids else "1 = 0"
        ne_rel = f"(SELECT * FROM ({vec_rel}) WHERE {pred})"
    dot_qn = _dot_full_sql(dialect, "qe.v", "ne.v", dim)
    dot_qq = _dot_full_sql(dialect, "qe.v", "qe.v", dim)
    dot_nn = _dot_full_sql(dialect, "ne.v", "ne.v", dim)
    return f"""
    SELECT q_id, n_id, cos, rk FROM (
      SELECT q_id, n_id, cos, CAST(ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS INT) AS rk
      FROM (
        SELECT /*+ BROADCAST(s), BROADCAST(qe) */ s.q_id, s.n_id,
               ROUND(({dot_qn})
                     / SQRT(({dot_qq}) * ({dot_nn})) + 1e-9, 6) AS cos
        FROM {adc} s
        JOIN ({vec_rel}) qe ON qe.vec_id = s.q_id
        JOIN {ne_rel} ne ON ne.vec_id = s.n_id
      ) scored
    ) ranked WHERE rk <= {k}
    """


def build_ivfpq_index(
    spark,
    emb: DataFrame,
    path: str,
    n_centroids: int | str = 16,
    m: int = 16,
    ksub: int = 16,
    sample_n: int = 1024,
    iters: int = 4,
    source_view: str = "embeddings",
) -> None:
    """Materialize the IVF-PQ index: ``centroids/`` + ``codebooks/`` (the
    two driver-trained, oracle-readable artifacts) and ``codes/`` —
    ``(vec_id, mi, j)`` PARTITIONED BY list_id, so a probing query's scan
    file-prunes to its lists AND reads 1-byte codes instead of raw vectors.
    Assignment and encoding run the SHARED rounded SQL
    (:func:`ivf_assign_sql` / :func:`pq_codes_sql`), so the stored layout
    is bit-identical to what the static oracle recomputes.
    ``n_centroids="auto"`` → √n coarse lists (:func:`auto_nlist` — the
    constant-per-query-cost geometry; the serve side needs no change
    since probes come from the persisted centroids relation)."""
    n_centroids, sample_n = _resolve_nlist(emb, n_centroids, sample_n)
    dim = len(emb.select("embedding").first()[0])
    cents = _train_ivf_centroids(emb, n_centroids, "vec_id", "embedding",
                                 sample_n, iters)
    _centroid_rel(spark, cents).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    books = train_pq_codebooks(emb, m=m, ksub=ksub, sample_n=sample_n,
                               iters=iters)
    write_pq_codebooks(spark, books, f"{path}/codebooks")
    assign = spark.sql(
        ivf_assign_sql("spark", f"{path}/centroids", dim, 1, source_view)
    ).select("vec_id", "list_id")
    codes = spark.sql(
        pq_codes_sql("spark", f"{path}/codebooks", m, dim // m, source_view)
    )
    codes.join(assign, "vec_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{path}/codes")


def knn_ivfpq_from_index(
    spark,
    path: str,
    dim: int,
    m: int = 16,
    nprobe: int = 4,
    query_max: int = 3,
    k: int = 3,
    source_view: str = "embeddings",
    refine_k: int | None = None,
) -> DataFrame:
    """Serve top-``k`` from the persisted IVF-PQ index: probe lists come
    from the shared rounded assignment SQL (collected — queries × nprobe
    ints, a plan constant), the codes scan carries a static
    ``list_id IN (...)`` predicate (file-pruned like the raw-vector IVF
    path), and scoring is the exact-integer ADC sum.  The scan never
    touches an embedding.

    ``refine_k`` (round 10): when set, the ADC ranking produces a
    top-``refine_k`` SHORTLIST that is re-ranked by exact rounded cosine
    over the raw vectors (:func:`_ivfpq_refine_sql` — the FAISS refine
    step).  Output columns become ``(q_id, n_id, cos, rk)``.  ~20·k
    recovers recall to the probe ceiling (DESIGN.md round-10 recall
    table).  When the shortlist is literal-safe (queries × refine_k ≤
    4,096 pairs — an online serve batch) it is materialized and the
    raw-vector scan carries a literal ``vec_id IN (...)`` pushdown:
    genuinely bounded reads, no corpus pass (ADVICE r10).  The cap is
    sized to the SQL-literal budget, not driver memory — a 100k-tuple
    VALUES clause plus a 100k-id IN list is megabytes of SQL whose
    parse/analysis and codegen fallback would dwarf the saved corpus
    scan (ADVICE r11; same janino cliff as the IVF assignment
    literal-fold budget).  Larger offline batches fall back to the
    single streaming pass with the shortlist broadcast; the DuckDB
    oracle always replays the streaming formulation, so the gate
    hash-proves the two equal."""
    probes = spark.sql(
        ivf_assign_sql("spark", f"{path}/centroids", dim, nprobe, source_view)
    ).where(F.col("vec_id") < query_max).select(
        F.col("vec_id").alias("q_id"), "list_id"
    )
    # r13 (guide §5): the probe relation is bounded (query_max × nprobe id
    # pairs) — collect it WHOLE in the one action that already existed (the
    # old code collected just the distinct list_ids, then the final plan
    # re-executed the centroids-scan assignment SQL inside the broadcast
    # build) and serve the literal rows back.  Same Spark-computed values,
    # one less execution of the assignment subplan per serve.
    probe_rows = probes.collect()
    probed = sorted({r["list_id"] for r in probe_rows})
    probes = local_relation(spark, probe_rows, probes.schema)
    # base ∪ streamed codes (ivfpq_append_streaming) in the probed lists,
    # tombstones (delete_from_ivf_index) masked on the code scan, so
    # deleted vectors can neither rank nor enter a refine shortlist
    rels = {
        "codes": read_live(spark, path, "ivfpq",
                           ["vec_id", "mi", "j", "list_id"], "vec_id", probed),
        "probes": F.broadcast(probes),
    }
    codes_rel = "SELECT vec_id, mi, j, list_id FROM {codes}"
    probes_rel = "SELECT q_id, list_id FROM {probes}"
    lut = pq_lut_sql("spark", f"{path}/codebooks", m, dim // m, query_max,
                     source_view)
    if refine_k is None:
        return spark.sql(
            "WITH " + _ivfpq_rank_sql(codes_rel, probes_rel, lut, k), **rels
        )
    shortlist_rel = None
    n_id_in = None
    if query_max * refine_k <= _SERVE_COLLECT_CAP:
        # bounded serve: land the ADC shortlist (≤ queries×refine_k
        # rows) driver-side, re-read the raw vectors through an
        # IN-list pushed to the parquet scan.
        pairs = spark.sql(
            "WITH " + _ivfpq_rank_sql(codes_rel, probes_rel, lut, refine_k),
            **rels,
        ).select("q_id", "n_id").collect()
        vals = ", ".join(
            f"({int(r['q_id'])}, {int(r['n_id'])})" for r in pairs
        )
        shortlist_rel = (
            f"SELECT * FROM (VALUES {vals}) AS sl(q_id, n_id)"
            if pairs else
            "SELECT CAST(NULL AS BIGINT) AS q_id, "
            "CAST(NULL AS BIGINT) AS n_id WHERE 1 = 0"
        )
        n_id_in = [int(r["n_id"]) for r in pairs]
    return spark.sql(
        _ivfpq_refine_sql(
            "spark",
            codes_rel,
            probes_rel,
            lut,
            _vec_rel_sql("spark", source_view),
            refine_k,
            k,
            dim,
            shortlist_rel=shortlist_rel,
            n_id_in=n_id_in,
        ),
        **rels,
    )


def ivfpq_recall_report(
    spark,
    path: str,
    dim: int,
    m: int = 16,
    nprobe: int = 4,
    query_max: int = 10,
    k: int = 3,
    min_avg_recall: float = 0.5,
    source_view: str = "embeddings",
    refine_k: int | None = None,
) -> DataFrame:
    """Retrieval-quality contract for the persisted IVF-PQ serving path
    (round 10, VERDICT r9 #5): the gate's static oracle proves the ADC
    pipeline computes its own spec exactly, but says nothing about how
    well ADC top-k approximates the TRUE cosine top-k.  This report runs
    the index serve and :func:`knn_bruteforce` side by side and emits
    ``(n_queries, n_result_rows, avg_recall, avg_recall_ge_floor)``.

    ``k`` doubles as the contract for BOTH gate shapes: k=3 is
    ``knn_ivfpq_persisted``'s serve, k=pool_k is exactly the candidate
    pool :func:`knn_mmr_ivfpq` refines (its pool IS the ADC top-pool_k),
    so a pool-recall floor bounds the MMR entry's input quality too.
    Floors are pinned with margin below measured behavior (DESIGN.md
    round-10 recall table) so the contract catches a probe/codebook/ADC
    regression without being flaky to data-scale noise."""
    approx = knn_ivfpq_from_index(
        spark, path, dim, m=m, nprobe=nprobe, query_max=query_max, k=k,
        source_view=source_view, refine_k=refine_k,
    ).select("q_id", "n_id")
    bf = knn_bruteforce(
        spark.table(source_view), query_ids=list(range(query_max)), k=k
    ).select("q_id", "n_id")
    hits = approx.join(bf, ["q_id", "n_id"], "left_semi")
    # ADVICE r10: n_queries comes from the BRUTE-FORCE side — a regression
    # that makes some queries return zero approx rows must count as misses
    # (it shrinks the numerator, never the denominator).
    a = bf.agg(F.countDistinct("q_id").alias("n_queries")).crossJoin(
        approx.agg(F.count(F.lit(1)).alias("n_result_rows"))
    )
    h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return a.crossJoin(h).select(
        "n_queries",
        "n_result_rows",
        F.round(
            F.col("n_hits") / (F.col("n_queries") * F.lit(float(k))), 4
        ).alias("avg_recall"),
        (
            F.col("n_hits")
            >= F.col("n_queries") * F.lit(float(k) * min_avg_recall)
        ).alias("avg_recall_ge_floor"),
    )


def ivfpq_oracle_sql(
    cent_artifact: str,
    cb_artifact: str,
    dim: int,
    m: int = 16,
    nprobe: int = 4,
    query_max: int = 3,
    k: int = 3,
    source: str = "embeddings",
    refine_k: int | None = None,
) -> str:
    """Static DuckDB recomputation of the WHOLE IVF-PQ pipeline from the two
    artifacts — coarse assignment (nprobe for queries, 1 for the corpus),
    code assignment, LUT, candidate cut, ADC, top-k, and (when
    ``refine_k`` is set) the exact-cosine refine re-rank.  Because every
    stage uses the rounded/tie-broken shared SQL, a divergence ANYWHERE
    (including which lists a query probes) hash-fails the entry."""
    dsub = dim // m
    corpus_assign = ivf_assign_sql("duckdb", cent_artifact, dim, 1, source)
    q_probes = (
        f"SELECT vec_id AS q_id, list_id FROM ("
        f"{ivf_assign_sql('duckdb', cent_artifact, dim, nprobe, source)}"
        f") pa WHERE vec_id < {query_max}"
    )
    codes = (
        f"SELECT pc.vec_id, pc.mi, pc.j, ca.list_id "
        f"FROM ({pq_codes_sql('duckdb', cb_artifact, m, dsub, source)}) pc "
        f"JOIN ({corpus_assign}) ca ON ca.vec_id = pc.vec_id"
    )
    lut = pq_lut_sql("duckdb", cb_artifact, m, dsub, query_max, source)
    if refine_k is not None:
        return _ivfpq_refine_sql(
            "duckdb", codes, q_probes, lut,
            _vec_rel_sql("duckdb", source), refine_k, k, dim,
        )
    return "WITH " + _ivfpq_rank_sql(codes, q_probes, lut, k)


# ---------------------------------------------------------------------------
# Production hybrid retrieval (round 13, VERDICT r12 #2): fuse BM25 with the
# REAL maintained dense index — RRF over the lexical ranking served from the
# hybrid artifact's tf relation and the IVF-PQ refined serve over the
# embeddings table (doc_id ↔ vec_id), replacing the hashed-bigram proxy as
# the dense constituent.  Both constituents serve from on-disk maintained
# artifacts; the fusion is the exact-BIGINT RRF shared with operators/text.
# ---------------------------------------------------------------------------


def hybrid_rrf_ivfpq(
    spark,
    path: str,
    tf_rel: str | None = None,
    dim: int = 64,
    k: int = 10,
    pool: int = 20,
    query_doc: int = 1,
    rrf_k: int = 60,
    m: int = 16,
    nprobe: int = 4,
    refine_k: int = 60,
    source_view: str = "embeddings",
    doc_source: str = "documents",
) -> DataFrame:
    """RRF fusion of the two PRODUCTION indexes: BM25 top-``pool`` for
    document ``query_doc`` (served from a maintained ``(doc_id, word,
    tf)`` relation when ``tf_rel`` is set — zero corpus tokenize) and
    the IVF-PQ refined top-``pool`` for vector ``query_doc`` served from
    the persisted compressed index at ``path`` (file-pruned probed-list
    code scan + exact-cosine refine — never a corpus embedding scan).
    Vectors are keyed by document id (``vec_id = doc_id``; a deployment
    with a separate key space routes through its mapping relation before
    the fusion).

    Per the round-11 composed-optimizer finding (CLAUDE.md), the two
    constituents run as SEPARATE queries — each keeps its broadcast /
    pruned plan — and only the two bounded top-``pool`` results meet in
    the ≤ 2·pool-row fusion aggregate (:func:`...text.rrf_fuse`).  The
    DuckDB oracle (:func:`hybrid_rrf_ivfpq_sql`) is the one-statement
    composed rebuild over raw documents + the persisted PQ artifacts, so
    the gate hash-proves serve ≡ rebuild for both constituents at once.
    Scale: both constituents carry their own documented 100-TB postures;
    the fusion adds no shuffle beyond a 2·pool-row aggregate."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        bm25_topk_sql,
        rrf_fuse,
    )

    lex = spark.sql(
        bm25_topk_sql("spark", query_doc=query_doc, k=pool,
                      source=doc_source, tf_rel=tf_rel)
    )
    den = (
        knn_ivfpq_from_index(
            spark, path, dim, m=m, nprobe=nprobe,
            query_max=query_doc + 1, k=pool,
            source_view=source_view, refine_k=refine_k,
        )
        .where(F.col("q_id") == query_doc)
        .select(F.col("n_id").alias("doc_id"), "rk")
    )
    return rrf_fuse(lex, den, k=k, rrf_k=rrf_k)


def hybrid_rrf_ivfpq_sql(
    cent_artifact: str,
    cb_artifact: str,
    dim: int = 64,
    k: int = 10,
    pool: int = 20,
    query_doc: int = 1,
    rrf_k: int = 60,
    m: int = 16,
    nprobe: int = 4,
    refine_k: int = 60,
    source: str = "embeddings",
    doc_source: str = "documents",
) -> str:
    """One-statement DuckDB oracle for :func:`hybrid_rrf_ivfpq`: BM25
    rebuilt from the raw documents (tokenize → tf → df — the artifact-
    freshness check for the served tf relation) fused with the FULL
    IVF-PQ replay from the persisted centroids/codebooks
    (:func:`ivfpq_oracle_sql` — coarse assign, encode, LUT, ADC,
    refine), under the identical integer micro-unit RRF.  Dual
    formulations: Spark serves two maintained indexes, the oracle
    recomputes both pipelines from raw inputs + trained artifacts."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        bm25_topk_sql,
    )

    lex = bm25_topk_sql("duckdb", query_doc=query_doc, k=pool,
                        source=doc_source)
    den = ivfpq_oracle_sql(
        cent_artifact, cb_artifact, dim=dim, m=m, nprobe=nprobe,
        query_max=query_doc + 1, k=pool, source=source, refine_k=refine_k,
    )
    micro = f"CAST(FLOOR(1000000000.0 / ({rrf_k} + rk) + 0.5) AS BIGINT)"
    return f"""
    WITH u AS (
      SELECT doc_id, rk, 0 AS is_den FROM ({lex}) lex0
      UNION ALL
      SELECT n_id AS doc_id, rk, 1 AS is_den FROM ({den}) den0
      WHERE q_id = {query_doc}
    ),
    fused AS (
      SELECT doc_id,
             CAST(SUM({micro}) AS BIGINT) AS rrf_micro,
             CAST(SUM(is_den) AS BIGINT) AS in_dense,
             CAST(SUM(1 - is_den) AS BIGINT) AS in_lex
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_micro, in_lex, in_dense, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, rrf_micro, in_lex, in_dense,
             ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rk
      FROM fused
    ) ranked WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# MMR result diversification (Carbonell & Goldstein 1998) — rerank a bounded
# retrieval pool so results cover the neighborhood instead of repeating it.
# ---------------------------------------------------------------------------

def mmr_diversify(
    emb: DataFrame,
    query_id: int = 0,
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.7,
    lam_comp: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance reranking over the exact top-``pool_k``
    cosine pool of one query: greedily pick the candidate maximizing
    ``lam·cos(q,d) − lam_comp·max_{s∈S} cos(d,s)`` — relevance minus
    redundancy — the standard diversification layer over any retriever.

    Scale shape: the DISTRIBUTED work is the retrieval (one broadcast-join
    scan of the corpus, exactly :func:`knn_bruteforce` — swap in the IVF/PQ
    serving path unchanged) plus one ``pool_k²`` pairwise-sim join; both
    pool relations are bounded constants, localCheckpointed once so the
    ``k``-step greedy lineage re-reads 20-row blocks instead of re-scanning
    the corpus per step.  The greedy itself is inherently sequential (each
    pick conditions the next) but touches only the bounded pool — the
    ``dup_clusters`` fixpoint pattern: driver holds loop CONTROL, never data.

    Cross-engine determinism: query sims and pair sims are the proven
    ROUND(cos+1e-9, 6) values; the MMR score re-rounds the affine combination
    at 6 dp (identical double literals ``lam``/``lam_comp`` both engines —
    pass both explicitly, ``1 - 0.7`` in binary is NOT the literal ``0.3``);
    ties settle by id.  The DuckDB oracle replays the whole greedy as a
    recursive CTE (:func:`mmr_oracle_sql`), so a single mis-pick at any step
    hash-fails the gate entry.
    """
    assert abs(lam + lam_comp - 1.0) < 1e-9
    pool = (
        knn_bruteforce(emb, query_ids=[query_id], k=pool_k, id_col=id_col,
                       vec_col=vec_col)
        .select("n_id", "cos")
    )
    return _mmr_greedy(emb, pool, k, lam, lam_comp, id_col, vec_col)


def _mmr_greedy(
    emb: DataFrame,
    pool: DataFrame,
    k: int,
    lam: float,
    lam_comp: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The MMR greedy over ANY bounded ``(n_id, cos)`` pool relation —
    retrieval-agnostic, so the brute-force and IVF-PQ pools share it.

    The driver holds the k picked ``(rk, n_id, cos)`` scalars (bounded plan
    constants, the probe-list posture): the earlier union-chain variant
    embedded the whole prior-step plan TWICE per step (anti-join ids + the
    redundancy max), so the physical plan grew 2^k copies — 160 joins at
    k=5 in the plan audit, pure compile overhead over 20-row inputs.  Each
    step here is one small query against the two checkpointed pool
    relations with literal IN-lists; the plan stays linear in k."""
    # r13 (guide §5): the pool is a bounded relation (pool_k rows) and the
    # pairwise sims are pool_k² — both plan constants, the refine-shortlist
    # posture.  The round-12 form checkpointed them and drove the greedy
    # with per-step Spark queries: ~2 + 2·(k−1) tiny jobs of pure scheduling
    # overhead over ≤ 20-row inputs (37 jobs total for knn_mmr_ivfpq at
    # sf0.1).  Land pool and pair driver-side in ONE action each — the
    # similarity values stay Spark-computed and 6dp-rounded — and run the
    # greedy in plain Python.  The per-step score replicates SQL ROUND
    # half-away-from-zero via the repo's fuzzer-proven floor(|x|·10^d + 0.5)
    # form (CLAUDE.md r10) on the same IEEE-double expression the old Spark
    # column computed; the +1e-9 pre-nudge keeps reachable exact halves off
    # the boundary in both engines.
    import math

    pool_rows = [(r["n_id"], r["cos"]) for r in pool.collect()]
    if not pool_rows:
        # empty pool (tiny corpus / sparse probes): degrade to 0 picks, the
        # union-chain variant's behavior — never crash the greedy
        return local_relation(
            pool.sparkSession, [], "rk INT, n_id BIGINT, cos DOUBLE"
        )
    ids = [int(i) for i, _ in pool_rows]
    pv = emb.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("v")
    )
    a = pv.select(F.col("n_id").alias("id_a"), F.col("v").alias("va"))
    b = pv.select(F.col("n_id").alias("id_b"), F.col("v").alias("vb"))
    sim: dict[tuple[int, int], float] = {
        (r["id_a"], r["id_b"]): r["s"]
        for r in a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr("va", "vb") + F.lit(1e-9), 6).alias("s"),
        )
        .collect()
    }
    cos = dict(pool_rows)
    first_id = min(cos, key=lambda i: (-cos[i], i))
    picked = [(1, first_id, cos[first_id])]
    sel = [first_id]
    for step in range(2, k + 1):
        best = None
        for i in cos:
            if i in sel:
                continue
            ms = max(sim[(i, j)] for j in sel)
            x = lam * cos[i] - lam_comp * ms + 1e-9
            score = math.floor(abs(x) * 1e6 + 0.5) / 1e6
            score = score if x >= 0 else -score
            if best is None or (-score, i) < (-best[0], best[1]):
                best = (score, i)
        if best is None:
            # pool exhausted before k picks: return what we have
            break
        picked.append((step, best[1], cos[best[1]]))
        sel.append(best[1])
    return local_relation(
        pool.sparkSession, picked, "rk INT, n_id BIGINT, cos DOUBLE"
    )


def mmr_oracle_sql(
    query_id: int = 0,
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.7,
    lam_comp: float = 0.3,
    source: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`mmr_diversify`: identical pool, identical
    rounded sims, and the greedy replayed as a recursive CTE whose working
    row carries the selected-id list."""
    pool_sql = f"""
      SELECT n_id, cos FROM (
        SELECT e.vec_id AS n_id,
               ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[]))
                     + 1e-9, 6) AS cos,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_cosine_similarity(
                     q.qv, CAST(e.embedding AS DOUBLE[])) + 1e-9, 6)
                   DESC, e.vec_id) AS rk
        FROM {source} e,
             (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM {source} WHERE vec_id = {query_id}) q
        WHERE e.vec_id != q.q_id
      ) WHERE rk <= {pool_k}
    """
    return _mmr_greedy_oracle_sql(pool_sql, k, lam, lam_comp, source)


def knn_mmr_ivfpq(
    spark,
    path: str,
    dim: int,
    m: int = 16,
    nprobe: int = 4,
    query_id: int = 0,
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.7,
    lam_comp: float = 0.3,
    source_view: str = "embeddings",
) -> DataFrame:
    """MMR composed over the PERSISTED IVF-PQ index — the claim in
    :func:`mmr_diversify`'s docstring made executable: the pool's CANDIDATE
    SET comes from :func:`knn_ivfpq_from_index` (file-pruned probes, 1-byte
    codes, ADC top-``pool_k``), relevance is refined to exact rounded cosine
    on the bounded pool (the FAISS refine step — ``pool_k`` raw-vector reads,
    not a corpus scan), and the identical retrieval-agnostic greedy
    (:func:`_mmr_greedy`) diversifies.  The oracle recomputes the pool from
    the index artifacts via the full static IVF-PQ pipeline and replays the
    greedy — a wrong probe, code, ADC rank, refine score, or pick hash-fails.
    """
    pool_ids = (
        knn_ivfpq_from_index(
            spark, path, dim, m=m, nprobe=nprobe,
            query_max=query_id + 1, k=pool_k, source_view=source_view,
        )
        .where(F.col("q_id") == query_id)
        .select("n_id")
    )
    emb = spark.table(source_view)
    q = emb.where(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("qv")
    )
    pool = (
        pool_ids.join(
            emb.select(F.col("vec_id").alias("n_id"),
                       F.col("embedding").alias("nv")),
            "n_id",
        )
        .crossJoin(F.broadcast(q))
        .select(
            "n_id",
            F.round(cosine_expr("qv", "nv") + F.lit(1e-9), 6).alias("cos"),
        )
    )
    return _mmr_greedy(emb, pool, k, lam, lam_comp)


def mmr_ivfpq_oracle_sql(
    cent_artifact: str,
    cb_artifact: str,
    dim: int,
    m: int = 16,
    nprobe: int = 4,
    query_id: int = 0,
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.7,
    lam_comp: float = 0.3,
    source: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`knn_mmr_ivfpq`: the pool is the static IVF-PQ
    recomputation (:func:`ivfpq_oracle_sql`, embedded as a subquery) refined
    to exact rounded cosine, then the shared greedy replay."""
    ivfpq = ivfpq_oracle_sql(
        cent_artifact, cb_artifact, dim, m=m, nprobe=nprobe,
        query_max=query_id + 1, k=pool_k, source=source,
    )
    pool_sql = f"""
      SELECT c.n_id,
             ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[]))
                   + 1e-9, 6) AS cos
      FROM ({ivfpq}) c
      JOIN {source} e ON e.vec_id = c.n_id,
           (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM {source} WHERE vec_id = {query_id}) q
      WHERE c.q_id = {query_id}
    """
    return _mmr_greedy_oracle_sql(pool_sql, k, lam, lam_comp, source)


def _mmr_greedy_oracle_sql(
    pool_sql: str,
    k: int,
    lam: float,
    lam_comp: float,
    source: str,
) -> str:
    """The recursive-CTE greedy replay over ANY ``(n_id, cos)`` pool SQL —
    the oracle twin of :func:`_mmr_greedy`."""
    return f"""
    WITH RECURSIVE
    pool AS ({pool_sql}),
    pv AS (SELECT p.n_id, CAST(e.embedding AS DOUBLE[]) AS v
           FROM pool p JOIN {source} e ON p.n_id = e.vec_id),
    pair AS (
      SELECT a.n_id AS id_a, b.n_id AS id_b,
             ROUND(list_cosine_similarity(a.v, b.v) + 1e-9, 6) AS s
      FROM pv a JOIN pv b ON a.n_id != b.n_id
    ),
    sel(step, picked, pcos, sel_ids) AS (
      SELECT 1, n_id, cos, [n_id] FROM (
        SELECT n_id, cos FROM pool ORDER BY cos DESC, n_id LIMIT 1
      )
      UNION ALL
      SELECT sel.step + 1, t.n_id, t.cos, list_append(sel.sel_ids, t.n_id)
      FROM sel, LATERAL (
        SELECT p.n_id, p.cos
        FROM pool p
        WHERE NOT list_contains(sel.sel_ids, p.n_id)
        ORDER BY ROUND({lam!r} * p.cos - {lam_comp!r} * (
            SELECT MAX(pr.s) FROM pair pr
            WHERE pr.id_a = p.n_id AND list_contains(sel.sel_ids, pr.id_b)
          ) + 1e-9, 6) DESC, p.n_id
        LIMIT 1
      ) t
      WHERE sel.step < {k}
    )
    SELECT step AS rk, picked AS n_id, pcos AS cos FROM sel
    """

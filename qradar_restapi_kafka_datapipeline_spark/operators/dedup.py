"""Deduplication operators for training-data pipelines (north-star M6).

Five dedup families, each chosen for a different point on the exact↔fuzzy ×
cheap↔thorough plane, all expressed as DataFrame transformations that scale by
partitioning on content keys (never by collecting to the driver):

- **exact**        — hash-groupBy on a normalized fingerprint. One shuffle on
                     the md5 key; at 100 TB the shuffle carries (hash, id) pairs
                     only, never the text.
- **MinHash LSH**  — shingle → K minhashes → band → bucket-join. The classic
                     sub-quadratic near-dup pipeline: candidate pairs only form
                     inside equal (band, band-hash) buckets.
- **SimHash**      — 64-bit sign-aggregated token sketch; near-dups = small
                     Hamming distance, found via band rotation (4×16-bit keys).
- **n-gram Jaccard** — exact word-shingle similarity by explode + self-join on
                     shingle; the verify step for LSH candidates (quadratic in
                     bucket size, so use capped/candidate inputs).
- **embedding cosine** — semantic near-dup over an embedding column, brute
                     pairwise above a threshold (use LSH-bucketed for scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.engine import (
    input_size_bytes,
    local_relation,
    persist_tracked,
)
from qradar_restapi_kafka_datapipeline_spark.operators.text import normalized_md5


def _spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy per-row work.

    A SMALL single-file parquet table scans as ONE partition, so hash/explode
    work runs on one core.  Repartition up to the cluster's parallelism — but
    only when the scan is actually narrow: at 100 TB the input is thousands
    of splits already, and an unconditional repartition would add a full-text
    shuffle for nothing.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Count input FILES, not df.rdd partitions: .rdd forces a plan→RDD
    # conversion per call (wasted analysis work on the hot path).  inputFiles()
    # reads the already-resolved scan relation; a non-file source (e.g. a view
    # over a join) returns [] and we conservatively repartition.
    files = df.inputFiles()
    if len(files) >= target:
        return df
    # Few files ≠ few partitions: parquet is SPLITTABLE, so one 10 GB file
    # already scans as size/maxPartitionBytes tasks and a repartition would
    # shuffle the full text for nothing.  Estimate splits from local file
    # sizes when the paths are inspectable; non-local/opaque paths fall back
    # to the conservative repartition.
    total = input_size_bytes(df)
    if total is not None:
        import re as _re

        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        m = _re.match(r"(\d+)\s*([kmgt]?)b?$", raw.strip().lower())
        if m:
            max_split = int(m.group(1)) * {
                "": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4,
            }[m.group(2)]
            est_splits = max(len(files), total // max_split)
            if est_splits >= target:
                return df
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint, canonical
    (min) id, and group size — only groups with >1 member."""
    return (
        _spread(df).select(F.col(id_col), normalized_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def prefix_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_words: int = 20,
) -> DataFrame:
    """Groups of documents sharing the same first-``n_words`` prefix (lowered,
    whitespace-split) — the cheap web-crawl screen for boilerplate/mirrored
    pages whose bodies diverge after a common head.  Same shuffle contract as
    :func:`exact_dup_groups`: one groupBy on a 16-byte fingerprint; text never
    crosses the wire."""
    words = F.slice(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), 1, n_words)
    fp = F.md5(F.concat_ws(" ", words))
    return (
        _spread(df)
        .select(F.col(id_col), fp.alias("prefix_fp"))
        .groupBy("prefix_fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .where(F.col("group_size") > 1)
    )


def prefix_dup_oracle_sql(n_words: int = 20, source: str = "documents") -> str:
    """DuckDB twin of :func:`prefix_dup_groups` (list slice ``[1:n]`` clamps
    at the list end exactly like Spark's ``slice``)."""
    return (
        "SELECT md5(array_to_string("
        f"regexp_split_to_array(trim(lower(text)), '\\s+')[1:{n_words}], ' ')) "
        "AS prefix_fp, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size "
        f"FROM {source} GROUP BY 1 HAVING COUNT(*) > 1"
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one (min-id) row per distinct normalized text."""
    w = _spread(df).select(
        "*", normalized_md5(text_col).alias("__fp")
    )
    keep = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, [id_col, "__fp"], "left_semi").drop("__fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _word_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """DISTINCT word k-shingles per document (set semantics for Jaccard).

    Spread before the explode: a document table often arrives as few fat
    files (here: one), and a 300×-row fan-out from a single partition runs on a
    single core. Spreading docs first makes the explode wave-parallel.

    Implementation note: building the shingle ARRAY with a higher-order
    ``transform`` + ``array_distinct`` before one explode looks shuffle-free
    on paper, but higher-order functions evaluate interpreted (outside
    whole-stage codegen) and CollapseProject re-inlines the regex ``split``
    into every lambda element — measured no faster (and under load, slower).
    The explode-then-project form below keeps every expression inside codegen
    (the Generate node is the projection barrier) and the trailing
    ``.distinct()``'s map-side partial aggregation dedups before the shuffle,
    so the wire carries each (id, shingle) once — the acceptable cost.
    """
    df = _spread(df, by=id_col)
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return (
        df.select(F.col(id_col), F.explode(idx).alias("__i"), words.alias("__w"))
        .select(
            F.col(id_col),
            # try_element_at: docs shorter than k words yield one partial
            # shingle (concat_ws skips the NULLs) instead of an ANSI
            # out-of-bounds error
            F.concat_ws(
                " ",
                *[
                    F.try_element_at(F.col("__w"), (F.col("__i") + j + 1).cast("int"))
                    for j in range(k)
                ],
            ).alias("shingle"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, minhash[num_hashes]) — min over per-seed hashes of each shingle.

    One explode + one groupBy: the shuffle carries (id, shingle-hash) pairs.
    The shingle STRING is hashed once (xxhash64); the per-seed family re-hashes
    that int64 — 64 long-hashes per shingle instead of 64 string-hashes, which
    is the difference between arithmetic and re-scanning ~25 bytes 64 times.
    """
    sh = _word_shingles(df, id_col, text_col, shingle_k)
    base = sh.select(F.col(id_col), F.xxhash64("shingle").alias("__h"))
    mins = [
        F.min(F.xxhash64(F.col("__h"), F.lit(seed))).alias(f"mh_{seed}")
        for seed in range(num_hashes)
    ]
    return base.groupBy(id_col).agg(*mins)


#: Per-seed portable shingle hash: md5 of the shingle with a seed suffix,
#: first 15 hex digits → 60-bit BIGINT.  Reproducible in DuckDB as
#: ('0x'||substr(md5(shingle||'#'||seed),1,15))::BIGINT — the oracle-mode
#: hash family for MinHash (xxhash64 stays the production fast path:
#: 64 md5 digests per shingle vs 64 long-mixes).
PORTABLE_SEED_HASH = (
    "CAST(CONV(SUBSTR(MD5(CONCAT({c}, '#{seed}')), 1, 15), 16, 10) AS BIGINT)"
)


def _minhash_sigs_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int, portable_hash: bool
) -> DataFrame:
    """(id, mh_0..mh_{n-1}, __n) from a DISTINCT shingle relation.

    |shingles(doc)| rides along in the SAME aggregate as the minhashes —
    the verify step needs it, and folding it here saves two whole extra
    aggregation passes (shuffle each) over the shingle relation.  It
    reaches the verify through the band rows (:func:`_banded_signatures`),
    so the aggregate runs once per side of the band join and no count join
    runs it again.
    """
    if portable_hash:
        mins = [
            F.min(
                F.expr(PORTABLE_SEED_HASH.format(c="shingle", seed=seed))
            ).alias(f"mh_{seed}")
            for seed in range(num_hashes)
        ]
        base = sh
    else:
        # the shingle STRING is hashed once; the per-seed family re-hashes the
        # int64 — 64 long-mixes per shingle instead of 64 string digests
        base = sh.select(F.col(id_col), F.xxhash64("shingle").alias("__h"))
        mins = [
            F.min(F.xxhash64(F.col("__h"), F.lit(seed))).alias(f"mh_{seed}")
            for seed in range(num_hashes)
        ]
    return base.groupBy(id_col).agg(*mins, F.count(F.lit(1)).alias("__n"))


def _banded_signatures(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable_hash: bool,
) -> DataFrame:
    """(id, band_id, band_hash, n): one row per band per doc — the LSH
    bucket keys, carrying the doc's shingle count ``__n`` as ``n`` for the
    Jaccard verify.  ``portable_hash`` keys bands by the colon-joined
    minhash tuple instead of xxhash64 of it (engine-neutral decimal
    text)."""
    rows_per_band = num_hashes // bands

    def band_key(b: int):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable_hash:
            return F.concat_ws(":", *cols)
        return F.xxhash64(*cols)

    band_structs = [
        F.struct(F.lit(b).alias("band_id"), band_key(b).alias("band_hash"))
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col),
        F.col("__n").alias("n"),
        F.explode(F.array(*band_structs)).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash", "n")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    portable_hash: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs ``(id_a, id_b, na, nb)``: docs sharing any
    (band, band-hash) bucket, with their shingle counts.  ``signatures``
    is :func:`_minhash_sigs_from_shingles` output (it carries ``__n``).

    rows_per_band = num_hashes // bands; the bucket join is an equi-join on
    (band_id, band_hash) — shuffle-partitioned by bucket, no cross product.
    ``portable_hash`` keys bands by the colon-joined minhash tuple instead of
    xxhash64 of it, so the band key is engine-neutral (the minhash values are
    non-negative 60-bit ints — identical decimal text in any engine).
    """
    banded = _banded_signatures(
        signatures, id_col, num_hashes, bands, portable_hash
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified by exact Jaccard.

    The shingle relation feeds signatures AND the verify join — persist it so
    the explode+distinct runs once, not three times (AQE then broadcasts the
    tiny candidate set into the verify joins).  The returned plan reads it
    lazily; the next call releases it (:func:`engine.persist_tracked`).

    Recall note: with b bands of r rows, a pair of true Jaccard s is a
    candidate with probability 1-(1-s^r)^b — the s-curve midpoint for the
    16×4 default is ≈(1/b)^(1/r)≈0.5. A ``threshold`` far below that midpoint
    will verify every candidate it sees but can MISS low-similarity pairs;
    raise ``bands`` (lower r) to shift the curve left when hunting faint dups.

    ``portable_hash`` swaps the xxhash64 family for md5-derived per-seed
    hashes (:data:`PORTABLE_SEED_HASH`) and tuple band keys, making the WHOLE
    pipeline — banding included — recomputable in DuckDB
    (:func:`minhash_lsh_duckdb_sql`); xxhash64 is the production mode.
    """
    sh = persist_tracked(
        _word_shingles(df, id_col, text_col, shingle_k), "__minhash_shingles"
    )
    sigs = _minhash_sigs_from_shingles(sh, id_col, num_hashes, portable_hash)
    cands = minhash_lsh_candidates(
        sigs, id_col, num_hashes, bands, portable_hash=portable_hash
    )
    return _verify_jaccard(cands, sh, id_col, threshold)


def minhash_lsh_duckdb_sql(
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    source: str = "documents",
) -> str:
    """DuckDB oracle for :func:`minhash_lsh_pairs` with ``portable_hash=True``
    — the SAME pipeline (shingles → per-seed md5 minhash → tuple band keys →
    bucket join → exact-Jaccard verify) recomputed from first principles, so
    the production algorithm SHAPE (banding and all) is value-checked, not
    just its verify stage.

    The hot CTEs are pinned AS MATERIALIZED (round 8): DuckDB inlines
    multi-referenced CTEs, so ``sh``'s four consumers each re-ran the
    shingle explode (and ``bands`` both sides of its self-join) —
    materialized, the 16x-amplified oracle runs in ~170 s where the
    inlined form forced a 4x cap."""
    rows_per_band = num_hashes // bands
    return f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM {source}
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(shingle_k))}) AS shingle
      FROM docs, UNNEST(generate_series(1, greatest(len(w) - {shingle_k - 1}, 1))) AS t(i)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    mh AS MATERIALIZED (
      SELECT doc_id, seed,
             MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh CROSS JOIN range({num_hashes}) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band_id,
             string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, seed // {rows_per_band}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           ROUND(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE ROUND(common * 1.0 / (ca.n + cb.n - common), 6) >= {threshold}
    """


def _verify_jaccard(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard of candidate ``pairs`` ``(id_a, id_b, na, nb)`` — the
    shingle counts come with the pairs — over the DISTINCT ``shingles``,
    keeping pairs at or above ``threshold``."""
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# duplicate clusters — connected components over the verified pair graph
# ---------------------------------------------------------------------------

#: bounded-graph collect budget (edges) for the driver union-find fast path
#: (round 14, guide §5): the verified pair relation is the near-dup SUBSET of
#: the corpus — tiny relative to the table it dedups — so up to this many
#: edges the components land driver-side in ONE action instead of one
#: aggregate action PER propagation round (19 jobs measured at sf0.1 for the
#: representatives entry).  Sized like the serve-collect caps: far above any
#: gate corpus (hundreds of edges), far below driver-memory risk (an edge is
#: two ids).  Larger graphs keep the distributed propagation loop below.
_CLUSTER_COLLECT_CAP = 65536


def _numeric_or_string(dtype) -> bool:
    """Id types whose Python ordering equals Spark's ``MIN``: integers, and
    strings (UTF-8 byte order is code-point order).  Floats stay out: NaN
    compares false in Python but is the largest value to Spark."""
    from pyspark.sql.types import IntegralType, StringType

    return isinstance(dtype, (IntegralType, StringType))


def _dup_clusters_driver(spark, rows, id_type) -> DataFrame:
    """Union-find over the collected edge list; returns the identical
    ``(doc_id, cluster_id)`` relation min-label propagation converges to.
    Path-compressed find + union-by-attachment to the smaller label keeps
    it O(E·α); cluster_id is the MIN member per component — for integer ids
    Python ``min`` is SQL ``MIN``, and for string ids (ASCII or not)
    Python's code-point order equals Spark's binary UTF-8 order.  Other id
    types take the distributed path (:func:`_numeric_or_string` gates the
    caller)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # attach the larger root under the smaller: the component root
            # IS the min member at all times, no second pass needed
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out_rows = [(n, find(n)) for n in parent]
    schema = StructType(
        [
            StructField("doc_id", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )
    return local_relation(spark, out_rows, schema)


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup PAIRS into CLUSTERS: ``(doc_id, cluster_id)`` where
    ``cluster_id`` is the minimum doc id reachable through the pair graph —
    the canonical document every member dedups to.

    Pairwise output alone under-removes: A~B and B~C pairs leave {A,B,C} as
    two independent decisions; the component view removes ``size-1`` docs per
    cluster exactly once.

    Bounded graphs (≤ :data:`_CLUSTER_COLLECT_CAP` edges — the verified
    near-dup pair set is tiny relative to the corpus) take the round-14
    driver fast path (guide §5): ONE collect of the edge list, union-find in
    plain Python, literal ``(doc_id, cluster_id)`` relation back — replacing
    one aggregate action per propagation round with a single action, the
    same bounded-constant posture as the MMR greedy and the IVF serve
    collects.  The cap probe is ``limit(cap+1).collect()``: at most one
    extra row is pulled, and an over-cap graph falls through to the
    distributed loop untouched.

    Distributed path: min-label propagation — each round joins labels across
    edges and keeps the per-node minimum, converging in O(component diameter)
    rounds — near-dup clusters are shallow (chains longer than a few hops are
    rare), so 3-4 rounds typical.  Each round is one equi-join + one groupBy,
    both shuffle-partitioned on the node id; the driver sees only one SCALAR
    per round (the fixpoint check), never the graph.  For adversarial
    deep-chain graphs at extreme scale, swap in alternating large/small-star
    (same interface); the corpus dedup case does not need it.

    Fixpoint check (VERDICT r5 #3 — the old new⋈old + count paid an extra
    join per round): min-label propagation only ever DECREASES labels, so
    for numeric ids ``SUM(label)`` is strictly decreasing until convergence
    and an unchanged sum is an EXACT converged test — one aggregate action
    over the (small) label relation, no join.  Sums are taken in
    decimal(38,0) so ANSI mode can't overflow on wide graphs.  Non-numeric
    ids keep the join-based changed-count (sum isn't defined for them).
    """
    from pyspark.sql.types import NumericType

    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    id_type = e.schema["u"].dataType
    if _numeric_or_string(id_type):
        probe = e.limit(_CLUSTER_COLLECT_CAP + 1).collect()
        if len(probe) <= _CLUSTER_COLLECT_CAP and not any(
            r["u"] is None or r["v"] is None for r in probe
        ):
            return _dup_clusters_driver(
                pairs.sparkSession, [(r["u"], r["v"]) for r in probe], id_type
            )
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    numeric = isinstance(labels.schema["label"].dataType, NumericType)

    def _label_sum(lbl):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]

    prev_sum = _label_sum(labels) if numeric else None
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(F.col("u").alias("node"), F.col("label"))
        )
        new_labels = (
            labels.select("node", "label")
            .unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        if numeric:
            new_sum = _label_sum(new_labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            ) == 0
        labels.unpersist()
        labels = new_labels
        if converged:
            break
    edges.unpersist()
    # Truncate the iteration lineage and release the loop's CacheManager entry:
    # a plain `return labels.select(...)` would leave the final round persisted
    # for the rest of the session (CacheManager holds it until an explicit
    # unpersist).  localCheckpoint materializes the converged labels eagerly
    # into executor-local blocks that the ContextCleaner reclaims once the
    # result DataFrame is dropped — no session-lifetime storage leak.  (Not
    # fault-tolerant to executor loss; the label relation is only the dup-doc
    # subset, small relative to the corpus, so recompute-on-loss is acceptable.)
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)
    labels.unpersist()
    return out


def dup_clusters_oracle_sql(pairs_sql: str) -> str:
    """DuckDB oracle: transitive closure by recursive CTE over the same pair
    relation (fine at gate scale — the pair graph is small), min reachable id
    per node."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs
      )
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    )
    SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
    """


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware CANONICAL selection per near-dup cluster: instead of the
    min-id convention (:func:`dedup_corpus_near`), keep the member with the
    highest :func:`~..text.quality_score` (ties broken by min id so both
    engines agree).  Training pipelines prefer this — duplicate clusters
    often mix a clean original with truncated/boilerplated mirrors, and
    min-id keeps whichever crawled first.

    Returns one row per cluster: ``(cluster_id, rep_doc_id, n_members,
    rep_quality)``.  Scale shape: the cluster relation is only the dup-doc
    subset (tiny vs the corpus), the quality join is an equi-join on the doc
    id (Catalyst broadcasts the cluster side), and the per-cluster window
    partitions on ``cluster_id`` — near-dup clusters are shallow, so no
    single window key grows with corpus size.
    """
    from pyspark.sql import Window

    from qradar_restapi_kafka_datapipeline_spark.operators.text import quality_score

    clusters = dup_clusters(pairs)
    members = clusters.join(
        df.select(F.col(id_col).alias("doc_id"), quality_score(text_col).alias("__q")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .where(F.col("__rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "n_members",
            F.col("__q").alias("rep_quality"),
        )
    )


def cluster_representatives_oracle_sql(pairs_sql: str, source: str = "documents") -> str:
    """DuckDB twin: recursive-closure clusters + the shared quality-score SQL
    + the identical (quality DESC, doc_id) argmax window."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import quality_score_sql

    return f"""
    WITH clusters AS ({dup_clusters_oracle_sql(pairs_sql)}),
    q AS (
      SELECT doc_id, {quality_score_sql('text', 'duckdb')} AS __q FROM {source}
    ),
    m AS (
      SELECT c.cluster_id, c.doc_id, q.__q,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id ORDER BY q.__q DESC, c.doc_id
             ) AS __rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id AS rep_doc_id,
           CAST(n_members AS BIGINT) AS n_members, __q AS rep_quality
    FROM m WHERE __rn = 1
    """


def dedup_corpus_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The end of the dedup funnel: the corpus with every non-canonical
    near-dup cluster member REMOVED (keep the min-id doc per component).

    pairs → :func:`dup_clusters` → left-anti join of the non-canonical
    members against the corpus.  The anti-join is keyed on ``id_col`` (the
    drop list is small — near-dup members only — so Catalyst broadcasts it);
    the full text column rides through untouched, never shuffled.

    ``pairs`` lets callers inject a PRE-COMPUTED (shared/materialized) pair
    relation (VERDICT r5 #3): the same LSH pairs feed three registry
    consumers, and re-deriving the shingle→minhash→band→verify pipeline per
    consumer was the single most expensive bench line.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold)
    clusters = dup_clusters(pairs, max_iter=20)
    drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, quadratic — for capped/candidate inputs)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.15,
) -> DataFrame:
    """All-pairs word-k-gram Jaccard ≥ threshold via shingle self-join.

    Quadratic in per-shingle document frequency — the exact-verify tool, not
    the scale path (that's minhash_lsh_pairs). Cap the input first.
    """
    sh = _word_shingles(df, id_col, text_col, shingle_k)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle").alias("shingle_b"))
    pairs = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: portable 60-bit token hash — md5 is available in every engine, so a sketch
#: built on it can be value-checked cross-engine (DuckDB: ('0x'||substr(
#: md5(t),1,15))::BIGINT gives the identical value). xxhash64 stays the fast
#: path: one JVM intrinsic vs md5's full digest.
PORTABLE_TOKEN_HASH = "CAST(CONV(SUBSTR(MD5({c}), 1, 15), 16, 10) AS BIGINT)"


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """64-bit SimHash: per-bit sign of Σ over tokens of ±1 (bit of token hash).

    Explode tokens → for each of 64 bits sum ±1 → pack bits. One shuffle.
    ``portable_hash`` swaps xxhash64 for :data:`PORTABLE_TOKEN_HASH` (60
    effective bits, bits 60-63 always 0) so the sketch is reproducible in any
    engine with md5 — the oracle mode; xxhash64 is the production mode.
    """
    token_h = (
        F.expr(PORTABLE_TOKEN_HASH.format(c="tok"))
        if portable_hash
        else F.xxhash64("tok")
    )
    tok = _spread(df, by=id_col).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", token_h)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    packed = None
    for b in range(64):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else bit * F.lit(-(1 << 63)).cast("long")
        packed = term if packed is None else (packed + term)
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_duckdb_sql(max_hamming: int, source: str = "documents") -> str:
    """DuckDB oracle for :func:`simhash_pairs` with ``portable_hash=True``.

    Recomputes the sketch from first principles (tokens → md5-derived 60-bit
    hash → per-bit sign sums → packed int) and takes ALL pairs at Hamming ≤ h
    by brute force — legitimate as an oracle because the chunk-bucketing's
    pigeonhole recall is exact, so the bucketed output must equal the
    all-pairs spec, not approximate it.
    """
    h = "('0x' || substr(md5(tok), 1, 15))::BIGINT"
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(60)
    )
    pack = " + ".join(f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(60))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM {source}
    ),
    th AS (SELECT doc_id, {h} AS h FROM tok),
    bits AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id),
    sh AS (SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM bits)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Bucket on ``max_hamming + 1`` bit-chunks (pigeonhole: distance ≤ h means
    at least one of h+1 chunks is equal — so recall is EXACT), then verify
    with bit_count — no cross product.  More chunks ⇒ narrower chunks ⇒ more
    bucket collisions, so large ``max_hamming`` trades candidate volume for
    the guarantee; capped at 16 chunks (4-bit), beyond which recall degrades
    and a warning would be dishonest — raise there and make the caller choose.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 16:
        raise ValueError("max_hamming > 15 needs chunks narrower than 4 bits; "
                         "use a different sketch (e.g. minhash) at that radius")
    # chunk widths must PARTITION all 64 bits (an uncovered bit would break
    # the pigeonhole guarantee): distribute the remainder over the first chunks
    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if c < rem else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    sh = simhash(df, id_col, text_col, portable_hash=portable_hash)
    # width 64 (max_hamming=0) → all-ones mask, which is -1 in int64
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), offsets[c])
        .bitwiseAND(F.lit(-1 if widths[c] >= 64 else (1 << widths[c]) - 1))
        .alias(f"c_{c}")
        for c in range(n_chunks)
    ]
    keyed = sh.select(id_col, "simhash", *chunks)
    chunk_structs = F.explode(
        F.array(*[
            F.struct(F.lit(c).alias("chunk_id"), F.col(f"c_{c}").alias("chunk_val"))
            for c in range(n_chunks)
        ])
    ).alias("ch")
    banded = keyed.select(id_col, "simhash", chunk_structs).select(
        id_col, "simhash", "ch.chunk_id", "ch.chunk_val"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def cosine_expr(a: str, b: str):
    """Deterministic cosine of two array<float> columns: sequential fold
    (F.aggregate), double accumulation — same result every run/partitioning."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(F.col(b), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def embedding_near_dup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 4,
    dims: int = 64,
    tables: int = 8,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: sign-LSH bucket join → exact verify.

    The scale path for :func:`embedding_cosine_pairs` — candidates only form
    inside equal (table, bucket) cells, a shuffle equi-join with no cross
    product, then exact cosine makes precision exact. Recall per true pair at
    angle θ is 1-(1-(1-θ/π)^planes)^tables — ≈1 for real near-dups (cos .99 →
    .9999+ with the 4×8 default); uniformly RANDOM vectors near the decision
    floor collide rarely, which is the s-curve working as intended. Same
    output schema as the brute-force operator, so the two are drop-in
    interchangeable (tested: LSH ⊆ brute force with identical cos values).
    """
    from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
        _multi_table_buckets,
    )

    sk = emb.select(
        F.col(id_col),
        F.col(vec_col),
        _multi_table_buckets(vec_col, planes, dims, tables).alias("tb"),
    ).select(id_col, vec_col, "tb.table_id", "tb.bucket")
    a = sk.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        "table_id", "bucket",
    )
    b = sk.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        "table_id", "bucket",
    )
    cands = (
        a.join(b, ["table_id", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "va", "id_b", "vb")
        .distinct()
    )
    return (
        cands.withColumn("cos", F.round(cosine_expr("va", "vb") + F.lit(1e-9), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    id_cap: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold — brute force (use LSH-bucketed at scale)."""
    if id_cap is not None:
        emb = emb.where(F.col(id_col) < id_cap)
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine_expr("va", "vb") + F.lit(1e-9), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------

def _snapshot_fingerprint(text_col: str, prefix_words: int | None):
    """Fingerprint column for cross-snapshot dedup: full normalized md5
    (byte-identical dups) or the first-``prefix_words`` prefix fingerprint
    (mirrored/boilerplate heads — same key as :func:`prefix_dup_groups`)."""
    if prefix_words is None:
        return normalized_md5(text_col)
    words = F.slice(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), 1, prefix_words
    )
    return F.md5(F.concat_ws(" ", words))


def snapshot_diff_sql(dialect: str, old_rel: str, new_rel: str) -> str:
    """Dataset-versioning diff (round 8): classify every document across
    two snapshot relations as added / removed / modified / unchanged and
    count per (source, status) — the audit a recurring-crawl platform
    prints before promoting a delivery (pairs with the distribution-level
    :func:`...curation.corpus_drift_js_sql`: this is the ROW-level diff).

    Identity is ``doc_id``; change detection is the shared normalized-md5
    fingerprint (:func:`...text.normalized_md5_sql`), so the 16-byte
    digest — never text — crosses the shuffle.  The FULL OUTER equi-join
    on doc_id is the honest shape of a diff (both sides corpus-sized; no
    broadcast exists for full-outer in Spark) — one keyed shuffle,
    named in the plan-report SMJ allowlist."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        normalized_md5_sql,
    )

    fp = normalized_md5_sql("text", dialect)
    return f"""
    WITH o AS (SELECT doc_id, source, {fp} AS fp FROM {old_rel} od),
    n AS (SELECT doc_id, source, {fp} AS fp FROM {new_rel} nd),
    j AS (
      SELECT COALESCE(n.source, o.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.fp = n.fp THEN 'unchanged'
                  ELSE 'modified' END AS status
      FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY source, status
    """


#: The gate's synthetic second snapshot, shared verbatim by both engines:
#: every 7th doc removed, every 11th edited (normalization-surviving token
#: append), every 13th re-added under a shifted id (pure adds).  The shift
#: is MAX(doc_id)+1 via a scalar subquery — a fixed 1e6 constant silently
#: collided with real ids on corpora at or above 1,000,000 (ADVICE r8),
#: misclassifying 'added' rows in a way both engines agreed on (the gate
#: hash passed while the fixture lied).
SNAPSHOT_DIFF_NEW_REL = (
    "(SELECT doc_id, source, CASE WHEN doc_id % 11 = 0 "
    "THEN CONCAT(text, ' editmark') ELSE text END AS text "
    "FROM documents WHERE doc_id % 7 != 0 "
    "UNION ALL SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) "
    "AS doc_id, source, text "
    "FROM documents WHERE doc_id % 13 = 0)"
)


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source", "lang"),
    prefix_words: int | None = None,
) -> DataFrame:
    """Dedup a NEW snapshot against an already-ingested corpus: drop new docs
    whose normalized fingerprint exists in the corpus, then collapse in-batch
    duplicates to the min-id canonical — the operation a recurring-crawl
    pipeline runs on every delivery (each month's crawl is mostly re-crawls
    of pages already held).

    Scale contract: both sides project to (id, 16-byte fingerprint [+ narrow
    keep_cols]) before any join, so the anti-join and the in-batch groupBy
    shuffle fingerprints — never text.  The corpus side is a DISTINCT of one
    md5 column: at 100 TB it is the unique-document count × 16 bytes, usually
    orders of magnitude under the text volume, and AQE broadcasts it when it
    fits.  No reference counterpart (the reference re-ingests blindly,
    `etl.py:16-49`, relying on ClickHouse merge); this is a north-star op.
    """
    from pyspark.sql import Window

    fp = _snapshot_fingerprint(text_col, prefix_words)
    new_fp = _spread(new_df).select(
        F.col(id_col), *[F.col(c) for c in keep_cols],
        fp.alias("fingerprint"),
    )
    corpus_fp = (
        _spread(corpus_df).select(fp.alias("fingerprint")).distinct()
    )
    fresh = new_fp.join(corpus_fp, "fingerprint", "left_anti")
    # min-id per in-batch fingerprint group via ROW_NUMBER, not groupBy +
    # semi-join: the window consumes `fresh` ONCE (the join form recomputes
    # the anti-join for both the aggregate and the probe side) and its sort
    # runs inside fingerprint partitions whose groups are dup-group-sized.
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_dedup_oracle_sql(
    new_pred: str, table: str = "documents", prefix_words: int | None = None
) -> str:
    """DuckDB twin of :func:`incremental_dedup` where the new/corpus split is
    ``new_pred`` over one table (the gate's synthetic two-snapshot setup)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        normalized_md5_sql,
    )

    if prefix_words is None:
        fp = normalized_md5_sql("text", "duckdb")
    else:
        fp = (
            "md5(array_to_string(regexp_split_to_array(trim(lower(text)), "
            f"'\\s+')[1:{prefix_words}], ' '))"
        )
    return f"""
    WITH new_docs AS (
      SELECT doc_id, source, lang, {fp} AS fingerprint
      FROM {table} WHERE {new_pred}
    ),
    corpus AS (
      SELECT DISTINCT {fp} AS fingerprint FROM {table} WHERE NOT ({new_pred})
    ),
    fresh AS (
      -- NOT EXISTS, not NOT IN: a NULL fingerprint in the corpus would make
      -- NOT IN never-true (three-valued logic), diverging from the Spark
      -- operator's NULL-safe left_anti join
      SELECT * FROM new_docs n WHERE NOT EXISTS (
        SELECT 1 FROM corpus c WHERE c.fingerprint = n.fingerprint)
    )
    SELECT doc_id, source, lang, fingerprint FROM fresh f
    WHERE doc_id = (SELECT MIN(doc_id) FROM fresh g
                    WHERE g.fingerprint = f.fingerprint)
    """


def incremental_minhash_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    portable_hash: bool = False,
) -> DataFrame:
    """Cross-snapshot NEAR-dup: (id_a=new, id_b=corpus) verified pairs only —
    the recurring-crawl variant of :func:`minhash_lsh_pairs`.

    Why a separate operator: deduping each delivery against an N-document
    corpus with the full pipeline recomputes corpus shingles/signatures every
    time AND pays the corpus×corpus candidate quadrant, which is already
    known.  Here each side is signed independently (in production the corpus
    signatures are a persisted table, computed once per corpus life) and the
    band join is new×corpus only — candidate volume scales with the DELIVERY
    size, not the corpus.  Caller contract: id spaces are disjoint.

    Same banding family as the full pipeline, so recall for a true pair is
    identical (1-(1-s^r)^b); verify makes precision exact.  Equality with the
    cross-restricted full pipeline is unit-tested (tests/test_northstar.py).

    Cache contract (same as :func:`minhash_lsh_pairs`): the shingle
    relations stay persisted because the RETURNED plan reads them lazily;
    the next call releases them.
    """
    sh_new = persist_tracked(
        _word_shingles(new_df, id_col, text_col, shingle_k), "__minhash_incr_new"
    )
    sh_old = persist_tracked(
        _word_shingles(corpus_df, id_col, text_col, shingle_k), "__minhash_incr_old"
    )
    sigs_new = _minhash_sigs_from_shingles(sh_new, id_col, num_hashes, portable_hash)
    sigs_old = _minhash_sigs_from_shingles(sh_old, id_col, num_hashes, portable_hash)
    ba = _banded_signatures(sigs_new, id_col, num_hashes, bands, portable_hash)
    bb = _banded_signatures(sigs_old, id_col, num_hashes, bands, portable_hash)
    cands = (
        ba.select(
            F.col(id_col).alias("id_a"), "band_id", "band_hash",
            F.col("n").alias("na"),
        )
        .join(
            bb.select(
                F.col(id_col).alias("id_b"), "band_id", "band_hash",
                F.col("n").alias("nb"),
            ),
            ["band_id", "band_hash"],
        )
        .select("id_a", "id_b", "na", "nb")
        .distinct()
    )
    return _verify_jaccard(cands, sh_new.unionByName(sh_old), id_col, threshold)


def incremental_minhash_duckdb_sql(
    new_pred: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`incremental_minhash_pairs` (portable mode) over a
    one-table snapshot split: identical CTEs to :func:`minhash_lsh_duckdb_sql`
    plus a side flag; candidates pair a NEW band row with a CORPUS band row
    instead of enforcing ``id_a < id_b``."""
    rows_per_band = num_hashes // bands
    return f"""
    WITH docs AS (
      SELECT doc_id, CASE WHEN {new_pred} THEN 1 ELSE 0 END AS is_new,
             regexp_split_to_array(trim(text), '\\s+') AS w
      FROM {table}
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, is_new,
             concat_ws(' ', {", ".join(f"w[i+{j}]" for j in range(shingle_k))}) AS shingle
      FROM docs, UNNEST(generate_series(1, greatest(len(w) - {shingle_k - 1}, 1))) AS t(i)
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    mh AS MATERIALIZED (
      SELECT doc_id, MAX(is_new) AS is_new, seed,
             MIN(('0x' || substr(md5(shingle || '#' || CAST(seed AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh CROSS JOIN range({num_hashes}) AS s(seed)
      GROUP BY doc_id, seed
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, MAX(is_new) AS is_new,
             CAST(seed // {rows_per_band} AS INT) AS band_id,
             string_agg(CAST(mh AS VARCHAR), ':' ORDER BY seed) AS band_key
      FROM mh GROUP BY doc_id, seed // {rows_per_band}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.is_new = 1 AND b.is_new = 0
    ),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           ROUND(common * 1.0 / (ca.n + cb.n - common), 6) AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE ROUND(common * 1.0 / (ca.n + cb.n - common), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# passage-level dedup (RefinedWeb/CCNet line-dedup, adapted to k-word passages)
# ---------------------------------------------------------------------------

#: 60-bit md5-derived passage key — grouping/joining on a fixed 8-byte int
#: instead of the passage string keeps the global-count shuffle narrow at
#: 100 TB, and is bit-identical in Spark and DuckDB (same family as
#: :data:`PORTABLE_SEED_HASH`).
def _passage_hash(dialect: str, col: str = "passage") -> str:
    """Delegates to the ONE canonical 60-bit portable hash definition
    (``operators/text.py:portable_hash60_sql``) — per-engine hash logic
    written twice is how cross-engine parity breaks."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        portable_hash60_sql,
    )

    return portable_hash60_sql(dialect, col)


def _chunk_ctes(dialect: str, k: int, table: str) -> str:
    """The shared ``docs``/``chunks``/``hashed`` CTE prefix: split to words,
    window into k-word passages with their index, key by the 60-bit portable
    passage hash.  Used by passage dedup AND the span analytics."""
    h = _passage_hash(dialect)
    if dialect == "spark":
        split_w = "split(trim(text), '\\\\s+')"
        chunks = (
            f"SELECT doc_id, i AS chunk_idx, "
            f"array_join(slice(w, i * {k} + 1, {k}), ' ') AS passage "
            f"FROM docs LATERAL VIEW explode(sequence(0, "
            f"CAST(ceil(size(w) / {k}.0) AS INT) - 1)) t AS i"
        )
    else:
        split_w = "regexp_split_to_array(trim(text), '\\s+')"
        chunks = (
            f"SELECT doc_id, i AS chunk_idx, "
            f"array_to_string(list_slice(w, i * {k} + 1, i * {k} + {k}), ' ') "
            f"AS passage "
            f"FROM docs, UNNEST(generate_series(0, "
            f"CAST(ceil(len(w) / {k}.0) AS INT) - 1)) AS t(i)"
        )
    return f"""
    WITH docs AS (SELECT doc_id, {split_w} AS w FROM {table}),
    chunks AS ({chunks}),
    hashed AS (SELECT doc_id, chunk_idx, passage, {h} AS ph FROM chunks)"""


def passage_dup_spans_sql(
    dialect: str,
    k: int = 10,
    min_dup_docs: int = 2,
    table: str = "documents",
) -> str:
    """Per-document DUPLICATED-SPAN analytics: merge runs of consecutive
    duplicated passages into spans (gaps-and-islands on chunk_idx) and report
    span count, longest span, and total duplicated chunks — the diagnostic
    behind substring-level dedup decisions (Lee et al. 2022 report most
    removable text sits in LONG runs; a doc whose dups are one long span is a
    mirror, scattered single-chunk dups are quotes/boilerplate).

    Same chunk/hash CTEs as :func:`passage_dedup_sql`; the islands trick
    (chunk_idx - ROW_NUMBER partitioned by doc) is a per-doc window over the
    doc's own dup chunks — group sizes bounded by a document's length, never
    the corpus.  Only docs with at least one duplicated passage appear.
    """
    return f"""{_chunk_ctes(dialect, k, table)},
    dup_keys AS (
      SELECT ph FROM hashed GROUP BY ph
      HAVING COUNT(DISTINCT doc_id) >= {min_dup_docs}
    ),
    dup_chunks AS (
      SELECT doc_id, chunk_idx,
             chunk_idx - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY chunk_idx) AS island
      FROM hashed WHERE ph IN (SELECT ph FROM dup_keys)
    ),
    spans AS (
      SELECT doc_id, island, COUNT(*) AS span_len
      FROM dup_chunks GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_len) AS BIGINT) AS max_span_chunks,
           CAST(SUM(span_len) AS BIGINT) AS n_dup_chunks
    FROM spans GROUP BY doc_id
    """


def passage_dedup_sql(
    dialect: str,
    k: int = 10,
    min_dup_docs: int = 2,
    table: str = "documents",
) -> str:
    """Remove passages (consecutive ``k``-word windows) that appear in
    ``min_dup_docs``+ DISTINCT documents, and reassemble each document from
    its surviving passages in order — the cross-document boilerplate/quote
    scrubber LLM pipelines run between exact and fuzzy dedup (RefinedWeb
    §"line-wise corrections", CCNet paragraph dedup; texts here have no
    newlines, so the unit is a fixed word window).

    One shared SQL drives both engines.  Plan shape (see DataFrame wrapper
    :func:`passage_dedup`): explode to n/k passage rows → global count keyed
    on the 60-bit passage hash (narrow shuffle) → anti-join → per-doc ordered
    reassembly.  Output is one row per INPUT doc (docs whose every passage is
    boilerplate survive with empty clean text): doc_id, passage counts, and
    the md5 + length of the reassembled text (full text stays available in
    :func:`passage_dedup`; the fingerprint keeps the gate row narrow).
    """
    if dialect == "spark":
        reasm = (
            "SELECT doc_id, COUNT(*) AS n_kept, "
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(chunk_idx, passage))), s -> s.passage)) AS clean_text "
            "FROM kept GROUP BY doc_id"
        )
    else:
        reasm = (
            "SELECT doc_id, COUNT(*) AS n_kept, "
            "string_agg(passage, ' ' ORDER BY chunk_idx) AS clean_text "
            "FROM kept GROUP BY doc_id"
        )
    return f"""{_chunk_ctes(dialect, k, table)},
    dup_keys AS (
      SELECT ph FROM hashed GROUP BY ph
      HAVING COUNT(DISTINCT doc_id) >= {min_dup_docs}
    ),
    kept AS (
      SELECT doc_id, chunk_idx, passage FROM hashed h
      WHERE NOT EXISTS (SELECT 1 FROM dup_keys d WHERE d.ph = h.ph)
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_passages FROM hashed GROUP BY doc_id),
    reassembled AS ({reasm})
    SELECT t.doc_id,
           t.n_passages,
           COALESCE(r.n_kept, 0) AS n_kept,
           t.n_passages - COALESCE(r.n_kept, 0) AS n_dropped,
           md5(COALESCE(r.clean_text, '')) AS clean_fp,
           CAST(length(COALESCE(r.clean_text, '')) AS BIGINT) AS clean_chars
    FROM totals t LEFT JOIN reassembled r ON t.doc_id = r.doc_id
    """


def passage_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """(id, chunk_idx, passage): consecutive ``k``-word windows per doc."""
    df = _spread(df, by=id_col)
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.ceil(F.size(w) / F.lit(float(k))).cast("int")
    return df.select(
        F.col(id_col),
        w.alias("__w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        id_col,
        "chunk_idx",
        F.array_join(
            F.slice(F.col("__w"), F.col("chunk_idx") * k + 1, F.lit(k)), " "
        ).alias("passage"),
    )


def passage_dedup(
    spark,
    k: int = 10,
    min_dup_docs: int = 2,
    table: str = "documents",
) -> DataFrame:
    """Spark production form of :func:`passage_dedup_sql` — same relation
    (parity-tested against the spark-dialect SQL in tests/test_northstar.py),
    but composed so the chunk relation is built and PERSISTED once: the
    one-SQL CTE form scans and re-explodes the corpus three times (totals,
    dup-count, kept), which triples the dominant cost at 100 TB.

    The per-doc reassembly (collect_list → array_sort → concat) is bounded by
    a DOCUMENT's passage count — thousands at most — never by corpus size, so
    executor memory is safe at any scale; the corpus-wide shuffles are the
    passage-hash count and the per-doc aggregates, all on narrow rows.
    """
    chunks = persist_tracked(
        passage_chunks(spark.table(table), k=k).withColumn(
            "ph", F.expr(_passage_hash("spark"))
        ),
        "__passage_chunks",
    )
    dup_keys = (
        chunks.groupBy("ph")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .where(F.col("__nd") >= min_dup_docs)
        .select("ph")
    )
    kept = chunks.join(dup_keys, "ph", "left_anti")
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_passages"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "passage"))),
                lambda s: s.passage,
            ),
        ).alias("clean_text"),
    )
    clean = F.coalesce(F.col("clean_text"), F.lit(""))
    return (
        totals.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            "n_passages",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_passages") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
            F.md5(clean).alias("clean_fp"),
            F.length(clean).cast("long").alias("clean_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better", arXiv:2107.06499 §4.1 ExactSubstr) — the last
# LLM-dedup family member (VERDICT r2 #3): maximal shared runs of >= min_run
# whitespace tokens between document pairs.
# ---------------------------------------------------------------------------

def _gram_positions_sql(dialect: str, n: int, source: str) -> str:
    """``(doc_id, i, h)`` — the portable 60-bit hash of the ``n``-token gram
    starting at 1-based token position ``i``, COMPLETE windows only (docs
    shorter than ``n`` tokens emit nothing; the explicit ``>= n`` predicate
    guards the explode, per the Spark-decreasing/DuckDB-empty
    ``sequence(1, 0)`` divergence)."""
    if dialect == "spark":
        gram = "concat_ws(' ', " + ", ".join(
            f"try_element_at(w, CAST(i + {j} AS INT))" for j in range(n)
        ) + ")"
        h = f"CAST(CONV(SUBSTR(MD5({gram}), 1, 15), 16, 10) AS BIGINT)"
        return (
            f"SELECT doc_id, i, {h} AS h FROM "
            f"(SELECT doc_id, split(trim(text), '\\\\s+') AS w FROM {source}) d "
            f"LATERAL VIEW explode(sequence(1, size(w) - {n - 1})) t AS i "
            f"WHERE size(w) >= {n}"
        )
    gram = "concat_ws(' ', " + ", ".join(f"w[i+{j}]" for j in range(n)) + ")"
    h = f"('0x' || substr(md5({gram}), 1, 15))::BIGINT"
    return (
        f"SELECT doc_id, i, {h} AS h FROM "
        f"(SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w "
        f"FROM {source}) d, "
        f"UNNEST(generate_series(1, len(w) - {n - 1})) AS t(i) "
        f"WHERE len(w) >= {n}"
    )


def _substring_runs_sql(
    grams_a: str,
    grams_b: str,
    n: int,
    min_run: int,
    final_cte: str | None = None,
) -> str:
    """Maximal-run extension over two gram relations — dialect-common SQL.

    A shared run of L >= ``n`` tokens is exactly n-gram hash matches at
    L−n+1 CONSECUTIVE positions on one alignment diagonal (pa − pb), so the
    classic gaps-and-islands pass (pa − ROW_NUMBER() per diagonal) groups
    each maximal run and ``MAX(pa) − MIN(pa) + n`` recovers L.  Candidates
    come only from the hash equi-join — never an all-pairs product — and the
    window partitions by (pair, diagonal), whose size is bounded by the
    shorter document, not the corpus.

    With ``final_cte`` set, the maximal-run SELECT is wrapped as one more
    named CTE of that name (for composition by the removal stage) instead of
    being the statement's final SELECT.
    """
    body = f"""
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.i AS pa, b.i AS pb
      FROM ({grams_a}) a JOIN ({grams_b}) b
        ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, pa, pb, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
      FROM m
    )"""
    final = f"""SELECT id_a, id_b,
           CAST(MIN(pa) - 1 AS BIGINT) AS start_a,
           CAST(MIN(pb) - 1 AS BIGINT) AS start_b,
           CAST(MAX(pa) - MIN(pa) + {n} AS BIGINT) AS run_tokens
    FROM runs GROUP BY id_a, id_b, diag, grp
    HAVING MAX(pa) - MIN(pa) + {n} >= {min_run}"""
    if final_cte:
        return f"{body}, {final_cte} AS ({final})"
    return f"{body} {final}"


def exact_substring_sql(
    dialect: str,
    n: int = 8,
    min_run: int = 12,
    source: str = "documents",
) -> str:
    """One-SQL oracle/parity form of :func:`exact_substring_pairs` (inlines
    the gram relation twice — fine for DuckDB, whose optimizer shares it;
    the production Spark path builds it once).

    Output: ``(id_a, id_b, start_a, start_b, run_tokens)`` — one row per
    MAXIMAL shared token run of >= ``min_run`` tokens, 0-based token offsets.

    Suffix arrays are the reference algorithm's single-machine tool; this is
    the distributed re-expression: hash every ``n``-token gram (portable
    md5-60bit, exact on the join since both sides hash the same normalized
    token text), equi-join as the candidate generator, then one window pass
    chains consecutive-diagonal matches into maximal islands.  At 100 TB the
    gram relation is ~tokens rows of (id, pos, 8 bytes) — the text itself
    never shuffles — and degenerate grams (boilerplate repeated across
    millions of docs) should be pre-filtered with a df cap before the join
    (same regime split as :func:`blocklist_semijoin`); the testdata corpus
    needs no cap, so the gate runs the pure form.
    """
    g = _gram_positions_sql(dialect, n, source)
    return f"WITH {_substring_runs_sql(g, g, n, min_run)}"


def exact_substring_pairs(
    spark,
    n: int = 8,
    min_run: int = 12,
    source: str = "documents",
    max_gram_doc_freq: int | None = None,
) -> DataFrame:
    """Production Spark form: the gram relation is computed ONCE (spread,
    persisted) and self-joined — the inlined SQL form pays the explode +
    per-gram md5 twice.  ``max_gram_doc_freq`` drops grams seen in more than
    that many docs before the join (the boilerplate-explosion guard for web
    corpora; None = off).  The gram relation is computed once and SHARED
    size-awarely (VERDICT r4 #1): its consumers reference it through SQL
    CTEs, which Spark's CacheManager does not substitute, so it must be a
    materialized plan — checkpoint blocks when the input is small (the
    scratch-parquet write was a fixed ~1 s tax at bench scale), scratch
    parquet when large/unknown (see engine.share_view)."""
    from qradar_restapi_kafka_datapipeline_spark.engine import share_view

    src = spark.table(source)
    est = input_size_bytes(src)  # ~1 gram row per compressed byte, high side
    grams = spark.sql(
        _gram_positions_sql("spark", n, "{src}"), src=_spread(src, by="doc_id")
    )
    if max_gram_doc_freq is not None:
        df_counts = grams.groupBy("h").agg(
            F.countDistinct("doc_id").alias("__df")
        )
        grams = grams.join(
            df_counts.where(F.col("__df") <= max_gram_doc_freq).select("h"),
            "h",
            "left_semi",
        )
        # the df-cap adds an aggregate + semi-join to the lineage — no
        # longer cheap to recompute per CTE reference at any size
        est = None
    gsel = "SELECT doc_id, i, h FROM {grams}"
    return spark.sql(
        f"WITH {_substring_runs_sql(gsel, gsel, n, min_run)}",
        grams=share_view(spark, grams, "__ess_grams", approx_rows=est),
    )


def _token_positions_sql(dialect: str, source: str) -> str:
    """The shared ``(doc_id, pos, word)`` tokenization relation — ONE
    definition in ``operators/text.py`` drives the positional fingerprint
    AND the removal stage here (per-engine split logic written twice is how
    parity breaks, CLAUDE.md)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        token_positions_sql,
    )

    return token_positions_sql(dialect, source)


def exact_substring_remove_sql(
    dialect: str,
    n: int = 8,
    min_run: int = 12,
    source: str = "documents",
    grams_rel: str | None = None,
) -> str:
    """APPLY stage of exact-substring dedup (Lee et al. 2022 §4.1 remove one
    copy of every duplicate run): cut each >= ``min_run``-token shared run
    from the HIGHER doc_id of its pair (the earliest occurrence survives) and
    reassemble the survivors in order.

    Fully relational: the victim token set comes from a range join of token
    positions against the run intervals (runs are few and narrow — the join
    is equi on doc_id with a range residual), overlap between runs handled
    by NOT EXISTS semantics, ordered reassembly via the engine's sorted
    aggregate (same idiom as :func:`passage_dedup_sql`).  Output one row per
    INPUT doc: ``(doc_id, n_tokens, n_removed, clean_fp, clean_chars)`` —
    the md5 fingerprint keeps the gate row narrow while pinning the exact
    reassembled text.

    ``grams_rel`` names a precomputed ``(doc_id, i, h)`` relation (the
    production path builds it once); None inlines it from ``source``.
    """
    g = grams_rel and f"SELECT doc_id, i, h FROM {grams_rel}"
    g = g or _gram_positions_sql(dialect, n, source)
    if dialect == "spark":
        reasm = (
            "SELECT doc_id, COUNT(*) AS n_kept, "
            "concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, word))), s -> s.word)) AS clean_text "
            "FROM kept GROUP BY doc_id"
        )
    else:
        reasm = (
            "SELECT doc_id, COUNT(*) AS n_kept, "
            "string_agg(word, ' ' ORDER BY pos) AS clean_text "
            "FROM kept GROUP BY doc_id"
        )
    return f"""
    WITH {_substring_runs_sql(g, g, n, min_run, final_cte="maxruns")},
    tok AS ({_token_positions_sql(dialect, source)}),
    victims AS (
      SELECT id_b AS doc_id, start_b AS s, start_b + run_tokens AS e
      FROM maxruns
    ),
    kept AS (
      -- left-join + IS NULL rather than NOT EXISTS, with a broadcast hint:
      -- victims is runs-sized (tiny vs tokens), so the scalable plan
      -- streams tok through a broadcast probe instead of sort-merging the
      -- token relation on doc_id.  DuckDB reads the hint as a comment; a
      -- token inside k matching ranges appears k times and every copy is
      -- filtered, a token in none appears exactly once — anti-join
      -- semantics preserved.
      SELECT /*+ BROADCAST(v) */ t.doc_id, t.pos, t.word
      FROM tok t LEFT JOIN victims v
        ON t.doc_id = v.doc_id AND t.pos >= v.s AND t.pos < v.e
      WHERE v.doc_id IS NULL
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id),
    reassembled AS ({reasm})
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(r.clean_text, '')) AS clean_fp,
           CAST(length(COALESCE(r.clean_text, '')) AS BIGINT) AS clean_chars
    FROM totals t LEFT JOIN reassembled r ON t.doc_id = r.doc_id
    """


def exact_substring_remove(
    spark,
    n: int = 8,
    min_run: int = 12,
    source: str = "documents",
) -> DataFrame:
    """Production Spark form of :func:`exact_substring_remove_sql`: the gram
    relation is computed once over the spread source and shared size-awarely
    (the inlined SQL form pays the explode + per-gram md5 twice for the
    self-join plus once more for tokens; CTE consumers bypass the cache —
    see engine.share_view / engine.materialize_view)."""
    from qradar_restapi_kafka_datapipeline_spark.engine import share_view

    src = spark.table(source)
    est = input_size_bytes(src)
    spread = _spread(src, by="doc_id")
    grams = share_view(
        spark,
        spark.sql(_gram_positions_sql("spark", n, "{src}"), src=spread),
        "__essr_grams",
        approx_rows=est,
    )
    return spark.sql(
        exact_substring_remove_sql(
            "spark", n, min_run, source="{src}", grams_rel="{grams}"
        ),
        src=spread,
        grams=grams,
    )

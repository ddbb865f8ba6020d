"""Training-data curation operators (north-star M6 continuation).

The three ops an LLM-corpus pipeline runs after text analysis and dedup:
deterministic stratified sampling (per-source keep rates), an end-to-end
curation filter (language x quality x length x exact-dedup canonicalization),
and token-budget sequence packing.

Scale design: sampling and curation are pure projections/filters + one
window — no Python in the row path, filters push to the parquet scan, and the
only shuffle is the fingerprint window partition.  Packing is imperative by
nature (next-fit bin packing), so it runs as ``applyInPandas`` over BOUNDED
(strat, shard) groups — shard = floor(id / shard_size) keeps every group a
fixed size no matter how large the corpus, at the cost of at most one
under-filled bin per shard boundary.  No group ever exceeds ``shard_size``
rows, so executor memory is bounded at 100 TB the same as at 1 GB.

Reference tie-in: the reference has no curation layer (it is a security-event
ETL, see SURVEY.md §0); these ops are the north-star training-data extensions
the build brief adds on top of reference parity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from qradar_restapi_kafka_datapipeline_spark.engine import local_relation
from qradar_restapi_kafka_datapipeline_spark.operators.text import (
    bpe_token_estimate_sql,
    lang_id_sql,
    normalized_md5_sql,
    quality_score_sql,
    word_count_sql,
)

# ---------------------------------------------------------------------------
# portable deterministic id hash — md5-derived, identical in Spark and DuckDB
# ---------------------------------------------------------------------------


def portable_id_hash_sql(col: str, dialect: str) -> str:
    """60-bit md5-derived hash of an id, reproducible in any engine.

    Spark: ``CONV(SUBSTR(MD5(...)))``; DuckDB: hex-literal cast.  Same value
    bit-for-bit, so a sampling decision keyed on it is portable — rerunning
    the pipeline (or a different engine) selects the SAME rows, which is what
    makes a training-data sample auditable.
    """
    s = f"CAST({col} AS STRING)"
    if dialect == "spark":
        return f"CAST(CONV(SUBSTR(MD5({s}), 1, 15), 16, 10) AS BIGINT)"
    return f"('0x' || substr(md5({s}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def stratified_sample_sql(
    dialect: str,
    rates_bp: dict[str, int],
    default_bp: int,
    table: str = "documents",
    id_col: str = "doc_id",
    strat_col: str = "source",
) -> str:
    """Hash-gated per-stratum sampling: keep iff h(id) % 10000 < rate_bp.

    ``rates_bp`` maps stratum value -> keep rate in basis points (10000 =
    keep all).  A pure filter: no shuffle, no RNG state, pushdown-eligible,
    and the kept set is a deterministic function of the ids — the property
    that lets a 100 TB sampling job be resumed/audited/reproduced.
    """
    h = portable_id_hash_sql(id_col, dialect)
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(rates_bp.items())
    )
    rate = f"(CASE {strat_col} {whens} ELSE {default_bp} END)"
    return (
        f"SELECT {id_col}, {strat_col}, ({h} % 10000) AS hash_slot "
        f"FROM {table} WHERE ({h} % 10000) < {rate}"
    )


def exact_k_per_stratum_sql(
    dialect: str,
    k: int = 20,
    table: str = "documents",
    id_col: str = "doc_id",
    strat_col: str = "source",
) -> str:
    """EXACTLY-k-per-stratum deterministic draw (round 8) — the eval-set
    constructor ("100 held-out docs per source, same set every run"):
    rank each stratum by the portable id hash (a uniform, input-blind
    order) and keep rank ≤ k.  Rate-based gating
    (:func:`stratified_sample_sql`) cannot promise exact counts; this
    pays one bounded per-stratum sort for them.  Skew note: the window
    partitions by stratum, so a stratum's rows sort in one task — for
    strata past the task-sort budget use the bucketed-window twin
    pattern (operators/skew.py) or pre-filter with a rate gate sized to
    ~10k× k and rank the survivors (two-phase, same result because the
    hash order is preserved by the gate)."""
    h = portable_id_hash_sql(id_col, dialect)
    return f"""
    SELECT {id_col}, {strat_col}, rk FROM (
      SELECT {id_col}, {strat_col},
             CAST(ROW_NUMBER() OVER (
               PARTITION BY {strat_col}
               ORDER BY {h}, {id_col}) AS INT) AS rk
      FROM {table}
    ) ranked WHERE rk <= {k}
    """


def stratified_sample(
    df: DataFrame,
    rates_bp: dict[str, int],
    default_bp: int,
    id_col: str = "doc_id",
    strat_col: str = "source",
) -> DataFrame:
    h = portable_id_hash_sql(id_col, "spark")
    rate = None
    for k, v in sorted(rates_bp.items()):
        rate = (
            F.when(F.col(strat_col) == k, F.lit(v))
            if rate is None
            else rate.when(F.col(strat_col) == k, F.lit(v))
        )
    rate_col = rate.otherwise(F.lit(default_bp)) if rate is not None else F.lit(default_bp)
    slot = F.expr(h) % 10000
    return df.where(slot < rate_col).select(
        F.col(id_col), F.col(strat_col), slot.alias("hash_slot")
    )


# ---------------------------------------------------------------------------
# end-to-end corpus curation: lang filter x quality x length x exact-dedup
# ---------------------------------------------------------------------------


def curate_corpus_sql(
    dialect: str,
    min_quality: float = 0.3,
    min_words: int = 5,
    max_words: int = 100000,
    lang: str = "en",
    table: str = "documents",
) -> str:
    """The standard curation funnel as ONE dialect-common SQL body.

    scored -> filtered -> fingerprint-window dedup (keep lowest doc_id per
    normalized-md5 group).  Every expression is a built-in string function
    (JVM-side in Spark), and the single shuffle is the dedup window keyed on
    the fingerprint — the same shuffle exact dedup needs anyway.
    """
    return (
        "WITH scored AS ("
        f"  SELECT doc_id, source, {lang_id_sql('text')} AS lang_pred, "
        f"  {quality_score_sql('text', dialect)} AS quality, "
        f"  {word_count_sql('text', dialect)} AS n_words, "
        f"  {normalized_md5_sql('text', dialect)} AS fp "
        f"  FROM {table}"
        "), kept AS ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn "
        "  FROM scored "
        f"  WHERE lang_pred = '{lang}' AND quality >= {min_quality} "
        f"  AND n_words BETWEEN {min_words} AND {max_words}"
        ") "
        "SELECT doc_id, source, quality, CAST(n_words AS BIGINT) AS n_words "
        "FROM kept WHERE rn = 1"
    )


def quality_quantile_sql(dialect: str, p: float = 0.25, table: str = "documents") -> str:
    """Per-language RELATIVE quality pruning: keep docs at or above the
    language's p-quantile quality.

    Deliberately an aggregate + re-join, NOT a ``PERCENT_RANK`` window: the
    window form global-sorts every language partition (billions of rows at
    100 TB), while this shape computes one threshold per language (map-side
    partial aggregate, |langs| rows out) and broadcast-joins it back — the
    scan stays embarrassingly parallel.  Only the quantile function name
    differs per dialect (Spark ``percentile`` / DuckDB ``quantile_cont``,
    both (n-1)·p linear interpolation on identical ROUND(…,4) inputs, so the
    threshold doubles agree bit-for-bit).
    """
    fn = "percentile" if dialect == "spark" else "quantile_cont"
    return (
        "WITH q AS ("
        f"  SELECT doc_id, lang, {quality_score_sql('text', dialect)} AS quality "
        f"  FROM {table}"
        "), thr AS ("
        f"  SELECT lang, {fn}(quality, {p}) AS q_thr FROM q GROUP BY lang"
        ") "
        "SELECT q.doc_id, q.lang, q.quality FROM q "
        "JOIN thr ON q.lang = thr.lang WHERE q.quality >= thr.q_thr"
    )


def blocklist_verdict_sql(
    dialect: str,
    blocked_sources: tuple[str, ...] = ("src4", "src13"),
    blocked_terms: tuple[str, ...] = ("dup",),
    table: str = "documents",
) -> str:
    """Per-doc blocklist verdict — the URL/domain + bad-word screen every
    web-corpus pipeline runs first (C4 §2.2 badwords filter, RefinedWeb URL
    blocklist), adapted to this schema: ``source`` plays the domain, terms
    match on \\b word boundaries (RE2 ∩ java.util.regex, one pattern drives
    both engines).

    Emits EVERY doc with verdict ∈ {kept, blocked_source, blocked_term} —
    the audit relation; filtering is ``WHERE verdict = 'kept'``.  Pure
    projection: no shuffle, no join, pushdown-eligible.  This inline CASE
    form is for human-sized lists; 10k+ term lists should use
    :func:`blocklist_semijoin`, whose broadcast-join cost is O(tokens) not
    O(terms × docs).

    Terms are regex-escaped (literal match, '.'-bearing domains included)
    but the \\b anchors require each term to START and END with a word
    character — ``\\b`` never matches beside punctuation, so a term like
    ``"$5"`` cannot hit; route such terms through the semi-join variant.
    """
    if blocked_sources:
        # doubled '' is the SQL-standard quote escape in BOTH dialects —
        # re.escape does NOT cover apostrophes, so a source like "don't"
        # would otherwise end the literal early and break the statement
        srcs = ", ".join("'" + s.replace("'", "''") + "'" for s in blocked_sources)
        src_hit = f"source IN ({srcs})"
    else:
        src_hit = "FALSE"
    if blocked_terms:
        import re

        # re.escape (3.7+) backslash-escapes only regex specials — the safe
        # subset for BOTH RE2 and java.util.regex (escaping ordinary letters
        # would be a java.util.regex error); terms are config, not user SQL,
        # but a '.'-bearing domain must match literally.  Apostrophes are not
        # regex specials, so escape them for the SQL literal layer ('' —
        # both dialects) AFTER regex escaping.
        alts = "|".join(re.escape(t).replace("'", "''") for t in blocked_terms)
        if dialect == "spark":
            # Spark SQL string literals process backslash escapes: '\\b' → \b
            spark_alts = alts.replace("\\", "\\\\")
            term_hit = f"text RLIKE '\\\\b({spark_alts})\\\\b'"
        else:
            term_hit = f"regexp_matches(text, '\\b({alts})\\b')"
    else:
        term_hit = "FALSE"
    return (
        f"SELECT doc_id, source, "
        f"CASE WHEN {src_hit} THEN 'blocked_source' "
        f"WHEN {term_hit} THEN 'blocked_term' "
        f"ELSE 'kept' END AS verdict "
        f"FROM {table}"
    )


def blocklist_semijoin(
    df: DataFrame,
    terms_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
) -> DataFrame:
    """Scale path for LARGE term blocklists: explode doc tokens once and
    broadcast-semi-join the term table — flags each doc containing any term.

    An inline ``RLIKE (t1|t2|…)`` compiles the whole list into every task and
    scans each text once per alternation state; this form is one explode
    (n_tokens rows, narrow) + one broadcast hash probe per token, so cost is
    O(corpus tokens), independent of list size.  Returns the flagged doc ids
    (DISTINCT) — anti-join it back to filter.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("__t"),
    )
    hits = toks.join(
        F.broadcast(terms_df.select(F.lower(F.col(term_col)).alias("__t"))),
        "__t",
        "left_semi",
    )
    return hits.select(id_col).distinct()


def mix_to_target_sql(
    dialect: str,
    table: str = "documents",
    id_col: str = "doc_id",
    strat_col: str = "source",
) -> str:
    """Downsample strata to a TARGET mix (uniform here: every source equally
    weighted) — the data-mixing step a training pipeline runs after
    :func:`text.domain_mix_sql` reports the natural mix (Gopher §A2 / Llama
    mixture reweighting, downsample-only flavor).

    With uniform targets the feasible budget is set by the SMALLEST stratum:
    rate_s = min_count / n_s, materialized as integer basis points (FLOOR +
    1e-9 guard) so the keep decision — portable-hash slot < rate_bp — is
    bit-identical in any engine and auditable/resumable like
    :func:`stratified_sample_sql`.

    Plan shape: one stratum-count aggregate (|sources| rows), a scalar min
    folded over it, broadcast back onto the scan as a pure filter — the
    corpus is read once, no corpus-wide shuffle.
    """
    h = portable_id_hash_sql(f"d.{id_col}", dialect)
    return f"""
    WITH counts AS (
      SELECT {strat_col}, COUNT(*) AS n FROM {table} GROUP BY {strat_col}
    ),
    budget AS (SELECT MIN(n) AS min_n FROM counts),
    rates AS (
      SELECT {strat_col},
             CAST(FLOOR(min_n * 10000.0 / n + 1e-9) AS INT) AS rate_bp
      FROM counts CROSS JOIN budget
    )
    SELECT d.{id_col}, d.{strat_col}, r.rate_bp
    FROM {table} d JOIN rates r ON d.{strat_col} = r.{strat_col}
    WHERE ({h} % 10000) < r.rate_bp
    """


def mix_temperature_sql(
    dialect: str,
    table: str = "documents",
    id_col: str = "doc_id",
    strat_col: str = "source",
) -> str:
    """Temperature-based mixture reweighting (the multilingual-LLM sampling
    rule, α = 0.5): target share of stratum s is ``√n_s / Σ√n_t`` — big
    strata are damped, small ones boosted relative to the natural mix, the
    standard fix for head-language domination (mC4/XLM-R §3.1; Gopher §A2
    generalizes).  Downsample-only: the feasible corpus budget is set by the
    stratum whose natural share falls furthest below its target; every
    stratum's keep-rate lands as integer basis points gating the portable id
    hash, so the kept set is deterministic, auditable, and resumable like
    every other sampler here.

    The normalizer cancels: with target share ``p_s ∝ √n_s`` and budget
    ``T = min_u n_u/p_u``, the keep-rate algebra collapses to ``rate_s =
    √(n_min / n_s)`` — one exact-rounded division and one IEEE sqrt,
    bit-identical in any engine (no Σ√n whose summation ORDER could drift a
    ulp and flip a FLOOR at a basis-point boundary; the general-α form is
    ``(n_min/n_s)^(1−α)``).  The smallest stratum's rate is exactly 1.
    Plan shape: stratum counts (|strata| rows) → scalar min fold →
    broadcast rates joined back onto the scan as a pure filter; the corpus
    is read once, never shuffled.
    """
    h = portable_id_hash_sql(f"d.{id_col}", dialect)
    return f"""
    WITH counts AS (
      SELECT {strat_col}, CAST(COUNT(*) AS BIGINT) AS n
      FROM {table} GROUP BY {strat_col}
    ),
    m AS (SELECT MIN(n) AS min_n FROM counts),
    rates AS (
      SELECT {strat_col},
             CAST(FLOOR(SQRT(CAST(min_n AS DOUBLE) / CAST(n AS DOUBLE))
                        * 10000.0 + 1e-9) AS INT) AS rate_bp
      FROM counts CROSS JOIN m
    )
    SELECT d.{id_col}, d.{strat_col}, r.rate_bp
    FROM {table} d JOIN rates r ON d.{strat_col} = r.{strat_col}
    WHERE ({h} % 10000) < r.rate_bp
    """


def length_histogram_sql(bucket_chars: int = 50, table: str = "documents") -> str:
    """Corpus length histogram (dialect-common; the standard curation
    diagnostic before choosing length cutoffs)."""
    return (
        f"SELECT CAST(FLOOR(length(text) / {bucket_chars}.0) AS INT) AS len_bucket, "
        "COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars "
        f"FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# sequence packing — next-fit token-budget bin packing in bounded shards
# ---------------------------------------------------------------------------

_PACK_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("shard", LongType()),
        StructField("bin_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    shard_size: int = 100,
    id_col: str = "doc_id",
    strat_col: str = "source",
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Pack documents into token-budget bins (LLM pretraining batch shaping).

    Next-fit in deterministic ``id_col`` order within each (stratum, shard)
    group; a doc longer than the budget is truncated to it (real pipelines
    chunk long docs — the budget cap keeps every bin feasible).  Guarantees:

    - every bin's token total <= budget;
    - bin count per group <= 2 * ceil(group_tokens / budget) (next-fit bound);
    - assignment is a pure function of (ids, token counts) — reproducible.

    ``applyInPandas`` is legitimate here (SURVEY §7.2 custom-op ladder):
    next-fit is inherently sequential per group, inexpressible as window
    functions without recursion.  Sharding bounds group size so the Arrow
    batch per task is O(shard_size) regardless of corpus size.
    """
    # ``tokens_df`` (doc_id, n_tokens) swaps the chars/4 estimate for REAL
    # counts — e.g. the corpus-trained BPE relation (operators/bpe.py); the
    # packing algorithm itself is token-source-agnostic.
    if tokens_df is not None:
        df = df.join(
            tokens_df.select(
                F.col("doc_id").alias("__tok_id"),
                F.col("n_tokens").alias("__tok_n"),
            ),
            F.col(id_col) == F.col("__tok_id"),
        )
        tokens = F.least(F.col("__tok_n"), F.lit(budget)).cast("long")
    else:
        tokens = F.least(
            F.expr(bpe_token_estimate_sql("text")), F.lit(budget)
        ).cast("long")
    base = df.select(
        F.col(strat_col).alias("source"),
        (F.col(id_col) / shard_size).cast("long").alias("shard"),
        F.col(id_col).cast("long").alias("doc_id"),
        tokens.alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_ids = []
        cur_bin, cur_tokens = 0, 0
        for t in pdf["n_tokens"]:
            if cur_tokens + t > budget and cur_tokens > 0:
                cur_bin += 1
                cur_tokens = 0
            cur_tokens += int(t)
            bin_ids.append(cur_bin)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        return pdf[["source", "shard", "bin_id", "doc_id", "n_tokens"]]

    return base.groupBy("source", "shard").applyInPandas(_pack, _PACK_SCHEMA)


def pack_contract(
    df: DataFrame,
    budget: int = 2048,
    shard_size: int = 100,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Value-checkable contract over :func:`pack_sequences` (per source):

    - ``n_docs`` / ``total_tokens`` must equal the input's (oracle-exact);
    - ``all_bins_within_budget``: no bin exceeds the budget;
    - ``bin_count_within_bound``: per-shard next-fit bound 2*ceil(T/B) holds.

    Same pattern as the approx-distinct error-bound entry: the engine
    computes the booleans, the oracle asserts TRUE, so a packing bug
    hash-mismatches instead of slipping through a rows-only check.
    """
    packed = pack_sequences(
        df, budget=budget, shard_size=shard_size, tokens_df=tokens_df
    )
    per_bin = packed.groupBy("source", "shard", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count("*").alias("bin_docs"),
    )
    per_shard = per_bin.groupBy("source", "shard").agg(
        F.count("*").alias("n_bins"),
        F.sum("bin_tokens").alias("shard_tokens"),
        F.sum("bin_docs").alias("shard_docs"),
        F.max("bin_tokens").alias("max_bin_tokens"),
    )
    return per_shard.groupBy("source").agg(
        F.sum("shard_docs").cast("long").alias("n_docs"),
        F.sum("shard_tokens").cast("long").alias("total_tokens"),
        F.every(F.col("max_bin_tokens") <= budget).alias("all_bins_within_budget"),
        F.every(
            F.col("n_bins") <= 2 * F.ceil(F.col("shard_tokens") / budget)
        ).alias("bin_count_within_bound"),
    )


def pack_contract_oracle_sql(budget: int = 2048, table: str = "documents") -> str:
    """DuckDB side of the contract: exact doc/token totals + TRUE booleans."""
    tokens = f"LEAST({bpe_token_estimate_sql('text')}, {budget})"
    return (
        f"SELECT source, COUNT(*) AS n_docs, "
        f"CAST(SUM({tokens}) AS BIGINT) AS total_tokens, "
        "TRUE AS all_bins_within_budget, TRUE AS bin_count_within_bound "
        f"FROM {table} GROUP BY source"
    )


# ---------------------------------------------------------------------------
# Train-then-apply quality classifier (round 5) — the fastText-classifier
# curation pattern (DCLM, FineWeb-Edu): an expensive quality signal is
# distilled into a cheap linear model over hashed features, and the MODEL
# is what runs at corpus scale.  Training is driver-side on a bounded
# deterministic sample (the IVF/PQ/BPE trainer posture); application is a
# postings ⋈ broadcast-weights join + per-doc sum — linear, shuffle-light,
# no Python in the row path.  The weights are an emitted artifact, so the
# DuckDB oracle recomputes featurize → dot → sigmoid → verdict statically
# and the whole scoring pipeline is hash-checked.
# ---------------------------------------------------------------------------


def train_quality_classifier(
    spark,
    dim: int = 1024,
    sample_n: int = 400,
    iters: int = 200,
    lr: float = 0.5,
    source: str = "documents",
) -> tuple[list[float], float]:
    """Logistic probe over hashed-bigram features, labels = "is this doc's
    composite quality score above the sample median" (the heuristic being
    distilled).  Deterministic end-to-end: the sample is the ``sample_n``
    lowest doc_ids, init is zeros, full-batch gradient descent runs a fixed
    ``iters`` — the same corpus always yields the same weights.  Returns
    ``(weights[dim], bias)``."""
    import numpy as np

    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        hashed_embedding_postings_sql,
        quality_score_sql,
    )

    sample = (
        f"(SELECT * FROM {source} ORDER BY doc_id LIMIT {sample_n}) qcs"
    )
    posts = spark.sql(
        hashed_embedding_postings_sql("spark", dim, sample)
    ).collect()
    labels = spark.sql(
        f"SELECT doc_id, {quality_score_sql('text', 'spark')} AS q "
        f"FROM {sample}"
    ).collect()
    ids = sorted(r["doc_id"] for r in labels)
    row_of = {d: i for i, d in enumerate(ids)}
    x = np.zeros((len(ids), dim))
    for r in posts:
        if r["doc_id"] in row_of:
            x[row_of[r["doc_id"]], r["bucket"]] = r["w"]
    q = np.array([r["q"] for r in sorted(labels, key=lambda r: r["doc_id"])])
    y = (q >= np.median(q)).astype(np.float64)
    w = np.zeros(dim)
    b = 0.0
    n = len(ids)
    for _ in range(iters):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (x.T @ g) / n
        b -= lr * float(g.mean())
    return [float(v) for v in w], float(b)


def write_quality_classifier(
    spark, weights: list[float], bias: float, path: str
) -> None:
    """Persist the model as the oracle-readable ``(bucket, w)`` artifact;
    the bias rides as bucket −1 (no hashed feature is negative)."""
    rows = [(-1, float(bias))] + [
        (i, float(v)) for i, v in enumerate(weights) if v != 0.0
    ]
    local_relation(spark, rows, "bucket BIGINT, w DOUBLE").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def quality_classifier_sql(
    dialect: str,
    artifact: str,
    dim: int = 1024,
    source: str = "documents",
) -> str:
    """Per-doc classifier verdicts from the emitted weights: featurize with
    the SAME hashed-postings pipeline the trainer used, join the broadcast
    weights relation, sum integer-exact micro-contributions, one sigmoid.

    Float discipline: each feature contribution (BIGINT feature weight ×
    model double) rounds to an exact 1e-6 multiple, so the per-doc sum is
    order-free; the sigmoid's possible libm-vs-Math.exp last-ulp difference
    is absorbed by the final ROUND(+1e-9, 6).  Docs with NO surviving
    features (stopword-only) still emit a row at the bias alone."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        hashed_embedding_postings_sql,
    )

    posts = hashed_embedding_postings_sql(dialect, dim, source)
    if dialect == "spark":
        model = f"SELECT bucket, w FROM parquet.`{artifact}`"
    else:
        model = f"SELECT bucket, w FROM '{artifact}/*.parquet'"
    return f"""
    WITH post AS ({posts}),
    model AS ({model}),
    contrib AS (
      -- BROADCAST: the model is <= dim+1 rows; without the hint Spark
      -- sort-merges the corpus-sized postings on bucket.  DuckDB reads
      -- /*+ ... */ as a comment, so the dialect-shared text stays one SQL.
      SELECT /*+ BROADCAST(m) */
             p.doc_id, ROUND(p.w * m.w + 1e-9, 6) AS c
      FROM post p JOIN model m ON m.bucket = p.bucket
    ),
    bias AS (SELECT w AS b FROM model WHERE bucket = -1),
    -- bias-only rows for featureless docs come from a 0.0 SEED per doc
    -- unioned under the same aggregate, not a docs LEFT JOIN sums (that
    -- shape sort-merged two doc-count relations — VERDICT r7 #3; the
    -- union folds in one map-side-combined shuffle on doc_id, and adding
    -- an exact 0.0 term never changes a double sum)
    sums AS (
      SELECT doc_id, SUM(c) AS sc FROM (
        SELECT doc_id, CAST(0.0 AS DOUBLE) AS c
        FROM (SELECT DISTINCT doc_id FROM {source}) d0
        UNION ALL
        SELECT doc_id, c FROM contrib
      ) u GROUP BY doc_id
    ),
    logits AS (
      SELECT s.doc_id, ROUND(s.sc + bias.b + 1e-9, 6) AS logit
      FROM sums s CROSS JOIN bias
    )
    SELECT doc_id, logit,
           ROUND(1.0 / (1.0 + EXP(-logit)) + 1e-9, 6) AS score,
           CAST(logit >= 0 AS BOOLEAN) AS keep
    FROM logits
    """


def dsir_cnts_sql(dialect: str, dim: int = 1024, source: str = "documents") -> str:
    """``(doc_id, bucket, cnt)`` — the hashed bigram COUNT relation DSIR
    scores against (nonnegative: the sign trick of the cosine postings
    would break the probability reading)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        bigram_feats_sql,
        portable_hash60_sql,
    )

    feats = bigram_feats_sql(dialect, source)
    h = portable_hash60_sql(dialect, "feat")
    return f"""
    SELECT doc_id, {h} % {dim} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({feats}) f
    GROUP BY doc_id, {h} % {dim}
    """


def dsir_scores_sql(
    dialect: str,
    target_where: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    top_k: int = 100,
    source: str = "documents",
) -> str:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how target-like its hashed n-gram profile is — the importance
    log-ratio Σ_b cnt(d,b) · ln(p_target(b) / p_raw(b)) over hashed bigram
    buckets with add-one smoothing — and keep the top-``top_k``.

    One dialect-shared statement (the ORACLE form; the Spark entry runs
    :func:`dsir_scores`, which materializes the counts relation first —
    this statement references ``cnts`` three times and Spark re-executes a
    CTE per reference): per-bucket target/raw totals, the smoothed
    per-bucket log-ratio rounded to an exact 1e-6 multiple (BM25's
    integer-exact per-term discipline: each doc's score is then a sum of
    BIGINT·1e-6-multiples — order-free), and a (score DESC, doc_id) top-k.
    Scale shape: counts are one token explode + narrow aggregates; the
    bucket-ratio relation is ≤ ``dim`` rows and BROADCASTs into the
    per-doc contribution join; the only corpus-wide shuffle keys are
    doc_id and bucket.
    """
    return dsir_rank_sql(
        dialect, f"({dsir_cnts_sql(dialect, dim, source)})",
        target_where, dim, top_k, source,
    )


def dsir_lambda_sql(
    dialect: str,
    cnts_rel: str,
    target_where: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    source: str = "documents",
) -> str:
    """``(bucket, l6)`` — the per-bucket importance log-ratio over ANY
    ``(doc_id, bucket, cnt)`` relation, in INTEGER MICRO-UNITS: a
    6dp-rounded DOUBLE is not exactly representable in binary, so summing
    cnt·double is order-dependent (observed 2e-6 drift); BIGINT micro-units
    sum exactly in any order and scale back once at the end.  Every
    LN-argument operand is CAST to DOUBLE: DuckDB types the bare 1.0
    literal as DECIMAL and its limited-scale DECIMAL division truncated the
    ratio at ~1e-6.  ONE definition feeds the topk path, the frozen-selector
    artifact, and the funnel — per CLAUDE.md, per-call copies of this math
    are how parity breaks."""
    return f"""
    WITH lcnts AS (SELECT * FROM {cnts_rel}),
    tgt AS (
      SELECT c.bucket, CAST(SUM(c.cnt) AS BIGINT) AS tc
      FROM lcnts c JOIN {source} s ON s.doc_id = c.doc_id
      WHERE {target_where}
      GROUP BY c.bucket
    ),
    raw AS (
      SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS rc FROM lcnts GROUP BY bucket
    ),
    tots AS (
      SELECT CAST(COALESCE((SELECT SUM(tc) FROM tgt), 0) AS BIGINT) AS tt,
             CAST(COALESCE((SELECT SUM(rc) FROM raw), 0) AS BIGINT) AS rt
    )
    SELECT r.bucket,
           CAST(ROUND((LN(((CAST(COALESCE(t.tc, 0) AS DOUBLE) + 1.0)
                           * CAST(tots.rt + {dim} AS DOUBLE))
                    / ((CAST(r.rc AS DOUBLE) + 1.0)
                           * CAST(tots.tt + {dim} AS DOUBLE))) + 1e-9)
                * 1000000) AS BIGINT) AS l6
    FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket
    CROSS JOIN tots
    """


def dsir_score_sql(dialect: str, cnts_rel: str, lam_rel: str) -> str:
    """Per-doc DSIR score from ANY counts × lambda pair — the shared
    scoring kernel (exact BIGINT micro-unit sums, one final scale)."""
    return f"""
      SELECT /*+ BROADCAST(l) */
             c.doc_id,
             ROUND(CAST(SUM(c.cnt * l.l6) AS DOUBLE) / 1000000 + 1e-9, 6)
               AS dsir_score
      FROM ({cnts_rel}) c JOIN ({lam_rel}) l ON l.bucket = c.bucket
      GROUP BY c.doc_id
    """


def dsir_rank_sql(
    dialect: str,
    cnts_rel: str,
    target_where: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    top_k: int = 100,
    source: str = "documents",
) -> str:
    """The scoring/ranking stages over ANY ``(doc_id, bucket, cnt)``
    relation — shared by the one-statement oracle and the Spark path that
    scans a materialized counts relation."""
    lam = dsir_lambda_sql(
        dialect, "(SELECT * FROM cnts)", target_where, dim, source
    )
    scored = dsir_score_sql(dialect, "SELECT * FROM cnts", "SELECT * FROM lam")
    return f"""
    WITH cnts AS (SELECT * FROM {cnts_rel}),
    lam AS ({lam}),
    scored AS ({scored})
    SELECT doc_id, dsir_score, rk FROM (
      SELECT doc_id, dsir_score, CAST(ROW_NUMBER() OVER (
        ORDER BY dsir_score DESC, doc_id ASC) AS INT) AS rk
      FROM scored
    ) ranked WHERE rk <= {top_k}
    """


def dsir_scores(
    spark,
    target_where: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    top_k: int = 100,
    source: str = "documents",
) -> DataFrame:
    """Spark-path DSIR: materialize the hashed-count relation once, then
    rank.  The one-statement form references ``cnts`` three times (target
    totals, raw totals, per-doc contributions) and Spark re-executes a CTE
    per reference — three token-explode passes over the corpus per query.
    Materialized parquet (the CLAUDE.md expensive-lineage contract) makes
    each reference a bounded columnar scan; value-identical to the oracle
    statement by construction."""
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view

    cnts = materialize_view(
        spark, spark.sql(dsir_cnts_sql("spark", dim, source)), "__dsir_cnts"
    )
    return spark.sql(
        dsir_rank_sql("spark", "{cnts}", target_where, dim, top_k, source),
        cnts=cnts,
    )


def corpus_funnel(spark, top_k: int = 200) -> DataFrame:
    """The WHOLE training-data funnel composed end-to-end (round 6):
    decontaminate (GPT-3 direction, eval split = ``doc_id % 5 = 0``) →
    curate (lang × quality × length × exact-dedup) → DSIR-select the
    ``top_k`` most target-like survivors → temperature-mix (α = 0.5) the
    selection.  Returns one ``(stage, source, n)`` row per stage × source —
    the funnel report a pipeline owner audits before training.

    The point of the entry is COMPOSITION: each stage is the registry's own
    operator, the stages hand off through materialized relations (every
    stage's output is consumed twice — by the next stage and by its report
    row — and Spark re-executes CTE references), and the oracle replays the
    same four stages as ONE nested DuckDB statement, so a column-contract
    break or an ordering assumption between any two stages hash-fails.
    """
    from qradar_restapi_kafka_datapipeline_spark.engine import materialize_view
    from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
        decontaminate_train,
    )

    decon = materialize_view(
        spark, decontaminate_train(spark.table("documents")), "__funnel_decon"
    )
    curated = materialize_view(
        spark, spark.sql(curate_corpus_sql("spark", table="{decon}"), decon=decon),
        "__funnel_curated",
    )
    # DSIR scores need text; curated output is the audit projection
    sel_src = materialize_view(
        spark,
        spark.sql(
            "SELECT c.doc_id, d.source, d.text "
            "FROM {curated} c JOIN {decon} d ON d.doc_id = c.doc_id",
            curated=curated,
            decon=decon,
        ),
        "__funnel_selsrc",
    )
    cnts = materialize_view(
        spark, spark.sql(dsir_cnts_sql("spark", source="{src}"), src=sel_src),
        "__funnel_cnts",
    )
    selected = materialize_view(
        spark,
        spark.sql(
            "SELECT r.doc_id, s.source FROM ("
            + dsir_rank_sql("spark", "{cnts}", top_k=top_k, source="{src}")
            + ") r JOIN {src} s ON s.doc_id = r.doc_id",
            cnts=cnts,
            src=sel_src,
        ),
        "__funnel_selected",
    )
    mixed = materialize_view(
        spark,
        spark.sql(mix_temperature_sql("spark", table="{selected}"), selected=selected),
        "__funnel_mixed",
    )
    stages = {
        "decontaminated": decon,
        "curated": curated,
        "selected": selected,
        "mixed": mixed,
    }
    report = " UNION ALL ".join(
        f"SELECT '{stage}' AS stage, source, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {{{stage}}} GROUP BY source"
        for stage in stages
    )
    return spark.sql(report, **stages)


def corpus_funnel_oracle_sql(top_k: int = 200) -> str:
    """DuckDB twin of :func:`corpus_funnel`: the identical four stages in
    one statement, each stage a MATERIALIZED CTE the next builds on.

    The pre-round-8 form embedded every stage TEXTUALLY in the next and
    again in each UNION branch, so DuckDB (which inlines CTEs and
    re-executes repeated subqueries) re-ran the decontamination pipeline
    ~10x and the 16x-amplified run ground past 75 GiB; stage-per-
    materialized-CTE runs each stage exactly once — the relational
    equivalent of the Spark side's materialize_view posture."""
    from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
        decontaminate_oracle_sql,
    )

    decon = (
        "(SELECT d2.doc_id, d2.source, d2.lang, d2.text FROM documents d2 "
        f"JOIN ({decontaminate_oracle_sql(out_cols='doc_id')}) di "
        "ON di.doc_id = d2.doc_id)"
    )
    union = " UNION ALL ".join(
        f"SELECT '{stage}' AS stage, source, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {rel} x GROUP BY source"
        for stage, rel in (
            ("decontaminated", "decon"),
            ("curated", "curated"),
            ("selected", "selected"),
            ("mixed", "mixed"),
        )
    )
    return f"""
    WITH decon AS MATERIALIZED {decon},
    curated AS MATERIALIZED ({curate_corpus_sql('duckdb', table='decon')}),
    sel_src AS MATERIALIZED (
      SELECT c.doc_id, dd.source, dd.text FROM curated c
      JOIN documents dd ON dd.doc_id = c.doc_id
    ),
    selected AS MATERIALIZED (
      SELECT r.doc_id, s.source FROM
      ({dsir_scores_sql('duckdb', top_k=top_k, source='sel_src')}) r
      JOIN sel_src s ON s.doc_id = r.doc_id
    ),
    mixed AS MATERIALIZED ({mix_temperature_sql('duckdb', table='selected')})
    {union}
    """


def corpus_drift_js_sql(
    dialect: str,
    old_pred: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    source: str = "documents",
) -> str:
    """Cross-snapshot DRIFT monitor (round 8): Jensen–Shannon divergence
    between the OLD (``old_pred``) and NEW snapshots' hashed-bigram
    distributions — the recurring-crawl health check run before folding a
    delivery in (a JS spike means the crawler's content mix moved and the
    frozen DSIR/classifier selectors need retraining).

    Exact-integer discipline end to end (the DSIR lesson): with add-one
    smoothing over ``dim`` buckets, p_b, q_b, and the mixture m are
    RATIONALS with BIGINT numerators/denominators, so each per-bucket
    ln(p/m) takes ONE ln of an exact integer ratio → 1e-6-unit BIGINT;
    KL sums are Σ (c+1)·l6 — pure BIGINT, order-free — and doubles
    appear only in the two terminal divides.  A ``dim``-row spine makes
    NEVER-SEEN buckets contribute too (their smoothed masses differ
    whenever the snapshot totals differ — the cm-spine lesson, ADVICE
    r7).  Plan: one token explode + one (bucket × side) aggregate; the
    bounded dim-row term relation does driver-free scalar math.  The
    snapshot side rides INSIDE the count pass as doc_id parity
    (``doc_id·2 + is_new``): the first draft joined a doc-level flag
    relation onto the counts and planned three SortMergeJoins — caught
    by the plan-report assertion at generation; side-in-the-key costs
    nothing and leaves the spine as the only join.  At
    extreme scale the BIGINT products (c+1)·(tot+dim) overflow past
    ~3e9 total bigrams per side — ANSI Spark and DuckDB both raise
    loudly there; pre-scale counts if a corpus ever reaches it."""
    from qradar_restapi_kafka_datapipeline_spark.operators.sketches import (
        _seeds,
    )

    mat = "MATERIALIZED " if dialect == "duckdb" else ""
    sided = (
        f"(SELECT doc_id * 2 + (CASE WHEN {old_pred} THEN 0 ELSE 1 END) "
        f"AS doc_id, text FROM {source})"
    )
    cnts = dsir_cnts_sql(dialect, dim, sided)
    mix = "(b.cp + 1) * (tots.tq + {d}) + (b.cq + 1) * (tots.tp + {d})".format(
        d=dim
    )
    return f"""
    WITH cnts AS {mat}({cnts}),
    flag AS (
      SELECT doc_id, CASE WHEN {old_pred} THEN 0 ELSE 1 END AS is_new
      FROM {source}
    ),
    seen AS (
      SELECT c.bucket,
             CAST(SUM(CASE WHEN c.doc_id % 2 = 0 THEN c.cnt ELSE 0 END)
                  AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN c.doc_id % 2 = 1 THEN c.cnt ELSE 0 END)
                  AS BIGINT) AS cq
      FROM cnts c
      GROUP BY c.bucket
    ),
    byb AS (
      SELECT /*+ BROADCAST(s) */ sp.i AS bucket,
             CAST(COALESCE(s.cp, 0) AS BIGINT) AS cp,
             CAST(COALESCE(s.cq, 0) AS BIGINT) AS cq
      FROM ({_seeds(dialect, dim)}) sp LEFT JOIN seen s ON s.bucket = sp.i
    ),
    tots AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(cq) AS BIGINT) AS tq
      FROM byb
    ),
    terms AS (
      SELECT b.cp + 1 AS ap, b.cq + 1 AS aq,
             CAST(ROUND((LN(CAST(2 * (b.cp + 1) * (tots.tq + {dim})
                                 AS DOUBLE)
                            / CAST({mix} AS DOUBLE)) + 1e-9) * 1000000)
                  AS BIGINT) AS lp6,
             CAST(ROUND((LN(CAST(2 * (b.cq + 1) * (tots.tp + {dim})
                                 AS DOUBLE)
                            / CAST({mix} AS DOUBLE)) + 1e-9) * 1000000)
                  AS BIGINT) AS lq6
      FROM byb b CROSS JOIN tots
    ),
    kls AS (
      SELECT CAST(SUM(ap * lp6) AS BIGINT) AS sp6,
             CAST(SUM(aq * lq6) AS BIGINT) AS sq6
      FROM terms
    ),
    docs AS (
      SELECT CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
             CAST(SUM(is_new) AS BIGINT) AS n_new
      FROM flag
    )
    SELECT docs.n_old, docs.n_new, tots.tp AS bigrams_old,
           tots.tq AS bigrams_new,
           ROUND(0.5 * (CAST(kls.sp6 AS DOUBLE) / 1000000
                        / CAST(tots.tp + {dim} AS DOUBLE)
                        + CAST(kls.sq6 AS DOUBLE) / 1000000
                        / CAST(tots.tq + {dim} AS DOUBLE)) + 1e-9, 6)
               AS js_nats
    FROM kls CROSS JOIN tots CROSS JOIN docs
    """


def build_dsir_selector(
    spark,
    path: str,
    target_where: str = "source IN ('src0', 'src1')",
    dim: int = 1024,
    source: str = "documents",
) -> None:
    """Persist the DSIR selector — the ``(bucket, l6)`` importance
    log-ratio relation — as an oracle-readable artifact (the frozen-
    quantizer posture of the IVF/PQ/BPE/classifier artifacts): incoming
    crawl batches are scored against FROZEN corpus statistics, never by
    recomputing them."""
    lam = dsir_lambda_sql(
        "spark", f"({dsir_cnts_sql('spark', dim, source)})",
        target_where, dim, source,
    )
    spark.sql(lam).coalesce(1).write.mode("overwrite").parquet(path)


def dsir_apply_sql(
    dialect: str,
    artifact: str,
    new_source: str,
    dim: int = 1024,
    keep_threshold: float = 0.0,
) -> str:
    """Score NEW documents with a frozen selector artifact: featurize with
    the SAME hashed-bigram counts the trainer used, join the broadcast
    ``(bucket, l6)`` relation, exact micro-unit sums, verdict at
    ``keep_threshold`` (0 = more target-like than raw).  Incremental-apply
    is one linear pass over the batch — corpus statistics are never
    touched, exactly like IVF append reusing the persisted quantizer."""
    if dialect == "spark":
        lam = f"SELECT bucket, l6 FROM parquet.`{artifact}`"
    else:
        lam = f"SELECT bucket, l6 FROM '{artifact}/*.parquet'"
    cnts = dsir_cnts_sql(dialect, dim, new_source)
    scored = dsir_score_sql(dialect, cnts, lam)
    return f"""
    SELECT doc_id, dsir_score,
           CAST(dsir_score >= {keep_threshold!r} AS BOOLEAN) AS keep
    FROM ({scored}) s
    """


def mix_token_budget_sql(
    dialect: str, table: str = "documents", strat_col: str = "lang"
) -> str:
    """Per-STRATUM token budget report for the temperature mixture (round
    7) — the planning question a pretraining run asks before launch: for
    each stratum, how many docs/tokens exist, what keep-rate the α=0.5
    rule assigns, and how many docs/tokens the gated mix actually
    delivers.  Default stratum = ``lang``, the canonical multilingual
    context (and the one skewed axis of the synthetic corpus: en 218 vs
    fr 64 at sf0.01 — the sources are uniform, which would make the rule
    an identity).  Pure composition of the shared mixture and token-count
    definitions (one scan for the counts, one for the gate — both
    corpus-linear, no shuffle wider than |strata|); everything integer
    (token sums as BIGINT, rates as basis points), so the report
    hash-checks."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        word_count_sql,
    )

    wc = word_count_sql("t.text", dialect)
    kept = mix_temperature_sql(dialect, table=table, strat_col=strat_col)
    return f"""
    WITH tok AS (
      SELECT t.doc_id, t.{strat_col} AS stratum, CAST({wc} AS BIGINT) AS n_tok
      FROM {table} t
    ),
    kept AS ({kept}),
    totals AS (
      SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM tok GROUP BY stratum
    ),
    kept_agg AS (
      SELECT k.{strat_col} AS stratum, CAST(MAX(k.rate_bp) AS INT) AS rate_bp,
             CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(t2.n_tok) AS BIGINT) AS kept_tokens
      FROM kept k JOIN tok t2 ON t2.doc_id = k.doc_id
      GROUP BY k.{strat_col}
    )
    SELECT t.stratum, t.n_docs, t.n_tokens,
           COALESCE(ka.rate_bp, 0) AS rate_bp,
           CAST(COALESCE(ka.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(ka.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM totals t LEFT JOIN kept_agg ka ON ka.stratum = t.stratum
    """


def weighted_sample_sql(
    dialect: str,
    k: int = 100,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """Weighted k-sample WITHOUT replacement, deterministic (round 7):
    Efraimidis–Spirakis (2006) priorities ``u^(1/w)`` — equivalently
    ``ln(u)/w`` ranked descending — with ``u`` derived from the portable
    id hash instead of a RNG, so the sample is reproducible, auditable,
    and engine-portable like every sampler here.  Weight = the shared
    whitespace token count: sampling documents proportional to their
    TOKEN mass, the budget-correct way to draw a training subset (doc-
    uniform sampling over-represents short docs per token).

    Cross-engine determinism: ``u = (h + 1) / 2^60`` is one exact double
    division; the only libm call is LN, whose last-ulp spread (~1e-16 at
    these magnitudes) is absorbed by ROUND(priority, 9) — a rank flip
    would need two rounded priorities equal, which the 60-bit hash makes
    measure-zero (ties settle by id anyway).  Plan: one scan, constant
    per-row math, global top-k (TakeOrderedAndProject — per-partition
    heaps, k·n_partitions merge)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        word_count_sql,
    )

    h = portable_id_hash_sql(f"t.{id_col}", dialect)
    wc = word_count_sql("t.text", dialect)
    two60 = f"CAST({2 ** 60} AS DOUBLE)"
    return f"""
    SELECT {id_col}, n_tok, pri FROM (
      SELECT t.{id_col} AS {id_col},
             CAST({wc} AS BIGINT) AS n_tok,
             ROUND(LN((CAST({h} AS DOUBLE) + CAST(1 AS DOUBLE)) / {two60})
                   / CAST({wc} AS DOUBLE), 9) AS pri
      FROM {table} t
    ) scored
    ORDER BY pri DESC, {id_col} ASC
    LIMIT {k}
    """

"""Boilerplate detection for training-data pipelines (north-star M6).

RefinedWeb/CCNet-style pipelines strip text fragments repeated across many
documents of the same source (nav bars, footers, license blurbs): repeated
fragments are detected by hashing each fragment and counting the DISTINCT
documents it appears in.  The synthetic corpus has no newline structure, so
the fragment unit here is the word 5-gram — the same detection shape
(explode fragments → distinct-doc count → join back), and at scale the same
distribution contract as the dedup shingle pipeline: the shuffle carries
(source, fragment-hash) pairs, never document text.

Dialect-common SQL builders (Spark + DuckDB from one function), per the
repo's shared-SQL convention.  No Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NGRAM = 5


def _ngram_cte(dialect: str, source: str = "documents") -> str:
    """CTE chain producing ``g(doc_id, source, ngram)`` — one row per word
    5-gram position.  Docs shorter than 5 words emit no rows (guarded: Spark's
    ``sequence(1, 0)`` would count DOWN, so the upper bound is clamped)."""
    if dialect == "spark":
        return (
            f"w AS (SELECT doc_id, source, split(trim(text), '\\\\s+') AS w "
            f"FROM {source}), "
            "g AS (SELECT doc_id, source, "
            f"concat_ws(' ', slice(w, i, {NGRAM})) AS ngram "
            "FROM (SELECT doc_id, source, w, "
            f"explode(sequence(1, greatest(size(w) - {NGRAM - 1}, 1))) AS i "
            f"FROM w WHERE size(w) >= {NGRAM}) t)"
        )
    if dialect == "duckdb":
        return (
            f"w AS (SELECT doc_id, source, "
            f"regexp_split_to_array(trim(text), '\\s+') AS w FROM {source}), "
            "g AS (SELECT doc_id, source, "
            f"array_to_string(w[i:i + {NGRAM - 1}], ' ') AS ngram "
            f"FROM w, UNNEST(generate_series(1, greatest(len(w) - {NGRAM - 1}, 1))) "
            f"AS t(i) WHERE len(w) >= {NGRAM})"
        )
    raise ValueError(f"unknown dialect {dialect!r}")


def boilerplate_ngrams_sql(
    dialect: str, min_docs: int = 2, source: str = "documents"
) -> str:
    """Fragments repeated across ≥ ``min_docs`` DISTINCT docs of one source.

    Output: ``(source, ngram, n_docs)``.  At 100 TB the GROUP BY keys on
    (source, ngram) — map-side partial counting collapses per-doc repeats
    before the shuffle, and the output relation (the boilerplate lexicon) is
    tiny, broadcastable into the strip/coverage pass.
    """
    return (
        f"WITH {_ngram_cte(dialect, source)} "
        "SELECT source, ngram, COUNT(DISTINCT doc_id) AS n_docs "
        "FROM g GROUP BY source, ngram "
        f"HAVING COUNT(DISTINCT doc_id) >= {min_docs}"
    )


def boilerplate_coverage_sql(
    dialect: str, min_docs: int = 2, source: str = "documents"
) -> str:
    """Per-document boilerplate coverage: fraction of 5-gram positions whose
    fragment is in the repeated-fragment lexicon of the doc's source.

    Output: ``(doc_id, n_ngrams, n_boiler, boiler_frac)`` for affected docs —
    the relation a curation funnel thresholds on (C4 drops docs dominated by
    boilerplate).  The lexicon side of the join is small → broadcast; the
    per-position side never carries text past the GROUP BY.
    """
    return f"""
    WITH {_ngram_cte(dialect, source)},
    lex AS (SELECT source AS lsource, ngram AS lngram FROM g
            GROUP BY source, ngram
            HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    pos AS (
      SELECT g.doc_id, COUNT(*) AS n_ngrams,
             CAST(SUM(CASE WHEN l.lngram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM g LEFT JOIN lex l ON g.source = l.lsource AND g.ngram = l.lngram
      GROUP BY g.doc_id
    )
    SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams, n_boiler,
           ROUND(n_boiler * 1.0 / n_ngrams + 1e-9, 6) AS boiler_frac
    FROM pos WHERE n_boiler > 0
    """


def boilerplate_coverage(
    spark, min_docs: int = 2, source: str = "documents"
) -> DataFrame:
    """Spark production form of :func:`boilerplate_coverage_sql`: the n-gram
    relation ``g`` is built ONCE and persisted, then feeds both the lexicon
    aggregate and the per-position join — the one-SQL CTE form re-inlines
    ``g`` into each consumer, paying the explode twice.  Same relation,
    parity-tested (tests/test_pii_boilerplate_semdedup.py).

    The source is spread first (CLAUDE.md explode rule: single-file inputs
    scan as one partition).  Cache contract as in ``dedup.minhash_lsh_pairs``:
    the returned plan reads ``g`` lazily; the next call releases it.
    """
    from qradar_restapi_kafka_datapipeline_spark.engine import persist_tracked
    from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _spread

    g = persist_tracked(
        spark.sql(
            f"WITH {_ngram_cte('spark', '{src}')} "
            "SELECT doc_id, source, ngram FROM g",
            src=_spread(spark.table(source), by="doc_id"),
        ),
        "__boilerplate_g",
    )
    lex = (
        g.groupBy("source", "ngram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select(
            F.col("source").alias("lsource"), F.col("ngram").alias("lngram")
        )
    )
    pos = (
        g.join(
            lex,
            (g["source"] == lex["lsource"]) & (g["ngram"] == lex["lngram"]),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("lngram").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_boiler"),
        )
    )
    return (
        pos.where(F.col("n_boiler") > 0)
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            "n_boiler",
            F.round(
                F.col("n_boiler") / F.col("n_ngrams") + F.lit(1e-9), 6
            ).alias("boiler_frac"),
        )
    )

"""Cross-split contamination check for training-data pipelines (north-star M6).

Before training, every eval/test document must be screened against the train
split for n-gram overlap — a test doc whose shingles largely appear somewhere
in the train corpus is contaminated and inflates benchmark scores.  (The
reference pipeline has no analog; this extends the engine's dedup family —
reference architecture context: vikramaditya-tatke/qradar-restapi-kafka-datapipeline
``etl.py:16-49`` is a per-event transform with no corpus-level analysis.)

Spark shape (all built-ins, no Python in the row path):

1. split the corpus by a deterministic id predicate (train / test),
2. shingle both sides with the SAME ``_word_shingles`` the dedup family uses
   (one explode + map-side-distinct projection per side),
3. ``left_semi`` join test shingles against the DISTINCT train shingle set —
   an equi-join shuffle-partitioned on the shingle, no cross product,
4. per-test-doc counts → contamination rate.

At 100 TB the train shingle set is the big side; the semi-join hashes both
sides by shingle so each bucket joins locally.  When the test split is small
(the usual case: eval sets are tiny), Catalyst/AQE broadcasts the TEST side's
shingles instead — either orientation avoids a cross product.

No hand-built Bloom prefilter: an earlier variant tested a broadcast bitmap
of eval-shingle bits before the exact semi-join, but Catalyst pushes the
``LeftSemi`` join on ``shingle`` BELOW the bit-test join (a logical rewrite,
so at any scale), so the bit checks only saw rows that had already passed
the exact join.  The bitmap removed no rows and cost four extra stages per
call.  For large shuffled joins Spark can inject its own runtime Bloom
filter (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark.operators.dedup import _word_shingles


def contamination_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    test_mod: int = 5,
) -> DataFrame:
    """Per-test-document train-overlap report.

    Split rule: ``id % test_mod == 0`` → test, else train (deterministic, so
    the DuckDB oracle reproduces it exactly).  Returns one row per test doc:
    ``(doc_id, n_shingles, n_contaminated, contamination_rate)`` where the
    rate is the fraction of the doc's DISTINCT word-``shingle_k``-grams that
    appear in ANY train document.
    """
    test = df.where(F.col(id_col) % test_mod == 0)
    train = df.where(F.col(id_col) % test_mod != 0)
    test_sh = _word_shingles(test, id_col, text_col, shingle_k)
    train_sh = (
        _word_shingles(train, id_col, text_col, shingle_k)
        .select("shingle")
        .distinct()
    )
    counts = test_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        test_sh.join(train_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        counts.join(hits, id_col, "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn(
            "contamination_rate",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
        .select(id_col, "n_shingles", "n_contaminated", "contamination_rate")
    )


def decontaminate_train(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    test_mod: int = 5,
    max_rate: float = 0.5,
) -> DataFrame:
    """The REMOVAL action behind :func:`contamination_report`, in the
    GPT-3/PaLM direction: drop TRAIN documents whose shingle overlap with
    the eval split exceeds ``max_rate`` (training on eval content inflates
    benchmarks; the eval set itself is fixed, so the train side is what gets
    scrubbed).  Returns the surviving train docs.

    Same join discipline as the report with the sides swapped: the TEST
    shingle set is the DISTINCT small side (eval sets are tiny), so AQE
    broadcasts it into the semi-join against train shingles — one pass over
    the train corpus at any scale.  Where both sides are large and the join
    shuffles, Spark may inject its own runtime Bloom filter on the train
    side; the module docstring says why there is no hand-built one.
    """
    train = df.where(F.col(id_col) % test_mod != 0)
    test_sh = (
        _word_shingles(
            df.where(F.col(id_col) % test_mod == 0), id_col, text_col, shingle_k
        )
        .select("shingle")
        .distinct()
    )
    train_sh = _word_shingles(train, id_col, text_col, shingle_k)
    counts = train_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    hits = (
        train_sh.join(test_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    flagged = (
        counts.join(hits, id_col)
        .where(F.col("__h") / F.col("__n") > max_rate)
        .select(id_col)
    )
    return train.join(flagged, id_col, "left_anti")


# the benchmark's workloads call this name; they change only with the benchmark
decontaminate_train_bloom = decontaminate_train


def decontaminate_oracle_sql(
    source: str = "documents",
    shingle_k: int = 3,
    test_mod: int = 5,
    max_rate: float = 0.5,
    out_cols: str = "doc_id, source, lang",
) -> str:
    """DuckDB twin of :func:`decontaminate_train` (shared shingle CTE shape
    with :func:`contamination_oracle_sql`, roles swapped)."""
    cols = ", ".join(f"w[i+{j}]" for j in range(shingle_k))
    return f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM {source}
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', {cols}) AS shingle
      FROM docs,
        UNNEST(generate_series(1, greatest(len(w) - {shingle_k - 1}, 1))) AS t(i)
    ),
    test_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {test_mod} = 0),
    train AS (SELECT * FROM sh WHERE doc_id % {test_mod} != 0),
    rates AS (
      SELECT doc_id,
             SUM(CASE WHEN shingle IN (SELECT shingle FROM test_sh)
                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS r
      FROM train GROUP BY doc_id
    )
    SELECT {out_cols} FROM {source}
    WHERE doc_id % {test_mod} != 0
      AND doc_id NOT IN (SELECT doc_id FROM rates WHERE r > {max_rate})
    """


def contamination_oracle_sql(
    source: str = "documents", shingle_k: int = 3, test_mod: int = 5
) -> str:
    """DuckDB oracle: identical split rule + shingle semantics (partial final
    shingle for docs shorter than k words — concat_ws skips NULL elements in
    both engines, matching the dedup family's existing jaccard oracle)."""
    cols = ", ".join(f"w[i+{j}]" for j in range(shingle_k))
    return f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM {source}
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', {cols}) AS shingle
      FROM docs,
        UNNEST(generate_series(1, greatest(len(w) - {shingle_k - 1}, 1))) AS t(i)
    ),
    test AS (SELECT * FROM sh WHERE doc_id % {test_mod} = 0),
    train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {test_mod} != 0),
    counts AS (SELECT doc_id, COUNT(*) AS n_shingles FROM test GROUP BY 1),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_contaminated FROM test
      WHERE shingle IN (SELECT shingle FROM train) GROUP BY 1
    )
    SELECT c.doc_id, c.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           ROUND(COALESCE(h.n_contaminated, 0) * 1.0 / c.n_shingles, 6)
             AS contamination_rate
    FROM counts c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """

"""Streaming text-curation pipe — the north-star ops as a document stream.

A training-data pipeline doesn't only run curation as batch sweeps: documents
arrive continuously (crawl landings, upload queues) and the stateless scoring
pass — language-ID, quality, token counts, PII scrub — runs as a Structured
Streaming projection with exactly the SQL expressions the batch path uses
(operators/text.py, operators/pii.py: one source of truth, so the streaming
result is oracle-checkable against the batch recompute).

The replay harness streams the documents table in Spark-written hash splits
(no driver materialization, same discipline as streaming/rollup_stream.py).
Stateless projections need no watermark: every micro-batch appends its scored
rows and the union over batches equals the batch relation row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from qradar_restapi_kafka_datapipeline_spark.operators.pii import pii_redact_sql
from qradar_restapi_kafka_datapipeline_spark.operators.text import (
    lang_id_sql,
    quality_score_sql,
    word_count_sql,
)
from qradar_restapi_kafka_datapipeline_spark.parts import (
    hash_batches,
    land,
    replay_epochs,
)


def curation_projection(dialect: str) -> list[str]:
    """The scored-document columns, one dialect-common definition.

    ``redacted_chars`` rides the PII chain so the scrub is part of the
    streamed plan (the synthetic docs are clean, so it equals ``n_chars`` —
    the point is the expression runs per micro-batch, value-checked).
    """
    return [
        "doc_id",
        f"{lang_id_sql('text')} AS lang_pred",
        f"{quality_score_sql('text', dialect)} AS quality",
        f"CAST({word_count_sql('text', dialect)} AS BIGINT) AS n_words",
        f"CAST(length({pii_redact_sql('text', dialect)}) AS BIGINT) "
        "AS redacted_chars",
    ]


def curation_projection_sql(dialect: str, source: str = "documents") -> str:
    """:func:`curation_projection` over ``source``."""
    return f"SELECT {', '.join(curation_projection(dialect))} FROM {source}"


def curate_documents_streaming(spark, sf_dir: str, n_batches: int = 3) -> DataFrame:
    """Replay the documents table through the streaming curation projection
    and return the scored relation — parity proof that the streamed pass
    computes exactly the batch relation (oracle: the same projection in
    DuckDB over the full table).
    """
    import os
    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = scratch_dir("curation_stream_")
    stream = land(
        spark, hash_batches(docs, ["doc_id"], n_batches),
        os.path.join(base, "landing"),
    )
    # the projection's PII regexes carry literal braces, which spark.sql's
    # DataFrame-argument formatting would read as placeholders
    scored = stream.selectExpr(*curation_projection("spark"))
    out, ckpt = os.path.join(base, "scored"), os.path.join(base, "ckpt")
    (
        scored.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(out)


def dsir_apply_streaming(
    spark,
    artifact: str,
    new_batch_sql: str,
    n_batches: int = 3,
    _crash_after_write_epoch: int | None = None,
) -> DataFrame:
    """Score a replayed NEW-document stream against a FROZEN DSIR selector
    (round 7, VERDICT r6 #4): the frozen-apply shape
    (:func:`~qradar_restapi_kafka_datapipeline_spark.operators.curation.dsir_apply_sql`)
    is exactly the stream-scoring posture — corpus statistics frozen in the
    ``(bucket, l6)`` artifact, one linear pass per batch — so the streaming
    twin is the batch kernel run per micro-batch via foreachBatch (the
    per-doc bigram self-join and score aggregate are intra-batch: each
    document lands whole in its hash split, so the union over batches
    equals the one-shot apply row-for-row).

    Output lands as per-epoch immutable parts (the round-7 replay-safe
    protocol shared with the sketch folds: a replayed epoch overwrites its
    own part, no commit window); ``_crash_after_write_epoch`` injects a
    crash for the replay test.  The gate oracle recomputes the whole apply
    from the artifact in DuckDB, so a lost/duplicated batch or any drift
    from the batch kernel hash-fails.
    """
    import os

    from qradar_restapi_kafka_datapipeline_spark.engine import scratch_dir
    from qradar_restapi_kafka_datapipeline_spark.operators.curation import (
        dsir_apply_sql,
    )

    docs = spark.sql(f"SELECT doc_id, text FROM {new_batch_sql} nb")
    base = scratch_dir("dsir_stream_")
    out = os.path.join(base, "scored")

    def scored(batch: DataFrame) -> DataFrame:
        return batch.sparkSession.sql(
            dsir_apply_sql("spark", artifact, "{batch}"), batch=batch
        )

    replay_epochs(
        spark, docs, ["doc_id"], n_batches, base, out, scored,
        crash_after_write_epoch=_crash_after_write_epoch,
    )
    return spark.read.parquet(out).select("doc_id", "dsir_score", "keep")

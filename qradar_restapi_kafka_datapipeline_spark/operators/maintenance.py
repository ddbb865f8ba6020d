"""Table maintenance: roll-up compaction + streaming metrics (SURVEY §2 B11/B22).

Continuous merge ingestion (streaming/rollup_stream.py) leaves each day
partition with one file set per micro-batch epoch — the small-files problem
that kills scan throughput at scale (file-open overhead dominates under ~32 MB
files).  ``compact_rollup`` rewrites partitions to a target file count, the
parquet analog of ClickHouse's background merges (the part of SummingMergeTree
the reference got for free, reference ``clickhouse/clickhouse.py:74``).

``MetricsListener`` is the engine-side replacement for the reference's
structured pipeline logger (``pipeline_logger.py:7-63``): per-batch
rows/duration from the StreamingQueryListener bus instead of hand-rolled
counters.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from qradar_restapi_kafka_datapipeline_spark.parts import (
    epochs,
    index_kind,
    read_merged,
    read_tombstones,
    stream_log,
    tombstone_log,
)


def compact_rollup(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
    partition_col: str = "event_date",
) -> int:
    """Rewrite a day-partitioned roll-up with ``target_files_per_partition``
    files per day. Returns partitions rewritten. Idempotent (same data,
    same collapse keys — only the file layout changes)."""
    df = spark.read.parquet(path)
    # Driver-side collect is bounded by the DAY count of the roll-up (one
    # value per partition directory — a few thousand rows after a decade),
    # not by data volume; this is maintenance metadata, not a data path.
    parts = [r[0] for r in df.select(partition_col).distinct().collect()]
    (
        df.repartition(target_files_per_partition * max(len(parts), 1),
                       F.col(partition_col))
        .sortWithinPartitions(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return len(parts)


# ---------------------------------------------------------------------------
# Unified index retention/vacuum (round 13, VERDICT r12 #5): tombstone logs,
# per-epoch parts and streamed code/assignment trees each had ad-hoc cleanup
# (compact_text_index, compact_hybrid_index, compact_ivf_index,
# compact_ivfpq_index, compact_tf_parts) but NOTHING measured the debt — at
# 100 TB the operational question is WHEN to compact, and the answer needs
# numbers: how many part files the serve must open, how many epochs the
# stream log holds, and what fraction of the stored rows every serve pays
# to scan-then-anti-join away.  The layouts are parts.INDEX_KINDS.
# ---------------------------------------------------------------------------


def _count_files(root: str) -> int:
    import os

    n = 0
    for _, _, files in os.walk(root):
        n += sum(1 for f in files
                 if not f.startswith((".", "_")) and f.endswith(".parquet"))
    return n


def index_debt_report(spark: SparkSession, path: str, kind: str) -> dict:
    """Measure a maintained index artifact's compaction debt.

    Returns ``{kind, n_files, n_stream_epochs, n_tombstones, total_rows,
    masked_rows, masked_fraction}``:

    - ``n_files`` — parquet files a cold serve must open (the small-files
      debt the per-epoch/append protocols accrete);
    - ``n_stream_epochs`` — immutable stream-log parts not yet folded
      into the base tree;
    - ``masked_rows`` / ``masked_fraction`` — rows the tombstone
      anti-join discards at EVERY serve (the takedown debt; the fraction
      is what the vacuum policy thresholds on).

    Cost posture: file/epoch counts are pure directory metadata; the row
    counts are one column-pruned scan of the id column plus a broadcast
    semi-join against the distinct tombstones — the same bounded work a
    single serve already does, run once per maintenance decision (at real
    scale this is a metadata query against table statistics, not a data
    pass per user query).
    """
    data, stream, id_col, _ = index_kind(kind, "index_debt_report")
    # a "parts" tree (compact_tf_parts' input) IS the path: its epoch parts
    # are its stream debt, and its tombstones live in a SEPARATE del-parts
    # tree (the streamed-serve convention), so no masked debt shows here
    base = path if data is None else f"{path}/{data}"
    log = stream_log(path, kind) if stream else None
    n_files = _count_files(base) + (_count_files(log) if log else 0)
    n_stream_epochs = len(epochs(spark, log or base))
    rel = read_merged(spark, path, kind, [id_col])
    total = rel.count()
    masked = 0
    n_tomb = 0
    tomb = read_tombstones(spark, tombstone_log(path), id_col)
    if tomb is not None:
        n_tomb = tomb.count()
        masked = rel.join(F.broadcast(tomb), id_col, "left_semi").count()
    return {
        "kind": kind,
        "n_files": n_files,
        "n_stream_epochs": n_stream_epochs,
        "n_tombstones": n_tomb,
        "total_rows": total,
        "masked_rows": masked,
        "masked_fraction": round(masked / total, 6) if total else 0.0,
    }


def vacuum_index(
    spark: SparkSession,
    path: str,
    kind: str,
    max_masked_fraction: float = 0.2,
    max_stream_epochs: int = 8,
    max_files: int = 256,
    dim: int = 4096,
) -> dict:
    """Policy-driven maintenance for any maintained index: measure the
    debt (:func:`index_debt_report`) and compact — dispatching to the
    index's own value-neutral compactor — when any threshold trips.
    Returns the report plus ``{"action": "none" | "compacted",
    "after": <post-compaction report>}``.

    Default thresholds: ``max_masked_fraction=0.2`` — the measured
    serve-latency-vs-debt curve (DESIGN.md round-13) shows the tombstone
    anti-join itself stays cheap (broadcast semi over distinct ids), so
    the real cost of debt is the wasted scan of masked rows, linear in
    the fraction; 20% bounds that waste at ~1.25x the compacted scan.
    ``max_stream_epochs=8`` / ``max_files=256`` bound file-open overhead
    before it dominates small scans.  Compaction is value-neutral by
    each compactor's own pinned contract (serve-before ≡ serve-after);
    the threshold trigger itself is pytest-pinned.

    Note: a FULLY-deleted index (every row tombstoned) makes the
    text/ivf/ivfpq compactors raise before staging anything — that is the
    documented drop-the-directory state, surfaced loudly rather than
    auto-destroyed here.
    """
    import importlib
    import inspect

    report = index_debt_report(spark, path, kind)
    trip = (
        report["masked_fraction"] > max_masked_fraction
        or report["n_stream_epochs"] > max_stream_epochs
        or report["n_files"] > max_files
    )
    if not trip:
        return {**report, "action": "none"}
    module, name = index_kind(kind, "vacuum_index")[3].split(".")
    compact = getattr(importlib.import_module(f"{__package__}.{module}"), name)
    kw = {"dim": dim} if "dim" in inspect.signature(compact).parameters else {}
    compact(spark, path, **kw)
    return {**report, "action": "compacted",
            "after": index_debt_report(spark, path, kind)}


@dataclass
class BatchMetric:
    batch_id: int
    num_input_rows: int
    duration_ms: int


@dataclass
class MetricsListener(StreamingQueryListener):
    """Collects per-micro-batch throughput; optionally emits JSON lines
    (the reference's ujson log-record shape, pipeline_logger.py:22-40)."""

    emit_json: bool = False
    batches: list[BatchMetric] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        m = BatchMetric(
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            duration_ms=sum((p.durationMs or {}).values()),
        )
        self.batches.append(m)
        if self.emit_json:
            print(json.dumps({
                "event": "batch_complete",
                "batch_id": m.batch_id,
                "records_inserted": m.num_input_rows,
                "duration_ms": m.duration_ms,
            }))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    @property
    def total_rows(self) -> int:
        return sum(b.num_input_rows for b in self.batches)

"""The commit and recovery protocol of every maintained artifact.

Three mechanisms, each implemented here once:

- **Per-epoch parts.**  A streamed fold lands each micro-batch as its own
  immutable part ``root/epoch=N`` with ``mode=overwrite``: a replayed epoch
  (a crash after the part write, before the checkpoint commit) rewrites
  exactly its own part, so there is no commit window and no double fold.
  Readers merge the parts (SUM / MAX / union).  This is the idempotent-sink
  half of Structured Streaming's exactly-once design; the checkpoint's
  ``commits/`` log is the other half.  :func:`replay_epochs` is the replay
  harness every streamed fold runs on.
- **Two-rename swap.**  A compactor stages the new tree at ``tmp``, moves
  the live tree to ``old``, moves ``tmp`` to live, and only then deletes
  ``old`` (:func:`swap_dir`).  Every crash point leaves either the old or
  the new tree intact.
- **Recovery.**  :func:`heal_swap` repairs the states a killed swap leaves
  behind; every compactor calls it on entry.
- **Tombstones and the merged read.**  A delete appends ids to a tombstone
  log (:func:`append_tombstones`); serves and compactors read base tree ∪
  stream log − tombstones (:func:`read_live`).  :data:`INDEX_KINDS` maps
  each maintained-index kind to its layout.

All filesystem access goes through the Hadoop FileSystem API
(:func:`hadoop_fs`), so the same code serves local, HDFS and object-store
paths.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qradar_restapi_kafka_datapipeline_spark import engine

#: mtime of the first landed batch file; later files are 10 s apart, so a
#: ``maxFilesPerTrigger=1`` file stream reads them one per micro-batch, in
#: order
_LANDING_MTIME = 1_700_000_000

#: :func:`heal_swap` outcomes, least to most severe
_HEAL_OUTCOMES = ("ok", "dropped_tmp", "dropped_stale_old", "restored_old")


# --- filesystem ----------------------------------------------------------------


def hadoop_fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path``: the Hadoop filesystem that owns
    it and the ``org.apache.hadoop.fs.Path`` constructor."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def exists(spark, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath(path)))


def delete(spark, path: str) -> None:
    """Recursively delete ``path``; a missing path is a no-op."""
    fs, hpath = hadoop_fs(spark, path)
    fs.delete(hpath(path), True)


def list_names(spark, root: str) -> list[str]:
    """Names of the direct children of ``root``; ``[]`` if it is missing.
    Any other access failure raises."""
    fs, hpath = hadoop_fs(spark, root)
    p = hpath(root)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def has_data_files(spark, root: str) -> bool:
    """Whether any parquet data file lies under ``root`` (markers such as
    ``_SUCCESS`` and hidden files don't count).  A file listing, no job."""
    fs, hpath = hadoop_fs(spark, root)
    p = hpath(root)
    if not fs.exists(p):
        return False
    files = fs.listFiles(p, True)
    while files.hasNext():
        name = files.next().getPath().getName()
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            return True
    return False


# --- per-epoch parts -------------------------------------------------------------


def epoch_path(root: str, epoch: int) -> str:
    """The part directory of ``epoch`` in the parts tree at ``root``."""
    return f"{root}/epoch={epoch}"


def epochs(spark, root: str) -> list[int]:
    """The epoch numbers of the parts under ``root``, ascending."""
    return sorted(
        int(n.split("=", 1)[1])
        for n in list_names(spark, root)
        if n.startswith("epoch=")
    )


def _write_split(df: DataFrame, path: str) -> None:
    """Land one replay batch as a single parquet FILE at ``path``, written by
    SPARK (executors write, the driver only renames the part file) — the
    replay harness never materializes the corpus driver-side, so its shape
    stays honest at any scale."""
    import glob
    import shutil

    tmp = path + "_tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)


def hash_batches(rel: DataFrame, cols: list, n_batches: int) -> list[DataFrame]:
    """Split ``rel`` into ``n_batches`` relations by a deterministic hash of
    ``cols`` (names or Columns).  Any split merges to the same result, and a
    hash split spreads each hour and key over the batches, so the merge
    path, not just the first insert, runs."""
    keyed = rel.withColumn("__b", F.pmod(F.xxhash64(*cols), F.lit(n_batches)))
    return [keyed.where(F.col("__b") == i).drop("__b") for i in range(n_batches)]


def land(spark, batches: list[DataFrame], landing: str) -> DataFrame:
    """Write each relation of ``batches`` as one parquet file under
    ``landing`` and return the file stream that reads them back, one file
    per micro-batch, in list order."""
    os.makedirs(landing)
    for i, df in enumerate(batches):
        path = os.path.join(landing, f"b{i:03d}.parquet")
        _write_split(df, path)
        t = _LANDING_MTIME + 10 * i
        os.utime(path, (t, t))
    return (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def replay_epochs(
    spark,
    rel: DataFrame,
    split_cols: list,
    n_batches: int,
    base: str,
    parts: str,
    part_of: Callable[[DataFrame], DataFrame],
    partition_by: str | None = None,
    crash_after_write_epoch: int | None = None,
) -> str:
    """Replay ``rel`` as an ``n_batches`` hash-split stream (landed under
    ``base/landing``) and fold each micro-batch into the overwritten part
    ``parts/epoch=N`` holding ``part_of(batch)``.  Returns the checkpoint
    dir (``base/ckpt``).

    ``crash_after_write_epoch``: crash-injection hook — raise once AFTER the
    first part write at or past that epoch (the widest failure window), then
    restart from the same checkpoint; the replayed epoch overwrites its own
    part, so the parts tree ends identical to an uncrashed run."""
    stream = land(
        spark, hash_batches(rel, split_cols, n_batches),
        os.path.join(base, "landing"),
    )
    ckpt = os.path.join(base, "ckpt")
    armed = [crash_after_write_epoch]

    def fold(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        writer = part_of(batch).write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(epoch_path(parts, epoch))
        if armed[0] is not None and epoch >= armed[0]:
            armed[0] = None
            raise RuntimeError("injected crash after part write (replay test)")

    def run() -> None:
        (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    try:
        run()
    except Exception:
        if crash_after_write_epoch is None:
            raise
        run()  # the replayed epoch overwrites its own part
    return ckpt


# --- two-rename swap and its recovery -------------------------------------------


def swap_dir(
    spark,
    live: str,
    tmp: str,
    old: str,
    write: Callable[[str], object],
    what: str,
):
    """Replace the tree at ``live`` with the one ``write(tmp)`` stages.

    Order: stage to ``tmp``, move ``live`` to ``old``, move ``tmp`` to
    ``live`` (moving ``old`` back if that fails), then delete ``old``.  A
    kill between the two renames leaves ``live`` absent and ``old``
    intact, which :func:`heal_swap` restores.  Returns what ``write``
    returns; ``what`` names the caller in errors."""
    fs, hpath = hadoop_fs(spark, live)
    fs.delete(hpath(tmp), True)
    out = write(tmp)
    fs.delete(hpath(old), True)
    if not fs.rename(hpath(live), hpath(old)):
        raise RuntimeError(f"{what}: could not stage out {live}")
    if not fs.rename(hpath(tmp), hpath(live)):
        fs.rename(hpath(old), hpath(live))
        raise RuntimeError(f"{what}: rename failed for {tmp}")
    fs.delete(hpath(old), True)
    engine.forget_tree_memos(live)
    return out


def heal_swap(spark, live: str, tmp: str, old: str) -> str:
    """Repair what a killed :func:`swap_dir` left behind; idempotent.

    - ``live`` absent, ``old`` present (killed between the renames): move
      ``old`` back → ``"restored_old"``.
    - both present (killed after the second rename, before the delete):
      the swap completed, so ``old`` is garbage → ``"dropped_stale_old"``.
      Dropping it also spares the next swap a rename onto an existing dir.
    - a leftover ``tmp`` is deleted → ``"dropped_tmp"`` if nothing else
      happened.
    - otherwise ``"ok"``."""
    fs, hpath = hadoop_fs(spark, live)
    did = "ok"
    if fs.exists(hpath(old)):
        if not fs.exists(hpath(live)):
            if not fs.rename(hpath(old), hpath(live)):
                raise RuntimeError(f"heal_swap: cannot restore {old}")
            did = "restored_old"
        else:
            fs.delete(hpath(old), True)
            did = "dropped_stale_old"
        engine.forget_tree_memos(live)
    if fs.exists(hpath(tmp)):
        fs.delete(hpath(tmp), True)
        if did == "ok":
            did = "dropped_tmp"
    return did


def most_severe(outcomes: Iterable[str]) -> str:
    """The most severe of several :func:`heal_swap` outcomes (``"ok"`` for
    none) — the summary for a layout that heals more than one tree."""
    return max(outcomes, key=_HEAL_OUTCOMES.index, default="ok")


# --- tombstone logs and the merged read ----------------------------------------

#: kind → (data relation under the index dir, or None when the path IS an
#: epoch-parts tree; stream-log subdir or None; id column; compactor, as
#: ``module.function`` under ``operators/``)
INDEX_KINDS: dict[str, tuple[str | None, str | None, str, str]] = {
    "text": ("postings", None, "doc_id", "text.compact_text_index"),
    "hybrid": ("tf", None, "doc_id", "text.compact_hybrid_index"),
    "ivf": ("assignments", "assignments_stream", "vec_id",
            "similarity.compact_ivf_index"),
    "ivfpq": ("codes", "codes_stream", "vec_id",
              "similarity.compact_ivfpq_index"),
    "parts": (None, None, "doc_id", "text.compact_tf_parts"),
}


def index_kind(kind: str, what: str) -> tuple:
    """The :data:`INDEX_KINDS` row of ``kind``; ``ValueError`` if unknown."""
    if kind not in INDEX_KINDS:
        raise ValueError(f"{what}: unknown index kind {kind!r}")
    return INDEX_KINDS[kind]


def stream_log(path: str, kind: str) -> str:
    """The stream-log tree (``epoch=N/list_id=L`` parts) of an index."""
    return f"{path}/{INDEX_KINDS[kind][1]}"


def tombstone_log(path: str) -> str:
    """The flat tombstone log of the maintained index at ``path``."""
    return f"{path}/tombstones"


def append_tombstones(ids: DataFrame, log: str, id_col: str = "doc_id") -> None:
    """Append the distinct ``id_col`` values of ``ids`` to the tombstone
    log ``log``: O(|ids|), nothing is rewritten, and a repeated delete
    only adds duplicates, which every reader collapses with DISTINCT."""
    ids.select(id_col).distinct().write.mode("append").parquet(log)


def read_tombstones(spark, log: str, id_col: str = "doc_id") -> DataFrame | None:
    """The distinct ids of the tombstone log (or parts tree) ``log``, or
    ``None`` when it is absent (one ``exists`` call, no Spark job)."""
    if not exists(spark, log):
        return None
    return engine.read_artifact(spark, log).select(id_col).distinct()


def anti_join(rel: DataFrame, tomb: DataFrame | None, id_col: str = "doc_id",
              key_mult: int = 1) -> DataFrame:
    """``rel`` minus the ids in ``tomb`` (``None`` masks nothing), as a
    map-side broadcast anti-join: the log is bounded between compactions.
    ``key_mult``: composite-id radix — a doc-grain tombstone masks every
    row whose ``id_col DIV key_mult`` it names (chunk ids)."""
    if tomb is None:
        return rel
    if key_mult == 1:
        return rel.join(F.broadcast(tomb), id_col, "left_anti")
    tomb = F.broadcast(tomb.withColumnRenamed(id_col, "__tomb_id"))
    key = F.expr(f"{id_col} DIV {key_mult}")
    return rel.join(tomb, key == F.col("__tomb_id"), "left_anti")


def anti_join_sql(rel: str, cols: list[str], log: str, key_mult: int = 1) -> str:
    """:func:`anti_join` as a parenthesized SQL relation: ``rel``'s
    ``cols`` minus the ``doc_id`` values of the tombstone log ``log``."""
    key = f"t.doc_id DIV {key_mult}" if key_mult > 1 else "t.doc_id"
    return (
        f"(SELECT {', '.join('t.' + c for c in cols)} FROM {rel} t "
        f"LEFT ANTI JOIN (SELECT DISTINCT doc_id FROM parquet.`{log}`) d "
        f"ON d.doc_id = {key})"
    )


def read_merged(spark, path: str, kind: str, cols: list[str],
                probed: list[int] | None = None) -> DataFrame:
    """The ``kind`` index's base tree ∪ its stream log, projected to
    ``cols``, each opened through ``engine.read_artifact``.  ``probed``
    adds ``list_id IN (probed)`` to each side, so each list_id-partitioned
    tree file-prunes on its own."""
    data, stream, _, _ = INDEX_KINDS[kind]
    roots = [path if data is None else f"{path}/{data}"]
    if stream is not None and exists(spark, stream_log(path, kind)):
        roots.append(stream_log(path, kind))

    def tree(root: str) -> DataFrame:
        rel = engine.read_artifact(spark, root, base_path=root)
        if probed is not None:
            rel = rel.where(F.col("list_id").isin(probed))
        return rel.select(*cols)

    return reduce(DataFrame.unionByName, map(tree, roots))


def read_live(spark, path: str, kind: str, cols: list[str], id_col: str,
              probed: list[int] | None = None) -> DataFrame:
    """:func:`read_merged` minus the index's tombstones: the rows a serve
    sees and a compaction keeps."""
    tomb = read_tombstones(spark, tombstone_log(path), id_col)
    return anti_join(read_merged(spark, path, kind, cols, probed), tomb, id_col)


def require_live(rel: DataFrame, what: str, path: str) -> None:
    """Raise ``ValueError`` before a compaction stages anything when every
    row of ``rel`` is tombstoned: the rewrite would leave a tree with no
    data file, from which no reader can infer a schema."""
    if rel.limit(1).count() == 0:
        raise ValueError(
            f"{what}: index at {path} is empty after applying tombstones "
            "(every row deleted). Compaction cannot produce a schemaless "
            "empty tree — drop the index directory instead, or rebuild the "
            "index once new rows exist."
        )

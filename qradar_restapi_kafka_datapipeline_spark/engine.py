"""SparkSession factory with scale-oriented defaults.

The reference pipeline hand-tunes its physical execution (2 processes × N query
threads, micro-batches of ``clickhouse_batch_size`` rows — reference ``run.py:34,45``,
``etl.py:41``).  Here all of that is delegated to Spark: AQE re-plans at runtime,
shuffle partitions are sized for the deployment, and Arrow is enabled for any
pandas-UDF edges (vectorized python, never row-at-a-time).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

_SCRATCH_ROOT: str | None = None

# --- persisted-relation lifecycle (ADVICE r3) --------------------------------
# Operators that persist an intermediate relation (postings, gram positions)
# used to register it under a FIXED global temp-view name and never unpersist:
# repeated invocations in a long-lived session accumulated executor storage
# and clobbered the shared names.  One registry keyed by operator: the next
# invocation releases the previous relation.  Shared relations are handed
# around as DataFrames and reach SQL text only as ``spark.sql`` keyword
# arguments, which register a uuid-named view for the analysis and drop it.
_PERSISTED: dict[str, object] = {}
#: materialize_view generations per key, newest last (ADVICE r5 low):
#: keeping the last 2 lets plans returned by the PREVIOUS invocation stay
#: valid while bounding scratch growth in long-lived driver sessions.
_MAT_GENERATIONS: dict[str, list[str]] = {}
_MAT_RETAIN = 2


#: The one store of session-scoped compute-once state: SparkSession →
#: {key: value}.  Weak keys: the state lives exactly as long as its session
#: object (a bare ``id()`` key could be reused by a later session and hand
#: it a stale value).  A stored value that references its own session
#: keeps the entry alive for the process lifetime — the WeakKeyDictionary
#: caveat; ``entry_queries.setup``'s AQLFrontend is such a value.
_SESSION_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_state(spark) -> dict:
    """``spark``'s compute-once store (see ``_SESSION_STATE``)."""
    return _SESSION_STATE.setdefault(spark, {})


#: ``session_state`` kinds keyed ``(kind, tree_path)`` that hold what was
#: read from an artifact tree: its schema, and a text index's stoplist.
_TREE_MEMOS = ("artifact_schema", "stoplist")


def forget_tree_memos(live: str) -> None:
    """Drop every session's memos of the trees at or under ``live``: the
    tree there was just replaced and may hold other columns or values."""
    live = live.rstrip("/")
    for memo in list(_SESSION_STATE.values()):
        for key in list(memo):
            if key[0] in _TREE_MEMOS and (
                key[1] == live or key[1].startswith(live + "/")
            ):
                memo.pop(key, None)


def read_artifact(spark, path: str, base_path: str | None = None):
    """Open a maintained-index parquet artifact, memoizing its schema per
    (session, path) under ``("artifact_schema", path)``: every
    ``spark.read.parquet`` of an index artifact pays a 1-task footer job
    for schema inference, so the first open infers (unless
    :func:`write_artifact` seeded the entry) and later opens supply the
    schema explicitly.  Only METADATA is memoized (artifact schemas are
    fixed shapes); the data is re-read on every execution, and
    :func:`write_artifact` and ``parts.swap_dir`` (the places a live tree
    is replaced) drop the entries under the replaced path.  ``base_path``
    preserves partition columns for partitioned trees."""
    memo = session_state(spark)
    key = ("artifact_schema", base_path or path)
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    schema = memo.get(key)
    if schema is not None:
        return reader.schema(schema).parquet(path)
    df = reader.parquet(path)
    memo[key] = df.schema
    return df


def write_artifact(spark, df, path: str, partition_by: str | None = None):
    """Write ``df`` as the parquet tree at ``path`` (overwrite), drop the
    memos of the tree it replaced and seed :func:`read_artifact`'s schema
    memo with the schema a read would infer, so the first open after an
    in-session build runs no footer job.
    Inference returns every field nullable and the partition column last;
    the partition column keeps its written type, which is what inference
    returns for an INT column (the only partitioned caller)."""
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    forget_tree_memos(path)
    fields = [f for f in df.schema if f.name != partition_by]
    if partition_by is not None:
        fields.append(df.schema[partition_by])
    session_state(spark)[("artifact_schema", path)] = _as_nullable(
        StructType(fields)
    )


def _as_nullable(dt):
    """``dt`` with every field, array element and map value nullable: the
    schema a parquet read infers for data Spark wrote as ``dt``."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def local_relation(spark, rows, schema):
    """Rows the driver already holds as a JVM-side local relation with
    ``schema`` (a ``StructType`` or DDL string).  ``rows`` is a sequence of
    tuples, or a ``pyarrow.Table`` — ``rel.toArrow()`` pins a collected
    relation as ``local_relation(spark, rel.toArrow(), rel.schema)``.

    The rows cross to the JVM as Arrow batches and the plan's leaf is a
    ``LocalRelation``.  ``createDataFrame(<list>)`` instead builds a
    parallelized Python RDD: every plan reading it starts Python workers
    and runs a job just to unpickle rows the driver built."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*rows)) or [()] * len(schema)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(rows, schema)


def persist_tracked(df, key: str):
    """Persist ``df``, releasing the relation the SAME operator persisted
    previously.  Callers that still hold a prior invocation's DataFrame lose
    only its cache (it recomputes), never its correctness.  A previous
    relation with the same plan is kept: Spark's CacheManager matches
    cached data by plan, so ``df`` reuses that entry, and an operator
    re-run on an unchanged input does not recompute it (Spark writes to
    the input refresh the entry).

    CAVEAT (measured, round 4): Spark's CacheManager does NOT substitute a
    cached plan that is referenced through a ``WITH`` CTE — a single
    ``WITH post AS (SELECT ... FROM {post})`` consumer re-executes the full
    lineage per reference (0 InMemoryRelation in the optimized plan).  Use
    this only for DataFrame-API consumers (joins built on the returned
    relation object); SQL-CTE consumers must use :func:`materialize_view`.
    On pyspark 4.1.2 the swap also fails outright in one shape: persisting
    ``hashed_semantic_pairs``' postings/top-m relations and passing them as
    ``spark.sql`` arguments into its CTE statement raised
    ``INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND``.
    """
    prev = _PERSISTED.pop(key, None)
    # The cache entry is per plan, not per key: keep ``prev`` cached while
    # any tracked key still holds a relation with its plan (an operator
    # called with its inputs swapped persists one plan under both keys).
    if prev is not None and not any(
        _same_plan(prev, held) for held in [df, *_PERSISTED.values()]
    ):
        prev.unpersist()
    df = df.persist()
    _PERSISTED[key] = df
    return df


def _same_plan(a, b) -> bool:
    return a._jdf.queryExecution().normalized().sameResult(
        b._jdf.queryExecution().normalized()
    )


#: share_view's cutover between persisted blocks and scratch parquet.
#: Below this row estimate the relation fits executor storage comfortably
#: and the parquet write is pure tax (round-4 bench: dedup_exact_substring
#: 0.49 → 1.39 s from the write alone); above it the write amortizes across
#: the consumers' multiple scans and survives eviction/executor churn.
SHARE_SMALL_MAX_ROWS = 2_000_000


def input_size_bytes(df) -> int | None:
    """Total on-storage bytes of ``df``'s input files, from metadata only
    (no scan — the estimate must stay O(files), not O(rows), to be usable at
    100 TB).  ``None`` when the files aren't locally stat-able (object
    stores): callers should treat unknown as LARGE."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                return None
            total += os.path.getsize(unquote(u.path))
        return total
    except Exception:
        return None


def share_view(spark, df, key: str, approx_rows: int | None = None):
    """Size-aware shared relation for SQL-CTE consumers of a CHEAP-lineage
    relation (VERDICT r4 #1); pass the returned DataFrame to SQL as a
    ``spark.sql`` keyword argument.

    ``approx_rows`` is the caller's metadata-only estimate of the relation's
    row count (e.g. input bytes for a gram relation — never a scan).  Small
    relations take :func:`persist_tracked`; large or unknown relations take
    :func:`materialize_view` — the plan that survives 100 TB, where
    persisted blocks would pin executor storage and evict.

    Why persist for small (r5 measurement story, sf0.1 exact-substring
    grams): back-to-back steady favors a plain un-materialized temp view
    (0.43 s vs persist 0.79 s vs parquet 0.74 s vs localCheckpoint 0.78 s —
    the LogicalRDD scan also loses parquet pruning/stats), BUT under a
    bench-realistic mix of ~16 other queries between runs the inlined
    lineage pays a full whole-stage-codegen recompile of its LARGE expanded
    plan every time (2.0–3.2 s) while the persisted relation substitutes to
    a compact InMemoryRelation scan and stays at 1.0–1.1 s.  Real workloads
    churn the codegen cache, so persist is the small-size default.
    Relations with EXPENSIVE lineage (tokenize + hash + window rank: the
    hashed-postings family, measured materialize 2.24 s / inline 3.64 s)
    should call :func:`materialize_view` directly at every size — their
    consumers reference them through ``WITH`` CTE definitions where cache
    substitution has been observed NOT to reach (round-4 finding).
    """
    if approx_rows is not None and approx_rows <= SHARE_SMALL_MAX_ROWS:
        return persist_tracked(df, key)
    return materialize_view(spark, df, key)


def materialize_view(spark, df, key: str):
    """Write ``df`` to per-process scratch parquet once and return the
    read-back relation (no catalog entry: consumers pass it to SQL as a
    ``spark.sql`` keyword argument).

    The compute-once mechanism for relations consumed via SQL ``WITH`` CTEs
    (postings, gram positions): Spark shares no common subplans across CTE
    references AND CacheManager substitution does not reach through CTE
    definitions (see :func:`persist_tracked`), so caching silently recomputes
    the pipeline per reference — materialized parquet makes every reference
    a cheap columnar scan instead.  This is also the plan that survives
    100 TB: the shared relation exists once on storage, and each consumer
    stage scans it with pruning instead of re-deriving it.

    Superseded artifacts are NOT removed eagerly (ADVICE r4): plans returned
    by an earlier invocation under the same ``key`` still reference the old
    parquet path, and — unlike :func:`persist_tracked`'s "loses only its
    cache" contract — deleting it makes those plans fail with missing-file
    errors at execute time instead of recomputing.  Instead generations are
    tracked per key and generation N-2 is deleted on the Nth invocation
    (ADVICE r5 low): plans holding N-1 stay valid, a long-lived driver
    session running many queries holds at most ``_MAT_RETAIN`` copies per
    key instead of one per invocation, and atexit reclaims the rest.
    """
    path = scratch_dir(f"mat_{key.strip('_')}_")
    df.write.mode("overwrite").parquet(path)
    gens = _MAT_GENERATIONS.setdefault(key, [])
    gens.append(path)
    while len(gens) > _MAT_RETAIN:
        shutil.rmtree(gens.pop(0), ignore_errors=True)
    # the written schema, as inference would return it: no footer job
    return spark.read.schema(_as_nullable(df.schema)).parquet(path)


def scratch_dir(prefix: str) -> str:
    """Per-process scratch directory, removed at interpreter exit.

    Replaces bare ``tempfile.mkdtemp`` in query/streaming paths: those dirs
    were never cleaned, so repeated gate runs accumulated /tmp disk (ADVICE
    r2).  Every caller gets a unique subdir (concurrent gate/pytest runs
    cannot collide), and ONE atexit hook reclaims the whole per-process tree
    after the gate has consumed the results — lazy DataFrames returned to the
    driver are always materialized within the owning process's lifetime.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)

#: Root for CROSS-PROCESS maintained index artifacts (hybrid postings/tf,
#: ...).  Unlike scratch_dir (per-process, reclaimed at exit), artifacts
#: here are meant to SURVIVE the process so a fresh serve reads instead of
#: rebuilds — the production posture for any maintained index.  On a real
#: cluster this is an object-store prefix.
ARTIFACT_ROOT = os.environ.get(
    "SPARK_GRAFT_ARTIFACT_ROOT", "/tmp/spark_graft_artifacts"
)


def artifact_dir(
    name: str, *fingerprint_paths: str, version: str = ""
) -> str:
    """Stable cross-process location for a maintained on-disk artifact,
    keyed by ``name`` plus a cheap content fingerprint (absolute path,
    size, mtime) of the input files it was derived from — a regenerated
    corpus therefore maps to a FRESH key instead of silently serving a
    stale index (the correctness gate would hash-fail on staleness; the
    fingerprint prevents ever getting there).

    ``version`` (ADVICE r12): the BUILDER's code/parameter token (e.g.
    ``"dim=64;tok=bigram"`` or a bumped layout tag).  Folded into the hash so
    a builder change keys away stale artifacts automatically — ungated
    callers no longer depend on someone remembering the manual name-suffix
    convention."""
    import hashlib

    h = hashlib.md5()
    h.update(f"v={version}".encode())
    for p in fingerprint_paths:
        st = os.stat(p)
        h.update(
            f"{os.path.abspath(p)}:{st.st_size}:{st.st_mtime_ns}".encode()
        )
    return os.path.join(ARTIFACT_ROOT, f"{name}__{h.hexdigest()[:16]}")


def ensure_artifact(path: str, build) -> str:
    """Build-if-absent with an atomic-rename commit: ``build(staging)``
    writes into a pid-suffixed staging dir, one ``os.rename`` publishes
    it.  Directory existence IS the commit — a crashed build leaves only
    an invisible staging tree, and concurrent builders race benignly
    (POSIX rename onto an existing directory fails; the loser discards
    its staging copy and reads the winner's)."""
    if os.path.isdir(path):
        return path
    os.makedirs(ARTIFACT_ROOT, exist_ok=True)
    tmp = f"{path}.__build_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # ADVICE r12: a failed build must not leak the staging tree (the
    # upfront rmtree only helps on pid reuse), and a rename failure is
    # "lost the race" ONLY if the destination actually exists — EACCES /
    # EXDEV (ARTIFACT_ROOT on another filesystem) must re-raise instead of
    # deleting the fresh build and deferring the failure downstream.
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


# Defaults chosen for the local[32] test harness; on a real cluster these are
# overridden by spark-submit conf.  AQE handles skew + post-shuffle coalescing so a
# too-large static shuffle-partition count is self-correcting.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MB scan splits: at 100 TB that is ~800k tasks — fine for a 1000-executor
    # cluster; raise to 256-512 MB for colder storage.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Small dimension tables (domain/qid/category/network decodes) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    # The reference's event keys are case-sensitive Python dict keys (userName
    # vs username are DISTINCT inputs that collide only via the rename map,
    # clickhouse/helpers.py:31-32); match that.
    "spark.sql.caseSensitive": "true",
    # Some testdata generations carry TIMESTAMP(NANOS) in events.parquet;
    # Spark has no ns timestamp, so read those as int64 nanos and cast in the
    # registry (µs, floor — same truncation DuckDB applies). A no-op for
    # µs-precision files (the registry branches on the type it actually sees).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # r13 (guide §6/§7.3): the maintained index trees sit above Spark's
    # default 32-path distributed-listing threshold (postings bucket_group=64,
    # IVF/IVF-PQ list_id dirs after appends), so EVERY reader open paid a
    # 64-task listing job before a single row was read (measured: open =
    # 2 jobs → 1 at threshold 128).  Driver-side listing of ≤ a few hundred
    # directories is cheaper everywhere — the §7.3 pathology is millions of
    # files, not hundreds of dirs; trees beyond the threshold (real 100 TB
    # layouts) still take the distributed listing.  Env-parameterized like
    # the other scale knobs.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
        "SPARK_GRAFT_PART_DISCOVERY_THRESHOLD", "128"
    ),
    "spark.ui.enabled": "false",
    # Generated classes stay compiled for the session.  Spark's default
    # keeps 100, fewer than one pass of the 17 AQL searches and six corpus
    # operators generates (140 distinct classes at sf0.001), so a class
    # was evicted before its next use and a repeat search recompiled.  A
    # static conf: it only takes effect when the session is built.
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def get_spark(
    app_name: str = "qradar-datapipeline-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test harness; on a
    cluster, leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _quiet_codegen_fallback(spark)
    return spark


def _quiet_codegen_fallback(spark: SparkSession) -> None:
    """Drop the janino stack trace spam when an oversized expression falls back
    to interpreted mode — the fallback is intended behavior for view-expanded
    predicates (the materialized path stays in codegen); the ERROR-level trace
    is pure noise."""
    try:
        jvm = spark.sparkContext._jvm
        configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        level = jvm.org.apache.logging.log4j.Level.OFF
        configurator.setLevel(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator", level
        )
    except Exception:
        pass  # non-log4j2 deployments just keep the default logging

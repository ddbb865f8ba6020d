"""Plan-quality regression tests: pushdown, pruning, broadcast (SURVEY §4).

These lock in the physical-plan properties the engine depends on at 100 TB —
a regression that silently drops a pushed filter or flips a broadcast join to
sort-merge should fail CI, not show up in a fleet bill.
"""

import contextlib
import io
import re

import pytest


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def reg(spark, sf_dir):
    from qradar_restapi_kafka_datapipeline_spark.entry_queries import registry, setup

    setup(spark, sf_dir)
    return registry()


def test_filter_pushdown_reaches_parquet(spark, reg, sf_dir):
    plan = _formatted_plan(reg["pricing_summary"].run(spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, "no PushedFilters in scan"
    assert "l_shipdate" in m.group(1), m.group(1)


def test_column_pruning_reaches_parquet(spark, reg, sf_dir):
    plan = _formatted_plan(reg["pricing_summary"].run(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_orderkey" not in read_cols and "l_partkey" not in read_cols


def test_view_derivation_prunes_to_used_columns(spark, reg, sf_dir):
    # the whole INCIDR classification derives from event_id arithmetic; the
    # events scan must read exactly that one column
    plan = _formatted_plan(reg["incidr_classification"].run(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "event_id:bigint", m.group(1)


def test_dim_joins_broadcast(spark, reg, sf_dir):
    plan = _formatted_plan(reg["revenue_by_nation"].run(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan


def test_rollup_partial_aggregation(spark, reg, sf_dir):
    # map-side partial aggregate before the shuffle: two HashAggregate nodes
    plan = _formatted_plan(reg["summing_rollup_hourly"].run(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_minhash_pipeline_exchange_budget(spark, reg, sf_dir):
    # The LSH pipeline's shuffle budget: shingle spread + signature agg +
    # candidate distinct + verify common-agg (+AQE reuse). A regression that
    # reintroduces per-use aggregation passes over the shingle relation
    # (e.g. recomputing per-doc counts) pushes this past the budget.
    plan = _formatted_plan(reg["dedup_minhash_lsh"].run(spark, sf_dir))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 6, f"{n_exchanges} exchanges in minhash plan"


def test_minhash_counts_ride_signature_aggregate(spark, sf_dir):
    # |shingles(doc)| must come out of the SAME aggregate as the minhash
    # signatures — a separate count aggregation doubles full passes over the
    # shingle relation at 100 TB.
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D

    df = D.minhash_lsh_pairs(spark.table("documents"), threshold=0.85)
    plan = _formatted_plan(df)
    sig_aggs = re.findall(r"Functions(?:.*?min.*?){8,}", plan)
    assert sig_aggs, "no wide min-aggregate (minhash signatures) in plan"


def test_rollup_sink_day_partition_pruning(spark, sf_dir, tmp_path):
    # The day-partitioned roll-up layout exists so START/STOP time bounds
    # prune at the file-listing level (ClickHouse PARTITION BY toYYYYMMDD
    # parity). A date predicate must land in PartitionFilters — not a
    # post-scan Filter — or at 100 TB every day's files get listed and read.
    from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup
    from qradar_restapi_kafka_datapipeline_spark.operators.rollup import write_rollup

    setup(spark, sf_dir)
    src = spark.sql(
        "SELECT ts AS Start_Time, domainId, eventName, eventCount AS Event_Count "
        "FROM qevents"
    )
    path = str(tmp_path / "rollup")
    write_rollup(src, path, mode="overwrite")

    bounded = spark.read.parquet(path).where(
        "event_date >= DATE'2024-01-02' AND event_date < DATE'2024-01-04'"
    )
    plan = _formatted_plan(bounded)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1), plan[:800]
    # and the pruned scan must touch only the two bounded days
    n_days = spark.read.parquet(path).selectExpr(
        "count(distinct event_date)"
    ).first()[0]
    assert n_days > 2  # the table spans more days than the bound
    touched = bounded.select("event_date").distinct().count()
    assert touched == 2


def test_contamination_join_is_equi_not_cross(spark, reg, sf_dir):
    # the test-vs-train shingle overlap must be a shuffle/broadcast EQUI-join
    # keyed on the shingle — a nested-loop or cartesian shape here is O(n^2)
    # in corpus size and would never survive 100 TB
    plan = _formatted_plan(reg["contamination_check"].run(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan, "train-overlap should be a left-semi join"


def test_prefix_dedup_single_narrow_shuffle(spark, reg, sf_dir):
    # one groupBy on the 16-byte fingerprint; the scan reads only (doc_id,
    # text) and the text itself never crosses the wire (fingerprint does)
    plan = _formatted_plan(reg["dedup_prefix"].run(spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"doc_id", "text"}, read_cols
    assert plan.count("HashAggregate") >= 2  # map-side partial before shuffle


def test_correlated_subquery_decorrelates(spark, reg, sf_dir):
    # the per-part AVG threshold must become an aggregate + join, not a
    # re-executed per-row subquery (quadratic at scale)
    plan = _formatted_plan(reg["small_quantity_revenue"].run(spark, sf_dir))
    assert "Subquery" not in plan, "scalar subquery not decorrelated"
    assert "CartesianProduct" not in plan


def test_headline_codegen_at_runtime(spark, reg, sf_dir):
    # AQE pre-execution plans carry no codegen annotation; after execution the
    # final plan must show WholeStageCodegen spans — the scan-to-aggregate
    # pipeline runs as generated JVM code, not interpreted expressions
    df = reg["pricing_summary"].run(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(N) Operator" in the executed-plan string
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:600]


def test_pii_redaction_stays_jvm_side(spark, reg, sf_dir):
    # the redaction chain is nested regexp_replace — codegen'd expressions,
    # no Python evaluation nodes, and only the aggregate's exchange
    plan = _formatted_plan(reg["pii_redaction_report"].run(spark, sf_dir))
    assert "EvalPython" not in plan, "PII redaction fell into a Python UDF"
    assert plan.count("Exchange") <= 2, plan[:800]


def test_boilerplate_coverage_broadcasts_lexicon(spark, reg, sf_dir):
    # the repeated-fragment lexicon is tiny — it must broadcast into the
    # per-position coverage join, never sort-merge or cross-join
    plan = _formatted_plan(reg["boilerplate_doc_coverage"].run(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "CartesianProduct" not in plan


def test_semantic_dedup_join_path_shape(spark, reg, sf_dir):
    # many-cell mode: centroid assignment is a deliberate broadcast
    # nested-loop (tiny centroid table); the candidate pair join must be an
    # equi-join on list_id — no cross product anywhere
    from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    df = semantic_dedup_pairs(
        spark.table("embeddings"), threshold=0.42, n_centroids=128,
        sample_n=256,
    )
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    # formatted plans list join keys in the detail section ("Left keys: ...")
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert re.search(r"keys(?: \[\d+\])?: \[list_id", plan), plan[:1200]


def test_day_partitioned_aql_scan_prunes(spark, reg, sf_dir):
    """The A13 scan-economics proof (VERDICT r2 #7), static half: a
    START/STOP AQL run through the frontend over day-partitioned events must
    carry constant event_date PartitionFilters.  The dynamic half (the
    pruned scan never OPENS out-of-range files) is the corrupt-file-canary
    test below."""
    df = reg["aql_day_pruned_scan"].run(spark, sf_dir)
    plan = _formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters on the day-partitioned scan"
    assert "event_date" in m.group(1), m.group(1)
    assert re.search(r"event_date#\d+ >= 19", m.group(1)) or "2024" in m.group(1), (
        "no constant lower bound in PartitionFilters: " + m.group(1)
    )


def test_day_partitioned_scan_never_opens_pruned_files(spark, tmp_path, sf_dir):
    """DYNAMIC pruning proof via a corrupt-file canary (review r3: the prior
    'dynamic' check only counted distinct dates, which any post-scan filter
    satisfies).  A parquet file in a partition OUTSIDE the START/STOP range
    is overwritten with garbage: the partition-pruned frontend query must
    succeed (the file is never opened), while the same query WITHOUT the
    derived partition predicate must fail trying to read it — proving the
    canary bites and pruning is file-level, not row-level."""
    import glob
    import os

    from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend
    from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
        materialize_events_day_partitioned,
    )

    setup(spark, sf_dir)
    base = str(tmp_path / "qevents_day_canary")
    materialize_events_day_partitioned(spark, base)
    # capture the schema while every file is healthy (inference may touch any
    # file), then poison a partition outside the 2024-01-06..08 query range
    healthy = spark.read.option("basePath", base).parquet(base)
    schema = healthy.schema
    out_of_range = sorted(
        d for d in glob.glob(f"{base}/event_date=*")
        if "2024-01-15" in d or "2024-01-16" in d
    )
    assert out_of_range, "expected out-of-range partitions in the testdata"
    victim = glob.glob(f"{out_of_range[0]}/*.parquet")[0]
    with open(victim, "wb") as f:
        f.write(b"not a parquet file")
    for crc in glob.glob(f"{out_of_range[0]}/.*.crc"):
        os.remove(crc)
    spark.read.schema(schema).option("basePath", base).parquet(
        base
    ).createOrReplaceTempView("qevents_day_canary")
    aql = (
        "SELECT eventName, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events GROUP BY eventName "
        "START '2024-01-06 00:00:00' STOP '2024-01-09 00:00:00'"
    )
    pruned_fe = AQLFrontend(
        spark, events_view="qevents_day_canary", partition_col="event_date"
    )
    rows = pruned_fe.sql(aql).collect()  # must not touch the poisoned file
    assert rows
    # control: same query with only the ts predicate reads every file and
    # must hit the canary — proving the pruned path really skipped it
    plain_fe = AQLFrontend(spark, events_view="qevents_day_canary")
    with pytest.raises(Exception):
        plain_fe.sql(aql).collect()


def test_ivf_index_scan_prunes_to_probed_lists(spark, reg, sf_dir):
    """The persisted-IVF serving contract: the assignments scan must carry a
    list_id PartitionFilter (the probed lists as a static IN), so per-query
    scan cost is bounded by nprobe partitions regardless of index size."""
    from qradar_restapi_kafka_datapipeline_spark.engine import session_state
    from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
        knn_ivf_from_index,
    )

    reg["knn_ivf_persisted"].run(spark, sf_dir)  # builds + memoizes the index
    df = knn_ivf_from_index(
        spark,
        session_state(spark)[("once", sf_dir, "knn_ivf_persisted")],
        spark.table("embeddings").where("vec_id < 10"),
        k=3,
    )
    plan = _formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters on the assignments scan"
    assert "list_id" in m.group(1), m.group(1)
    # static probed-set pruning renders as INSET (Catalyst may add a
    # dynamicpruningexpression on top — both are file-level pruning)
    assert "INSET" in m.group(1) or "IN (" in m.group(1), m.group(1)


def test_ivfpq_codes_scan_prunes_and_reads_no_vectors(spark, reg, sf_dir):
    """The IVF-PQ serving contract (round 5): the codes scan must carry a
    list_id PartitionFilter (file-pruned to the probed lists) AND must not
    read an embedding column anywhere — the whole point of PQ is that the
    serve path touches codes, the LUT, and nothing vector-shaped."""
    from qradar_restapi_kafka_datapipeline_spark.engine import session_state
    from qradar_restapi_kafka_datapipeline_spark.operators.similarity import (
        knn_ivfpq_from_index,
    )

    reg["knn_ivfpq_persisted"].run(spark, sf_dir)  # builds + memoizes
    df = knn_ivfpq_from_index(
        spark, session_state(spark)[("once", sf_dir, "ivfpq")], dim=64
    )
    plan = _formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters on the codes scan"
    assert "list_id" in m.group(1), m.group(1)
    assert "INSET" in m.group(1) or "IN (" in m.group(1), m.group(1)
    # the codes scan itself is embedding-free; the only embedding read is
    # the bounded query-side LUT/probe derivation (vec_id < query_max)
    codes_scans = [
        seg for seg in plan.split("Scan parquet")[1:] if "/codes" in seg[:400]
    ]
    assert codes_scans and all("embedding" not in seg[:400] for seg in codes_scans)


def test_text_index_scan_prunes_to_query_groups(spark, reg, sf_dir):
    """The persisted text-search serving contract: the postings scan must
    carry a bucket_group PartitionFilter (the query's posting groups as a
    static IN), so per-query scan cost is bounded by the query's features
    regardless of index size — the IVF probed-lists contract, for text."""
    from qradar_restapi_kafka_datapipeline_spark.engine import session_state
    from qradar_restapi_kafka_datapipeline_spark.operators.text import (
        text_knn_from_index,
    )

    reg["text_knn_indexed"].run(spark, sf_dir)  # builds + memoizes the index
    qtext = spark.table("documents").where("doc_id = 1").first()["text"]
    df = text_knn_from_index(
        spark, session_state(spark)[("once", sf_dir, "text_index")], qtext, k=3,
        query_id=1, exclude_id=1,
    )
    plan = _formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters on the postings scan"
    assert "bucket_group" in m.group(1), m.group(1)
    assert "INSET" in m.group(1) or "IN (" in m.group(1), m.group(1)


def test_pq_adc_scoring_broadcasts_lut_no_sort_merge(spark, reg, sf_dir):
    """The PQ/ADC serving contract (round 6, VERDICT r5 #2): the ADC scoring
    join is corpus-sized codes against a bounded per-query LUT — the LUT
    must broadcast; a SortMergeJoin here shuffles the whole corpus on
    (mi, j) at 100 TB."""
    plan = _formatted_plan(reg["knn_pq_adc"].run(spark, sf_dir))
    assert "SortMergeJoin" not in plan, "ADC scoring fell back to sort-merge"
    assert "BroadcastHashJoin" in plan


def test_quality_classifier_broadcasts_model(spark, reg, sf_dir):
    """The classifier-apply contract (round 6, VERDICT r5 #2): corpus
    featurization joins a <= dim+1-row weights relation — the model side
    must broadcast.  The one remaining shuffle join (docs LEFT JOIN summed
    contributions, both corpus-sized on doc_id) is the legitimate linear
    shuffle, so assert the model join specifically: no sort-merge on
    `bucket` anywhere in the plan."""
    plan = _formatted_plan(reg["curate_quality_classifier"].run(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for m in re.finditer(r"\(\d+\) SortMergeJoin[^(]*(?:\n.*){0,4}", plan):
        assert "bucket" not in m.group(0), m.group(0)


def test_kmv_build_plans_bounded_topk_not_global_sort(spark, reg, sf_dir):
    """The KMV build contract (round 7): bottom-k of the distinct hashes
    must plan as TakeOrderedAndProject (per-partition heaps of k + a k-row
    driver merge) — a global Sort+Limit would shuffle-sort every distinct
    key at 100 TB."""
    from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K

    plan = _formatted_plan(spark.sql(K.kmv_sketch_sql("spark")))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, (
        "bottom-k fell back to a global range sort"
    )


def test_hdr_cells_aggregate_partially_before_shuffle(spark, reg, sf_dir):
    """The HDR build contract (round 7): the cells groupBy must carry a
    map-side partial aggregate, so the shuffle moves the bounded bucket
    keyspace, never the corpus."""
    from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K

    plan = _formatted_plan(spark.sql(K.hdr_cells_sql("spark")))
    assert "partial_count" in plan or "Partial" in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_apply_broadcasts_frozen_selector(spark, reg, sf_dir):
    """The frozen-apply contract (round 7): the batch's counts join the
    <= dim-row (bucket, l6) artifact — the selector side must broadcast;
    a SortMergeJoin on bucket shuffles the whole batch's postings."""
    import re as _re

    plan = _formatted_plan(reg["curate_dsir_apply"].run(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for m in _re.finditer(r"\(\d+\) SortMergeJoin[^(]*(?:\n.*){0,4}", plan):
        assert "bucket" not in m.group(0), m.group(0)


def test_pinned_sketch_serving_plans_never_rescan_the_corpus(spark, reg, sf_dir):
    """The literal-pin contract (CLAUDE.md CTE-re-execution trap): the
    returned rank/rolling/jaccard relations must be served entirely from
    the bounded pinned summaries — any parquet scan in the serving plan
    means a CTE reference is re-reading the corpus."""
    for name in (
        "sketch_rank_quantiles",
        "sketch_rank_grouped",
        "sketch_hll_rolling_distinct",
        "sketch_kmv_jaccard",
    ):
        plan = _formatted_plan(reg[name].run(spark, sf_dir))
        assert "Scan parquet" not in plan and "FileScan" not in plan, name


def test_chunk_knn_serving_broadcasts_query_vector(spark, reg, sf_dir):
    """Chunk retrieval's serving contract: the dot join is corpus-sized
    chunk postings against a <= dim-row pinned query vector — the query
    side must broadcast (no SortMergeJoin on bucket anywhere)."""
    import re as _re

    plan = _formatted_plan(reg["text_chunk_knn"].run(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    for m in _re.finditer(r"\(\d+\) SortMergeJoin[^(]*(?:\n.*){0,4}", plan):
        assert "bucket" not in m.group(0), m.group(0)


# --- per-call job budgets of the corpus operators ------------------------------
# Counted in the status store; at small inputs each job is a fixed cost of
# 140-230 ms, so a budget pins the operator's fixed overhead.  A budget may
# only go down.


def test_decontamination_job_budget_and_no_bitmap_join(spark, reg, count_jobs):
    """The exact semi-join is the whole plan: no nested-loop join testing
    bitmap bits (Catalyst ran the semi-join below it, so it filtered
    nothing) and at most 7 jobs per call (10 with the bitmap)."""
    from qradar_restapi_kafka_datapipeline_spark.operators.contamination import (
        decontaminate_train_bloom,
    )

    def call():
        return decontaminate_train_bloom(spark.table("documents")).select(
            "doc_id", "source", "lang"
        )

    assert "BroadcastNestedLoopJoin" not in _formatted_plan(call())
    assert count_jobs(lambda: call().collect()) <= 7


def test_minhash_steady_call_job_budget(spark, reg, count_jobs):
    """A steady ``minhash_lsh_pairs`` call runs at most 4 jobs: the shingle
    counts ride the band rows, so no count join re-runs the signature
    aggregate (6 jobs when it did)."""
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D

    def call():
        D.minhash_lsh_pairs(spark.table("documents"), threshold=0.85).collect()

    call()
    assert count_jobs(call) <= 4


def test_text_index_steady_serve_job_budget(spark, reg, tmp_path, count_jobs):
    """A steady serve runs at most 3 jobs: the stoplist is read once per
    session and the query weights are plan literals (5 jobs when the
    stoplist was collected and a query relation broadcast per serve)."""
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    path = str(tmp_path / "text_index")
    T.build_text_index(spark, path, dim=4096)
    texts = [
        r["text"]
        for r in spark.table("documents").where("doc_id < 2").orderBy("doc_id")
        .collect()
    ]

    def serve(i):
        T.text_knn_from_index(
            spark, path, texts[i], k=5, dim=4096, query_id=i, exclude_id=i
        ).collect()

    serve(0)
    assert count_jobs(lambda: serve(1)) <= 3


def test_hll_distinct_job_budget(spark, reg, count_jobs):
    """A whole-corpus HLL estimate runs at most 3 jobs: the register build
    and the estimate, with no exact ``SELECT DISTINCT`` audit beside them
    (6 jobs when it rode along)."""
    from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K

    def call():
        spark.sql(K.hll_distinct_sql("spark")).collect()

    call()
    assert count_jobs(call) <= 3


# --- generated code per search ------------------------------------------------
# Every per-search value reaches the plan as a DECIMAL(18,0) or STRING
# literal, which codegen keeps in the stage's ``references`` array, so a new
# window generates the same source as the last one and compiles nothing.
# What a search compiles once must still stay small, and each generated
# method must stay under HotSpot's 8,000-byte huge-method limit, past which
# it runs interpreted.


def _codegen_nodes(df):
    """Every WholeStageCodegenExec in ``df``'s final executed plan."""
    nodes = []

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "WholeStageCodegenExec":
            nodes.append(node)
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return nodes


def _codegen_stages(df):
    """``(source chars, largest method's bytecode bytes)`` per
    WholeStageCodegenExec in ``df``'s final executed plan.  The chars are
    the length of the source a search compiles (what
    ``CodegenMetrics.METRIC_SOURCE_CODE_SIZE`` records per compile); the
    bytes come from compiling it with ``CodeGenerator.compile``."""
    codegen = getattr(
        df.sparkSession._jvm.org.apache.spark.sql.catalyst.expressions.codegen,
        "CodeGenerator$",
    ).__getattr__("MODULE$")
    stages = []
    for node in _codegen_nodes(df):
        code = node.doCodeGen()._2()
        stats = codegen.compile(code)._2()
        stages.append((len(code.body()), stats.maxMethodCodeSize()))
    return stages


def _stage_bodies(df):
    """The generated source of each codegen stage in ``df``'s final plan."""
    return sorted(node.doCodeGen()._2().body() for node in _codegen_nodes(df))


@pytest.fixture(scope="module")
def served_fe(spark, reg, tmp_path_factory):
    """A frontend over qevents materialized to parquet, as the search
    workload serves it (the registry's view re-derives every column)."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend

    path = str(tmp_path_factory.mktemp("served") / "qevents")
    spark.table("qevents").write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("qevents_served")
    return AQLFrontend(spark, events_view="qevents_served")


def test_search_methods_fit_the_jit(spark, reg, sf_dir, served_fe):
    """Every generated method of the 17 searches (the AQL corpus over
    served qevents plus the routable aggregates) is under 8,000 bytes of
    bytecode.  With per-domain FULLNETWORKNAME chains, the raw-event
    searches' processNext was 12,039 and 9,774 bytes."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
        AQL_CORPUS,
        DEFAULT_PARAMS,
    )

    dfs = {q: served_fe.sql(aql, DEFAULT_PARAMS) for q, aql in AQL_CORPUS.items()}
    dfs.update(
        (n, reg[n].run(spark, sf_dir)) for n in reg if n.startswith("aql_auto_rollup_")
    )
    assert len(dfs) == 17
    for name, df in dfs.items():
        df.collect()
        stages = _codegen_stages(df)
        assert stages, name
        for _chars, method_bytes in stages:
            assert 0 < method_bytes < 8000, (name, stages)


def test_new_window_search_source_budget(served_fe):
    """AllowedInboundTraffic's largest stage is at most 57,265 chars of
    source (90,035 with per-domain FULLNETWORKNAME chains, 60,600 with
    TIMESTAMP bounds and IN-listed domain guards).  A budget may only go
    down."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
        AQL_CORPUS,
        DEFAULT_PARAMS,
    )

    params = dict(
        DEFAULT_PARAMS,
        start_time="2024-01-13 00:00:00",
        stop_time="2024-01-14 00:00:00",
    )
    df = served_fe.sql(AQL_CORPUS["AllowedInboundTraffic"], params)
    df.collect()
    assert max(chars for chars, _ in _codegen_stages(df)) <= 57_265


def test_codegen_cache_holds_a_search_pass(spark, reg, sf_dir, tmp_path):
    """One pass of the 17 searches (the AQL corpus plus the routable
    aggregates) and the six corpus operators generates more classes than
    Spark's default 100-entry codegen cache holds; sized for the session,
    a repeat of the first search compiles nothing."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS
    from qradar_restapi_kafka_datapipeline_spark.operators import contamination as C
    from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
    from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K
    from qradar_restapi_kafka_datapipeline_spark.operators import text as T

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    searches = [f"aql_{q}" for q in AQL_CORPUS] + sorted(
        n for n in reg if n.startswith("aql_auto_rollup_")
    )
    assert len(searches) == 17
    path = str(tmp_path / "text_index")
    T.build_text_index(spark, path, dim=4096)
    text = spark.table("documents").where("doc_id = 0").first()["text"]
    for name in searches:
        reg[name].run(spark, sf_dir).collect()
    docs = spark.table("documents")
    for df in (
        D.minhash_lsh_pairs(docs, threshold=0.85),
        T.hashed_semantic_pairs(
            spark, dim=4096, threshold=0.5, prefix_m=4, max_bucket_docs=64
        ),
        C.decontaminate_train(docs),
        spark.sql(K.kmv_distinct_sql("spark")),
        spark.sql(K.hll_distinct_sql("spark")),
        T.text_knn_from_index(spark, path, text, k=5, dim=4096, query_id=0),
    ):
        df.collect()
    compiles = metrics.METRIC_COMPILATION_TIME().getCount()
    reg[searches[0]].run(spark, sf_dir).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiles


# --- a new search window compiles nothing --------------------------------------
# Windows no other test searches, so each is new to the session's codegen
# cache.  At sf0.001 every search below finds customer_2 events in the
# first two, and AllowedOutboundTraffic in all three: AQE plans an empty
# result differently.  Before START/STOP became DECIMAL(18,0) µs bounds,
# each new window compiled the scan stage again: 2 classes per raw-event
# search.
_NEW_WINDOWS = [
    ("2024-01-01 05:00:00", "2024-01-11 05:00:00"),
    ("2024-01-11 05:00:00", "2024-01-21 05:00:00"),
    ("2024-01-21 05:00:00", "2024-01-31 05:00:00"),
]


def _window(i):
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import DEFAULT_PARAMS

    start, stop = _NEW_WINDOWS[i]
    return dict(
        DEFAULT_PARAMS, customer_name="customer_2", start_time=start, stop_time=stop
    )


def _compiles(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _assert_new_window_compiles_nothing(spark, name, search):
    """``search(params)`` is a DataFrame.  At a second new window it
    compiles no class, and every stage's source equals the first
    window's."""
    first = search(_window(0))
    first.collect()
    before = _compiles(spark)
    second = search(_window(1))
    second.collect()
    assert _compiles(spark) - before == 0, name
    assert _stage_bodies(second) == _stage_bodies(first), name


def test_new_window_compiles_nothing(spark, reg, sf_dir, served_fe):
    """The 17 searches of :func:`test_search_methods_fit_the_jit`: the AQL
    corpus over served qevents, and the routable aggregates through the
    registry's frontend (one of those six carries a window)."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS
    from qradar_restapi_kafka_datapipeline_spark.entry_queries import (
        AUTO_ROLLUP_AQL,
        setup,
    )

    fe = setup(spark, sf_dir)
    searches = {
        q: (lambda p, aql=aql: served_fe.sql(aql, p)) for q, aql in AQL_CORPUS.items()
    }
    searches.update(
        (n, lambda p, aql=aql: fe.sql(aql, p, auto_route=True))
        for n, aql in AUTO_ROLLUP_AQL.items()
    )
    assert len(searches) == 17
    for name, search in searches.items():
        _assert_new_window_compiles_nothing(spark, name, search)


def test_new_window_bound_and_last_compile_nothing(spark, served_fe):
    """Bound parameters sit inside the same DECIMAL bounds, and ``LAST n``
    over the engine clock folds to a new DECIMAL literal per call, so a
    repeated ``LAST`` search compiles nothing either."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS

    aql = AQL_CORPUS["AllowedOutboundTraffic"]
    _assert_new_window_compiles_nothing(
        spark, "sql_bound", lambda p: served_fe.sql_bound(aql, p)
    )
    last = (
        "SELECT eventName, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events WHERE magnitude > 3 GROUP BY eventName LAST 30 MINUTES"
    )
    _assert_new_window_compiles_nothing(
        spark, "LAST", lambda _p: served_fe.sql(last)
    )


def test_new_window_pipeline_unit_compiles_nothing(spark, reg, tmp_path):
    """One scheduled-run unit (search plus ``merge_rollup``) over the
    derived qevents view.  The first two windows warm the first write of a
    new sink and a merge into an existing one; the third compiles nothing
    (2 classes with TIMESTAMP bounds)."""
    from qradar_restapi_kafka_datapipeline_spark.pipeline import Pipeline

    pipe = Pipeline(spark, str(tmp_path / "sinks"))

    def unit(i):
        start, stop = _NEW_WINDOWS[i]
        runs = pipe.run_all(
            ["customer_2"], start, stop, query_names=["AllowedOutboundTraffic"]
        )
        assert runs, f"window {i} wrote nothing"

    unit(0)
    unit(1)
    before = _compiles(spark)
    unit(2)
    assert _compiles(spark) - before == 0


def test_day_pruned_scan_new_window_keeps_date_partition_filters(spark, reg, sf_dir):
    """The day-partitioned scan keeps constant DATE PartitionFilters (they
    prune at file listing, outside the generated code), and a second window
    generates the same stages."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend

    reg["aql_day_pruned_scan"].run(spark, sf_dir)  # registers qevents_day
    fe = AQLFrontend(spark, events_view="qevents_day", partition_col="event_date")
    aql = (
        "SELECT eventName, CAST(SUM(eventCount) AS BIGINT) AS total FROM events "
        "GROUP BY eventName START '{start_time}' STOP '{stop_time}'"
    )
    for i, (start, _stop) in enumerate(_NEW_WINDOWS[:2]):
        plan = _formatted_plan(fe.sql(aql, _window(i)))
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and re.search(rf"event_date#\d+ >= {start[:10]}\)", m.group(1)), plan
    _assert_new_window_compiles_nothing(
        spark, "aql_day_pruned_scan", lambda p: fe.sql(aql, p)
    )


def test_fullnetworkname_guards_contiguous_domains_with_between():
    """A guard over a contiguous run of domains is one BETWEEN; any other
    domain set keeps its IN list."""
    from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
        fullnetworkname_expr,
    )

    expr = fullnetworkname_expr("ip", domain_col="d")
    assert "CAST(d AS BIGINT) BETWEEN 0 AND 4 AND" in expr
    assert "CAST(d AS BIGINT) IN (0, 3, 4) AND" in expr  # 10.64/10: not in 1, 2
    assert "CAST(d AS BIGINT) IN (1) AND" in expr

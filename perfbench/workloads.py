"""The benchmark's workloads.

Each workload builds its state in :meth:`setup` (timed as ``setup_s``),
yields closed-loop ops from :meth:`ops` (one client, one op at a time), and
checks the program's outputs against an independent oracle in :meth:`check`,
outside the timed loop.  Ops raise on failure; the runner counts them.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import time

import duckdb
import pandas as pd
from pyspark.sql import functions as F

import tracing
from qradar_restapi_kafka_datapipeline_spark import views
from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS
from qradar_restapi_kafka_datapipeline_spark.operators import contamination as C
from qradar_restapi_kafka_datapipeline_spark.operators import dedup as D
from qradar_restapi_kafka_datapipeline_spark.operators import sketches as K
from qradar_restapi_kafka_datapipeline_spark.operators import text as T
from qradar_restapi_kafka_datapipeline_spark.pipeline import Pipeline
from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend, aql_oracle_sql
from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
    try_route_to_globalview,
)
from qradar_restapi_kafka_datapipeline_spark.sources.ingest import (
    normalize_stream,
    table_name,
)
from qradar_restapi_kafka_datapipeline_spark.sources.kafka_fake import FileKafkaFake
from qradar_restapi_kafka_datapipeline_spark.sources.registry import (
    load_tables,
    register_qevents,
)
from qradar_restapi_kafka_datapipeline_spark.streaming.rollup_stream import (
    streaming_rollup_exact,
)

#: share of searches that repeat the query's previous parameters -- an
#: assumption (see README.md, *Assumed traffic*)
REPEAT_SHARE = 0.25
#: untimed searches before aql_search's timed loop
WARMUP_SEARCHES = 6
#: searches between two corpus operators in aql_search
SEARCHES_PER_ROUND = 6
#: hashed semantic-pairs configuration shared with its DuckDB oracle
SEMANTIC_KW = dict(dim=4096, threshold=0.5, prefix_m=4, max_bucket_docs=64)
LSH_THRESHOLD = 0.85
#: verified LSH pairs must include every pair at least this similar: its
#: 16-band x 4-row miss probability, (1 - 0.9**4)**16, is below 1e-7
LSH_SURE = 0.9
#: documents a text-index serve may take its query text from
SERVE_QUERY_DOCS = 200
#: op kind -> suffix of its output-size metric.  The per-layer metrics of
#: an op are ``operators.<kind>_{ms,jobs,shuffle_bytes,python_worker_ms}``
#: and ``operators.<kind>_<suffix>``.
CORPUS_OPS = {
    "dedup.minhash_lsh": "pairs",
    "text.semantic_pairs": "pairs",
    "contamination.bloom": "rows",
    "sketches.kmv": "rows",
    "sketches.hll": "rows",
    "text.index_serve": "rows",
}


def canon(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result; values are rendered the same
    way whichever engine produced them."""
    import datetime as dt
    import math

    def norm(v) -> str:
        if v is None:
            return "NULL"
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, dt.date):  # DuckDB's DATE_TRUNC('day', ts) is a DATE
            return dt.datetime(v.year, v.month, v.day).isoformat()
        if isinstance(v, float) or type(v).__name__.startswith("float"):
            f = float(v)
            return "NULL" if math.isnan(f) else repr(f)
        if type(v).__name__.startswith(("int", "uint")):
            return str(int(v))
        if hasattr(v, "tolist"):
            return repr(v.tolist())
        if isinstance(v, (list, tuple)):
            return repr([norm(x) for x in v])
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return f"{len(lines)}:{h}"


def duck(tables_dir: str):
    """DuckDB connection with a view per generated table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            name = f[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"'{os.path.join(tables_dir, f)}'"
            )
    return con


def duck_canon(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon(cols, cur.fetchall())


def window(rng: random.Random) -> tuple[str, str]:
    """A seeded day of January 2024 as a START/STOP window: the reference's
    scheduled run searches one 24 h window, midnight to midnight."""
    day = rng.randint(1, 29)
    return f"2024-01-{day:02d} 00:00:00", f"2024-01-{day + 1:02d} 00:00:00"


class Workload:
    name = ""
    #: sizes passed to gen.generate
    inputs: dict[str, int] = {}
    #: ops the timed loop always runs, even past its deadline, so that every
    #: run holds samples of every latency kind
    min_ops = 3

    def __init__(self, spark, paths: dict[str, str], work: str, seed: int,
                 tracer) -> None:
        self.spark = spark
        self.paths = paths
        self.tables = paths["tables"]
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed ops that let the JVM and Spark's caches warm up."""

    def ops(self):
        """Yield ``(kind, callable)`` forever.  The kind names what the op
        does (one AQL search, a streaming epoch, a unit of one query, a
        corpus operator); latencies are summarized per kind."""
        raise NotImplementedError

    def work_done(self, done: list[tuple[str, float, bool]]) -> float:
        """Items of work per second over the timed ops."""
        raise NotImplementedError

    def kinds(self) -> list[str]:
        """The op kinds whose latencies make up the workload's figures:
        every run must hold a successful op of each, or its figures are
        not comparable with another run's."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def layer_metrics(self, done, snap) -> dict[str, float]:
        """Per-layer metrics from the trace and the status-store ``snap``."""
        return {}

    def teardown(self) -> None:
        pass


# --- aql_search -----------------------------------------------------------------

def routable_aggregates() -> dict[str, str]:
    """Raw-event aggregates the rollup router can prove covered by a
    GLOBALVIEW (each carries a view's defining filter as a conjunct and
    only covered dims), so ``auto_route=True`` scans the view instead of
    raw events."""
    w = "START '{start_time}' STOP '{stop_time}'"
    return {
        "agg_errors_by_user": (
            "SELECT domainId, userName, CAST(SUM(eventCount) AS BIGINT) AS "
            "total_events FROM events WHERE eventName = 'error' AND "
            f"domainId = {{domain_id}} GROUP BY domainId, userName {w}"
        ),
        "agg_top_users": (
            "SELECT userName, CAST(SUM(eventCount) AS BIGINT) AS total_events "
            "FROM events WHERE magnitude >= 7 GROUP BY userName "
            f"ORDER BY SUM(eventCount) DESC, userName ASC LIMIT 10 {w}"
        ),
        "agg_daily_clicks": (
            "SELECT DATE_TRUNC('day', ts) AS day, COUNT(DISTINCT userName) "
            "AS n_users, CAST(SUM(eventCount) AS BIGINT) AS total_events "
            "FROM events WHERE eventName = 'click' "
            f"GROUP BY DATE_TRUNC('day', ts) {w}"
        ),
        "agg_signup_counts": (
            "SELECT domainId, COUNT(*) AS n_events, AVG(eventCount) AS "
            "avg_event_count, CAST(SUM(eventCount) AS BIGINT) AS total_events "
            f"FROM events WHERE eventName = 'signup' GROUP BY domainId {w}"
        ),
        "agg_view_minmax": (
            "SELECT domainId, CAST(MIN(eventCount) AS BIGINT) AS min_ec, "
            "CAST(MAX(eventCount) AS BIGINT) AS max_ec FROM events "
            f"WHERE eventName = 'view' GROUP BY domainId {w}"
        ),
        "agg_high_magnitude_total": (
            "SELECT CAST(SUM(eventCount) AS BIGINT) AS total_events, "
            "COUNT(DISTINCT userName) AS n_users FROM events "
            f"WHERE magnitude >= 7 {w}"
        ),
    }


class AqlSearch(Workload):
    """The read path: seeded AQL searches over materialized qevents -- the
    11 corpus searches (2 raw-event, 9 GLOBALVIEW) plus rollup-routable
    aggregates -- with the corpus operators (:class:`Corpus`) run in
    between."""

    name = "aql_search"
    inputs = {"events": 100_000, "docs": 400}
    #: six rounds of six searches and one corpus operator: two passes over
    #: the 17 searches (at least two samples of each) and one call of each
    #: operator
    min_ops = (SEARCHES_PER_ROUND + 1) * len(CORPUS_OPS)

    def setup(self) -> None:
        spark = self.spark
        load_tables(spark, self.tables)
        register_qevents(spark, self.tables)
        path = os.path.join(self.work, "qevents")
        spark.table("qevents").write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView("qevents")
        views.register_globalviews(spark)
        views.register_ref_sets(spark)
        self.fe = AQLFrontend(spark)
        self.corpus = AQL_CORPUS
        self.aggs = routable_aggregates()
        self.op_keys: list[tuple] = []
        with open(self.paths["ep_clients"]) as f:
            self.ep_of = {c: ep for ep, cs in json.load(f).items() for c in cs}
        self.rows: dict[tuple, list] = {}
        self.exec_ms = {"globalview": 0.0, "raw": 0.0}
        self.ops_corpus = Corpus(spark, self.work, self.rng)
        self.ops_corpus.setup()

    def _params(self, rng: random.Random) -> dict[str, str]:
        dom = rng.randrange(5)
        start, stop = window(rng)
        return {"customer_name": f"customer_{dom}", "domain_id": str(dom),
                "start_time": start, "stop_time": stop,
                "event_processor": self.ep_of[f"customer_{dom}"]}

    def search_pass(self) -> list[tuple[str, bool]]:
        """``(query, auto_route)`` for one pass over every search: the
        GLOBALVIEW corpus searches, the routable aggregates (issued with
        ``auto_route=True``) and the raw-event corpus searches, interleaved.
        The order is fixed, not drawn, so every run times the same
        searches."""
        raw = [q for q in self.corpus if "GLOBALVIEW" not in self.corpus[q]]
        gv = [q for q in self.corpus if q not in raw]
        cols = [[(q, False) for q in gv], [(q, True) for q in self.aggs],
                [(q, False) for q in raw]]
        return [x for row in itertools.zip_longest(*cols) for x in row if x]

    def kinds(self) -> list[str]:
        return [f"search:{q}" for q, _ in self.search_pass()] + list(CORPUS_OPS)

    def draws(self, rng: random.Random):
        """Passes of :meth:`search_pass` with seeded parameters; a
        ``REPEAT_SHARE`` of draws reuse the query's previous parameters."""
        last: dict[str, tuple] = {}
        while True:
            for q, route in self.search_pass():
                if q in last and rng.random() < REPEAT_SHARE:
                    yield last[q]
                    continue
                last[q] = (q, tuple(sorted(self._params(rng).items())), route)
                yield last[q]

    def _search(self, key: tuple, scans_view: bool) -> None:
        q, p, route = key
        df = self.fe.sql(self.corpus.get(q) or self.aggs[q], dict(p), auto_route=route)
        t0 = time.perf_counter()
        rows = df.collect()
        self.exec_ms["globalview" if scans_view else "raw"] += (
            1000.0 * (time.perf_counter() - t0))
        if key not in self.rows:
            self.rows[key] = (df.columns, rows)

    def scans_view(self, key: tuple) -> bool:
        """Whether the search reads a GLOBALVIEW: a corpus GLOBALVIEW scan,
        or an aggregate issued with auto_route that the router covers."""
        q, p, route = key
        if q in self.corpus:
            return "GLOBALVIEW" in self.corpus[q]
        # the name bound at import, not the module attribute a traced run
        # wraps: the benchmark's own classification is not router work
        return route and try_route_to_globalview(self.aggs[q].format(**dict(p))) is not None

    def warmup(self) -> None:
        """The first ``WARMUP_SEARCHES`` searches of their own draws, two of
        each class: the first search of a class pays for its plan shape,
        and the driver's JIT keeps speeding analysis up after that."""
        draws = self.draws(random.Random(self.seed ^ 0x5EED))
        for q, p, route in itertools.islice(draws, WARMUP_SEARCHES):
            self.fe.sql(self.corpus.get(q) or self.aggs[q], dict(p),
                        auto_route=route).collect()

    def ops(self):
        """Rounds of ``SEARCHES_PER_ROUND`` searches and one corpus
        operator, the operators in their fixed order."""
        draws = self.draws(self.rng)
        for kind in itertools.cycle(CORPUS_OPS):
            for key in itertools.islice(draws, SEARCHES_PER_ROUND):
                self.op_keys.append(key)
                gv = self.scans_view(key)
                yield f"search:{key[0]}", (lambda k=key, gv=gv: self._search(k, gv))
            yield self.ops_corpus.op(kind)

    def work_done(self, done) -> float:
        """Successful searches per second of search time (the corpus
        operators show in the op latencies)."""
        searches = [(ms, ok) for kind, ms, ok in done if kind not in CORPUS_OPS]
        return sum(ok for _, ok in searches) / (sum(ms for ms, _ in searches) / 1000.0)

    def check(self) -> list[str]:
        con = duck(self.tables)
        errors = []
        for (q, p, route), (cols, rows) in self.rows.items():
            text = self.corpus.get(q) or self.aggs[q]
            want = duck_canon(con, aql_oracle_sql(text, dict(p)))
            got = canon(cols, rows)
            if got != want:
                errors.append(f"aql_search {q} {dict(p)} route={route}: "
                              f"spark {got} != duckdb {want}")
        return errors + self.ops_corpus.check(con)

    def layer_metrics(self, done, snap) -> dict[str, float]:
        t = self.tracer
        n = max(len(done), 1)
        tried = [k for k in self.op_keys if k[2]]
        routed = sum(1 for k in tried if self.scans_view(k))
        return {
            "plans.aql.translate_ms": t.total_ms("plans.aql.translate") / n,
            "plans.aql.translate_calls": t.count("plans.aql.translate") / n,
            "plans.rollup_router.route_ms": t.total_ms("plans.rollup_router.route") / n,
            "plans.rollup_router.routed_share": routed / len(tried) if tried else 0.0,
            "views.globalview_exec_ms": self.exec_ms["globalview"] / n,
            "sources.qevents.raw_exec_ms": self.exec_ms["raw"] / n,
            **self.ops_corpus.layer_metrics(snap),
        }


# --- corpus operators (run inside aql_search) --------------------------------------

class Corpus:
    """The ROADMAP item-5 operator families over the generated documents
    (and events, for the distinct-count sketches), plus seeded top-k serves
    on a text index persisted at set-up."""

    def __init__(self, spark, work: str, rng: random.Random) -> None:
        self.spark = spark
        self.index = os.path.join(work, "text_index")
        self.rng = rng

    def setup(self) -> None:
        spark = self.spark
        T.build_text_index(spark, self.index, dim=4096)
        self.doc_text = {
            r["doc_id"]: r["text"] for r in spark.table("documents")
            .where(f"doc_id < {SERVE_QUERY_DOCS}").collect()
        }
        self.n_docs = spark.table("documents").count()
        self.out: dict[str, list[tuple[list[str], list]]] = {}
        self.serves: list[tuple[int, int]] = []
        self.windows: dict[str, list[tuple[float, float]]] = {}

    def make(self, kind: str):
        """A callable that builds ``kind``'s result DataFrame; a serve draws
        its query document and k from the seed."""
        spark = self.spark
        if kind == "dedup.minhash_lsh":
            return lambda: D.minhash_lsh_pairs(spark.table("documents"),
                                               threshold=LSH_THRESHOLD)
        if kind == "text.semantic_pairs":
            return lambda: T.hashed_semantic_pairs(spark, **SEMANTIC_KW)
        if kind == "contamination.bloom":
            return lambda: C.decontaminate_train_bloom(
                spark.table("documents")).select("doc_id", "source", "lang")
        if kind == "sketches.kmv":
            return lambda: spark.sql(K.kmv_distinct_sql("spark"))
        if kind == "sketches.hll":
            return lambda: spark.sql(K.hll_distinct_sql("spark"))
        d, k = self.rng.randrange(SERVE_QUERY_DOCS), self.rng.choice((3, 5, 10))
        self.serves.append((d, k))
        return lambda: T.text_knn_from_index(spark, self.index, self.doc_text[d],
                                             k=k, dim=4096, query_id=d, exclude_id=d)

    def op(self, kind: str):
        """``(kind, callable)``: build and collect one result, recording the
        op's time window (some operators materialize intermediates while
        building their DataFrame)."""
        make = self.make(kind)

        def run() -> None:
            t0 = time.time()
            df = make()
            rows = df.collect()
            self.windows.setdefault(kind, []).append((t0, time.time()))
            self.out.setdefault(kind, []).append((df.columns, rows))
        return kind, run

    def check(self, con) -> list[str]:
        """The registry's DuckDB oracles where they exist; LSH pairs against
        exhaustive Jaccard; the serves against the oracle for one fixed
        query and as well-formed top-k results."""
        errors = []
        oracles = {
            "text.semantic_pairs": T.hashed_semantic_pairs_sql("duckdb", **SEMANTIC_KW),
            "contamination.bloom": C.decontaminate_oracle_sql(),
            "sketches.kmv": K.kmv_distinct_sql("duckdb"),
            "sketches.hll": K.hll_distinct_sql("duckdb"),
        }
        exact = {(a, b): j for a, b, j in con.execute(exact_jaccard_sql(LSH_THRESHOLD)).fetchall()}
        for cols, rows in self.out.get("dedup.minhash_lsh", []):
            got = {(r[0], r[1]): r[2] for r in rows}
            wrong = [k for k, j in got.items() if abs(exact.get(k, -1.0) - j) > 1e-6]
            missed = [k for k, j in exact.items() if j >= LSH_SURE and k not in got]
            if wrong or missed:
                errors.append(f"corpus dedup.minhash_lsh: {len(wrong)} pairs not "
                              f"verified by exact Jaccard, {len(missed)} sure pairs missed")
        for kind, sql in oracles.items():
            got = {canon(c, r) for c, r in self.out.get(kind, [])}
            want = duck_canon(con, sql)
            if got - {want}:
                errors.append(f"corpus {kind}: spark {sorted(got)} != duckdb {want}")
        fixed = T.text_knn_from_index(self.spark, self.index, self.doc_text[0],
                                      k=3, dim=4096, query_id=0, exclude_id=0)
        want = duck_canon(con, T.hashed_text_knn_sql("duckdb", query_max=1, k=3,
                                                     dim=4096))
        if canon(fixed.columns, fixed.collect()) != want:
            errors.append("corpus text.index_serve differs from its oracle")
        for (d, k), (cols, rows) in zip(self.serves, self.out.get("text.index_serve", [])):
            bad = serve_invariant(k, cols, rows, self.n_docs)
            if bad:
                errors.append(f"corpus text.index_serve doc {d} k={k}: {bad}")
        return errors

    def layer_metrics(self, snap) -> dict[str, float]:
        """Per call of each operator: wall time, and the jobs, shuffle bytes
        and Python-worker time submitted inside its calls; output size."""
        out: dict[str, float] = {}
        for kind, suffix in CORPUS_OPS.items():
            wins = self.windows.get(kind, [])
            k = max(len(wins), 1)
            tot = tracing.window_totals(snap, wins)
            name = f"operators.{kind}"
            out[f"{name}_ms"] = 1000.0 * sum(e - s for s, e in wins) / k
            out[f"{name}_jobs"] = tot["jobs"] / k
            out[f"{name}_shuffle_bytes"] = (tot["shr_b"] + tot["shw_b"]) / k
            out[f"{name}_python_worker_ms"] = tot["py_ms"] / k
            rows = [len(r) for _, r in self.out.get(kind, [])]
            out[f"{name}_{suffix}"] = sum(rows) / len(rows) if rows else 0.0
        return out


def exact_jaccard_sql(threshold: float) -> str:
    """DuckDB: every document pair whose 3-word-shingle Jaccard reaches
    ``threshold``, computed exhaustively (no hashing)."""
    return f"""
        WITH words AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
          FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
        n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b, ROUND(c / (na.n + nb.n - c), 6) AS j
        FROM common JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b
        WHERE c / (na.n + nb.n - c) >= {threshold}"""


def serve_invariant(k: int, cols: list[str], rows, n: int) -> str:
    """Empty when a top-k result is well formed: rows present, at most k,
    ids inside the corpus and none repeated."""
    if not rows:
        return "no rows"
    if len(rows) > k:
        return f"{len(rows)} > k={k} rows"
    ids = [dict(zip(cols, r))["n_id"] for r in rows]
    if any(i is None or not 0 <= i < n for i in ids):
        return "an id outside the corpus"
    if len(set(ids)) != len(ids):
        return "a duplicate id"
    return ""


# --- batch_run ------------------------------------------------------------------

class BatchRun(Workload):
    """The reference's scheduled run: every (event processor, customer,
    query) unit through ``Pipeline.run_all``, one call at a time."""

    name = "batch_run"
    inputs = {"events": 100_000}

    def setup(self) -> None:
        spark = self.spark
        load_tables(spark, self.tables)
        register_qevents(spark, self.tables)
        views.register_globalviews(spark)
        views.register_ref_sets(spark)
        self.sinks = os.path.join(self.work, "sinks")
        self.pipe = Pipeline(spark, self.sinks)
        with open(self.paths["ep_clients"]) as f:
            self.ep_clients = json.load(f)
        #: sink table → list of (query, params) merged into it
        self.merged: dict[str, list[tuple[str, dict]]] = {}
        self.outcomes = {"units_written": 0, "units_skipped": 0, "units_failed": 0}

    def units(self, rng: random.Random):
        """Rounds over every (EP, customer) pair in seeded order; each pair
        runs every corpus query, in the corpus's own order, over one seeded
        day.  The fixed query order keeps the mix of written and failing
        units in a time-bounded run the same for every seed."""
        pairs = [(ep, c) for ep, cs in sorted(self.ep_clients.items()) for c in cs]
        while True:
            rng.shuffle(pairs)
            for ep, c in pairs:
                start, stop = window(rng)
                for q in self.pipe.queries:
                    yield ep, c, q, start, stop

    def _unit(self, ep, c, q, start, stop) -> None:
        try:
            runs = self.pipe.run_all([c], start, stop, query_names=[q],
                                     event_processor=ep)
        except Exception:
            self.outcomes["units_failed"] += 1
            raise
        if not runs:
            self.outcomes["units_skipped"] += 1
            return
        self.outcomes["units_written"] += 1
        params = {"customer_name": c, "start_time": start, "stop_time": stop,
                  "event_processor": ep}
        self.merged.setdefault(table_name(c, q), []).append((q, params))

    def warmup(self) -> None:
        """One unit of each query that writes a sink, over a week (a day
        may hold no matching event) into sinks of their own: the first
        unit of a query pays for its plan shape and the first merge into a
        table."""
        ep = sorted(self.ep_clients)[0]
        c = self.ep_clients[ep][0]
        saved = self.sinks
        self.pipe.sink_base = os.path.join(self.work, "warmup_sinks")
        self.pipe.run_all([c], "2024-01-01 00:00:00", "2024-01-08 00:00:00",
                          query_names=[k.split(":", 1)[1] for k in self.kinds()],
                          event_processor=ep)
        self.pipe.sink_base = saved

    def ops(self):
        for u in self.units(self.rng):
            yield f"unit:{u[2]}", (lambda u=u: self._unit(*u))

    def kinds(self) -> list[str]:
        """The units that write a sink: the raw-event queries.  GLOBALVIEW
        units fail (see README.md) and count only in ``failed``."""
        return [f"unit:{q}" for q, text in self.pipe.queries.items()
                if "GLOBALVIEW" not in text]

    def work_done(self, done) -> float:
        """Units attempted per second."""
        return len(done) / (sum(ms for _, ms, _ in done) / 1000.0)

    def check(self) -> list[str]:
        """Each sink's hourly Event_Count sums equal the DuckDB oracle's
        hourly SUM over every search merged into it."""
        con = duck(self.tables)
        corpus = self.pipe.queries
        errors = []
        ts_of = (
            "CASE WHEN st > 10000000000 THEN make_timestamp(st * 1000) "
            "ELSE make_timestamp(st * 1000000) END"
        )
        for table, merges in sorted(self.merged.items()):
            got = (
                self.spark.read.parquet(os.path.join(self.sinks, table))
                .groupBy(F.date_trunc("hour", "Start_Time").alias("h"))
                .agg(F.sum("Event_Count").cast("bigint").alias("n"))
                .collect()
            )
            parts = " UNION ALL ".join(
                f"SELECT \"Start Time\" AS st, \"Event Count\" AS n FROM "
                f"({aql_oracle_sql(corpus[q], p)})"
                for q, p in merges
            )
            want = duck_canon(
                con,
                f"SELECT date_trunc('hour', {ts_of}) AS h, "
                f"CAST(SUM(n) AS BIGINT) AS n FROM ({parts}) GROUP BY 1",
            )
            if canon(["h", "n"], got) != want:
                errors.append(f"batch_run sink {table} ({len(merges)} merges) "
                              f"differs from the oracle's hourly sums")
        return errors

    def pipeline_metrics(self, n: int) -> dict[str, float]:
        t = self.tracer
        units = max(t.count("pipeline.run_all"), 1)
        run_ms = t.total_ms("pipeline.run_all")
        merge_ms = t.total_ms("operators.rollup.merge_rollup", parent="pipeline.run_all")
        return {
            "plans.aql.translate_ms": t.total_ms("plans.aql.translate") / n,
            "plans.aql.translate_calls": t.count("plans.aql.translate") / n,
            "pipeline.unit_ms": run_ms / units,
            "pipeline.search_ms": (run_ms - merge_ms) / units,
            **{f"pipeline.{k}": v for k, v in self.outcomes.items()},
        }

    def layer_metrics(self, done, snap) -> dict[str, float]:
        n = max(len(done), 1)
        return {**self.pipeline_metrics(n),
                **rollup_layer(self.tracer, snap, [self.sinks], n)}


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
                files += 1
    return total, files


def rollup_layer(tracer, snap, roots: list[str], n: int) -> dict[str, float]:
    """Merge cost and write amplification: bytes the merges' jobs wrote
    over the bytes the final tables under ``roots`` hold."""
    sizes = [tree_bytes(r) for r in roots]
    table_b, table_f = sum(b for b, _ in sizes), sum(f for _, f in sizes)
    spans = tracer.op_spans("operators.rollup.merge_rollup")
    written = tracing.window_totals(snap, spans)["out_b"]
    return {
        "operators.rollup.merge_ms": tracer.total_ms("operators.rollup.merge_rollup")
        / max(len(spans), 1),
        "operators.rollup.merge_calls": tracer.count("operators.rollup.merge_rollup") / n,
        "operators.rollup.bytes_written": written / n,
        "operators.rollup.write_amp": written / table_b if table_b else 0.0,
        "operators.rollup.table_bytes": table_b,
        "operators.rollup.table_files": table_f,
    }


# --- stream_ingest ---------------------------------------------------------------

class StreamIngest(Workload):
    """Kafka-wire epochs through the streaming exact roll-up: each op
    releases one produced epoch to the source and waits until the
    micro-batch that folds it has committed."""

    name = "stream_ingest"
    #: one warm-up epoch and three timed ones in etl_ingest, plus a spare
    inputs = {"epochs": 5}
    min_ops = 1

    def setup(self) -> None:
        base = os.path.join(self.work, "stream")
        with open(self.paths["stream"]) as f:
            self.epochs = [json.loads(line) for line in f]
        staged = FileKafkaFake(os.path.join(base, "staged"))
        for ep in self.epochs:
            staged.produce("events", ep)
        self.staged_dir = staged._topic_dir("events")
        self.batch_files = sorted(
            f for f in os.listdir(self.staged_dir) if f.startswith("batch-")
        )
        live = FileKafkaFake(os.path.join(base, "live"))
        self.live_dir = live._topic_dir("events")
        self.out = os.path.join(base, "rollup")
        self.query = streaming_rollup_exact(
            normalize_stream(live.read_stream(self.spark, "events",
                                              max_files_per_trigger=1)),
            self.out, os.path.join(base, "ckpt"),
            available_now=False, processing_time="0 seconds",
        )
        self.released = 0
        self.progress: list[dict] = []

    def _release(self) -> None:
        """Publish the next epoch file and wait for its micro-batch."""
        if self.released >= len(self.batch_files):
            raise RuntimeError("stream inputs exhausted; raise the epoch count")
        f = self.batch_files[self.released]
        os.rename(os.path.join(self.staged_dir, f), os.path.join(self.live_dir, f))
        want = self.released
        self.released += 1
        while True:
            p = self.query.lastProgress
            if p is not None and p["batchId"] >= want and p["numInputRows"] > 0:
                self.progress.append(p)
                return
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.005)

    def warmup(self) -> None:
        self._release()
        self.progress.clear()

    def ops(self):
        while True:
            yield "epoch", self._release

    def kinds(self) -> list[str]:
        return ["epoch"]

    def work_done(self, done) -> float:
        """Events folded per second of epoch time."""
        ok = [ms for _, ms, good in done if good]
        return len(ok) * len(self.epochs[0]) / (sum(ok) / 1000.0) if ok else 0.0

    def teardown(self) -> None:
        q = getattr(self, "query", None)
        if q is not None:
            q.stop()
            self.query = None

    def check(self) -> list[str]:
        """The final roll-up equals DuckDB's hourly SUM over every
        released event (each released epoch is committed before the next
        op starts, so stopping between ops loses nothing)."""
        self.teardown()
        events = pd.DataFrame(
            [e for ep in self.epochs[: self.released] for e in ep]
        )
        con = duckdb.connect()
        con.register("ev", events)
        dims = ["domainName", "domainId", "sourceIP", "destinationIP",
                "sourcePort", "destinationPort", "qid", "category",
                "highlevelcategory", "devicetype", "logSourceId", "userName",
                "magnitude"]
        want = duck_canon(
            con,
            "SELECT CAST(epoch(date_trunc('hour', make_timestamp(startTime * 1000))) "
            f"AS BIGINT) AS h, {', '.join(dims)}, CAST(SUM(eventCount) AS BIGINT) "
            f"AS n FROM ev GROUP BY ALL",
        )
        sink = {"Domain": "domainId", "Source_IP": "sourceIP",
                "Destination_IP": "destinationIP", "Source_Port": "sourcePort",
                "Destination_Port": "destinationPort", "QID": "qid",
                "Username": "userName", "Magnitude": "magnitude"}
        df = self.spark.read.parquet(self.out)
        got_rows = df.select(
            F.unix_timestamp("Start_Time").alias("h"),
            *[F.col(c).alias(sink.get(c, c)) for c in
              ["domainName", "Domain", "Source_IP", "Destination_IP",
               "Source_Port", "Destination_Port", "QID", "category",
               "highlevelcategory", "devicetype", "logSourceId", "Username",
               "Magnitude"]],
            F.col("Event_Count").cast("bigint").alias("n"),
        ).collect()
        got = canon(["h", *dims, "n"], got_rows)
        if got != want:
            return [f"stream_ingest roll-up {got} != duckdb {want}"]
        return []

    def stream_metrics(self) -> dict[str, float]:
        prog = self.progress
        e = max(len(prog), 1)

        def dur(k: str) -> float:
            return sum(p["durationMs"].get(k, 0) for p in prog) / e

        # the foreachBatch merge runs on the stream's own thread: no parent
        merge_ms = self.tracer.total_ms("operators.rollup.merge_rollup", parent=None)
        add = sum(p["durationMs"].get("addBatch", 0) for p in prog)
        rows = sum(p["numInputRows"] for p in prog)
        return {
            "streaming.rollup_stream.epochs": len(prog),
            "streaming.rollup_stream.trigger_ms": dur("triggerExecution"),
            "streaming.rollup_stream.add_batch_ms": dur("addBatch"),
            "streaming.rollup_stream.overhead_ms": dur("triggerExecution") - dur("addBatch"),
            "streaming.rollup_stream.query_planning_ms": dur("queryPlanning"),
            "streaming.rollup_stream.wal_commit_ms": dur("walCommit"),
            "streaming.rollup_stream.latest_offset_ms": dur("latestOffset"),
            "streaming.rollup_stream.merge_share": merge_ms / add if add else 0.0,
            "sources.ingest.rows_parsed": rows / e,
            "sources.ingest.input_bytes": sum(
                os.path.getsize(os.path.join(self.live_dir, f))
                for f in self.batch_files[self.released - len(prog) : self.released]
            ) / e,
        }

    def layer_metrics(self, done, snap) -> dict[str, float]:
        return {**self.stream_metrics(),
                **rollup_layer(self.tracer, snap, [self.out], max(len(done), 1))}


# --- etl_ingest -----------------------------------------------------------------

class EtlIngest(Workload):
    """Both write paths into hourly roll-ups, interleaved: one streaming
    epoch, then one (event processor, customer) block of the scheduled run
    (every corpus query through ``Pipeline.run_all``), and again."""

    name = "etl_ingest"
    inputs = {**BatchRun.inputs, **StreamIngest.inputs}
    #: three cycles of an epoch and a whole block: every run holds three
    #: epochs, three units of each query that writes a sink (the first of
    #: each is cold), and the failing GLOBALVIEW units
    min_ops = 3 * (1 + len(AQL_CORPUS))

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.batch = BatchRun(*a, **kw)
        self.stream = StreamIngest(*a, **kw)

    def setup(self) -> None:
        self.batch.setup()
        self.stream.setup()

    def warmup(self) -> None:
        self.stream.warmup()

    def ops(self):
        units, epochs = self.batch.ops(), self.stream.ops()
        block = len(self.batch.pipe.queries)
        while True:
            yield next(epochs)
            for _ in range(block):
                yield next(units)

    def kinds(self) -> list[str]:
        return self.stream.kinds() + self.batch.kinds()

    def work_done(self, done) -> float:
        """Events folded per second of streaming epochs (the batch units'
        cost shows in the op latencies)."""
        return self.stream.work_done([d for d in done if d[0] == "epoch"])

    def check(self) -> list[str]:
        return self.batch.check() + self.stream.check()

    def teardown(self) -> None:
        self.stream.teardown()

    def layer_metrics(self, done, snap) -> dict[str, float]:
        n = max(len(done), 1)
        return {**self.stream.stream_metrics(), **self.batch.pipeline_metrics(n),
                **rollup_layer(self.tracer, snap, [self.batch.sinks, self.stream.out], n)}

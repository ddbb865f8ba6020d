"""End-to-end pipeline orchestration (SURVEY §2 B17/B18, §3.1).

The reference fans out 2 OS processes × N query threads and ETLs serially per
process (``run.py:34-52``).  Here a "run" is just Spark jobs: one logical plan
per (customer, query), scheduled by Spark — parallelism, locality, and retry
belong to the scheduler, not a thread pool.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS
from qradar_restapi_kafka_datapipeline_spark.operators.rollup import merge_rollup
from qradar_restapi_kafka_datapipeline_spark.plans.aql import AQLFrontend
from qradar_restapi_kafka_datapipeline_spark.sources.ingest import table_name


@dataclass
class QueryRun:
    customer_name: str
    query_name: str
    table: str
    rows: int


class Pipeline:
    """compile(AQL) → execute → roll-up sink, per (customer, query)."""

    def __init__(
        self,
        spark: SparkSession,
        sink_base: str,
        queries: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.sink_base = sink_base
        self.queries = AQL_CORPUS if queries is None else queries
        self.frontend = AQLFrontend(spark)

    def run_query(
        self,
        query_name: str,
        customer_name: str,
        start_time: str,
        stop_time: str,
        event_processor: str = "ep1",
    ) -> DataFrame:
        """Build the search parameters and execute (B17: the search_params
        assembly, reference qradar/query_builder.py:45-67 — minus the
        hardcoded dates)."""
        params = {
            "customer_name": customer_name,
            "start_time": start_time,
            "stop_time": stop_time,
            "event_processor": event_processor,
        }
        return self.frontend.sql(self.queries[query_name], params)

    def _run_one(
        self,
        customer: str,
        qname: str,
        start_time: str,
        stop_time: str,
        event_processor: str,
        measure: str,
        time_col: str,
    ) -> QueryRun | None:
        """One (customer, query) unit of the full run: execute → normalize →
        hourly summing roll-up to the sanitized table path (B15).  Returns
        None for view-shaped results, which manage their own grain (a
        GLOBALVIEW row carries ``ts``, neither of ``add_date``'s time
        columns), and for a unit whose sink still holds no data file after
        the merge (a first merge of an empty search result writes a tree
        with no data file, which has no schema to read back)."""
        from qradar_restapi_kafka_datapipeline_spark.operators.normalize import (
            normalize,
            rename_events,
        )
        from qradar_restapi_kafka_datapipeline_spark.parts import has_data_files

        df = self.run_query(
            qname, customer, start_time, stop_time, event_processor=event_processor
        )
        if not {"Start Time", "Time"} & set(rename_events(df).columns):
            return None
        norm = normalize(df)
        if measure not in norm.columns or time_col not in norm.columns:
            return None
        table = table_name(customer, qname)
        path = f"{self.sink_base}/{table}"
        merge_rollup(self.spark, norm, path, measure=measure, time_col=time_col)
        if not has_data_files(self.spark, path):
            return None
        rows = self.spark.read.parquet(path).count()
        return QueryRun(customer, qname, table, rows)

    def run_all(
        self,
        customer_names: list[str],
        start_time: str,
        stop_time: str,
        query_names: list[str] | None = None,
        measure: str = "Event_Count",
        time_col: str = "Start_Time",
        event_processor: str = "ep1",
    ) -> list[QueryRun]:
        """The reference's full run (§3.1) — every (customer, query) pair,
        each written as an hourly summing roll-up to its own sanitized table
        path (B15). Spark schedules the jobs; no process/thread pools (B18)."""
        names = list(self.queries) if query_names is None else query_names
        out = [
            self._run_one(
                customer, qname, start_time, stop_time,
                event_processor, measure, time_col,
            )
            for customer in customer_names
            for qname in names
        ]
        return [r for r in out if r is not None]

    def run_from_ep_clients(
        self,
        ep_clients,
        start_time: str,
        stop_time: str,
        query_names: list[str] | None = None,
        measure: str = "Event_Count",
        time_col: str = "Start_Time",
    ) -> list[QueryRun]:
        """The reference's top-level entry (``run.py:44-51``): zip the
        ``ep_clients.json`` mapping into per-(event processor, customer)
        work.  ``ep_clients`` is a path (loaded with the reference's
        error-context contract, :func:`aql_corpus.load_ep_clients`) or an
        already-loaded ``{ep_id: [customer, ...]}`` dict.  Each customer's
        queries run with ITS event processor bound into the search params —
        the reference spawns a process per EP; here every (EP, customer,
        query) plan is just a Spark job.
        """
        from qradar_restapi_kafka_datapipeline_spark.aql_corpus import load_ep_clients

        mapping = (
            ep_clients
            if isinstance(ep_clients, dict)
            else load_ep_clients(ep_clients)
        )
        names = list(self.queries) if query_names is None else query_names
        out = [
            self._run_one(
                customer, qname, start_time, stop_time, ep_id, measure, time_col
            )
            for ep_id, customers in mapping.items()
            for customer in customers
            for qname in names
        ]
        return [r for r in out if r is not None]

"""Pipeline orchestration + REST source lifecycle tests (SURVEY §2 B1/B17/B18)."""

import json

import pytest

from qradar_restapi_kafka_datapipeline_spark.pipeline import Pipeline
from qradar_restapi_kafka_datapipeline_spark.sources.registry import register_qevents
from qradar_restapi_kafka_datapipeline_spark.sources.rest import (
    RestClientError,
    RestServerError,
    SearchLifecycle,
)
from qradar_restapi_kafka_datapipeline_spark.views import (
    register_globalviews,
    register_ref_sets,
)


class FakeResponse:
    def __init__(self, status_code=200, payload=None, text=""):
        self.status_code = status_code
        self._payload = payload or {}
        self.text = text

    def json(self):
        return self._payload


class FakeTransport:
    """Scripted QRadar: trigger → 2 incomplete polls → complete → 2 pages."""

    def __init__(self, rows, fail_first=0):
        self.rows = rows
        self.calls = []
        self.polls = 0
        self.fail_first = fail_first

    def __call__(self, method, url, json=None, headers=None):
        self.calls.append((method, url, headers))
        if self.fail_first > 0:
            self.fail_first -= 1
            return FakeResponse(503, text="busy")
        if url.endswith("/api/ariel/searches") and method == "POST":
            return FakeResponse(200, {"cursor_id": "c-1"})
        if "/results" in url:
            rng = headers["Range"].split("=")[1]
            a, b = (int(x) for x in rng.split("-"))
            return FakeResponse(200, {"events": self.rows[a:b + 1]})
        # status poll
        self.polls += 1
        return FakeResponse(
            200, {"completed": self.polls >= 3, "record_count": len(self.rows)}
        )


def test_search_lifecycle_lands_jsonl(tmp_path):
    rows = [{"eventCount": i, "startTime": 1_721_383_200_000 + i} for i in range(7)]
    lc = SearchLifecycle(
        base_url="https://qradar.example",
        transport=FakeTransport(rows),
        poll_interval_s=0.0,
        page_size=3,
    )
    n = lc.land_jsonl("SELECT * FROM events", str(tmp_path / "landing"))
    assert n == 7
    files = sorted((tmp_path / "landing").glob("*.jsonl"))
    assert len(files) == 3  # ceil(7/3) pages
    landed = [json.loads(line) for f in files for line in f.open()]
    assert landed == rows


def test_lifecycle_error_taxonomy():
    lc = SearchLifecycle("https://q", FakeTransport([], fail_first=99),
                         poll_interval_s=0.0)
    with pytest.raises(RestServerError):
        lc.trigger_search("SELECT 1")

    class Bad(FakeTransport):
        def __call__(self, method, url, json=None, headers=None):
            return FakeResponse(400, {"message": "bad AQL"})

    with pytest.raises(RestClientError, match="bad AQL"):
        SearchLifecycle("https://q", Bad([])).trigger_search("nope")


def test_pipeline_run_all(spark, sf_dir, tmp_path):
    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    register_ref_sets(spark)
    p = Pipeline(spark, sink_base=str(tmp_path / "sinks"))
    runs = p.run_all(
        ["customer_1"],
        "2024-01-01 00:00:00",
        "2024-01-21 00:00:00",
        query_names=["AllowedOutboundTraffic"],
    )
    assert len(runs) == 1
    run = runs[0]
    assert run.table == "customer1_AllowedOutboundTraffic"  # '_' stripped (B15)
    assert run.rows > 0
    rolled = spark.read.parquet(f"{tmp_path}/sinks/{run.table}")
    assert "Event_Count" in rolled.columns and "event_date" in rolled.columns


def test_pipeline_run_all_skips_globalview_units(spark, sf_dir, tmp_path):
    """A full run over the whole corpus: GLOBALVIEW results carry ``ts``,
    not the ``Start Time``/``Time`` that normalize derives dates from, and
    manage their own grain, so their units are skipped; only raw-event
    queries write roll-ups."""
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
        AQL_CORPUS,
        GLOBALVIEW_QUERIES,
    )

    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    register_ref_sets(spark)
    p = Pipeline(spark, sink_base=str(tmp_path / "sinks_all"))
    runs = p.run_all(["customer_1"], "2024-01-01 00:00:00", "2024-01-21 00:00:00")
    names = {r.query_name for r in runs}
    assert "AllowedOutboundTraffic" in names
    assert names <= set(AQL_CORPUS) - set(GLOBALVIEW_QUERIES)
    assert all(r.rows > 0 for r in runs)


def test_pipeline_run_from_ep_clients(spark, sf_dir, tmp_path):
    """ep_clients.json channel parity (reference attributes.py:38-39 +
    run.py:44-51): EP→customer mapping loaded from disk with the error-context
    contract, each customer's queries bound to ITS event processor."""
    import json

    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
        QueryFileError,
        load_ep_clients,
    )

    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    register_ref_sets(spark)

    epf = tmp_path / "ep_clients.json"
    epf.write_text(json.dumps({"ep1": ["customer_1"], "ep2": ["customer_2"]}))
    p = Pipeline(spark, sink_base=str(tmp_path / "sinks_ep"))
    runs = p.run_from_ep_clients(
        str(epf),
        "2024-01-01 00:00:00",
        "2024-01-21 00:00:00",
        query_names=["AllowedOutboundTraffic"],
    )
    assert {r.customer_name for r in runs} == {"customer_1", "customer_2"}
    assert all(r.rows > 0 for r in runs)

    # malformed JSON: filename + offending content quoted, typed error
    bad = tmp_path / "bad_ep.json"
    bad.write_text('{"ep1": [customer_1]}')
    with pytest.raises(QueryFileError, match="bad_ep.json"):
        load_ep_clients(str(bad))
    # wrong shape: values must be string lists
    flat = tmp_path / "flat_ep.json"
    flat.write_text('{"ep1": "customer_1"}')
    with pytest.raises(QueryFileError, match="string-list"):
        load_ep_clients(str(flat))
    # missing file
    with pytest.raises(QueryFileError, match="nope_ep.json"):
        load_ep_clients(str(tmp_path / "nope_ep.json"))

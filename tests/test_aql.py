"""AQL frontend end-to-end: all 13 reference queries vs the DuckDB oracle.

This is the t2 pattern (SURVEY §5 item 2) at sf0.001: translate the reference's
own AQL strings (qradar/input/queries.json, new_queries.json) to Spark SQL, run
them, and hash-compare against the identical AQL translated to DuckDB over the
same parquet.
"""

import json
import os

import duckdb
import pytest

from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
    AQLFrontend,
    aql_oracle_sql,
    translate,
)
from qradar_restapi_kafka_datapipeline_spark.sources.registry import register_qevents
from qradar_restapi_kafka_datapipeline_spark.views import (
    register_globalviews,
    register_ref_sets,
)

REF_QUERIES = "/root/reference/qradar/input/queries.json"
REF_NEW_QUERIES = "/root/reference/qradar/input/new_queries.json"

PARAMS = dict(
    customer_name="customer_1",
    start_time="2024-01-01 00:00:00",
    stop_time="2024-02-01 00:00:00",
    event_processor="ep1",
)


def _load_corpus():
    corpus = {}
    for path in (REF_QUERIES, REF_NEW_QUERIES):
        if os.path.exists(path):
            corpus.update(json.load(open(path)))
    return corpus


CORPUS = _load_corpus()


@pytest.fixture(scope="module")
def frontend(spark, tables, sf_dir):
    register_qevents(spark, sf_dir)
    register_globalviews(spark)
    register_ref_sets(spark)
    return AQLFrontend(spark)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    return con


def _rows_key(df):
    cols = sorted(df.columns)
    return sorted("|".join(map(str, r)) for r in df[cols].itertuples(index=False, name=None))


@pytest.mark.skipif(not CORPUS, reason="reference corpus not available")
@pytest.mark.parametrize("name", sorted(CORPUS))
def test_aql_query_matches_oracle(name, frontend, duck):
    aql = CORPUS[name]
    spd = frontend.sql(aql, PARAMS).toPandas()
    dpd = duck.execute(aql_oracle_sql(aql, PARAMS)).df()
    assert sorted(spd.columns) == sorted(dpd.columns)
    assert _rows_key(spd) == _rows_key(dpd)


def test_translate_shapes():
    aql = (
        "SELECT eventCount AS 'Event Count', \"Rule Name\" as 'Rule (c)' "
        "FROM events WHERE INCIDR('10.0.0.0/8', sourceip) "
        "AND NOT REFERENCESETCONTAINS('S', destinationIP) "
        "START '2024-01-01 00:00:00' STOP '2024-01-02 00:00:00' "
        "PARAMETERS REMOTESERVERS=ARIELSERVERS4EPNAME(PROCESSORNAME(ep1))"
    )
    out = translate(aql, dialect="spark", columns=["eventCount", "sourceip", "destinationip"])
    assert "PARAMETERS" not in out
    assert "`Event Count`" in out and "`Rule Name`" in out
    assert "INCIDR" not in out.upper() or "& 4278190080" in out  # folded
    assert "IN (SELECT value FROM ref_sets" in out
    # Spark compares DECIMAL(18,0) µs, which codegen keeps out of the Java
    # source; the DuckDB oracle keeps its TIMESTAMP bounds
    assert (
        "(CAST(unix_micros(ts) AS DECIMAL(18,0)) >= "
        "CAST(unix_micros(timestamp'2024-01-01 00:00:00') AS DECIMAL(18,0)) AND "
        "CAST(unix_micros(ts) AS DECIMAL(18,0)) < "
        "CAST(unix_micros(timestamp'2024-01-02 00:00:00') AS DECIMAL(18,0)))"
    ) in out
    duck = translate(aql, dialect="duckdb")
    assert (
        "(ts >= timestamp'2024-01-01 00:00:00' AND ts < timestamp'2024-01-02 00:00:00')"
    ) in duck
    assert "unix_micros" not in duck
    # case-normalized to canonical column
    assert "destinationip IN" in out


def test_translate_globalview_routing():
    aql = "SELECT * FROM GLOBALVIEW('MongoDB_UBA','NORMAL') WHERE domainId = 1"
    assert "FROM MongoDB_UBA" in translate(aql, dialect="spark")
    duck_sql = translate(aql, dialect="duckdb")
    assert "GROUP BY" in duck_sql and "GLOBALVIEW" not in duck_sql


def test_frontend_rejects_bad_globalview_name():
    with pytest.raises(ValueError):
        translate("SELECT * FROM GLOBALVIEW('bad-name; DROP','NORMAL')")


def test_translate_last_clause_with_group_by():
    aql = ("SELECT eventName, SUM(eventCount) AS total FROM events "
           "WHERE magnitude > 3 GROUP BY eventName ORDER BY total DESC "
           "LIMIT 5 LAST 30 MINUTES")
    now = "timestamp'2024-01-15 12:00:00'"
    out = translate(aql, dialect="spark", now_expr=now)
    assert "LAST" not in out.upper().replace("'", "")
    assert (
        "(CAST(unix_micros(ts) AS DECIMAL(18,0)) >= CAST(unix_micros("
        "timestamp'2024-01-15 12:00:00' - INTERVAL '30' MINUTE) AS DECIMAL(18,0)))"
    ) in out
    assert out.index("INTERVAL") < out.index("GROUP BY")  # pred inside WHERE
    assert "AND (magnitude > 3)" in out
    assert "ORDER BY total DESC" in out and "LIMIT 5" in out
    duck = translate(aql, dialect="duckdb", now_expr=now)
    assert "(ts >= timestamp'2024-01-15 12:00:00' - INTERVAL '30' MINUTE)" in duck
    assert duck.index("INTERVAL") < duck.index("GROUP BY")


def test_last_clause_executes(frontend):
    df = frontend.spark.sql(
        translate(
            "SELECT COUNT(*) AS n FROM events LAST 3 DAYS",
            dialect="spark",
            events_view="qevents",
            now_expr="timestamp'2024-01-08 00:00:00'",
        )
    )
    n = df.first()["n"]
    full = frontend.spark.table("qevents").count()
    assert 0 < n < full  # a strict, non-empty subset of the month


# ---------------------------------------------------------------------------
# paren-balanced argument parsing (nested calls, comma/paren-bearing literals)
# ---------------------------------------------------------------------------

def test_nested_call_arguments_translate():
    out = translate(
        "SELECT DATEFORMAT(DATE_TRUNC('hour', ts), 'yyyy-MM-dd HH:mm') AS h "
        "FROM events WHERE INCIDR('10.0.0.0/8', COALESCE(sourceip, '0.0.0.0'))",
        dialect="spark",
    )
    # DATEFORMAT folded around the intact nested call
    assert "date_format(DATE_TRUNC('hour', ts), 'yyyy-MM-dd HH:mm')" in out
    # INCIDR folded with the nested COALESCE kept whole
    assert "COALESCE(sourceip, '0.0.0.0')" in out and "& 4278190080" in out
    duck = translate(
        "SELECT DATEFORMAT(DATE_TRUNC('hour', ts), 'yyyy-MM-dd HH:mm') AS h FROM events",
        dialect="duckdb",
    )
    assert "strftime(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M')" in duck


def test_decode_expression_argument_is_parenthesized():
    out = translate("SELECT CATEGORYNAME(category + 1) AS c FROM events", dialect="spark")
    assert "(category + 1) >= 4000" in out


def test_fullnetworkname_threads_domain_argument():
    one = translate("SELECT FULLNETWORKNAME(sourceip) AS n FROM events", dialect="spark")
    two = translate(
        "SELECT FULLNETWORKNAME(sourceip, domainId) AS n FROM events", dialect="spark"
    )
    # two-arg form guards each network's WHEN with the domains that list it;
    # one-arg form has no domain test
    assert "CAST(domainId AS BIGINT)" in two
    assert "CAST(" not in one.split("FROM")[0] or "domainId" not in one
    # the domains genuinely disagree on the 10.64/10 overlay
    assert "net_dmz_d1" in two and "net_dmz_d1" not in one


def test_dynamic_cidr_inlined_in_both_dialects():
    aql = "SELECT COUNT(*) AS n FROM events WHERE INCIDR(cidr_col, sourceip)"
    out = translate(aql, dialect="spark")
    assert out == translate(aql, dialect="duckdb")
    assert "INCIDR" not in out.upper()
    assert "split_part(cidr_col, '/', 2)" in out and "sourceIPlong" in out


def test_dynamic_cidr_query_matches_oracle_and_literal_form(frontend, duck):
    """A per-row CIDR runs on both engines and selects what the folded
    literal CIDRs select."""
    dynamic = (
        "SELECT domainId, COUNT(*) AS n FROM events WHERE INCIDR(CASE "
        "WHEN domainId < 2 THEN '10.0.0.0/8' WHEN domainId < 4 "
        "THEN '192.168.0.0/16' ELSE '172.16.0.0/12' END, sourceip) "
        "GROUP BY domainId"
    )
    literal = (
        "SELECT domainId, COUNT(*) AS n FROM events WHERE CASE "
        "WHEN domainId < 2 THEN INCIDR('10.0.0.0/8', sourceip) "
        "WHEN domainId < 4 THEN INCIDR('192.168.0.0/16', sourceip) "
        "ELSE INCIDR('172.16.0.0/12', sourceip) END GROUP BY domainId"
    )
    spd = frontend.sql(dynamic).toPandas()
    assert len(spd) == 5 and spd["n"].min() > 0
    assert _rows_key(spd) == _rows_key(duck.execute(aql_oracle_sql(dynamic)).df())
    assert _rows_key(spd) == _rows_key(frontend.sql(literal).toPandas())


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT * FROM events WHERE INCIDR('10.0.0.0/8')",          # arity
        "SELECT DATEFORMAT(ts, fmt_col) FROM events",               # non-literal fmt
        "SELECT * FROM events WHERE INCIDR('10.0.0.0/8', sourceip", # unbalanced
        "SELECT DOMAINNAME(a, b) FROM events",                      # decode arity
    ],
)
def test_malformed_calls_raise_instead_of_mistranslating(bad):
    with pytest.raises(ValueError):
        translate(bad, dialect="spark")


class TestQueryFileLoading:
    """Reference parity for the JSON query-input channel (attributes.py:13-33):
    valid files load and run through the frontend; malformed files fail with
    the filename + offending content quoted."""

    def test_loads_reference_shaped_file(self, tmp_path, spark, sf_dir):
        import json

        from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
            AQL_CORPUS,
            DEFAULT_PARAMS,
            load_query_file,
        )
        from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup

        p = tmp_path / "queries.json"
        p.write_text(json.dumps({"MyQuery": AQL_CORPUS["TopSecurityEvents"]}))
        loaded = load_query_file(p)
        assert list(loaded) == ["MyQuery"]
        df = setup(spark, sf_dir).sql(loaded["MyQuery"], DEFAULT_PARAMS)
        assert df.count() > 0

    def test_invalid_json_quotes_context(self, tmp_path):
        import pytest

        from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
            QueryFileError,
            load_query_file,
        )

        p = tmp_path / "bad.json"
        p.write_text('{"q": SELECT *}')
        with pytest.raises(QueryFileError) as ei:
            load_query_file(p)
        msg = str(ei.value)
        assert "bad.json" in msg and "SELECT *" in msg and "line 1" in msg

    def test_missing_file_and_wrong_shape(self, tmp_path):
        import pytest

        from qradar_restapi_kafka_datapipeline_spark.aql_corpus import (
            QueryFileError,
            load_query_file,
        )

        with pytest.raises(QueryFileError, match="nope.json"):
            load_query_file(tmp_path / "nope.json")
        p = tmp_path / "list.json"
        p.write_text('[{"a": 1}]')
        with pytest.raises(QueryFileError, match="flat"):
            load_query_file(p)


class TestRewriterRobustness:
    """The two frontend traps a user-typed query can spring: function names
    inside string literals, and a skipped (UDF-path) call nested inside
    another rewritable call."""

    def test_function_name_inside_literal_untouched(self):
        aql = (
            "SELECT eventName FROM events "
            "WHERE userName = 'see CATEGORYNAME(4001) for details'"
        )
        out = translate(aql, dialect="spark")
        assert "'see CATEGORYNAME(4001) for details'" in out
        assert "CASE" not in out  # no decode fold leaked into the literal

    def test_function_name_inside_quoted_identifier_untouched(self):
        aql = 'SELECT "QIDNAME(x)" FROM events'
        out = translate(aql, dialect="spark")
        assert '"QIDNAME(x)"' in out or "`QIDNAME(x)`" in out

    def test_skipped_dynamic_call_inside_enclosing_call(self):
        # dynamic-CIDR INCIDR nested inside DATEFORMAT: both calls inline,
        # and the enclosing call keeps its whole argument list (a rewriter
        # that once skipped the dynamic call raised 'unbalanced parentheses'
        # on this well-formed query)
        aql = (
            "SELECT DATEFORMAT(CASE WHEN INCIDR(cidr_col, sourceip) "
            "THEN startTime ELSE startTime END, 'yyyy-MM-dd') AS d "
            "FROM events"
        )
        out = translate(aql, dialect="spark")
        assert "INCIDR" not in out.upper() and "split_part(cidr_col" in out
        assert out.startswith("SELECT date_format(CASE WHEN ((sourceIPlong & ")
        assert out.endswith("THEN startTime ELSE startTime END, 'yyyy-MM-dd') AS d FROM qevents")


class TestLiteralPreservation:
    """Rewrite passes must never alter bytes inside quoted regions."""

    def test_column_word_inside_literal_keeps_case(self):
        aql = "SELECT eventName FROM events WHERE userName = 'High Magnitude Alert'"
        out = translate(aql, dialect="spark", columns=["magnitude", "userName"])
        assert "'High Magnitude Alert'" in out

    def test_double_quotes_inside_string_literal_survive(self):
        aql = "SELECT eventName FROM events WHERE userName = 'say \"hi\" now'"
        out = translate(aql, dialect="spark")
        assert "'say \"hi\" now'" in out
        assert "`hi`" not in out

    def test_quoted_identifier_with_parens_and_comma_in_call(self):
        aql = (
            "SELECT DATEFORMAT(\"Magnitude (a, b)\", 'yyyy-MM-dd') AS d "
            "FROM events"
        )
        out = translate(aql, dialect="spark")
        assert "`Magnitude (a, b)`" in out  # identifier intact, 2-arg split

    def test_globalview_time_filter_lands_outside_subquery(self):
        aql = (
            "SELECT * FROM GLOBALVIEW('MongoDB_UBA','NORMAL') "
            "START '2024-01-01 00:30:00' STOP '2024-01-02 00:30:00'"
        )
        out = translate(aql, dialect="duckdb")
        # the injected predicate must follow the closing paren of the inlined
        # view subquery (outer WHERE), not sit inside the view's own WHERE
        subq_end = out.rindex(") AS MongoDB_UBA")
        assert "ts >= timestamp'2024-01-01 00:30:00'" in out[subq_end:]


def test_unterminated_literal_raises_in_literal_spans():
    """Frontend hygiene (VERDICT r2 #5): a top-level unterminated quote must
    be diagnosed at span-scan time, not flow silently through rewrites as a
    to-end-of-string span."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import _literal_spans

    for bad in (
        "SELECT 'abc FROM events",
        'SELECT "Custom Prop FROM events',
        "SELECT `col FROM events",
        "SELECT eventName FROM events WHERE userName = 'don''t",  # '' then EOF
    ):
        with pytest.raises(ValueError, match="unterminated"):
            _literal_spans(bad)
    # and the full translate path surfaces the same diagnosis
    with pytest.raises(ValueError, match="unterminated"):
        translate("SELECT * FROM events WHERE eventName = 'oops")


def test_doubled_backtick_identifier_is_one_span():
    """Spark escapes a literal backtick inside a backtick identifier by
    doubling it — the span scanner must not end the identifier early
    (ADVICE r2)."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import _literal_spans

    q = "SELECT `a``b` FROM t WHERE x = 'y'"
    spans = _literal_spans(q)
    assert spans[0] == (7, 13)
    assert q[spans[0][0]:spans[0][1]] == "`a``b`"
    # a later rewrite-sensitive word inside the identifier stays untouched
    q2 = "SELECT `SUM``(eventCount)` AS s FROM events"
    s0 = _literal_spans(q2)[0]
    assert q2[s0[0]:s0[1]] == "`SUM``(eventCount)`"


def test_non_iso_start_stop_skips_partition_bounds_not_translation():
    """ADVICE r3: partition pruning must not change which time syntaxes the
    frontend tolerates — a non-ISO START/STOP keeps the plain ts predicate
    (whatever the engine's timestamp parser accepts) and simply skips the
    derived partition bounds."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import _rewrite_start_stop

    q = "SELECT * FROM ev START '01/02/2024 00:00' STOP '01/03/2024 00:00'"
    out = _rewrite_start_stop(q, "ts", partition_col="event_date", dialect="spark")
    assert "event_date" not in out  # pruning skipped, not raised
    assert (
        "CAST(unix_micros(ts) AS DECIMAL(18,0)) >= "
        "CAST(unix_micros(timestamp'01/02/2024 00:00') AS DECIMAL(18,0))"
    ) in out
    duck = _rewrite_start_stop(q, "ts", partition_col="event_date", dialect="duckdb")
    assert "event_date" not in duck
    assert "ts >= timestamp'01/02/2024 00:00'" in duck
    # ISO bounds still derive the pruning predicate, as DATE literals in both
    # dialects (they prune at file listing, outside the generated code)
    q2 = "SELECT * FROM ev START '2024-01-02 00:00:00' STOP '2024-01-03 00:00:00'"
    for dialect in ("spark", "duckdb"):
        out2 = _rewrite_start_stop(q2, "ts", partition_col="event_date", dialect=dialect)
        assert "event_date >= DATE'2024-01-02'" in out2
        assert "event_date <= DATE'2024-01-02'" in out2


# Rows at each edge of START '2024-01-02 00:00:00' STOP '2024-01-03 00:00:00',
# plus a NULL time.  The events relation casts the strings in each engine, so
# no Python-side time zone enters.
_EDGE_ROWS = [
    (1, "2024-01-01 23:59:59.999999"),  # START - 1 µs
    (2, "2024-01-02 00:00:00"),  # START
    (3, "2024-01-02 23:59:59.999999"),  # STOP - 1 µs
    (4, "2024-01-03 00:00:00"),  # STOP
    (5, None),
]
_EDGE_VIEW = "(SELECT id, CAST(ts_s AS TIMESTAMP) AS ts FROM {ev}) e"


def _edge_run(run_both, aql, **kw):
    spark_sql, duck_sql = (
        translate(aql, dialect=d, events_view=_EDGE_VIEW, **kw)
        for d in ("spark", "duckdb")
    )
    assert "DECIMAL(18,0)" in spark_sql and "unix_micros" not in duck_sql
    return run_both(
        spark_sql, duck_sql=duck_sql, ev=("id INT, ts_s STRING", _EDGE_ROWS)
    )


def test_time_bounds_keep_edges_in_both_engines(run_both):
    """Spark's DECIMAL µs bounds and DuckDB's TIMESTAMP bounds keep the same
    rows: START is inclusive, STOP exclusive, at µs precision, and a NULL
    time matches no bound."""
    got = _edge_run(
        run_both,
        "SELECT id FROM events "
        "START '2024-01-02 00:00:00' STOP '2024-01-03 00:00:00'",
    )
    assert got[0] == got[1] == [(2,), (3,)]
    got = _edge_run(
        run_both,
        "SELECT id FROM events LAST 1 DAYS",
        now_expr="timestamp'2024-01-03 00:00:00'",
    )
    assert got[0] == got[1] == [(2,), (3,), (4,)]


@pytest.mark.parametrize(
    "t0",
    [
        "2024-01-02 00:00:00",
        "2024-01-02",
        "2024-01-02T00:00:00",
        "2024-01-02 00:00:00.000001",
        "01/02/2024 00:00",
        "2024-13-01 00:00:00",
        "not a time",
    ],
)
def test_time_bound_accepts_the_same_start_strings(spark, t0):
    """The DECIMAL bound wraps the same ``timestamp'<t>'`` literal, so
    Spark accepts or rejects a START string exactly as the plain TIMESTAMP
    compare does (the DuckDB-dialect text, which is that compare), and an
    accepted one keeps the same rows."""
    ev = spark.createDataFrame(_EDGE_ROWS, "id INT, ts_s STRING")
    aql = f"SELECT id FROM events START '{t0}' STOP '2024-01-03 00:00:00'"

    def outcome(dialect):
        sql = translate(aql, dialect=dialect, events_view=_EDGE_VIEW)
        try:
            return sorted(r.id for r in spark.sql(sql, ev=ev).collect())
        except Exception as e:  # the parse error of a bad literal
            return type(e).__name__

    assert outcome("spark") == outcome("duckdb")


@pytest.mark.skipif(not CORPUS, reason="reference corpus not available")
def test_bound_parameters_match_format_splice_on_whole_corpus(frontend):
    """VERDICT r3 #6: named-parameter binding (spark.sql args=...) must be
    value-identical to the reference-parity str.format splice on EVERY
    corpus query."""
    for name, aql in CORPUS.items():
        fmt = _rows_key(frontend.sql(aql, PARAMS).toPandas())
        bound = _rows_key(frontend.sql_bound(aql, PARAMS).toPandas())
        assert fmt == bound, f"binding modes diverge on {name}"


def test_bound_parameters_defeat_injection_where_format_splices(frontend):
    """The hostile-parameter test: a value carrying quote-escape + boolean
    tautology is DATA in bound mode (matches nothing) but re-enters the
    parser in format mode (reference parity, returns every row) — exactly
    the hazard binding removes."""
    aql = "SELECT COUNT(*) AS n FROM events WHERE userName = '{u}'"
    hostile = {"u": "no_such_user' OR '1'='1"}
    bound_n = frontend.sql_bound(aql, hostile).collect()[0]["n"]
    assert bound_n == 0
    spliced_n = frontend.sql(aql, hostile).collect()[0]["n"]
    assert spliced_n > 0  # the documented format-mode hazard, for contrast

    # unsupplied WHOLE-LITERAL placeholder: literal data, not a parameter
    # (ADVICE r4 — '{u}' with no 'u' bound compares against the literal text)
    sql, args = frontend.translate_bound(aql, {})
    assert args == {} and "'{u}'" in sql
    # unsupplied BARE placeholder (never valid literal data): clear KeyError
    with pytest.raises(KeyError):
        frontend.translate_bound(
            "SELECT COUNT(*) AS n FROM events WHERE magnitude >= {m}", {}
        )


def test_bind_parameters_leaves_braces_inside_literals():
    """A brace inside a string literal is data, never a parameter marker."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import bind_parameters

    sql, names = bind_parameters(
        "SELECT * FROM t WHERE a LIKE '%{brace} text%' AND b = '{p}' "
        "AND ts >= timestamp'{t0}' AND n = {num}"
    )
    assert names.count("p") == 1 and "t0" in names and "num" in names
    assert "brace" not in names
    assert "'%{brace} text%'" in sql
    assert "CAST(:t0 AS TIMESTAMP)" in sql and ":p" in sql and ":num" in sql


def test_bind_parameters_unsupplied_literal_stays_data():
    """A whole string literal ``'{x}'`` whose name the caller never bound is
    literal DATA (ADVICE r4): it must survive binding untouched instead of
    becoming a parameter marker that raises KeyError downstream."""
    from qradar_restapi_kafka_datapipeline_spark.plans.aql import bind_parameters

    sql, names = bind_parameters(
        "SELECT * FROM t WHERE a = '{name}' AND b = '{p}' "
        "AND ts >= timestamp'{unbound_ts}'",
        supplied={"p"},
    )
    assert names == ["p"]
    assert "'{name}'" in sql and ":p" in sql
    assert "timestamp'{unbound_ts}'" in sql  # unsupplied ts literal untouched


def test_translate_bound_literal_brace_data_runs(frontend):
    """End-to-end: a query whose literal data is the text ``{name}`` runs and
    compares against the literal (no KeyError, no unintended binding)."""
    sql, args = frontend.translate_bound(
        "SELECT COUNT(*) AS n FROM events WHERE userName = '{name}'", None
    )
    assert args == {} and "'{name}'" in sql
    assert frontend.spark.sql(sql, args=args).first()["n"] == 0


class TestRollupRouter:
    """Aggregate navigator: raw-events aggregates provably covered by a
    GLOBALVIEW must route to the pre-aggregation and return IDENTICAL
    results; anything not provably covered must not route."""

    ROUTABLE = [
        "SELECT domainId, userName, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events WHERE eventName = 'error' AND domainId = 2 "
        "GROUP BY domainId, userName "
        "START '2024-01-01 00:00:00' STOP '2024-02-01 00:00:00'",
        "SELECT sourceip, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events WHERE magnitude >= 7 GROUP BY sourceip",
        "SELECT userName, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events WHERE eventName = 'view' GROUP BY userName "
        "ORDER BY SUM(eventCount) DESC, userName ASC LIMIT 5",
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE category IN (4005, 4010, 4015) AND userName LIKE 'user_1%' "
        "GROUP BY domainId",
        # --- re-aggregation rewrites (round 5, VERDICT r4 #3) ---
        # whole-relation totals: GROUP BY absent
        "SELECT CAST(SUM(eventCount) AS BIGINT) AS total FROM events "
        "WHERE eventName = 'error'",
        # COUNT(DISTINCT dim): the view keeps every distinct dim combination
        "SELECT COUNT(DISTINCT userName) AS n_users FROM events "
        "WHERE eventName = 'error'",
        # day grain + dim subset + mixed re-aggregable measures
        "SELECT DATE_TRUNC('day', ts) AS day, COUNT(DISTINCT userName) AS n, "
        "CAST(SUM(eventCount) AS BIGINT) AS total FROM events "
        "WHERE eventName = 'error' GROUP BY DATE_TRUNC('day', ts)",
        # MIN/MAX of a dim survives roll-up
        "SELECT domainId, MIN(userName) AS first_u, MAX(userName) AS last_u "
        "FROM events WHERE magnitude >= 7 GROUP BY domainId",
        # COUNT(DISTINCT coarser-grain ts) composes with the hourly grain
        "SELECT COUNT(DISTINCT DATE_TRUNC('day', ts)) AS n_days FROM events "
        "WHERE eventName = 'error'",
        # --- n_rows measure (round 6, VERDICT r5 #5) ---
        # COUNT(*) routes to the views' summed row count
        "SELECT domainId, COUNT(*) AS n FROM events "
        "WHERE eventName = 'error' GROUP BY domainId",
        # AVG(eventCount) routes to SUM(SUM_eventCount)/SUM(n_rows)
        "SELECT userName, AVG(eventCount) AS avg_ec FROM events "
        "WHERE magnitude >= 7 GROUP BY userName",
        # groupless COUNT(*) total (COALESCE keeps empty-match at 0)
        "SELECT COUNT(*) AS n FROM events WHERE eventName = 'error'",
        # mixed: COUNT(*) + SUM + AVG + dim re-agg in one query
        "SELECT domainId, COUNT(*) AS n, "
        "CAST(SUM(eventCount) AS BIGINT) AS total, AVG(eventCount) AS avg_ec, "
        "COUNT(DISTINCT userName) AS n_users FROM events "
        "WHERE eventName = 'error' GROUP BY domainId",
        # --- min/max states (round 7, VERDICT r6 #7) ---
        # MIN/MAX(eventCount) route to the views' min/max state columns
        "SELECT domainId, CAST(MIN(eventCount) AS BIGINT) AS mn, "
        "CAST(MAX(eventCount) AS BIGINT) AS mx FROM events "
        "WHERE eventName = 'error' GROUP BY domainId",
        # groupless + coarser-grain re-merge of the states
        "SELECT DATE_TRUNC('day', ts) AS day, "
        "CAST(MAX(eventCount) AS BIGINT) AS mx FROM events "
        "WHERE magnitude >= 7 GROUP BY DATE_TRUNC('day', ts)",
        # HAVING over a routable measure retargets inside the tail
        "SELECT userName, CAST(SUM(eventCount) AS BIGINT) AS total "
        "FROM events WHERE eventName = 'error' GROUP BY userName "
        "HAVING SUM(eventCount) > 10 AND MIN(eventCount) >= 1",
    ]
    NOT_ROUTABLE = [
        # non-dim column in select/group
        "SELECT qid, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' GROUP BY qid",
        # sub-hour window: hourly pre-aggregation unsafe
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' GROUP BY domainId "
        "START '2024-01-01 00:30:00' STOP '2024-02-01 00:00:00'",
        # COUNT(col) counts non-nulls — not derivable (n_rows counts rows)
        "SELECT domainId, COUNT(userName) AS n FROM events "
        "WHERE eventName = 'error' GROUP BY domainId",
        # AVG over a non-measure column: collapsed by the roll-up
        "SELECT domainId, AVG(magnitude) AS m FROM events "
        "WHERE eventName = 'error' GROUP BY domainId",
        # top-level OR defeats filter subsumption
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' OR domainId = 1 GROUP BY domainId",
        # ... in every spelling (ADVICE r4: fixed ' OR ' substring missed
        # tight parens and newline separators and silently dropped the
        # disjunct's rows)
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' OR(domainId = 1) GROUP BY domainId",
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error'\nOR\ndomainId = 1 GROUP BY domainId",
        # residual conjunct over a non-dim column
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' AND qid % 2 = 0 GROUP BY domainId",
        # COUNT(DISTINCT non-dim): collapsed by the roll-up, not derivable
        "SELECT COUNT(DISTINCT qid) AS n FROM events "
        "WHERE eventName = 'error'",
        # MIN of a non-dim measure: not kept by the view
        "SELECT MIN(magnitude) AS m FROM events WHERE eventName = 'error'",
        # COUNT(DISTINCT sub-hour trunc): finer than the view's grain
        "SELECT COUNT(DISTINCT DATE_TRUNC('minute', ts)) AS n FROM events "
        "WHERE eventName = 'error'",
        # SUM over a DIM column (ADVICE r5): the dim passes the identifier
        # check but the view's row collapse makes the sum wrong — refuse
        "SELECT userName, CAST(SUM(domainId) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'error' GROUP BY userName",
        # AVG over a dim: same collapse hazard
        "SELECT AVG(domainId) AS a FROM events WHERE eventName = 'error'",
    ]

    def test_routed_equals_raw_on_engine(self, frontend):
        from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
            try_route_to_globalview,
        )

        for aql in self.ROUTABLE:
            assert try_route_to_globalview(aql) is not None, aql
            raw = _rows_key(frontend.sql(aql).toPandas())
            routed = _rows_key(frontend.sql(aql, auto_route=True).toPandas())
            assert raw == routed, aql

    def test_uncovered_queries_do_not_route(self, frontend):
        from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
            try_route_to_globalview,
        )

        for aql in self.NOT_ROUTABLE:
            assert try_route_to_globalview(aql) is None, aql
            # and auto_route falls through to the raw plan, same results
            raw = _rows_key(frontend.sql(aql).toPandas())
            fallthrough = _rows_key(frontend.sql(aql, auto_route=True).toPandas())
            assert raw == fallthrough, aql

    def test_routed_plan_reads_the_view_not_raw_events(self, frontend):
        df = frontend.sql(self.ROUTABLE[1], auto_route=True)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "MongoDB_TopSecurityEvents" in plan

    def test_reagg_entries_actually_route(self, frontend):
        """The gate entries prove VALUE equality vs raw events; this pins
        that the plan really reads the view (a silent fall-through to raw
        would pass the gate while losing the routed win)."""
        # totals (no GROUP BY) and day-grain re-aggregation both route
        for aql, view in (
            (self.ROUTABLE[4], "MongoDB_AuthenticationFailure"),
            (self.ROUTABLE[6], "MongoDB_AuthenticationFailure"),
            # round 6: COUNT(*) and AVG(eventCount) via the n_rows measure
            (self.ROUTABLE[9], "MongoDB_AuthenticationFailure"),
            (self.ROUTABLE[10], "MongoDB_TopSecurityEvents"),
            (self.ROUTABLE[12], "MongoDB_AuthenticationFailure"),
            # round 7: MIN/MAX(eventCount) via the min/max states
            (self.ROUTABLE[13], "MongoDB_AuthenticationFailure"),
            (self.ROUTABLE[14], "MongoDB_TopSecurityEvents"),
        ):
            plan = (
                frontend.sql(aql, auto_route=True)
                ._jdf.queryExecution().analyzed().toString()
            )
            assert view in plan, aql


def test_router_allows_hour_or_coarser_ts_trunc_only(frontend):
    """DATE_TRUNC('hour'|'day', ts) composes with the view's hourly grain and
    routes; minute grain (or raw ts) cannot be derived and must not."""
    from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
        try_route_to_globalview,
    )

    hourly = (
        "SELECT DATE_TRUNC('day', ts) AS d, "
        "CAST(SUM(eventCount) AS BIGINT) AS total FROM events "
        "WHERE eventName = 'view' GROUP BY DATE_TRUNC('day', ts)"
    )
    r = try_route_to_globalview(hourly)
    assert r is not None and r[1] == "MongoDB_UBA"
    raw = _rows_key(frontend.sql(hourly).toPandas())
    routed = _rows_key(frontend.sql(hourly, auto_route=True).toPandas())
    assert raw == routed

    for bad in (
        hourly.replace("'day'", "'minute'"),
        "SELECT ts, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'view' GROUP BY ts",
        # raw-ts residual predicate must not route either
        "SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events "
        "WHERE eventName = 'view' AND ts > timestamp'2024-01-05 00:00:00' "
        "GROUP BY domainId",
    ):
        assert try_route_to_globalview(bad) is None, bad


def test_router_refuses_quoted_identifiers(frontend):
    """Custom-property (double-quoted) references scan as literal spans and
    never exist on the views — the router must refuse, and auto_route must
    return the raw-events answer."""
    from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
        try_route_to_globalview,
    )

    aql = (
        'SELECT domainId, CAST(SUM(eventCount) AS BIGINT) AS t FROM events '
        'WHERE eventName = \'error\' AND "Rule Name" = \'rule_1\' '
        "GROUP BY domainId"
    )
    assert try_route_to_globalview(aql) is None
    raw = _rows_key(frontend.sql(aql).toPandas())
    assert _rows_key(frontend.sql(aql, auto_route=True).toPandas()) == raw

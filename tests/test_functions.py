"""Unit tests for the AQL scalar functions (SURVEY §5 item 3).

The IP functions are the SQL text :mod:`plans.dialect` emits for the AQL
frontend; each check runs that text in Spark AND in DuckDB against a Python
reference.
"""

import datetime

from qradar_restapi_kafka_datapipeline_spark.functions import (
    epoch_to_ts,
    prev_saturday,
    report_date,
    week_from,
)
from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
    DEFAULT_DOMAIN,
    fullnetworkname_expr,
    incidr_dynamic_expr,
    incidr_expr,
    ip2long_expr,
)

#: Not an IPv4 dotted quad: each parses to NULL in both engines.
MALFORMED = [
    "999.1.1.1", "not-an-ip", "abc", "1.2.3", "1.2.3.4.5", "300.1.1.1",
    " 10.1.2.3", "10.1.2.3 ", "+1.2.3.4", "-0.1.2.3", "1..2.3", "",
    "1.2.3.4\n", "1.2.3.4.", None,
]


class TestIp:
    def test_ip_to_long_roundtrip(self, spark, tables, sf_dir):
        """qevents renders each dotted-quad string from its long twin;
        parsing the string back gives the twin on every row."""
        import duckdb

        from qradar_restapi_kafka_datapipeline_spark.sources.qevents import (
            qevents_sql,
        )

        sql = (
            "SELECT COUNT(*) AS n, "
            f"COUNT_IF({ip2long_expr('q.sourceip')} IS DISTINCT FROM q.sourceIPlong) "
            "+ COUNT_IF("
            f"{ip2long_expr('q.destinationip')} IS DISTINCT FROM q.destinationIPlong"
            ") AS bad FROM ({qevents}) q"
        )
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        got_duck = con.execute(sql.format(qevents=qevents_sql("duckdb"))).fetchone()
        con.close()
        got_spark = tuple(spark.sql(sql.format(qevents=qevents_sql("spark"))).first())
        assert got_spark == got_duck
        n, bad = got_spark
        assert n > 0 and bad == 0

    def test_ip_to_long_malformed(self, run_both):
        rows = [(i, s) for i, s in enumerate(MALFORMED)]
        got = run_both(
            f"SELECT i, {ip2long_expr('ip')} AS n FROM {{t}}",
            t=("i INT, ip STRING", rows),
        )
        assert got[0] == got[1] == [(i, None) for i in range(len(MALFORMED))]

    def test_incidr_truth_table(self, run_both):
        # CIDR literals from reference qradar/input/queries.json:2 + FIXTURES A5
        # boundary IPs.
        cases = [
            ("10.0.0.0/8", "10.0.0.0", True),
            ("10.0.0.0/8", "10.255.255.255", True),
            ("10.0.0.0/8", "11.0.0.0", False),
            ("172.16.0.0/12", "172.15.255.255", False),
            ("172.16.0.0/12", "172.16.0.0", True),
            ("172.16.0.0/12", "172.31.255.255", True),
            ("172.16.0.0/12", "172.32.0.0", False),
            ("192.168.0.0/16", "192.168.44.3", True),
            ("192.168.0.0/16", "192.169.0.0", False),
            ("169.254.0.0/16", "169.254.1.1", True),
            ("127.0.0.0/8", "127.0.0.1", True),
            ("0.0.0.0/8", "0.1.2.3", True),
            ("0.0.0.0/8", "1.0.0.0", False),
            ("0.0.0.0/0", "255.255.255.255", True),
            ("10.1.2.3", "10.1.2.3", True),  # no '/len': a /32 host route
            ("10.1.2.3", "10.1.2.4", False),
            ("10.0.0.0/8", "garbage", None),  # malformed IP: NULL
            ("10.0.0.0/8", None, None),
        ]
        rows = [(i, c, ip) for i, (c, ip, _) in enumerate(cases)]
        literal = " ".join(
            f"WHEN {i} THEN {incidr_expr(c, 'ip')}" for i, c, _ in rows
        )
        got = run_both(
            f"SELECT i, CASE i {literal} END AS lit, "
            f"{incidr_dynamic_expr('cidr', 'ip')} AS dyn FROM {{t}}",
            t=("i INT, cidr STRING, ip STRING", rows),
        )
        want = [(i, w, w) for i, (_, _, w) in enumerate(cases)]
        assert got[0] == got[1] == want

    def test_dynamic_incidr_bad_cidr_is_null(self, run_both):
        rows = [(0, "10.0.0.0/33"), (1, "10.0.0.0/x"), (2, "10.0.0/8"),
                (3, None), (4, "10.0.0.0/-1")]
        hit = incidr_dynamic_expr("cidr", "'10.1.1.1'")
        got = run_both(
            f"SELECT i, {hit} AS hit FROM {{t}}",
            t=("i INT, cidr STRING", rows),
        )
        assert got[0] == got[1] == [(i, None) for i in range(5)]

    def test_network_name_expr_longest_prefix(self, run_both):
        # Listed shortest prefix first: the emitted chain must still try
        # the /16 before the /8.
        nets = [(DEFAULT_DOMAIN, "10.0.0.0/8", "corp"),
                (DEFAULT_DOMAIN, "10.1.0.0/16", "corp-dc1")]
        rows = [(0, "10.1.2.3"), (1, "10.2.2.3"), (2, "8.8.8.8")]
        got = run_both(
            f"SELECT i, {fullnetworkname_expr('ip', networks=nets)} AS net "
            "FROM {t}",
            t=("i INT, ip STRING", rows),
        )
        assert got[0] == got[1] == [(0, "corp-dc1"), (1, "corp"), (2, "other")]


class TestDates:
    def test_epoch_autodetect_boundary(self, spark):
        # > 1e10 → milliseconds; ≤ 1e10 → seconds (clickhouse/helpers.py:74-76)
        df = spark.createDataFrame(
            [(10_000_000_000,), (10_000_000_001,), (1_700_000_000,), (1_700_000_000_000,)],
            ["t"],
        ).select("t", epoch_to_ts("t").alias("ts"))
        got = {r["t"]: r["ts"] for r in df.collect()}
        assert got[10_000_000_000].year == 2286  # treated as seconds
        assert got[10_000_000_001].year == 1970  # treated as ms
        assert got[1_700_000_000] == got[1_700_000_000_000]

    def test_week_from_saturday_maps_to_itself(self, spark):
        # 2024-07-20 is a Saturday; relativedelta(weekday=SA(-1)) keeps it
        # (reference clickhouse/helpers.py:79). 2024-07-21 (Sun) → 20/07/2024.
        df = spark.createDataFrame(
            [(datetime.datetime(2024, 7, 20, 12, 0),),
             (datetime.datetime(2024, 7, 21, 0, 1),),
             (datetime.datetime(2024, 7, 26, 23, 59),)],
            ["ts"],
        ).select("ts", week_from("ts").alias("wf"), report_date("ts").alias("rd"))
        rows = df.collect()
        assert rows[0]["wf"] == "20/07/2024" and rows[0]["rd"] == "20/07/2024"
        assert rows[1]["wf"] == "20/07/2024"
        assert rows[2]["wf"] == "20/07/2024"

    def test_prev_saturday_every_weekday(self, spark):
        base = datetime.date(2024, 7, 20)  # Saturday
        days = [(datetime.datetime(2024, 7, 20 + i, 6, 0),) for i in range(7)]
        df = spark.createDataFrame(days, ["ts"]).select(prev_saturday("ts").alias("p"))
        assert all(r["p"] == base for r in df.collect())

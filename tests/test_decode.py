"""Dimension decode / reference set / FULLNETWORKNAME tests (SURVEY §2 A9-A11).

Each check runs the SQL the AQL frontend emits (:mod:`plans.dialect`, the
REFERENCESETCONTAINS rewrite) in Spark and in DuckDB against a Python
reference.
"""

import ipaddress
import random

from qradar_restapi_kafka_datapipeline_spark.plans.aql import translate
from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
    DECODE_EXPRS,
    DEFAULT_DOMAIN,
    DEFAULT_NETWORKS,
    fullnetworkname_expr,
)

#: Python reference of each decode: (lo, hi, prefix) — an ID in lo..hi
#: decodes to prefix + ID, any other ID to NULL.
DECODE_RANGES = {
    "domainname": (0, 4, "customer_"),
    "qidname": (0, 99, "event_"),
    "logsourcename": (0, 49, "logsource_"),
    "sensordevicename": (0, 49, "logsource_"),
    "logsourcetypename": (1, 19, "devicetype_"),
    "sensordevicetypename": (1, 19, "devicetype_"),
    "categoryname": (4000, 4039, "cat_"),
}


def _decode(fname, v):
    if v == 0 and fname in ("logsourcetypename", "sensordevicetypename"):
        return "Custom Rule Engine"
    lo, hi, prefix = DECODE_RANGES[fname]
    return f"{prefix}{v}" if v is not None and lo <= v <= hi else None


def test_decode_truth_table(run_both):
    assert set(DECODE_EXPRS) == set(DECODE_RANGES)
    ids = [None, -1, 0, 1, 4, 5, 19, 20, 49, 50, 99, 100, 3999, 4000, 4039, 4040]
    rows = list(enumerate(ids))
    names = sorted(DECODE_EXPRS)
    cols = ", ".join(f"{DECODE_EXPRS[f]('v')} AS {f}" for f in names)
    got = run_both(f"SELECT i, {cols} FROM {{t}}", t=("i INT, v BIGINT", rows))
    want = [(i, *(_decode(f, v) for f in names)) for i, v in rows]
    assert got[0] == got[1] == want


def test_device_type_dim_has_custom_rule_engine(run_both):
    aql = "SELECT LOGSOURCETYPENAME(devicetype) AS n FROM {t}"
    sql = translate(aql, dialect="spark")
    assert sql == translate(aql, dialect="duckdb")
    got = run_both(sql, t=("devicetype INT", [(0,)]))
    assert got[0] == got[1] == [("Custom Rule Engine",)]


def test_reference_set_contains(run_both):
    # REFERENCESETCONTAINS('Known DNS traffic', destinationIP)
    # (reference qradar/input/queries.json:2)
    refs = [("Known DNS traffic", "8.8.8.8"), ("Known DNS traffic", "1.1.1.1"),
            ("Other Set", "9.9.9.9")]
    dsts = [("8.8.8.8",), ("9.9.9.9",), ("5.5.5.5",)]
    for neg, want in (("", [("8.8.8.8",)]), ("NOT ", [("5.5.5.5",), ("9.9.9.9",)])):
        aql = (
            "SELECT dst FROM {t} "
            f"WHERE {neg}REFERENCESETCONTAINS('Known DNS traffic', dst)"
        )
        sql = translate(aql, dialect="spark", ref_sets_view="{ref_sets}")
        assert sql == translate(aql, dialect="duckdb", ref_sets_view="{ref_sets}")
        got = run_both(
            sql,
            t=("dst STRING", dsts),
            ref_sets=("set_name STRING, value STRING", refs),
        )
        assert got[0] == got[1] == want


def _lpm(ip, domain):
    """Longest-prefix match over DEFAULT_NETWORKS in ``domain``."""
    try:
        addr = ipaddress.IPv4Address(ip)
    except ipaddress.AddressValueError:
        return "other"
    hits = [
        (ipaddress.IPv4Network(cidr).prefixlen, name)
        for dom, cidr, name in DEFAULT_NETWORKS
        if dom == domain and addr in ipaddress.IPv4Network(cidr)
    ]
    return min(hits, key=lambda h: (-h[0], h[1]))[1] if hits else "other"


def test_full_network_name_longest_prefix_and_other(run_both):
    """FULLNETWORKNAME(ip, domainId) and FULLNETWORKNAME(ip) over random
    IPs in every domain (plus an unknown and a NULL domain) against a
    Python longest-prefix match; unmatched and malformed IPs give 'other'."""
    rng = random.Random(7)
    ips = []
    for _, cidr, _ in DEFAULT_NETWORKS:  # hosts inside every network
        net = ipaddress.IPv4Network(cidr)
        ips += [str(net[rng.randrange(net.num_addresses)]) for _ in range(3)]
    ips += [str(ipaddress.IPv4Address(rng.getrandbits(32))) for _ in range(40)]
    ips += ["10.70.1.1", "10.63.255.255", "10.64.0.0", "garbage", None]
    ips = sorted(set(ips), key=str)
    rows = [
        (i, ip, d)
        for i, (ip, d) in enumerate((ip, d) for ip in ips for d in [*range(5), 7, None])
    ]
    got = run_both(
        f"SELECT i, {fullnetworkname_expr('ip', domain_col='d')} AS two, "
        f"{fullnetworkname_expr('ip')} AS one FROM {{t}}",
        t=("i INT, ip STRING, d BIGINT", rows),
    )
    want = [
        (i, "other" if d not in range(5) else _lpm(ip, d), _lpm(ip, DEFAULT_DOMAIN))
        for i, ip, d in rows
    ]
    assert got[0] == got[1] == want
    # the domains disagree on 10.70.1.1 (10.64/10 is renamed in 1, absent in 2)
    assert {_lpm("10.70.1.1", d) for d in range(5)} == {
        "net_10_64", "net_dmz_d1", "net_10"}


def test_full_network_name_one_when_per_distinct_network():
    """The two-argument form has one WHEN per distinct (cidr, name) pair,
    so its size follows the distinct networks, not domains × networks: 7
    for DEFAULT_NETWORKS, and still 7 with the six base CIDRs copied over
    50 more domains."""
    base = [(cidr, name) for dom, cidr, name in DEFAULT_NETWORKS if dom == 0]
    wide = DEFAULT_NETWORKS + [
        (dom, cidr, name) for dom in range(5, 55) for cidr, name in base
    ]
    for networks in (DEFAULT_NETWORKS, wide):
        expr = fullnetworkname_expr("ip", domain_col="d", networks=networks)
        assert expr.count("WHEN ") == 7, expr

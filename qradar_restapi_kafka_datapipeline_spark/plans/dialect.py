"""The AQL scalar functions, as SQL text for both engines.

This module is the one definition of the AQL scalar semantics (SURVEY §2
A8–A12: ``INCIDR``, ``FULLNETWORKNAME``, the ``DOMAINNAME``/``QIDNAME``/…
decodes).  The AQL frontend (:mod:`.aql`) inlines these expressions into
every translated query, and each helper emits text valid in BOTH Spark SQL
and DuckDB (the correctness oracle).  Restricting to the dialect
intersection (regexp_extract, TRY_CAST, split_part, CASE, ||, &, CAST) means
the engine and the oracle can never drift.

INCIDR constants are folded in Python at plan-build time — the emitted predicate
is one AND + one comparison, fully inside whole-stage codegen.
"""

from __future__ import annotations

_MAX_IP = 0xFFFFFFFF


def _parse_cidr(cidr: str) -> tuple[int, int]:
    """'a.b.c.d/len' → (network_long, mask_long). Python-side constant folding."""
    net, _, plen_s = cidr.partition("/")
    plen = int(plen_s) if plen_s else 32
    if not 0 <= plen <= 32:
        raise ValueError(f"bad prefix length in CIDR {cidr!r}")
    o = [int(x) for x in net.split(".")]
    if len(o) != 4 or any(not 0 <= x <= 255 for x in o):
        raise ValueError(f"bad IPv4 network in CIDR {cidr!r}")
    net_long = (o[0] << 24) | (o[1] << 16) | (o[2] << 8) | o[3]
    mask = (_MAX_IP << (32 - plen)) & _MAX_IP if plen else 0
    return net_long & mask, mask


# The engine's default network hierarchy backing FULLNETWORKNAME, PER DOMAIN —
# QRadar's network table is domain-scoped and the reference passes the domain
# in every call (`FULLNETWORKNAME(SourceIP, DomainID)`,
# qradar/input/queries.json:2-3); the engine owns the table as config.
# Rows are (domainId, cidr, network_name).  Overlapping prefixes exercise
# longest-prefix-match (10.64/10 wins over 10/8), and the domains deliberately
# DISAGREE on the 10.64/10 overlay so the decode is observably
# domain-sensitive: domain 1 names it differently and domain 2 lacks it
# entirely (falls through to net_10).
_BASE_NETWORKS: list[tuple[str, str]] = [
    ("10.0.0.0/8", "net_10"),
    ("10.64.0.0/10", "net_10_64"),
    ("172.16.0.0/12", "net_172"),
    ("192.168.0.0/16", "net_192"),
    ("169.254.0.0/16", "net_linklocal"),
    ("127.0.0.0/8", "net_loopback"),
]

DEFAULT_DOMAIN = 0  # one-argument FULLNETWORKNAME(ip) resolves in this domain

DEFAULT_NETWORKS: list[tuple[int, str, str]] = [
    (dom, cidr, name)
    for dom in range(5)
    for cidr, name in _BASE_NETWORKS
    if not (dom == 2 and cidr == "10.64.0.0/10")
]
for _i, (_d, _c, _n) in enumerate(DEFAULT_NETWORKS):
    if _d == 1 and _c == "10.64.0.0/10":
        DEFAULT_NETWORKS[_i] = (1, "10.64.0.0/10", "net_dmz_d1")


#: qevents ships precomputed int64 twins of its dotted-quad IP columns — the
#: STRING forms are DERIVED from these longs (sources/qevents.py `_IP_STR`
#: renders the 4 base-256 digits of a value < 2^32, and ip2long recombines
#: exactly those digits), so reading the long directly is value-identical,
#: row for row, in BOTH engines (the oracle's qevents carries the same
#: columns from the same template).  r13, guide §4/§2.1: every INCIDR /
#: FULLNETWORKNAME call was re-splitting the same string 4× per probe — the
#: flagship AQL filter carried ~50 split-recombine chains per row, pushing
#: the predicate past the codegen budget into interpreted evaluation.
IPLONG_TWINS = {
    "sourceip": "sourceIPlong",
    "destinationip": "destinationIPlong",
}


#: One dotted-quad octet, 0..255 (a leading zero is allowed: '010' is 10).
_OCTET = "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
#: Four octets, each followed by a dot.  ip2long matches ``ip || '.'``: Java's
#: ``$`` also matches before a trailing line terminator and RE2's does not,
#: and ending the pattern on the appended dot makes the two engines agree.
#: It has no backslashes, so neither engine's string escaping touches it.
_DOTTED_QUAD = "^" + "[.]".join([_OCTET] * 4) + "[.]$"


def ip2long_expr(col: str) -> str:
    """Dotted-quad → int64; NULL for a NULL or malformed value (reference
    ``clickhouse/helpers.py:122-128`` rejects non-IPv4 text).  Columns with
    a precomputed long twin (:data:`IPLONG_TWINS`) emit the twin column
    instead of the parse."""
    # AQL is case-insensitive on identifiers (the corpus writes `SourceIP`);
    # the lookup matches accordingly and emits the canonical column name,
    # which both engines resolve (Spark via the translator's identifier-case
    # normalization pass, DuckDB natively).
    twin = IPLONG_TWINS.get(col.strip().lower())
    if twin is not None:
        return twin
    p = [
        f"TRY_CAST(regexp_extract(({col}) || '.', '{_DOTTED_QUAD}', {i}) AS BIGINT)"
        for i in (1, 2, 3, 4)
    ]
    return f"({p[0]}*16777216 + {p[1]}*65536 + {p[2]}*256 + {p[3]})"


def incidr_expr(cidr: str, col: str) -> str:
    """AQL INCIDR with the CIDR literal folded to (net, mask) int constants.
    A NULL or malformed IP gives NULL (false as a filter)."""
    net, mask = _parse_cidr(cidr)
    return f"(({ip2long_expr(col)} & {mask}) = {net})"


def incidr_dynamic_expr(cidr: str, col: str) -> str:
    """AQL INCIDR whose CIDR is an SQL expression, parsed per row, with the
    NULL semantics of :func:`incidr_expr`.  A missing '/len' is a /32 host
    route; a malformed network or a length outside 0..32 gives NULL.
    pow(2, 32-len) is exact in double up to 2^32."""
    plen = f"TRY_CAST(coalesce(nullif(split_part({cidr}, '/', 2), ''), '32') AS BIGINT)"
    mask = (
        f"(CASE WHEN {plen} BETWEEN 0 AND 32 "
        f"THEN 4294967296 - CAST(pow(2.0, 32 - {plen}) AS BIGINT) END)"
    )
    net = ip2long_expr(f"split_part({cidr}, '/', 1)")
    return f"(({ip2long_expr(col)} & {mask}) = ({net} & {mask}))"


def _lpm_chain(ip: str, networks: list[tuple[str, str]], default: str) -> str:
    """One domain's longest-prefix-first CASE chain over a precomputed ip expr."""
    parsed = []
    for cidr, name in networks:
        net, mask = _parse_cidr(cidr)
        plen = bin(mask).count("1")
        parsed.append((plen, cidr, name, net, mask))
    parsed.sort(key=lambda t: (-t[0], t[2]))
    branches = " ".join(
        f"WHEN (({ip} & {mask}) = {net}) THEN '{name}'"
        for _plen, _cidr, name, net, mask in parsed
    )
    return f"(CASE {branches} ELSE '{default}' END)"


def fullnetworkname_expr(
    col: str,
    domain_col: str | None = None,
    networks: list[tuple[int, str, str]] | None = None,
    default: str = "other",
) -> str:
    """AQL ``FULLNETWORKNAME(ip[, domainId])`` as a folded CASE (SURVEY §2 A11).

    For a plan-time-known network table a folded CASE beats a join: zero
    shuffle, pure codegen.  Branch order = prefix length descending, so the
    first hit IS the longest prefix.  Without ``domain_col`` the chain of
    ``DEFAULT_DOMAIN`` applies (the one-arg AQL form resolves in the default
    domain).  With it, QRadar's LPM is domain-scoped (reference
    qradar/input/queries.json:2-3 passes DomainID in every call): the CASE
    has one WHEN per distinct (cidr, name) pair, guarded by the domains that
    list it, so its size grows with the distinct networks, not with domains
    × networks.  A guard over a contiguous run of domains is a ``BETWEEN``.
    Restricted to one domain, the WHENs keep that domain's
    chain order; a NULL or unlisted domain matches none and gives
    ``default``.  ``networks`` rows are (domainId, cidr, name).
    """
    networks = DEFAULT_NETWORKS if networks is None else networks
    ip = ip2long_expr(col)
    if domain_col is None:
        return _lpm_chain(
            ip,
            [(cidr, name) for dom, cidr, name in networks if dom == DEFAULT_DOMAIN],
            default,
        )
    domains: dict[tuple[str, str], set[int]] = {}
    for dom, cidr, name in networks:
        domains.setdefault((cidr, name), set()).add(dom)
    parsed = []
    for (cidr, name), doms in domains.items():
        net, mask = _parse_cidr(cidr)
        parsed.append((-bin(mask).count("1"), name, net, mask, sorted(doms)))
    parsed.sort(key=lambda t: t[:3])
    dom_expr = f"CAST({domain_col} AS BIGINT)"

    def guard(doms: list[int]) -> str:
        # a contiguous run is two compares, not one per domain
        if len(doms) > 1 and doms[-1] - doms[0] == len(doms) - 1:
            return f"{dom_expr} BETWEEN {doms[0]} AND {doms[-1]}"
        return f"{dom_expr} IN ({', '.join(map(str, doms))})"

    whens = " ".join(
        f"WHEN {guard(doms)} AND (({ip} & {mask}) = {net}) THEN '{name}'"
        for _plen, name, net, mask, doms in parsed
    )
    return f"(CASE {whens} ELSE '{default}' END)"


# --- dimension decodes -------------------------------------------------------
# The engine owns these synthetic dimensions (the reference reads QRadar's
# internal tables); an ID outside a dimension's range decodes to NULL.

def domainname_expr(col: str) -> str:
    return f"(CASE WHEN {col} >= 0 AND {col} <= 4 THEN 'customer_' || CAST({col} AS STRING) END)"


def qidname_expr(col: str) -> str:
    return f"(CASE WHEN {col} >= 0 AND {col} <= 99 THEN 'event_' || CAST({col} AS STRING) END)"


def logsourcename_expr(col: str) -> str:
    return f"(CASE WHEN {col} >= 0 AND {col} <= 49 THEN 'logsource_' || CAST({col} AS STRING) END)"


def logsourcetypename_expr(col: str) -> str:
    return (
        f"(CASE WHEN {col} = 0 THEN 'Custom Rule Engine' "
        f"WHEN {col} >= 1 AND {col} <= 19 THEN 'devicetype_' || CAST({col} AS STRING) END)"
    )


def categoryname_expr(col: str) -> str:
    return f"(CASE WHEN {col} >= 4000 AND {col} <= 4039 THEN 'cat_' || CAST({col} AS STRING) END)"


DECODE_EXPRS = {
    "domainname": domainname_expr,
    "qidname": qidname_expr,
    "logsourcename": logsourcename_expr,
    "sensordevicename": logsourcename_expr,      # SENSORDEVICENAME ≡ LOGSOURCENAME
    "logsourcetypename": logsourcetypename_expr,
    "sensordevicetypename": logsourcetypename_expr,
    "categoryname": categoryname_expr,
}

"""AQL → SQL frontend (SURVEY §2 2A, §7.1 M2) — dialect-parameterized.

The reference declares its query surface as AQL template strings shipped to
QRadar's Ariel engine (``qradar/input/queries.json:2-3``,
``qradar/input/new_queries.json:2-12``, templating ``qradar/query_builder.py:59-66``).
This module makes that surface native: a token-level rewriter from AQL to
executable SQL, emitting either **Spark SQL** (the engine) or **DuckDB SQL**
(the correctness oracle).  In both dialects every AQL scalar function call is
replaced by the expression :mod:`.dialect` builds for it, so the translated
query is one declarative tree (pushdown, pruning and whole-stage codegen all
apply; no Python in the row path).  For DuckDB the event relation and the
reference sets also become CTEs — so oracle and engine both derive from the
*same AQL text*.

Translation passes (SURVEY §7.1 M2):
  {param} substitution (A16) → strip PARAMETERS REMOTESERVERS (A14) →
  GLOBALVIEW routing (A2) → REFERENCESETCONTAINS → IN-subquery (A9, a broadcast
  semi-join in Spark) → scalar-function inlining (A8–A12) → quote
  normalization (A3) → START/STOP → event-time range predicate (A13) →
  identifier-case normalization (AQL is case-insensitive on columns; the
  Spark session is case-sensitive).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
    DECODE_EXPRS,
    fullnetworkname_expr,
    incidr_dynamic_expr,
    incidr_expr,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


def _java_fmt_to_strftime(fmt: str) -> str:
    """Minimal Java date-format → strftime mapping for the corpus formats."""
    out = fmt
    for java, pct in (("yyyy", "%Y"), ("dd", "%d"), ("MM", "%m"), ("HH", "%H"),
                      ("mm", "%M"), ("ss", "%S")):
        out = out.replace(java, pct)
    return out


# ---------------------------------------------------------------------------
# rewrite passes (dialect-parameterized pure functions)
# ---------------------------------------------------------------------------

def _strip_parameters(q: str) -> str:
    return re.sub(r"\s+PARAMETERS\s+REMOTESERVERS\s*=.*$", "", q, flags=re.I | re.S)


def _rewrite_globalview(q: str, dialect: str, events_view: str) -> str:
    def sub(m: re.Match) -> str:
        view = m.group(1)
        if not re.fullmatch(_IDENT, view):
            raise ValueError(f"bad GLOBALVIEW name {view!r}")
        if dialect == "duckdb":
            from qradar_restapi_kafka_datapipeline_spark.views import globalview_sql

            return f"FROM ({globalview_sql(view, events_view)}) AS {view}"
        return f"FROM {view}"

    return re.sub(
        r"FROM\s+GLOBALVIEW\s*\(\s*'([^']+)'\s*,\s*'[^']*'\s*\)", sub, q, flags=re.I
    )


def _rewrite_refset(q: str, ref_sets_view: str) -> str:
    def sub(m: re.Match) -> str:
        set_name, col = m.group(1), m.group(2)
        return (
            f"({col} IN (SELECT value FROM {ref_sets_view} "
            f"WHERE set_name = '{set_name}'))"
        )

    return re.sub(
        rf"REFERENCESETCONTAINS\s*\(\s*'([^']+)'\s*,\s*({_IDENT})\s*\)",
        sub,
        q,
        flags=re.I,
    )


def _literal_spans(q: str) -> list[tuple[int, int]]:
    """[start, end) spans of quoted regions: single-quoted string literals
    (with ``''`` escapes), double-quoted identifiers (with ``""``), and
    backtick-quoted identifiers (with `````` escapes — Spark doubles a
    literal backtick inside a backtick identifier) — a function NAME or
    column word inside any of them must never be rewritten.

    Malformed text raises: an unterminated quote used to be treated as
    spanning to end-of-string, which let a top-level typo flow silently
    through every rewrite pass and fail much later (or worse, succeed with
    mangled semantics) — frontend hygiene demands the diagnosis here."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c in ("'", '"', "`"):
            j = i + 1
            closed = False
            while j < n:
                if q[j] == c:
                    if j + 1 < n and q[j + 1] == c:
                        j += 2
                        continue
                    closed = True
                    break
                j += 1
            if not closed:
                raise ValueError(
                    f"unterminated {c}-quoted literal starting at offset {i}: "
                    f"{q[i:i + 40]!r}"
                )
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _sub_outside_literals(q: str, pattern: str, repl, flags: int = 0) -> str:
    """re.sub applied ONLY to the text between quoted spans — the rewrite
    passes (identifier case, decode folds) must never alter bytes inside a
    string literal or quoted identifier."""
    spans = _literal_spans(q)
    out: list[str] = []
    last = 0
    for s, e in spans:
        out.append(re.sub(pattern, repl, q[last:s], flags=flags))
        out.append(q[s:e])
        last = e
    out.append(re.sub(pattern, repl, q[last:], flags=flags))
    return "".join(out)


def _top_level_search(
    q: str, pattern: str, flags: int = 0
) -> re.Match | None:
    """First match of ``pattern`` at paren depth 0 and outside quoted spans —
    a WHERE/GROUP BY inside an inlined subquery (GLOBALVIEW expansion,
    reference-set IN-subquery) must not anchor outer-clause injection."""
    spans = _literal_spans(q)

    def in_literal(pos: int) -> bool:
        return any(s <= pos < e for s, e in spans)

    depth = 0
    for m in re.finditer(rf"[()]|{pattern}", q, flags=flags):
        tok = m.group(0)
        if in_literal(m.start()):
            continue
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return m
    return None


def _last_call(q: str, fname: str) -> tuple[int, int, list[str]] | None:
    """Locate the LAST ``fname( ... )`` call in ``q`` and split its arguments.

    Paren-BALANCED and quote-AWARE: nested calls, parenthesized expressions,
    and string literals containing ``,``/``(``/``)`` (with ``''`` escapes) all
    parse correctly — the failure mode of the old ``[^()]*`` regexes was
    silently mistranslating exactly those shapes.  Match sites inside quoted
    literals/identifiers are skipped (a query comparing a column to the TEXT
    'see CATEGORYNAME(4001)' must not rewrite inside the string).  Malformed
    text (unbalanced parens, unterminated literal) raises instead of passing
    through.

    Returns ``(start, end, args)`` over the original string, or None if no
    call remains.  Processing the last call first keeps earlier offsets valid
    and rewrites innermost-first under same-function nesting (callers loop to
    fixpoint).
    """
    spans = _literal_spans(q)

    def in_literal(pos: int) -> bool:
        return any(s <= pos < e for s, e in spans)

    matches = [
        m
        for m in re.finditer(rf"\b{fname}\s*\(", q, flags=re.I)
        if not in_literal(m.start())
    ]
    if not matches:
        return None
    m = matches[-1]
    j, n, depth = m.end(), len(q), 1
    args: list[str] = []
    cur: list[str] = []
    while j < n and depth > 0:
        c = q[j]
        if c in ("'", '"', "`"):
            # quoted regions are opaque to the argument split: a double-
            # quoted custom-property name like "Magnitude (most recent)"
            # must not bump paren depth or split on its comma
            k = j + 1
            while k < n:
                if q[k] == c:
                    # doubled closer is an escaped quote for ALL three quote
                    # kinds — '' "" and `` (Spark doubles a literal backtick
                    # inside a backtick identifier), same rule as
                    # _literal_spans so the two scanners never disagree
                    if k + 1 < n and q[k + 1] == c:
                        k += 2
                        continue
                    break
                k += 1
            if k >= n:
                raise ValueError(f"unterminated string literal in {fname}(...)")
            cur.append(q[j : k + 1])
            j = k + 1
            continue
        if c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            if depth == 0:
                break
            cur.append(c)
        elif c == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        j += 1
    if depth != 0:
        raise ValueError(f"unbalanced parentheses in {fname}(...) call")
    args.append("".join(cur).strip())
    return m.start(), j + 1, args


def _rewrite_calls(q: str, fname: str, render) -> str:
    """Replace every ``fname(...)`` call via ``render(args) -> str``, looping
    to fixpoint so same-function nesting resolves innermost-first."""
    guard = 0
    while True:
        guard += 1
        if guard > 500:  # no sane query has hundreds of nested calls
            raise ValueError(f"runaway rewrite loop for {fname}")
        found = _last_call(q, fname)
        if found is None:
            return q
        start, end, args = found
        q = q[:start] + render(args) + q[end:]


def _is_str_literal(s: str) -> bool:
    return len(s) >= 2 and s.startswith("'") and s.endswith("'")


def _inline_functions(q: str, dialect: str) -> str:
    """Replace AQL scalar calls with the :mod:`.dialect` expressions, the only
    definition of their semantics.  The same text runs on Spark and DuckDB
    (only DATEFORMAT's pattern differs), keeping the oracle bit-identical.
    A literal CIDR folds to two constants, which keeps the flagship WHERE
    clause inside whole-stage codegen; a non-literal CIDR is parsed per row.

    Argument extraction is paren-balanced and quote-aware (see
    :func:`_last_call`), so nested calls — ``DATEFORMAT(DOMAINNAME(x), ...)``,
    ``INCIDR`` under ``NOT`` with comma-bearing literals — translate correctly;
    malformed calls raise.
    """

    def sub_incidr(args: list[str]) -> str:
        if len(args) != 2:
            raise ValueError(f"INCIDR expects 2 arguments, got {len(args)}")
        cidr, col = args
        if _is_str_literal(cidr):
            return incidr_expr(cidr[1:-1], col)
        return incidr_dynamic_expr(cidr, col)

    q = _rewrite_calls(q, "INCIDR", sub_incidr)

    def sub_fnn(args: list[str]) -> str:
        if len(args) not in (1, 2):
            raise ValueError(
                f"FULLNETWORKNAME expects 1 or 2 arguments, got {len(args)}"
            )
        domain = args[1] if len(args) == 2 else None
        return fullnetworkname_expr(args[0], domain_col=domain)

    q = _rewrite_calls(q, "FULLNETWORKNAME", sub_fnn)

    # A bare (possibly qualified) identifier or integer literal embeds as-is;
    # any other expression is parenthesized so it binds correctly inside the
    # decode's CASE comparisons.
    _atom = re.compile(r"[A-Za-z_][\w.]*|\d+")

    for fname, expr_fn in DECODE_EXPRS.items():

        def sub_decode(args: list[str], f=expr_fn, fn=fname) -> str:
            if len(args) != 1:
                raise ValueError(f"{fn.upper()} expects 1 argument, got {len(args)}")
            a = args[0]
            return f(a if _atom.fullmatch(a) else f"({a})")

        q = _rewrite_calls(q, fname, sub_decode)

    def sub_datefmt(args: list[str]) -> str:
        if len(args) != 2:
            raise ValueError(f"DATEFORMAT expects 2 arguments, got {len(args)}")
        col, fmt = args
        if not _is_str_literal(fmt):
            raise ValueError("DATEFORMAT format must be a string literal")
        fmt = fmt[1:-1]
        if dialect == "duckdb":
            return f"strftime({col}, '{_java_fmt_to_strftime(fmt)}')"
        return f"date_format({col}, '{fmt}')"

    q = _rewrite_calls(q, "DATEFORMAT", sub_datefmt)
    return q


def _rewrite_quotes(q: str, dialect: str) -> str:
    """AQL quote conventions → dialect identifiers, SPAN-WISE: walk the
    quoted regions so a double-quote inside a string literal (``'say "hi"'``)
    or an apostrophe inside an identifier is never treated as the other
    kind of quote — a flat regex corrupted exactly those literals."""
    spans = _literal_spans(q)
    out: list[str] = []
    last = 0
    for s, e in spans:
        between = q[last:s]
        span = q[s:e]
        if span.startswith('"') and dialect == "spark":
            # double-quoted identifier → backticks
            span = "`" + span[1:-1].replace('""', '"') + "`"
        elif span.startswith("'") and re.search(r"\bAS\s*$", between, flags=re.I):
            # quoted alias after AS → dialect identifier quoting
            body = span[1:-1].replace("''", "'")
            span = f"`{body}`" if dialect == "spark" else f'"{body}"'
        out.append(between)
        out.append(span)
        last = e
    out.append(q[last:])
    return "".join(out)


def _inject_where_pred(q: str, pred: str) -> str:
    """Fold ``pred`` into the OUTER query's WHERE clause (creating one if
    absent), always ahead of GROUP BY/ORDER BY/HAVING/LIMIT — AQL's time
    clauses sit AFTER those, where plain in-place insertion would be invalid
    SQL.

    All clause anchoring is TOP-LEVEL (paren-depth 0, outside literals): the
    duckdb GLOBALVIEW expansion and the reference-set rewrite inline
    subqueries that carry their OWN WHERE/GROUP BY, and injecting the time
    predicate into a subquery filters pre-aggregation raw time instead of
    the view's hour-truncated buckets — correct-looking only while the
    bounds happen to be hour-aligned.
    """
    clause = r"\b(GROUP\s+BY|ORDER\s+BY|HAVING|LIMIT)\b"
    mw = _top_level_search(q, r"\bWHERE\b", flags=re.I)
    if mw:
        # wrap the existing WHERE body so `pred AND (body)` binds correctly
        tail = _top_level_search(q[mw.end():], clause, flags=re.I)
        end = mw.end() + (tail.start() if tail else len(q) - mw.end())
        return (
            q[: mw.end()] + f" {pred} AND (" + q[mw.end():end].strip() + ") "
            + q[end:]
        )
    tail = _top_level_search(q, clause, flags=re.I)
    at = tail.start() if tail else len(q)
    return q[:at] + f" WHERE {pred} " + q[at:]


def _time_bound(dialect: str, time_col: str, op: str, bound: str) -> str:
    """``time_col op bound`` for one time-range bound.

    For Spark both sides compare as ``DECIMAL(18,0)`` microseconds.  Constant
    folding turns the bound into a DECIMAL literal, and codegen keeps a
    DECIMAL literal in the stage's ``references`` array instead of writing it
    into the Java source (a TIMESTAMP literal is written in as a ``long``),
    so every window generates the same source and hits the codegen cache.
    The precision matters: a cast from BIGINT to ``DECIMAL(20,0)`` or wider
    is an up-cast, and ``UnwrapCastInBinaryComparison`` turns it back into a
    BIGINT compare with a ``long`` literal.  ``unix_micros`` is exact at µs
    precision, so the half-open bounds keep their meaning, and a NULL time
    matches neither bound.  DuckDB (the oracle) compares timestamps."""
    if dialect != "spark":
        return f"{time_col} {op} {bound}"
    return (
        f"CAST(unix_micros({time_col}) AS DECIMAL(18,0)) {op} "
        f"CAST(unix_micros({bound}) AS DECIMAL(18,0))"
    )


def _rewrite_last(
    q: str, time_col: str, now_expr: str | None, dialect: str = "spark"
) -> str:
    """AQL ``LAST n MINUTES|HOURS|DAYS`` → sliding time-range predicate.

    ``now_expr`` anchors the window (SQL expression text); defaults to the
    engine clock — pass a timestamp literal for reproducible runs/tests.
    For Spark the bound is a ``DECIMAL(18,0)`` µs compare (see
    :func:`_time_bound`, which also says why 18 and not wider): a
    per-search value must reach Spark as a DECIMAL(≤18,0) or STRING literal,
    never as a TIMESTAMP, DATE or numeric one, which codegen writes into the
    Java source.  ``current_timestamp()`` folds to a new value on every
    call, so as a TIMESTAMP literal it recompiled the scan stage of even a
    repeated search.
    """
    m = re.search(r"\bLAST\s+(\d+)\s+(MINUTES?|HOURS?|DAYS?)\b", q, flags=re.I)
    if not m:
        return q
    n, unit = m.group(1), m.group(2).upper().rstrip("S")
    now = now_expr or "current_timestamp()"
    bound = f"{now} - INTERVAL '{n}' {unit}"
    pred = f"({_time_bound(dialect, time_col, '>=', bound)})"
    return _inject_where_pred(q[: m.start()] + q[m.end():], pred)


def _rewrite_start_stop(
    q: str, time_col: str, partition_col: str | None = None, dialect: str = "spark"
) -> str:
    """AQL ``START '{t0}' STOP '{t1}'`` → half-open time-range predicate.

    For Spark each bound is a ``DECIMAL(18,0)`` µs compare over the
    ``timestamp'<t>'`` literal (see :func:`_time_bound`, which also says why
    18 and not wider): a per-search value must reach Spark as a
    DECIMAL(≤18,0) or STRING literal, never as a TIMESTAMP, DATE or numeric
    one, which codegen writes into the Java source — a new window would
    then compile its scan stage again.  The literal itself still parses as
    before, so the frontend accepts and rejects the same time strings.

    With ``partition_col`` set (an ``event_date``-style DAY partition column
    on the events relation), the rewrite ALSO derives the implied partition
    predicate — constant DATE bounds Catalyst turns into file-level partition
    pruning.  They land in PartitionFilters, not in generated code.  This is
    the 100 TB scan-economics path: the ``ts`` bound alone
    filters rows AFTER the scan (Spark does not infer ``date(ts)`` bounds
    from ``ts`` bounds), so without the derived predicate a 2-day query
    still reads every day's files.  STOP is exclusive, so a stop at exactly
    midnight does not touch that day's partition.
    """
    m = re.search(r"\bSTART\s+'([^']+)'\s+STOP\s+'([^']+)'", q, flags=re.I)
    if not m:
        return q
    t0, t1 = m.group(1), m.group(2)
    lo = _time_bound(dialect, time_col, ">=", f"timestamp'{t0}'")
    hi = _time_bound(dialect, time_col, "<", f"timestamp'{t1}'")
    pred = f"({lo} AND {hi})"
    if partition_col:
        import datetime as _dt

        try:
            start = _dt.datetime.fromisoformat(t0)
            stop = _dt.datetime.fromisoformat(t1)
        except ValueError:
            # Non-ISO AQL time syntax: the plain ts predicate below still
            # accepts whatever the engine's timestamp literal parser does, so
            # partition pruning must not CHANGE which formats the frontend
            # tolerates — skip the derived partition bounds and keep the scan
            # un-pruned (ADVICE r3: pruning is an optimization, not a gate).
            pass
        else:
            d1 = stop.date()
            if stop.time() == _dt.time(0):
                d1 = d1 - _dt.timedelta(days=1)
            pred = (
                f"({partition_col} >= DATE'{start.date()}' "
                f"AND {partition_col} <= DATE'{d1}' AND {pred[1:]}"
            )
    return _inject_where_pred(q[: m.start()] + q[m.end():], pred)


def _normalize_identifier_case(q: str, columns: list[str]) -> str:
    # _sub_outside_literals: a column word occurring INSIDE a string literal
    # ('High Magnitude Alert') or quoted identifier must keep its bytes —
    # the session is case-sensitive, so a case rewrite there changes results
    for col in columns:
        if not re.fullmatch(_IDENT, col):
            continue  # space-bearing names arrive backtick-quoted already
        q = _sub_outside_literals(
            q, rf"(?<![\w\.]){re.escape(col)}(?![\w])", col, flags=re.I
        )
    return q


def translate(
    aql: str,
    params: dict[str, str] | None = None,
    dialect: str = "spark",
    events_view: str = "qevents",
    time_col: str = "ts",
    ref_sets_view: str = "ref_sets",
    columns: list[str] | None = None,
    now_expr: str | None = None,
    partition_col: str | None = None,
) -> str:
    """AQL text → executable SQL text in the target dialect.

    GROUP BY / ORDER BY / LIMIT / HAVING pass through untouched (valid in both
    dialects); the AQL-specific clauses (START/STOP, LAST, PARAMETERS,
    GLOBALVIEW, quoted aliases, scalar functions) are rewritten.
    ``partition_col`` names the events view's day-partition column, if any —
    START/STOP then also emits the derived partition-pruning predicate.
    """
    q = aql.format(**params) if params else aql
    q = _strip_parameters(q)
    q = _rewrite_globalview(q, dialect, events_view)
    q = re.sub(r"\bFROM\s+events\b", f"FROM {events_view}", q, flags=re.I)
    q = _rewrite_refset(q, ref_sets_view)
    q = _inline_functions(q, dialect)
    q = _rewrite_quotes(q, dialect)
    q = _rewrite_start_stop(q, time_col, partition_col, dialect)
    q = _rewrite_last(q, time_col, now_expr, dialect)
    if dialect == "spark" and columns:
        q = _normalize_identifier_case(q, columns)
    return q


def bind_parameters(
    sql: str, supplied: set[str] | None = None
) -> tuple[str, list[str]]:
    """Rewrite ``str.format`` placeholders left in a TRANSLATED query into
    Spark named-parameter markers (SURVEY §2A A16's stated improvement over
    the reference's ``.format(**params)`` splice, reference ``main.py:48``).

    Three shapes, in order: ``timestamp'{p}'`` (the START/STOP rewrite's
    output) becomes ``CAST(:p AS TIMESTAMP)`` so the bound string still
    compares as a timestamp (for Spark it then sits inside the DECIMAL µs
    bound, which folds to a DECIMAL literal as in the spliced form); a
    placeholder that IS a whole string literal
    (``'{p}'``) becomes ``:p``; bare ``{p}`` OUTSIDE string literals becomes
    ``:p`` (a brace inside a literal's text is data, never a parameter).
    Returns the rewritten SQL and the referenced parameter names — bind with
    ``spark.sql(sql, args={...})`` and the values can never re-enter the
    parser: injection is structurally impossible in this mode.

    ``supplied`` restricts the whole-literal rewrite to NAMED parameters
    (ADVICE r4): a query whose literal DATA happens to be the text
    ``{name}`` must stay a literal when the caller never bound ``name`` —
    rewriting it raised ``KeyError`` (or bound an unintended value) instead
    of comparing against the literal.  ``None`` keeps the rewrite-everything
    behavior for callers that collect names before binding.
    """
    names: list[str] = []

    def _known(name: str) -> bool:
        return supplied is None or name in supplied

    def _ts(m: re.Match) -> str:
        if not _known(m.group(1)):
            return m.group(0)
        names.append(m.group(1))
        return f"CAST(:{m.group(1)} AS TIMESTAMP)"

    sql = re.sub(r"timestamp'\{(\w+)\}'", _ts, sql)

    def _lit(m: re.Match) -> str:
        if not _known(m.group(1)):
            return m.group(0)
        names.append(m.group(1))
        return f":{m.group(1)}"

    sql = re.sub(r"'\{(\w+)\}'", _lit, sql)
    spans = _literal_spans(sql)
    out: list[str] = []
    last = 0
    for m in re.finditer(r"\{(\w+)\}", sql):
        if any(s <= m.start() < e for s, e in spans):
            continue  # brace inside a literal is data
        out.append(sql[last : m.start()])
        out.append(f":{m.group(1)}")
        names.append(m.group(1))
        last = m.end()
    out.append(sql[last:])
    return "".join(out), names


def aql_oracle_sql(aql: str, params: dict[str, str] | None = None) -> str:
    """Full DuckDB oracle query for an AQL string: qevents + ref_sets CTEs +
    the duckdb-dialect translation. Runs on the raw parquet views alone."""
    from qradar_restapi_kafka_datapipeline_spark.sources.qevents import qevents_sql
    from qradar_restapi_kafka_datapipeline_spark.views import REF_SETS_SQL

    body = translate(aql, params, dialect="duckdb")
    return (
        f"WITH qevents AS ({qevents_sql('duckdb')}), "
        f"ref_sets AS ({REF_SETS_SQL}) {body}"
    )


class AQLFrontend:
    """Translate + run AQL text against the engine's registered views."""

    def __init__(
        self,
        spark: SparkSession,
        events_view: str = "qevents",
        time_col: str = "ts",
        ref_sets_view: str = "ref_sets",
        partition_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.events_view = events_view
        self.time_col = time_col
        self.ref_sets_view = ref_sets_view
        self.partition_col = partition_col

    def translate(self, aql: str, params: dict[str, str] | None = None) -> str:
        m = re.search(r"\bFROM\s+(?:GLOBALVIEW\s*\(\s*'([^']+)'|(\w+))", aql, flags=re.I)
        view = (m.group(1) or m.group(2)) if m else None
        if view and view.lower() == "events":
            view = self.events_view
        cols: list[str] = []
        if view:
            try:
                cols = self.spark.table(view).columns
            except Exception:
                cols = []
        return translate(
            aql,
            params,
            dialect="spark",
            events_view=self.events_view,
            time_col=self.time_col,
            ref_sets_view=self.ref_sets_view,
            columns=cols,
            partition_col=self.partition_col,
        )

    def sql(
        self,
        aql: str,
        params: dict[str, str] | None = None,
        auto_route: bool = False,
    ) -> DataFrame:
        """Translate and run.  ``auto_route=True`` additionally tries the
        aggregate navigator (:mod:`.rollup_router`): a raw-events aggregate
        provably covered by a registered GLOBALVIEW is rewritten to scan the
        pre-aggregation (routing correctness is gate-proven — the routed
        entry's oracle computes from RAW events); anything not provably
        covered runs unchanged."""
        if auto_route:
            from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
                try_route_to_globalview,
            )

            routed = try_route_to_globalview(
                aql.format(**params) if params else aql
            )
            if routed is not None:
                try:
                    return self.spark.sql(self.translate(routed[0], None))
                except Exception:
                    # routing is an optimization: any analysis surprise on
                    # the rewritten text falls back to the raw-events plan
                    pass
        return self.spark.sql(self.translate(aql, params))

    def translate_bound(
        self, aql: str, params: dict[str, str] | None = None
    ) -> tuple[str, dict[str, str]]:
        """Translate with placeholders INTACT, then rewrite them to Spark
        named-parameter markers (:func:`bind_parameters`).  Returns
        ``(sql, args)``; raises ``KeyError`` naming any bare placeholder the
        caller didn't supply, while a whole string literal ``'{x}'`` whose
        name was never supplied stays literal DATA (ADVICE r4).  The derived
        partition-pruning bounds need literal values, so this mode emits the
        plain ts predicate only — binding trades that static pruning for
        structural injection safety.
        """
        supplied = params or {}
        sql, names = bind_parameters(self.translate(aql, None), set(supplied))
        return sql, {n: supplied[n] for n in set(names)}

    def sql_bound(
        self, aql: str, params: dict[str, str] | None = None
    ) -> DataFrame:
        """Injection-safe twin of :meth:`sql`: parameter values are bound at
        execution (``spark.sql(..., args=...)``), never spliced into the
        query text.  Hash-identical to :meth:`sql` on the whole reference
        corpus (gate entry ``aql_parameterized`` + differential tests); the
        ``str.format`` path is kept for reference parity."""
        sql, args = self.translate_bound(aql, params)
        return self.spark.sql(sql, args=args)

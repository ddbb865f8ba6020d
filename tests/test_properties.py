"""Property-based tests (hypothesis): the scalar library vs Python stdlib oracles.

Batched: hypothesis generates the cases, ONE Spark job evaluates them all —
per-example Spark jobs would be 1000× slower than the properties are worth.
"""

import datetime
import ipaddress

import pytest

from hypothesis import example, given, settings, strategies as st

from qradar_restapi_kafka_datapipeline_spark.functions import prev_saturday
from qradar_restapi_kafka_datapipeline_spark.operators.normalize import clean_column_name
from qradar_restapi_kafka_datapipeline_spark.plans.dialect import (
    incidr_dynamic_expr,
    incidr_expr,
    ip2long_expr,
)

ips = st.integers(min_value=0, max_value=0xFFFFFFFF).map(
    lambda n: str(ipaddress.IPv4Address(n))
)
cidrs = st.tuples(
    st.integers(min_value=0, max_value=0xFFFFFFFF), st.integers(min_value=0, max_value=32)
).map(lambda t: f"{ipaddress.IPv4Address(t[0])}/{t[1]}")


class TestIncidrVsStdlib:
    """INCIDR and ip2long as :mod:`plans.dialect` emits them for the AQL
    frontend, run in Spark and in DuckDB against ``ipaddress``: one query
    per engine evaluates every case."""

    def test_incidr_matches_ipaddress(self, run_both):
        cases = []
        gen = st.tuples(cidrs, ips)

        @settings(max_examples=300, deadline=None, database=None)
        @given(gen)
        def collect(case):
            cases.append(case)

        collect()
        rows = [(i, cidr, ip) for i, (cidr, ip) in enumerate(cases)]
        # the literal form folds its CIDR: one CASE branch per case
        literal = " ".join(
            f"WHEN {i} THEN {incidr_expr(cidr, 'ip')}" for i, cidr, _ in rows
        )
        got = run_both(
            f"SELECT i, CASE i {literal} END AS lit, "
            f"{incidr_dynamic_expr('cidr', 'ip')} AS dyn FROM {{t}}",
            t=("i INT, cidr STRING, ip STRING", rows),
        )
        want = []
        for i, cidr, ip in rows:
            hit = ipaddress.IPv4Address(ip) in ipaddress.IPv4Network(cidr, strict=False)
            want.append((i, hit, hit))
        assert got[0] == want
        assert got[1] == want

    def test_ip_to_long_matches_ipaddress(self, run_both):
        sample = [str(ipaddress.IPv4Address(n)) for n in
                  range(0, 0xFFFFFFFF, 0x01234567)] + ["255.255.255.255"]
        sample += ["999.1.1.1", "not-an-ip", "1.2.3", "1.2.3.4.5", " 10.1.2.3",
                   "+1.2.3.4", "-0.1.2.3", "1.2.3.4\n", "", None]
        rows = list(enumerate(sample))
        got = run_both(
            f"SELECT i, {ip2long_expr('ip')} AS n FROM {{t}}",
            t=("i INT, ip STRING", rows),
        )

        def want(s):
            try:
                return int(ipaddress.IPv4Address(s))
            except ipaddress.AddressValueError:
                return None

        assert got[0] == got[1] == [(i, want(s)) for i, s in rows]


def test_prev_saturday_matches_dateutil_semantics(spark):
    """relativedelta(weekday=SA(-1)) parity over 400 consecutive days
    (reference clickhouse/helpers.py:79)."""
    base = datetime.date(2023, 12, 1)
    days = [base + datetime.timedelta(days=i) for i in range(400)]
    df = spark.createDataFrame(
        [(datetime.datetime(d.year, d.month, d.day, 13, 30),) for d in days], ["ts"]
    )
    got = [r["p"] for r in df.select(prev_saturday("ts").alias("p")).collect()]
    for d, p in zip(days, got):
        # python truth: step back (weekday+2) % 7 days; Mon=0..Sun=6 → Sat maps to itself
        expect = d - datetime.timedelta(days=(d.weekday() + 2) % 7)
        assert p == expect, d


@given(st.text(min_size=0, max_size=40))
@settings(max_examples=200, deadline=None, database=None)
def test_clean_column_name_idempotent_and_complete(name):
    cleaned = clean_column_name(name)
    assert clean_column_name(cleaned) == cleaned  # idempotent
    for ch in " /(),":
        assert ch not in cleaned


def test_sessionize_differential_vs_reference_impl(spark):
    """Differential test: sessionize() vs an independent pure-Python fold on
    randomized event sets (seeded). Catches window-frame or gap-comparison
    regressions the fixed-fixture tests can't reach."""
    import random

    from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import sessionize

    GAP_MS = 30 * 60 * 1000
    for seed in (7, 41, 1337):
        rng = random.Random(seed)
        rows = []
        for uid in range(25):
            t = 1_700_000_000_000 + rng.randrange(0, 86_400_000)
            for _ in range(rng.randrange(1, 40)):
                # cluster most gaps near the 30-min boundary to stress it
                t += rng.choice(
                    [rng.randrange(0, 5_000), GAP_MS + rng.randrange(-2, 3)]
                )
                rows.append((uid, t, float(rng.randrange(1, 100))))

        def ref_sessions(evts):
            out = []
            by_user = {}
            for u, t, v in sorted(evts):
                by_user.setdefault(u, []).append((t, v))
            for u, seq in by_user.items():
                start, end, n, s = None, None, 0, 0.0
                for t, v in seq:
                    if start is None:
                        start, end, n, s = t, t, 1, v
                    elif t - end > GAP_MS:
                        out.append((u, start, end, n, round(s, 2)))
                        start, end, n, s = t, t, 1, v
                    else:
                        end, n, s = t, n + 1, s + v
                if start is not None:
                    out.append((u, start, end, n, round(s, 2)))
            return sorted(out)

        df = spark.createDataFrame(
            rows, "user_id BIGINT, ts_ms BIGINT, value DOUBLE"
        ).selectExpr("user_id", "timestamp_millis(ts_ms) AS ts", "value")
        got = sorted(
            (
                r["user_id"],
                int(r["session_start"].timestamp() * 1000),
                int(r["session_end"].timestamp() * 1000),
                r["n_events"],
                r["total_value"],
            )
            for r in sessionize(df, agg_cols={"value": "total_value"}).collect()
        )
        assert got == ref_sessions(rows), f"seed {seed} diverged"


# ---------------------------------------------------------------------------
# passage dedup / unigram LM vs pure-Python reference implementations
# ---------------------------------------------------------------------------

_vocab = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
_doc_texts = st.lists(
    st.lists(_vocab, min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=25,
)


def _ref_passage_dedup(texts, k, min_dup_docs):
    import hashlib
    import math

    chunks = {}
    for d, text in enumerate(texts):
        w = text.strip().split()
        n = max(math.ceil(len(w) / k), 1)
        chunks[d] = [" ".join(w[i * k : (i + 1) * k]) for i in range(n)]
    seen = {}
    for d, ps in chunks.items():
        for p in ps:
            seen.setdefault(p, set()).add(d)
    dup = {p for p, ds in seen.items() if len(ds) >= min_dup_docs}
    out = {}
    for d, ps in chunks.items():
        kept = [p for p in ps if p not in dup]
        clean = " ".join(kept)
        out[d] = (
            len(ps),
            len(kept),
            len(ps) - len(kept),
            hashlib.md5(clean.encode()).hexdigest(),
            len(clean),
        )
    return out


class TestPassageDedupDifferential:
    """Random small-vocab corpora (repeats guaranteed) vs a from-scratch
    Python implementation of the same spec — catches chunking/reassembly
    edge cases (partial tail chunks, all-dropped docs, within-doc repeats)
    the planted tests don't enumerate."""

    @settings(max_examples=4, deadline=None)
    @given(_doc_texts)
    def test_matches_reference(self, spark, texts):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            passage_dedup,
        )

        k = 2
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_pd_docs")
        got = {
            r["doc_id"]: (
                r["n_passages"],
                r["n_kept"],
                r["n_dropped"],
                r["clean_fp"],
                r["clean_chars"],
            )
            for r in passage_dedup(
                spark, k=k, min_dup_docs=2, table="prop_pd_docs"
            ).collect()
        }
        assert got == _ref_passage_dedup(texts, k, 2)


class TestUnigramLoglikDifferential:
    @settings(max_examples=4, deadline=None)
    @given(_doc_texts)
    def test_matches_reference(self, spark, texts):
        import math
        from collections import Counter

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            unigram_loglik_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_ug_docs")
        toks = {i: t.strip().split() for i, t in enumerate(texts)}
        freq = Counter(w for ws in toks.values() for w in ws)
        total = sum(freq.values())
        got = {
            r["doc_id"]: (r["n_tokens"], r["mean_tok_freq"], r["mean_loglik"])
            for r in spark.sql(
                unigram_loglik_sql("spark", "prop_ug_docs")
            ).collect()
        }
        for d, ws in toks.items():
            n, mtf, mll = got[d]
            assert n == len(ws)
            assert abs(mtf - round(sum(freq[w] for w in ws) / n + 1e-9, 6)) < 1e-9
            ref_ll = sum(math.log(freq[w] / total) for w in ws) / n
            assert abs(mll - ref_ll) < 1e-3  # 4dp rounding + libm ulp


class TestTfidfDifferential:
    @settings(max_examples=3, deadline=None)
    @given(_doc_texts)
    def test_matches_reference(self, spark, texts):
        import math
        from collections import Counter

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            tfidf_topk_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_tfidf_docs")
        k = 2
        got = {}
        for r in spark.sql(
            tfidf_topk_sql("spark", k=k, source="prop_tfidf_docs")
        ).collect():
            got.setdefault(r["doc_id"], []).append((r["rk"], r["term"], r["tfidf"]))
        toks = {i: t.strip().split() for i, t in enumerate(texts)}
        df = Counter()
        for ws in toks.values():
            df.update(set(ws))
        n_docs = len(texts)
        for d, ws in toks.items():
            tf = Counter(ws)
            scored = sorted(
                (
                    (
                        round(c * math.log((n_docs + 1.0) / (df[w] + 1.0)) + 1e-9, 4),
                        w,
                    )
                    for w, c in tf.items()
                ),
                key=lambda t: (-t[0], t[1]),
            )[:k]
            ref = [(i + 1, w, s) for i, (s, w) in enumerate(scored)]
            assert sorted(got[d]) == ref, f"doc {d}"


class TestBigramLoglikDifferential:
    @settings(max_examples=3, deadline=None)
    @given(_doc_texts)
    def test_matches_reference(self, spark, texts):
        import math
        from collections import Counter

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            bigram_loglik_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_bg_docs")
        got = {
            r["doc_id"]: (r["n_transitions"], r["mean_bigram_loglik"])
            for r in spark.sql(
                bigram_loglik_sql("spark", "prop_bg_docs")
            ).collect()
        }
        toks = {i: t.strip().split() for i, t in enumerate(texts)}
        uni = Counter(w for ws in toks.values() for w in ws)
        bg = Counter(
            f"{ws[i]} {ws[i+1]}" for ws in toks.values() for i in range(len(ws) - 1)
        )
        v = len(uni)
        for d, ws in toks.items():
            if len(ws) < 2:
                assert d not in got  # no transitions -> absent by construction
                continue
            trans = [(ws[i], f"{ws[i]} {ws[i+1]}") for i in range(len(ws) - 1)]
            ref = sum(
                math.log((bg[b] + 1.0) / (uni[p] + v)) for p, b in trans
            ) / len(trans)
            n, mll = got[d]
            assert n == len(trans)
            assert abs(mll - ref) < 1e-3


# ---------------------------------------------------------------------------
# AQL frontend differential fuzz: random well-formed AQL → both dialects →
# identical results.  The corpus tests pin 13 fixed queries; this pins the
# GRAMMAR — projection/aggregate shapes × nested predicates × IN lists ×
# INCIDR × START/STOP — against engine divergence.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    """Shared Spark + DuckDB pair for the three differential-fuzz grammars —
    ONE registration of the events view and the frontend setup (three
    per-class copies previously had to be edited in lockstep)."""
    import duckdb

    from qradar_restapi_kafka_datapipeline_spark.entry_queries import setup

    setup(spark, sf_dir)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return spark, con


class TestAQLDifferentialFuzz:
    NUM_COLS = {
        "domainId": (0, 7), "eventCount": (1, 5), "magnitude": (0, 10),
        "qid": (0, 30), "sourcePort": (0, 12), "destinationPort": (0, 12),
        "event_id": (0, 2000),
    }
    STR_COLS = {
        "userName": [f"user_{i}" for i in range(20)] + ["nobody"],
        "eventName": ["error", "login", "logout", "purchase", "view",
                      "click", "signup", "no_such_event"],
    }
    CIDRS = ["10.0.0.0/8", "192.168.0.0/16", "10.1.0.0/16", "0.0.0.0/0"]

    def _pred_strategy(self):
        from hypothesis import strategies as st

        def num_leaf(draw):
            col = draw(st.sampled_from(sorted(self.NUM_COLS)))
            lo, hi = self.NUM_COLS[col]
            op = draw(st.sampled_from(["=", "!=", "<", ">", "<=", ">="]))
            return f"{col} {op} {draw(st.integers(lo, hi))}"

        def str_leaf(draw):
            col = draw(st.sampled_from(sorted(self.STR_COLS)))
            vals = self.STR_COLS[col]
            if draw(st.booleans()):
                picks = draw(st.lists(st.sampled_from(vals), min_size=1,
                                      max_size=3, unique=True))
                neg = "NOT " if draw(st.booleans()) else ""
                inlist = ", ".join(f"'{v}'" for v in picks)
                return f"{col} {neg}IN ({inlist})"
            return f"{col} = '{draw(st.sampled_from(vals))}'"

        def cidr_leaf(draw):
            col = draw(st.sampled_from(["sourceip", "destinationip"]))
            return f"INCIDR('{draw(st.sampled_from(self.CIDRS))}', {col})"

        @st.composite
        def leaf(draw):
            kind = draw(st.sampled_from(["num", "str", "cidr"]))
            body = {"num": num_leaf, "str": str_leaf, "cidr": cidr_leaf}[kind](draw)
            return f"NOT ({body})" if draw(st.booleans()) else body

        @st.composite
        def pred(draw):
            parts = draw(st.lists(leaf(), min_size=1, max_size=3))
            glue = draw(st.sampled_from([" AND ", " OR "]))
            return "(" + glue.join(f"({p})" for p in parts) + ")"

        return pred()

    def test_random_aql_agrees_across_engines(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            aql_oracle_sql,
            translate,
        )

        spark, con = engines
        pred = self._pred_strategy()

        @settings(max_examples=40, deadline=None, database=None)
        @given(
            pred,
            st.booleans(),  # aggregate shape?
            st.sampled_from(["domainId", "eventName", "userName", "magnitude"]),
            st.booleans(),  # START/STOP window?
        )
        def check(where, agg, gcol, windowed):
            time_clause = (
                " START '2024-01-03 00:00:00' STOP '2024-01-15 00:00:00'"
                if windowed
                else ""
            )
            if agg:
                aql = (
                    f"SELECT {gcol}, CAST(SUM(eventCount) AS BIGINT) AS total, "
                    f"COUNT(*) AS n FROM events WHERE {where} "
                    f"GROUP BY {gcol}{time_clause}"
                )
            else:
                aql = (
                    f"SELECT event_id, domainId, eventName, eventCount "
                    f"FROM events WHERE {where}{time_clause}"
                )
            sdf = spark.sql(translate(aql, dialect="spark")).toPandas()
            ddf = con.execute(aql_oracle_sql(aql)).df()
            cols = sorted(sdf.columns)
            assert cols == sorted(ddf.columns), aql
            srows = sorted(
                "|".join(map(str, r))
                for r in sdf[cols].itertuples(index=False, name=None)
            )
            drows = sorted(
                "|".join(map(str, r))
                for r in ddf[cols].itertuples(index=False, name=None)
            )
            assert srows == drows, f"{aql}\nspark={srows[:2]}\nduck={drows[:2]}"

        check()


class TestAQLDecodeRewriteFuzz:
    """Differential fuzz for the REWRITE passes specifically: random decode
    calls (nested in expressions), quoted aliases, DATEFORMAT, and
    REFERENCESETCONTAINS — the span-wise quote rewrite and paren-balanced
    call parser are the frontend's most delicate code."""

    DECODES = [
        ("DOMAINNAME", "domainId"),
        ("QIDNAME", "qid"),
        ("LOGSOURCENAME", "logSourceId"),
        ("SENSORDEVICENAME", "logSourceId"),
        ("LOGSOURCETYPENAME", "devicetype"),
        ("SENSORDEVICETYPENAME", "devicetype"),
        ("CATEGORYNAME", "category"),
    ]

    def test_random_decode_projections_agree(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            aql_oracle_sql,
            translate,
        )

        spark, con = engines
        decode = st.sampled_from(self.DECODES)
        # alias pool exercises the quoted-alias span rewrite: bare words,
        # double-quoted with spaces/parens, and shadowing column names
        alias = st.sampled_from(
            ['d1', 'out', '"Decoded Name"', '"Name (most recent)"',
             '"Log Source"', 'eventName_d']
        )

        @settings(max_examples=30, deadline=None, database=None)
        @given(
            st.lists(st.tuples(decode, alias), min_size=1, max_size=3),
            st.booleans(),  # wrap first decode in CONCAT?
            st.booleans(),  # DATEFORMAT column too?
            st.integers(2, 9),
            st.booleans(),  # ref-set membership polarity
        )
        def check(picks, nest, with_date, dom_hi, member):
            # unique aliases (duplicate output names break pandas compare)
            seen, proj = set(), []
            for i, ((fn, col), al) in enumerate(picks):
                if al in seen:
                    al = f'a{i}'
                seen.add(al)
                expr = f"{fn}({col})"
                if nest and i == 0:
                    expr = f"CONCAT({expr}, ':', CAST({col} AS STRING))"
                proj.append(f"{expr} AS {al}")
            if with_date:
                proj.append(
                    "DATEFORMAT(ts, 'yyyy-MM-dd HH') AS \"Start Hour\""
                )
            # the ref-set predicate must MATTER: 'Known DNS traffic' holds
            # ~1/17 of destination IPs, so both polarities split the rows
            # and an inverted/mis-scoped IN rewrite changes the result set
            aql = (
                f"SELECT event_id, {', '.join(proj)} FROM events "
                f"WHERE REFERENCESETCONTAINS('Known DNS traffic', "
                f"destinationip) = {'TRUE' if member else 'FALSE'} "
                f"AND domainId <= {dom_hi}"
            )
            sdf = spark.sql(translate(aql, dialect="spark")).toPandas()
            ddf = con.execute(aql_oracle_sql(aql)).df()
            cols = sorted(sdf.columns)
            assert cols == sorted(ddf.columns), aql
            s = sorted(
                "|".join(map(str, r))
                for r in sdf[cols].itertuples(index=False, name=None)
            )
            d = sorted(
                "|".join(map(str, r))
                for r in ddf[cols].itertuples(index=False, name=None)
            )
            assert s == d, f"{aql}\nspark={s[:1]}\nduck={d[:1]}"

        check()


class TestAQLGlobalViewFuzz:
    """Differential fuzz for the GLOBALVIEW rewrite: random view × predicate
    over the view's columns × optional re-aggregation × optional START/STOP.
    Spark routes to registered views; the DuckDB translation INLINES each
    view's defining aggregate as a subquery — the two paths must agree for
    every generated shape (the misaligned-window gate entry pins one shape;
    this pins the grammar)."""

    VIEWS = [
        "MongoDB_AuthenticationFailure", "MongoDB_VPNAccess",
        "MongoDB_TopSecurityEvents", "MongoDB_UBA",
        "MongoDB_GroupModification", "MongoDB_LogonType",
    ]

    def test_random_globalview_queries_agree(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            aql_oracle_sql,
            translate,
        )

        spark, con = engines

        @settings(max_examples=25, deadline=None, database=None)
        @given(
            st.sampled_from(self.VIEWS),
            st.integers(0, 5),          # domainId bound
            st.sampled_from(["<=", ">=", "="]),
            st.integers(1, 30),         # SUM_eventCount threshold
            st.booleans(),              # re-aggregate?
            st.booleans(),              # START/STOP?
        )
        def check(view, dom, op, thr, agg, windowed):
            tc = (
                " START '2024-01-04 00:00:00' STOP '2024-01-18 00:00:00'"
                if windowed
                else ""
            )
            where = f"domainId {op} {dom} AND SUM_eventCount < {thr}"
            if agg:
                aql = (
                    f"SELECT eventName, CAST(SUM(SUM_eventCount) AS BIGINT) "
                    f"AS total, COUNT(*) AS n "
                    f"FROM GLOBALVIEW('{view}','NORMAL') WHERE {where} "
                    f"GROUP BY eventName{tc}"
                )
            else:
                aql = (
                    f"SELECT domainId, userName, eventName, SUM_eventCount "
                    f"FROM GLOBALVIEW('{view}','NORMAL') WHERE {where}{tc}"
                )
            sdf = spark.sql(translate(aql, dialect="spark")).toPandas()
            ddf = con.execute(aql_oracle_sql(aql)).df()
            cols = sorted(sdf.columns)
            assert cols == sorted(ddf.columns), aql
            s = sorted(
                "|".join(map(str, r))
                for r in sdf[cols].itertuples(index=False, name=None)
            )
            d = sorted(
                "|".join(map(str, r))
                for r in ddf[cols].itertuples(index=False, name=None)
            )
            assert s == d, f"{aql}\nspark={s[:1]}\nduck={d[:1]}"

        check()


class TestAQLBindingModeFuzz:
    """Differential fuzz for the two parameter-binding modes (VERDICT r3 #6):
    the str.format splice (reference parity) and named-parameter binding
    (spark.sql args) must be value-identical for every format-safe value,
    and the bound path must absorb ARBITRARY printable values — including
    quotes and braces — as pure data."""

    def test_random_params_agree_across_binding_modes(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            bind_parameters,
            translate,
        )

        spark, _ = engines

        @settings(max_examples=25, deadline=None, database=None)
        @given(
            st.text(alphabet="abc xyz_0189-.", min_size=0, max_size=12),
            st.sampled_from(["userName", "eventName"]),
            st.booleans(),
        )
        def check(val, col, windowed):
            time_clause = " START '{t0}' STOP '{t1}'" if windowed else ""
            aql = (
                "SELECT COUNT(*) AS n, CAST(SUM(eventCount) AS BIGINT) AS tot "
                f"FROM events WHERE {col} = '{{u}}' OR magnitude >= 9"
                + time_clause
            )
            params = {
                "u": val,
                "t0": "2024-01-03 00:00:00",
                "t1": "2024-01-15 00:00:00",
            }
            fmt = spark.sql(translate(aql, params, dialect="spark")).collect()
            sql, names = bind_parameters(translate(aql, None, dialect="spark"))
            bound = spark.sql(
                sql, args={n: params[n] for n in set(names)}
            ).collect()
            assert [tuple(r) for r in fmt] == [tuple(r) for r in bound], (
                val, col, windowed)

        check()

    def test_bound_mode_absorbs_arbitrary_printable_values(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            bind_parameters,
            translate,
        )

        spark, _ = engines
        aql = "SELECT COUNT(*) AS n FROM events WHERE userName = '{u}'"
        sql, names = bind_parameters(translate(aql, None, dialect="spark"))
        assert names == ["u"]

        @settings(max_examples=25, deadline=None, database=None)
        @given(st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=15,
        ))
        def check(val):
            n = spark.sql(sql, args={"u": val}).collect()[0]["n"]
            assert n >= 0  # quotes/braces/semicolons are data, never syntax

        check()


class TestRollupRouterFuzz:
    """Property fuzz for the aggregate navigator: for RANDOM queries over
    dims × view filters × residual predicates × windows, auto_route must
    NEVER change the answer — routed (or fall-through) results always equal
    the raw-events plan's."""

    def test_random_aggregates_routed_or_not_always_agree(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.plans.aql import (
            aql_oracle_sql,
            translate,
        )
        from qradar_restapi_kafka_datapipeline_spark.plans.rollup_router import (
            try_route_to_globalview,
        )
        from qradar_restapi_kafka_datapipeline_spark.views import GLOBALVIEW_SPECS

        spark, con = engines
        filters = st.sampled_from(sorted(GLOBALVIEW_SPECS.values()))
        dims = st.lists(
            st.sampled_from(["domainId", "userName", "sourceip", "eventName"]),
            min_size=1, max_size=2, unique=True,
        )
        residual = st.sampled_from([
            None,
            "domainId = 2",
            "userName LIKE 'user_1%'",
            "sourceip != '10.0.0.1'",
            "magnitude >= 5",        # non-dim residual → must NOT route
            "qid % 2 = 0",           # non-dim residual → must NOT route
        ])
        windows = st.sampled_from([
            None,
            ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),   # aligned
            ("2024-01-01 00:30:00", "2024-02-01 00:00:00"),   # sub-hour
        ])
        # (measure expression, may-the-router-accept-it): round-5 grammar —
        # re-aggregable dim measures alongside SUM, plus measures the views
        # cannot derive, which must NEVER route (second element False)
        measures = st.sampled_from([
            ("CAST(SUM(eventCount) AS BIGINT) AS total", True),
            ("COUNT(DISTINCT userName) AS n_users", True),
            ("MAX(userName) AS last_user", True),
            ("MIN(sourceip) AS first_ip", True),
            # round 6: COUNT(*)/AVG(eventCount) route via the n_rows measure
            ("COUNT(*) AS n_rows_q", True),
            ("AVG(eventCount) AS avg_ec", True),
            # round 7: MIN/MAX(eventCount) route via the min/max states
            ("CAST(MIN(eventCount) AS BIGINT) AS min_ec", True),
            ("CAST(MAX(eventCount) AS BIGINT) AS max_ec", True),
            ("COUNT(DISTINCT qid) AS n_qids", False),
            ("COUNT(userName) AS n_nonnull", False),
            ("MIN(magnitude) AS min_mag", False),
            ("AVG(magnitude) AS avg_mag", False),
            # SUM/AVG over a covered DIM column (ADVICE r5): identifiers all
            # pass, but view row-collapse changes the value — must not route
            ("CAST(SUM(domainId) AS BIGINT) AS s_dom", False),
            ("AVG(domainId) AS a_dom", False),
        ])

        routed_count = 0

        @settings(max_examples=40, deadline=None, database=None)
        @given(filters, dims, residual, windows, st.booleans(), measures,
               st.booleans())
        def check(flt, ds, res, win, trunc_day, measure, groupless):
            nonlocal routed_count
            m_expr, m_routable = measure
            if groupless:  # aggregate-only totals (round-5 routable shape)
                sel_dims, grp = [], []
            else:
                sel_dims = list(ds)
                grp = list(ds)
                if trunc_day:
                    sel_dims.append("DATE_TRUNC('day', ts) AS d")
                    grp.append("DATE_TRUNC('day', ts)")
            where = flt + (f" AND {res}" if res else "")
            time_clause = f" START '{win[0]}' STOP '{win[1]}'" if win else ""
            group_clause = f" GROUP BY {', '.join(grp)}" if grp else ""
            aql = (
                f"SELECT {', '.join(sel_dims + [m_expr])} "
                f"FROM events WHERE {where}"
                f"{group_clause}{time_clause}"
            )
            routed = try_route_to_globalview(aql)
            if not m_routable:
                assert routed is None, f"underivable measure routed: {aql}"
            if routed is not None:
                routed_count += 1
                engine_sql = translate(routed[0], dialect="spark")
            else:
                engine_sql = translate(aql, dialect="spark")
            sdf = spark.sql(engine_sql).toPandas()
            ddf = con.execute(aql_oracle_sql(aql)).df()  # ALWAYS raw events
            cols = sorted(sdf.columns)
            assert cols == sorted(ddf.columns), aql
            srows = sorted("|".join(map(str, r)) for r in
                           sdf[cols].itertuples(index=False, name=None))
            drows = sorted("|".join(map(str, r)) for r in
                           ddf[cols].itertuples(index=False, name=None))
            assert srows == drows, f"{aql}\nrouted={routed}"

        check()
        assert routed_count > 0  # the routable grammar actually routed


class TestSessionizeBucketedFuzz:
    """Differential fuzz for the per-day sessionize twin: random event sets
    concentrated around midnight boundaries and the 30-minute gap edge must
    produce EXACTLY the plain sessionizer's output (keys, bounds, counts,
    sums, session numbering)."""

    def test_random_event_sets_agree(self, spark):
        import datetime

        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            sessionize,
            sessionize_bucketed,
        )

        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        # offsets in minutes across 4 days, biased to midnight±gap edges
        edge_minutes = []
        for day in range(4):
            m0 = day * 1440
            edge_minutes += [m0 - 31, m0 - 30, m0 - 29, m0 - 1, m0,
                             m0 + 1, m0 + 29, m0 + 30, m0 + 31, m0 + 720]
        offsets = st.lists(
            st.sampled_from([m for m in edge_minutes if m >= 0]),
            min_size=1, max_size=12,
        )

        @settings(max_examples=20, deadline=None, database=None)
        @given(st.lists(offsets, min_size=1, max_size=3))
        def check(users):
            rows = []
            eid = 0
            for uid, mins in enumerate(users):
                for mm in mins:
                    rows.append((
                        uid, eid, base + datetime.timedelta(minutes=mm),
                        float(eid % 7),
                    ))
                    eid += 1
            df = spark.createDataFrame(
                rows, "user_id LONG, event_id LONG, ts TIMESTAMP, value DOUBLE"
            )
            key = lambda r: (r["user_id"], r["session_id"])
            plain = {key(r): tuple(r) for r in sessionize(
                df, gap_minutes=30, agg_cols={"value": "v"}).collect()}
            bucketed = {key(r): tuple(r) for r in sessionize_bucketed(
                df, gap_minutes=30, agg_cols={"value": "v"}).collect()}
            assert plain == bucketed, users

        check()


class TestJpegRoundTripFuzz:
    """Pure-python property fuzz for the baseline JPEG codec: random doc
    ids × text lengths (hitting every COM/combined-DHT/dimension/stuffing
    combination) must round-trip to the closed-form decode properties."""

    def test_random_docs_round_trip(self):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators.multimodal import (
            BMP_CHECKSUM_MOD,
            _jpeg_dc,
            _jpeg_dims,
            decode_jpeg,
            encode_jpeg,
        )

        @settings(max_examples=120, deadline=None, database=None)
        @given(st.integers(min_value=0, max_value=10_000),
               st.integers(min_value=0, max_value=200))
        def check(doc_id, text_len):
            text = "t" * text_len
            w, h, prec, nseg, nblk, chk = decode_jpeg(encode_jpeg(doc_id, text))
            ew, eh = _jpeg_dims(doc_id, text)
            bpr = (ew + 7) // 8
            assert (w, h, prec) == (ew, eh, 8)
            assert nblk == bpr * ((eh + 7) // 8)
            assert nseg == 7 + (doc_id % 3 == 0) - (doc_id % 4 == 0)
            exp = sum(
                (128 + 2 * _jpeg_dc(doc_id, (i // w // 8) * bpr + (i % w) // 8))
                * (1 + i % 97)
                for i in range(w * h)
            )
            assert chk == exp % BMP_CHECKSUM_MOD

        check()


class TestSketchDifferentialFuzz:
    """Differential fuzz over the sketch PARAMETER space: the gate pins one
    (d, w, p, bins) configuration — these assert Spark ≡ DuckDB for random
    configurations, so a parity break hiding in the modular/bit/rounding
    arithmetic at other sizes cannot ship."""

    def test_random_sketch_params_agree_across_engines(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators import (
            sketches as K,
        )

        spark, con = engines

        def rows_of(df_pandas):
            cols = sorted(df_pandas.columns)
            return sorted(
                "|".join(str(v) for v in rec)
                for rec in df_pandas[cols].itertuples(index=False, name=None)
            )

        @settings(max_examples=12, deadline=None, database=None)
        @given(
            st.sampled_from([2, 3, 4, 5]),            # CM depth d
            st.sampled_from([64, 128, 256, 1000]),    # CM width w (incl. non-power)
            st.sampled_from([4, 6, 9, 11]),           # HLL precision p
            st.sampled_from([16, 100, 128]),          # histogram bins
            st.sampled_from(["CAST(user_id AS STRING)",
                             "event_type",
                             "CAST(event_id AS STRING)"]),
        )
        def check(d, w, p, bins, key):
            s = rows_of(spark.sql(
                K.cm_heavy_hitters_sql("spark", key, d=d, w=w)).toPandas())
            o = rows_of(con.execute(
                K.cm_heavy_hitters_sql("duckdb", key, d=d, w=w)).df())
            assert s == o, f"CM diverged at d={d} w={w} key={key}"
            s = rows_of(spark.sql(
                K.hll_distinct_sql("spark", key, p=p)).toPandas())
            o = rows_of(con.execute(
                K.hll_distinct_sql("duckdb", key, p=p)).df())
            assert s == o, f"HLL diverged at p={p} key={key}"
            def hist_sql(dialect):
                return K.hist_quantiles_sql(
                    dialect,
                    K.hist_cells_sql(dialect, bins=bins),
                    qs=(0.25, 0.5, 0.99),
                    bins=bins,
                )

            s = rows_of(spark.sql(hist_sql("spark")).toPandas())
            o = rows_of(con.execute(hist_sql("duckdb")).df())
            assert s == o, f"histogram diverged at bins={bins}"

        check()


class TestRankAndKmvDifferentialFuzz:
    """Round-7 sketches over their parameter spaces: HDR sub-bucket bits M
    and integer-unit scale (the bitlen/shift arithmetic must agree at
    every geometry), KMV k (order statistics and the saturation boundary),
    and the per-mille rank targets."""

    def test_random_hdr_kmv_params_agree_across_engines(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators import (
            sketches as K,
        )

        spark, con = engines

        def rows_of(df_pandas):
            cols = sorted(df_pandas.columns)
            return sorted(
                "|".join(str(v) for v in rec)
                for rec in df_pandas[cols].itertuples(index=False, name=None)
            )

        @settings(max_examples=10, deadline=None, database=None)
        @given(
            st.sampled_from([3, 5, 7, 10]),             # HDR sub-bucket bits M
            st.sampled_from([1, 100, 1000000]),         # integer-unit scale
            st.sampled_from([(500,), (10, 990), (250, 500, 750, 999)]),
            st.sampled_from([16, 64, 257, 1024]),       # KMV k (incl. non-power)
            st.sampled_from(["CAST(user_id AS STRING)",
                             "event_type",
                             "CAST(event_id AS STRING)"]),
        )
        def check(m, scale, qs, k, key):
            int_expr = (
                f"CAST(ROUND(value * CAST({scale} AS DOUBLE)) AS BIGINT)"
            )

            def hdr(dialect):
                return K.hdr_quantiles_full_sql(
                    dialect, int_expr, qs_permille=qs, m=m, scale=scale
                )

            s = rows_of(spark.sql(hdr("spark")).toPandas())
            o = rows_of(con.execute(hdr("duckdb")).df())
            assert s == o, f"HDR diverged at m={m} scale={scale} qs={qs}"

            def kmv(dialect):
                return K.kmv_distinct_sql(dialect, key, k=k)

            s = rows_of(spark.sql(kmv("spark")).toPandas())
            o = rows_of(con.execute(kmv("duckdb")).df())
            assert s == o, f"KMV diverged at k={k} key={key}"

            # merged halves must stay row-identical to the whole sketch at
            # every k (exact merge is the family's load-bearing claim)
            def kmv_m(dialect):
                return K.kmv_estimate_sql(
                    dialect,
                    K.kmv_merged_halves_sketch_sql(dialect, key, k=k),
                    k=k,
                )

            s = rows_of(spark.sql(kmv_m("spark")).toPandas())
            o = rows_of(con.execute(kmv("duckdb")).df())
            assert s == o, f"KMV merge diverged at k={k} key={key}"

        check()


class TestChunkWindowsDifferentialFuzz:
    """Chunking over its parameter space: every (size, stride) geometry —
    overlap, tiling, gaps (stride > size), single-token windows — must
    produce identical chunk relations in both engines, and the windows
    must tile the expected start set."""

    def test_random_chunk_geometries_agree(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            chunk_documents_sql,
        )

        spark, con = engines

        def rows_of(df_pandas):
            cols = sorted(df_pandas.columns)
            return sorted(
                "|".join(str(v) for v in rec)
                for rec in df_pandas[cols].itertuples(index=False, name=None)
            )

        @settings(max_examples=10, deadline=None, database=None)
        @given(
            st.sampled_from([1, 5, 16, 64, 101]),   # size
            st.sampled_from([1, 4, 16, 48, 120]),   # stride (incl. > size)
        )
        def check(size, stride):
            sql_s = chunk_documents_sql("spark", size, stride)
            sql_d = chunk_documents_sql("duckdb", size, stride)
            s = rows_of(spark.sql(sql_s).toPandas())
            o = rows_of(con.execute(sql_d).df())
            assert s == o, f"chunking diverged at size={size} stride={stride}"

        check()


class TestCubeServingDifferentialFuzz:
    """The cube-served answers over THEIR parameter spaces: rolling-window
    width, retention offset span, and per-day summary size must agree
    cross-engine at every geometry (window arithmetic + per-pair top-k
    are where an off-by-one would hide)."""

    def test_random_cube_params_agree(self, engines):
        from hypothesis import given, settings, strategies as st

        from qradar_restapi_kafka_datapipeline_spark.operators import (
            sketches as K,
        )

        spark, con = engines

        def rows_of(df_pandas):
            cols = sorted(df_pandas.columns)
            return sorted(
                "|".join(str(v) for v in rec)
                for rec in df_pandas[cols].itertuples(index=False, name=None)
            )

        @settings(max_examples=6, deadline=None, database=None)
        @given(
            st.sampled_from([1, 3, 7, 14]),    # rolling window days
            st.sampled_from([1, 2, 7, 11]),    # retention offset span
            st.sampled_from([16, 64, 300]),    # per-day KMV k
        )
        def check(win, span, k):
            def roll(dialect):
                return K.hll_rolling_distinct_sql(dialect, window_days=win)

            s = rows_of(spark.sql(roll("spark")).toPandas())
            o = rows_of(con.execute(roll("duckdb")).df())
            assert s == o, f"rolling diverged at window={win}"

            def ret(dialect):
                return K.kmv_retention_sql(dialect, max_offset=span, k=k)

            s = rows_of(spark.sql(ret("spark")).toPandas())
            o = rows_of(con.execute(ret("duckdb")).df())
            assert s == o, f"retention diverged at span={span} k={k}"

        check()


def _ref_corpus_drift_js(texts, old_of, dim):
    """From-scratch Python mirror of corpus_drift_js_sql's spec: bigram
    counts per side via the portable md5 hash, add-one smoothing, one ln
    per bucket per side rounded half-away to 1e-6 units, BIGINT sums,
    two terminal divides."""
    import hashlib
    import math

    def half_away(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    cp = [0] * dim
    cq = [0] * dim
    n_old = n_new = 0
    for d, text in enumerate(texts):
        old = old_of(d)
        n_old += old
        n_new += not old
        w = text.strip().split()
        for a, b in zip(w, w[1:]):
            h = int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:15], 16)
            if old:
                cp[h % dim] += 1
            else:
                cq[h % dim] += 1
    tp, tq = sum(cp), sum(cq)
    sp6 = sq6 = 0
    for bkt in range(dim):
        ap, aq = cp[bkt] + 1, cq[bkt] + 1
        mix = ap * (tq + dim) + aq * (tp + dim)
        sp6 += ap * half_away(
            (math.log(2 * ap * (tq + dim) / mix) + 1e-9) * 1000000
        )
        sq6 += aq * half_away(
            (math.log(2 * aq * (tp + dim) / mix) + 1e-9) * 1000000
        )
    js = 0.5 * (sp6 / 1000000 / (tp + dim) + sq6 / 1000000 / (tq + dim))
    return (
        n_old, n_new, tp, tq,
        half_away((js + 1e-9) * 1000000) / 1000000,
    )


class TestCorpusDriftDifferential:
    """Random small-vocab corpora with random snapshot splits vs a
    from-scratch Python JS implementation — catches smoothing, spine
    (never-seen buckets), rounding, and side-assignment edge cases
    including a fully-empty side."""

    @settings(max_examples=4, deadline=None, database=None)
    @given(_doc_texts, st.integers(min_value=1, max_value=3))
    def test_matches_reference(self, spark, texts, mod):
        from qradar_restapi_kafka_datapipeline_spark.operators.curation import (
            corpus_drift_js_sql,
        )

        dim = 64
        spark.createDataFrame(
            [(i, t, "s") for i, t in enumerate(texts)],
            ["doc_id", "text", "source"],
        ).createOrReplaceTempView("prop_drift_docs")
        row = spark.sql(
            corpus_drift_js_sql(
                "spark",
                old_pred=f"doc_id % {mod + 1} = 0",
                dim=dim,
                source="prop_drift_docs",
            )
        ).first()
        want = _ref_corpus_drift_js(
            texts, lambda d: d % (mod + 1) == 0, dim
        )
        got = (
            row["n_old"], row["n_new"], row["bigrams_old"],
            row["bigrams_new"], row["js_nats"],
        )
        assert got[:4] == want[:4]
        assert abs(got[4] - want[4]) < 2e-6, (got[4], want[4])


def _ref_snapshot_diff(texts, removed_of, edited_of, added_of):
    """From-scratch Python mirror of snapshot_diff_sql's synthetic-split
    spec: normalized-md5 fingerprints, doc_id identity."""
    import hashlib
    import re as _re

    def fp(t):
        return hashlib.md5(
            _re.sub(r"\s+", " ", t.strip().lower()).encode()
        ).hexdigest()

    out = {"added": 0, "removed": 0, "modified": 0, "unchanged": 0}
    for d, text in enumerate(texts):
        if added_of(d):
            out["added"] += 1  # re-added under a shifted id
        if removed_of(d):
            out["removed"] += 1
        elif edited_of(d) and fp(text + " editmark") != fp(text):
            out["modified"] += 1
        else:
            out["unchanged"] += 1
    return {k: v for k, v in out.items() if v}


class TestSnapshotDiffDifferential:
    """Random corpora vs a from-scratch Python diff over the same
    removed/edited/re-added split — catches fingerprint-normalization and
    full-outer classification edges (empty docs, whitespace-only edits)."""

    @settings(max_examples=4, deadline=None, database=None)
    @given(_doc_texts, st.integers(min_value=2, max_value=4))
    def test_matches_reference(self, spark, texts, m):
        from qradar_restapi_kafka_datapipeline_spark.operators.dedup import (
            snapshot_diff_sql,
        )

        spark.createDataFrame(
            [(i, t, "s") for i, t in enumerate(texts)],
            ["doc_id", "text", "source"],
        ).createOrReplaceTempView("prop_diff_docs")
        new_rel = (
            f"(SELECT doc_id, source, CASE WHEN doc_id % {m + 1} = 0 "
            "THEN CONCAT(text, ' editmark') ELSE text END AS text "
            f"FROM prop_diff_docs WHERE doc_id % {m} != 0 "
            "UNION ALL SELECT doc_id + 1000000 AS doc_id, source, text "
            f"FROM prop_diff_docs WHERE doc_id % {m + 2} = 0)"
        )
        got = {}
        for r in spark.sql(
            snapshot_diff_sql("spark", "prop_diff_docs", new_rel)
        ).collect():
            got[r["status"]] = got.get(r["status"], 0) + r["n_docs"]
        want = _ref_snapshot_diff(
            texts,
            removed_of=lambda d: d % m == 0,
            edited_of=lambda d: d % (m + 1) == 0,
            added_of=lambda d: d % (m + 2) == 0,
        )
        assert got == want


class TestBm25TfRelEquivalence:
    """The incremental-index serving hook must be a pure refactor: BM25
    served from an injected (doc, word, tf) relation equals the
    re-tokenizing form on random corpora (empty docs, single tokens,
    all-identical docs included)."""

    @settings(max_examples=4, deadline=None, database=None)
    @given(_doc_texts)
    def test_matches_default_path(self, spark, texts):
        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            bm25_topk_sql,
            token_positions_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_bm25_docs")
        base = spark.sql(
            bm25_topk_sql("spark", source="prop_bm25_docs")
        ).collect()
        tf_rel = (
            "(SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM ("
            + token_positions_sql("spark", "prop_bm25_docs")
            + ") t WHERE word != '' GROUP BY doc_id, word)"
        )
        via_rel = spark.sql(
            bm25_topk_sql("spark", source="prop_bm25_docs", tf_rel=tf_rel)
        ).collect()
        key = lambda rows: [(r["doc_id"], r["score"], r["rk"]) for r in rows]
        assert key(via_rel) == key(base)


def _ref_window_funnel(rows, n_steps, window, mode="default"):
    """Brute-force chain enumeration (independent of the windowed
    algorithm): per user, level = longest prefix 1..L with events at
    non-decreasing (t, event_id) positions and span t_L - t_1 <= window.
    Strict modes segment the per-user sequence first (the DOCUMENTED
    semantics of window_funnel_sql's modes): strict_order splits on
    events matching no step (step 0) and drops them; strict_dedup splits
    before a step event equal to the immediately preceding step value."""
    import itertools

    by_user = {}
    for u, t, eid, step in rows:
        by_user.setdefault(u, []).append((t, eid, step))
    out = {}
    for u, evs in by_user.items():
        evs.sort()
        if mode in ("default", "strict_increase"):
            segs = [[e for e in evs if e[2] > 0]]
        elif mode == "strict_order":
            segs, cur = [], []
            for e in evs:
                if e[2] == 0:
                    segs.append(cur)
                    cur = []
                else:
                    cur.append(e)
            segs.append(cur)
        else:  # strict_dedup
            stepped = [e for e in evs if e[2] > 0]
            segs, cur = [], []
            for e in stepped:
                if cur and e[2] == cur[-1][2]:
                    segs.append(cur)
                    cur = []
                cur.append(e)
            segs.append(cur)
        if not any(segs):
            continue  # no step events: user absent from the relation
        best = 0
        for seg in segs:
            if not seg:
                continue
            for lvl in range(1, n_steps + 1):
                found = False
                pools = [
                    [i for i, e in enumerate(seg) if e[2] == k]
                    for k in range(1, lvl + 1)
                ]
                for combo in itertools.product(*pools):
                    if mode == "strict_increase":
                        ordered = all(
                            seg[a][0] < seg[b][0]
                            for a, b in zip(combo, combo[1:])
                        )
                    else:
                        ordered = all(
                            a <= b for a, b in zip(combo, combo[1:])
                        )
                    if ordered and (
                        seg[combo[-1]][0] - seg[combo[0]][0] <= window
                    ):
                        found = True
                        break
                if found:
                    best = max(best, lvl)
                else:
                    break
        # level 0 = has step events but never step-1 (ClickHouse returns
        # 0 for such users too; the SQL's ev relation keeps them)
        out[best] = out.get(best, 0) + 1
    return out


class TestWindowFunnelDifferential:
    """The running-max-anchor funnel vs brute-force chain enumeration on
    random tiny event logs — an INDEPENDENT check of the algorithm itself
    (anchors, window cutoff, same-timestamp tie order), not a mirror."""

    _events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # user
            st.integers(min_value=0, max_value=30),   # t (ms)
            st.integers(min_value=0, max_value=3),    # step (0 = foreign)
        ),
        min_size=1,
        max_size=14,
    )

    @settings(max_examples=12, deadline=None, database=None)
    @given(_events, st.integers(min_value=1, max_value=20))
    def test_matches_bruteforce(self, spark, events, window):
        import datetime

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            window_funnel_sql,
        )

        preds = tuple(f"qid = {k}" for k in (1, 2, 3))
        rows = [
            (u, t, eid, step) for eid, (u, t, step) in enumerate(events)
        ]
        spark.createDataFrame(
            [
                (u, datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(milliseconds=t), eid, step)
                for u, t, eid, step in rows
            ],
            "user_id LONG, ts TIMESTAMP, event_id LONG, qid LONG",
        ).createOrReplaceTempView("prop_funnel_events")
        for mode in (
            "default", "strict_order", "strict_dedup", "strict_increase"
        ):
            got = {
                r["funnel_level"]: r["n_users"]
                for r in spark.sql(
                    window_funnel_sql(
                        "spark", steps=preds, window_ms=window,
                        source="prop_funnel_events", mode=mode,
                    )
                ).collect()
            }
            want = _ref_window_funnel(rows, 3, window, mode=mode)
            assert got == want, (mode, rows, window)
            # round 10: the bucketed (hot-user-safe) decomposition must
            # agree with the same brute-force oracle — tiny windows vs
            # t∈[0,30] exercise many bucket boundaries per example, the
            # exact regime where a pair-coverage bug would show
            got_b = {
                r["funnel_level"]: r["n_users"]
                for r in spark.sql(
                    window_funnel_sql(
                        "spark", steps=preds, window_ms=window,
                        source="prop_funnel_events", mode=mode,
                        bucketed=True,
                    )
                ).collect()
            }
            assert got_b == want, ("bucketed", mode, rows, window)

    @settings(max_examples=10, deadline=None, database=None)
    @given(_events, st.integers(min_value=1, max_value=20))
    def test_latency_matches_bruteforce(self, spark, events, window):
        """Round 10: conversion-latency quantiles vs brute force — per
        user the MINIMAL span over valid full-level chains, then the
        exact ceil(q·n) order statistic (ties by user_id)."""
        import datetime
        import itertools
        import math

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            window_funnel_latency_sql,
        )

        preds = tuple(f"qid = {k}" for k in (1, 2, 3))
        rows = [
            (u, t, eid, step) for eid, (u, t, step) in enumerate(events)
        ]
        spark.createDataFrame(
            [
                (u, datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(milliseconds=t), eid, step)
                for u, t, eid, step in rows
            ],
            "user_id LONG, ts TIMESTAMP, event_id LONG, qid LONG",
        ).createOrReplaceTempView("prop_funnel_lat_events")

        # brute force: per user, min span over ordered full chains
        by_user = {}
        for u, t, eid, step in rows:
            by_user.setdefault(u, []).append((t, eid, step))
        lat = {}
        for u, evs in by_user.items():
            evs.sort()
            seg = [e for e in evs if e[2] > 0]
            pools = [
                [i for i, e in enumerate(seg) if e[2] == k]
                for k in (1, 2, 3)
            ]
            best = None
            for combo in itertools.product(*pools):
                if all(a <= b for a, b in zip(combo, combo[1:])):
                    span = seg[combo[-1]][0] - seg[combo[0]][0]
                    if span <= window and (best is None or span < best):
                        best = span
            if best is not None:
                lat[u] = best
        conv = sorted((ms, u) for u, ms in lat.items())
        want = []
        for lbl, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            if conv:
                want.append(
                    (lbl, conv[math.ceil(q * len(conv)) - 1][0], len(conv))
                )
        for bucketed in (False, True):
            got = sorted(
                (r["quantile"], r["latency_ms"], r["n_converted"])
                for r in spark.sql(
                    window_funnel_latency_sql(
                        "spark", steps=preds, window_ms=window,
                        source="prop_funnel_lat_events", bucketed=bucketed,
                    )
                ).collect()
            )
            assert got == sorted(want), (bucketed, rows, window, got, want)

    @settings(max_examples=8, deadline=None, database=None)
    @given(_events, st.integers(min_value=1, max_value=20),
           st.sampled_from([1, 2, 4]))
    def test_matches_bruteforce_step_geometry(self, spark, events, window,
                                              n_steps):
        """Round 10: the anchor-cascade unrolling over its STEP-COUNT
        geometry (the 3-step fuzz above pins semantics; 1 step has no
        cascade at all, 2 skips the intermediate-anchor loop, 4 runs it
        twice).  Events with step > n_steps act as foreign events —
        exercising the strict_order split with a different foreign mix."""
        import datetime

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            window_funnel_sql,
        )

        preds = tuple(f"qid = {k}" for k in range(1, n_steps + 1))
        rows = [
            (u, t, eid, step if step <= n_steps else 0)
            for eid, (u, t, step) in enumerate(events)
        ]
        spark.createDataFrame(
            [
                (u, datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(milliseconds=t), eid, step)
                for u, t, eid, step in rows
            ],
            "user_id LONG, ts TIMESTAMP, event_id LONG, qid LONG",
        ).createOrReplaceTempView("prop_funnel_geo_events")
        for mode in ("default", "strict_order"):
            for bucketed in (False, True):
                got = {
                    r["funnel_level"]: r["n_users"]
                    for r in spark.sql(
                        window_funnel_sql(
                            "spark", steps=preds, window_ms=window,
                            source="prop_funnel_geo_events", mode=mode,
                            bucketed=bucketed,
                        )
                    ).collect()
                }
                want = _ref_window_funnel(rows, n_steps, window, mode=mode)
                assert got == want, (n_steps, mode, bucketed, rows, window)


def _round_half_away(v, dp):
    import math

    scale = 10 ** dp
    x = v * scale
    r = math.floor(abs(x) + 0.5)
    return (r if x >= 0 else -r) / scale


class TestQualityScoreDifferential:
    """The composite quality score vs a from-scratch python replica on
    random small texts (round 10, closing the VERDICT r9 #2 residual
    list): length saturation, non-overlapping stopword counting via the
    replace-length idiom, punctuation density beyond the 10% dead band,
    and the +1e-9 half-way rounding discipline."""

    _texts = st.lists(
        st.text(
            alphabet=st.sampled_from("ab.,; the and of to x"),
            min_size=0, max_size=60,
        ),
        min_size=1,
        max_size=5,
    )

    @settings(max_examples=12, deadline=None, database=None)
    @given(_texts)
    def test_matches_reference(self, spark, texts):
        import re as _re

        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            quality_score_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_quality_docs")
        got = {
            r["doc_id"]: r["quality"]
            for r in spark.sql(
                f"SELECT doc_id, {quality_score_sql('text', 'spark')} "
                "AS quality FROM prop_quality_docs"
            ).collect()
        }
        for d, text in enumerate(texts):
            words = len(_re.split(r"\s+", text.strip()))
            stops = sum(
                text.count(m)
                for m in (" the ", " and ", " of ", " a ", " to ")
            )
            punct = sum(text.count(c) for c in ".,;")
            length_score = min(len(text) / 2000.0, 1.0)
            stop_score = min(stops * 5.0 / words, 1.0)
            punct_pen = max(punct * 1.0 / max(len(text), 1) - 0.1, 0.0)
            want = _round_half_away(
                0.5 * length_score + 0.5 * stop_score - punct_pen + 1e-9, 4
            )
            assert abs(got[d] - want) < 2e-4, (d, text, got[d], want)


class TestPiiDifferential:
    """PII redaction + per-class counts vs python ``re`` on adversarial
    fragment soups (round 10): the ordered non-overlapping replace chain,
    \\b anchors, and the email-before-ip/phone precedence are the spec;
    a pattern drift in either engine's regex dialect breaks this before
    it breaks the synthetic-corpus gate entry."""

    _frag = st.sampled_from([
        "a@b.co", "x.y@corp.example.com", "1.2.3.4", "10.0.0.255",
        "555-123-4567", "555.123.4567", "12345678901234",
        "9999999999999999999", "plain", "a@b", "1.2.3", "123-45-678",
        " ", ".", "@",
    ])
    _texts = st.lists(
        st.lists(_frag, min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=5,
    )

    @settings(max_examples=12, deadline=None, database=None)
    @given(_texts)
    def test_matches_re(self, spark, texts):
        import re as _re

        from qradar_restapi_kafka_datapipeline_spark.operators.pii import (
            PII_PATTERNS,
            pii_count_sql,
            pii_redact_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_pii_docs")
        counts = ", ".join(
            f"{pii_count_sql('text', tag, 'spark')} AS n_{tag}"
            for tag, _p, _r in PII_PATTERNS
        )
        got = {
            r["doc_id"]: r
            for r in spark.sql(
                f"SELECT doc_id, {counts}, "
                f"{pii_redact_sql('text', 'spark')} AS red "
                "FROM prop_pii_docs"
            ).collect()
        }
        for d, text in enumerate(texts):
            red = text
            for _tag, pat, repl in PII_PATTERNS:
                red = _re.sub(pat, repl, red)
            row = got[d]
            assert row["red"] == red, (text, row["red"], red)
            for tag, pat, _r in PII_PATTERNS:
                want = len(_re.findall(pat, text))
                assert row[f"n_{tag}"] == want, (text, tag, row[f"n_{tag}"], want)


class TestBlocklistDifferential:
    """The C4-style blocklist verdict vs python ``re`` (round 10): source
    membership precedence over term hits, \\b-anchored literal terms."""

    _texts = st.lists(
        st.lists(
            st.sampled_from(["dup", "dupx", "xdup", "ok", "a.dup", "DUP"]),
            min_size=0, max_size=5,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=12, deadline=None, database=None)
    @given(_texts)
    def test_matches_re(self, spark, texts):
        import re as _re

        from qradar_restapi_kafka_datapipeline_spark.operators.curation import (
            blocklist_verdict_sql,
        )

        srcs = ["src4", "src0", "src13"]
        spark.createDataFrame(
            [(i, srcs[i % 3], t) for i, t in enumerate(texts)],
            ["doc_id", "source", "text"],
        ).createOrReplaceTempView("prop_block_docs")
        got = {
            r["doc_id"]: r["verdict"]
            for r in spark.sql(
                blocklist_verdict_sql("spark", table="prop_block_docs")
            ).collect()
        }
        pat = _re.compile(r"\bdup\b")
        for d, text in enumerate(texts):
            src = srcs[d % 3]
            if src in ("src4", "src13"):
                want = "blocked_source"
            elif pat.search(text):
                want = "blocked_term"
            else:
                want = "kept"
            assert got[d] == want, (d, src, text, got[d], want)


class TestBoilerplateDifferential:
    """Boilerplate 5-gram coverage vs a from-scratch python replica
    (round 10): positional n-gram emission (docs under 5 words emit
    nothing), per-source cross-doc lexicon (distinct-doc threshold), and
    the affected-docs-only output cut."""

    _texts = st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=9
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=10, deadline=None, database=None)
    @given(_texts)
    def test_matches_reference(self, spark, texts):
        from qradar_restapi_kafka_datapipeline_spark.operators.boilerplate import (
            boilerplate_coverage_sql,
        )

        spark.createDataFrame(
            [(i, f"s{i % 2}", t) for i, t in enumerate(texts)],
            ["doc_id", "source", "text"],
        ).createOrReplaceTempView("prop_boiler_docs")
        got = {
            r["doc_id"]: (r["n_ngrams"], r["n_boiler"], r["boiler_frac"])
            for r in spark.sql(
                boilerplate_coverage_sql("spark", source="prop_boiler_docs")
            ).collect()
        }
        grams = {}
        for d, text in enumerate(texts):
            words = text.strip().split()
            if len(words) < 5:
                continue
            grams[d] = [
                " ".join(words[i:i + 5]) for i in range(len(words) - 4)
            ]
        lex = {}
        for d, gs in grams.items():
            src = f"s{d % 2}"
            for g in set(gs):
                lex.setdefault((src, g), set()).add(d)
        lexset = {k for k, docs in lex.items() if len(docs) >= 2}
        want = {}
        for d, gs in grams.items():
            src = f"s{d % 2}"
            nb = sum(1 for g in gs if (src, g) in lexset)
            if nb > 0:
                want[d] = (
                    len(gs), nb,
                    _round_half_away(nb * 1.0 / len(gs) + 1e-9, 6),
                )
        assert set(got) == set(want), (texts, got, want)
        for d in want:
            assert got[d][:2] == want[d][:2], (texts, d, got[d], want[d])
            assert abs(got[d][2] - want[d][2]) < 2e-6, (texts, d, got, want)


def _ref_bm25_topk(texts, query_doc, k, k1=1.2, b=0.75):
    """From-scratch Python Okapi BM25 (Robertson & Walker 1994) under the
    engine's documented conventions: whitespace tokens, empty words
    dropped (docs with NO nonempty tokens are absent from N/avgdl),
    query = distinct words of ``query_doc``, per-term contribution
    floored to integer micro-scores, rank ties on doc_id."""
    import math
    import re as _re

    tf, dl = {}, {}
    for d, text in enumerate(texts):
        words = [w for w in _re.split(r"\s+", text.strip()) if w != ""]
        if not words:
            continue
        dl[d] = len(words)
        for w in words:
            tf[(d, w)] = tf.get((d, w), 0) + 1
    n = len(dl)
    if n == 0:
        return []
    avgdl = sum(dl.values()) / n
    df = {}
    for (_d, w) in tf:
        df[w] = df.get(w, 0) + 1
    q = {w for (d, w) in tf if d == query_doc}
    si = {}
    for (d, w), t in tf.items():
        if d == query_doc or w not in q:
            continue
        x = (
            math.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
            * (t * (k1 + 1))
            / (t + k1 * (1 - b + b * dl[d] / avgdl))
        )
        si[d] = si.get(d, 0) + int(math.floor(x * 1_000_000 + 0.5))
    ranked = sorted(si.items(), key=lambda it: (-it[1], it[0]))[:k]
    return [
        (d, s / 1_000_000, i + 1) for i, (d, s) in enumerate(ranked)
    ]


class TestBm25Differential:
    """BM25 ranked retrieval vs a from-scratch Python replica on random
    small corpora (round 10, VERDICT r9 #2 — the BM25 family's prior
    checks were the tf_rel refactor equivalence and the streamed-index
    parity, both INTERNAL; this one re-derives the scoring spec
    independently of the shared SQL builder)."""

    _texts = st.lists(
        st.text(alphabet=st.sampled_from("abc "), min_size=0, max_size=14),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=10, deadline=None, database=None)
    @given(_texts)
    def test_matches_reference(self, spark, texts):
        from qradar_restapi_kafka_datapipeline_spark.operators.text import (
            bm25_topk_sql,
        )

        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_bm25_docs")
        got = [
            (r["doc_id"], r["score"], r["rk"])
            for r in spark.sql(
                bm25_topk_sql("spark", query_doc=0, k=100,
                              source="prop_bm25_docs")
            ).collect()
        ]
        want = _ref_bm25_topk(texts, 0, 100)
        assert len(got) == len(want), (texts, got, want)
        for (gd, gs, gr), (wd, ws, wr) in zip(got, want):
            assert (gd, gr) == (wd, wr), (texts, got, want)
            assert abs(gs - ws) < 2e-6, (texts, got, want)


def _ref_dsir_topk(texts_sources, target_pred, dim, top_k):
    """From-scratch Python DSIR (Xie et al. 2023 shape): whitespace
    bigrams → 60-bit md5-prefix hash buckets → add-one-smoothed
    importance log-ratio in integer micro-units → per-doc BIGINT sum →
    half-away-from-zero 6dp final score (the SQL's exact arithmetic,
    re-derived independently of any shared builder)."""
    import hashlib
    import math
    import re as _re

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def half_away_units(v, scale):
        # integer-exact: dividing by scale and multiplying back can land
        # one unit short (-1009000 / 1e6 * 1e6 truncates to -1008999)
        x = v * scale
        r = math.floor(abs(x) + 0.5)
        return r if x >= 0 else -r

    cnts = {}
    for d, (text, _src) in enumerate(texts_sources):
        words = _re.split(r"\s+", text.strip())
        for a, b in zip(words, words[1:]):
            bkt = h60(f"{a} {b}") % dim
            cnts[(d, bkt)] = cnts.get((d, bkt), 0) + 1
    tgt, raw = {}, {}
    for (d, bkt), c in cnts.items():
        raw[bkt] = raw.get(bkt, 0) + c
        if target_pred(d):
            tgt[bkt] = tgt.get(bkt, 0) + c
    tt, rt = sum(tgt.values()), sum(raw.values())
    l6 = {}
    for bkt, rc in raw.items():
        v = (
            math.log(
                ((tgt.get(bkt, 0) + 1.0) * (rt + dim))
                / ((rc + 1.0) * (tt + dim))
            )
            + 1e-9
        )
        l6[bkt] = half_away_units(v, 1_000_000)
    scores = {}
    for (d, bkt), c in cnts.items():
        scores[d] = scores.get(d, 0) + c * l6[bkt]
    ranked = sorted(
        ((half_away_units(s / 1_000_000 + 1e-9, 1_000_000) / 1_000_000, d)
         for d, s in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )
    return [(d, sc, i + 1) for i, (sc, d) in enumerate(ranked[:top_k])]


class TestDsirDifferential:
    """The DSIR selection pipeline vs a from-scratch Python replica on
    random small corpora (round 10, VERDICT r9 #2 — DSIR was the one
    gate family whose only oracle was the SHARED SQL builder run on both
    engines; a spec bug there would reproduce identically and still
    hash-pass).  Random target splits include the empty-target edge
    (tt = 0 exercises the COALESCE path)."""

    _texts = st.lists(
        st.text(
            alphabet=st.sampled_from("ab "), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=6,
    )

    @settings(max_examples=10, deadline=None, database=None)
    @given(_texts, st.integers(min_value=1, max_value=4))
    @example(texts=["", "b a a a"], mod=1)
    def test_matches_reference(self, spark, texts, mod):
        from qradar_restapi_kafka_datapipeline_spark.operators.curation import (
            dsir_cnts_sql,
            dsir_rank_sql,
        )

        dim = 32
        spark.createDataFrame(
            [(i, t, "s") for i, t in enumerate(texts)],
            ["doc_id", "text", "source"],
        ).createOrReplaceTempView("prop_dsir_docs")
        got = [
            (r["doc_id"], r["dsir_score"], r["rk"])
            for r in spark.sql(
                dsir_rank_sql(
                    "spark",
                    f"({dsir_cnts_sql('spark', dim, 'prop_dsir_docs')})",
                    target_where=f"s.doc_id % {mod + 1} = 0",
                    dim=dim,
                    top_k=100,
                    source="prop_dsir_docs",
                )
            ).collect()
        ]
        want = _ref_dsir_topk(
            [(t, "s") for t in texts],
            lambda d: d % (mod + 1) == 0,
            dim,
            100,
        )
        assert len(got) == len(want), (texts, got, want)
        for (gd, gs, gr), (wd, ws, wr) in zip(got, want):
            assert (gd, gr) == (wd, wr), (texts, got, want)
            assert abs(gs - ws) < 2e-6, (texts, got, want)


class TestQualityClassifierDifferential:
    """The distilled-classifier APPLY path vs a from-scratch python
    replica (round 10 — the last shared-SQL-only gate family): hashed
    signed bigram postings (df-stoplist, tf saturation, sign/bucket from
    the 60-bit md5 hash), per-feature micro-contributions against the
    EMITTED weights artifact, bias-only featureless docs, and the
    rounded logit/sigmoid/keep triple.  The trainer is driver-side numpy
    (already independent of SQL); this closes the loop on scoring."""

    _texts = st.lists(
        st.text(alphabet=st.sampled_from("ab "), min_size=0, max_size=14),
        min_size=2,
        max_size=6,
    )

    @settings(max_examples=6, deadline=None, database=None)
    @given(_texts)
    def test_matches_reference(self, spark, texts):
        import hashlib
        import math
        import re as _re
        import tempfile

        from qradar_restapi_kafka_datapipeline_spark.operators.curation import (
            quality_classifier_sql,
            train_quality_classifier,
            write_quality_classifier,
        )

        dim = 64
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).createOrReplaceTempView("prop_qc_docs")
        w, b = train_quality_classifier(
            spark, dim=dim, sample_n=400, iters=50, source="prop_qc_docs"
        )
        art = tempfile.mkdtemp(prefix="prop_qc_art_")
        write_quality_classifier(spark, w, b, art)
        got = {
            r["doc_id"]: (r["logit"], r["score"], r["keep"])
            for r in spark.sql(
                quality_classifier_sql("spark", art, dim, "prop_qc_docs")
            ).collect()
        }

        # from-scratch featurize + score against the same artifact values
        def h60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        def r6(v):
            x = (v + 1e-9) * 1e6
            r = math.floor(abs(x) + 0.5)
            return (r if x >= 0 else -r) / 1e6

        tf = {}
        for d, text in enumerate(texts):
            words = _re.split(r"\s+", text.strip())
            for a2, b2 in zip(words, words[1:]):
                tf[(d, f"{a2} {b2}")] = tf.get((d, f"{a2} {b2}"), 0) + 1
        n_docs = len(texts)
        df = {}
        for (d, f), _c in tf.items():
            df[f] = df.get(f, 0) + 1
        post = {}
        for (d, f), c in tf.items():
            if df[f] * 2 > n_docs:
                continue
            h = h60(f)
            bkt = (h // 2) % dim
            s = 1 if h % 2 == 0 else -1
            post[(d, bkt)] = post.get((d, bkt), 0) + s * min(c, 3)
        sums = {d: 0.0 for d in range(n_docs)}
        for (d, bkt), wgt in post.items():
            if wgt != 0 and w[bkt] != 0.0:
                sums[d] += r6(wgt * w[bkt])
        for d in range(n_docs):
            logit = r6(sums[d] + b)
            score = r6(1.0 / (1.0 + math.exp(-logit)))
            keep = logit >= 0
            gl, gs, gk = got[d]
            assert abs(gl - logit) < 2e-6, (texts, d, gl, logit)
            assert abs(gs - score) < 2e-6, (texts, d, gs, score)
            assert gk == keep, (texts, d, gk, keep)


class TestTrigramBucketedDifferential:
    """The per-day-LEAD + firsts-stitch trigram twin vs a literal python
    sliding window on random tiny streams — single-row days, day gaps,
    and user boundaries are exactly the stitch's edge cases (the real
    testdata has dense multi-row days, so the nnf1 fallback — next
    non-empty day holds ONE row — never fires there)."""

    _events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),    # user
            st.integers(min_value=0, max_value=5),    # day
            st.integers(min_value=0, max_value=1),    # intra-day ms offset
            st.sampled_from(["a", "b", "c"]),         # event type
        ),
        min_size=1,
        max_size=10,
    )

    @settings(max_examples=15, deadline=None, database=None)
    @given(_events)
    def test_matches_sliding_window(self, spark, events):
        import datetime

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            event_path_trigrams_bucketed,
        )

        rows = [
            (u, d * 86_400_000 + off, eid, et)
            for eid, (u, d, off, et) in enumerate(events)
        ]
        spark.createDataFrame(
            [
                (u, datetime.datetime(1970, 1, 1)
                 + datetime.timedelta(milliseconds=t), eid, et)
                for u, t, eid, et in rows
            ],
            "user_id LONG, ts TIMESTAMP, event_id LONG, event_type STRING",
        ).createOrReplaceTempView("prop_trigram_events")
        got = sorted(
            (r["e1"], r["e2"], r["e3"], r["n_paths"])
            for r in event_path_trigrams_bucketed(
                spark, top_k=1000, source="prop_trigram_events"
            ).collect()
        )

        by_user = {}
        for u, t, eid, et in rows:
            by_user.setdefault(u, []).append((t, eid, et))
        counts = {}
        for seq in by_user.values():
            seq.sort()
            for i in range(len(seq) - 2):
                key = (seq[i][2], seq[i + 1][2], seq[i + 2][2])
                counts[key] = counts.get(key, 0) + 1
        want = sorted((a, b, c, n) for (a, b, c), n in counts.items())
        assert got == want, (rows, got, want)


class TestHysteresisDifferential:
    """The encode-direction-into-running-MAX hysteresis state machine vs a
    literal python state machine on random small daily-rate series —
    verifies crossing thresholds (exact integer comparisons vs the series
    mean), state persistence through dead-band days, and the
    consecutive-day episode split."""

    _series = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # day offset
            st.integers(min_value=1, max_value=6),   # rate (events that day)
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )

    @settings(max_examples=12, deadline=None, database=None)
    @given(_series)
    def test_matches_state_machine(self, spark, series):
        import datetime

        from qradar_restapi_kafka_datapipeline_spark.operators.sessionize import (
            hysteresis_alerts_sql,
        )

        rows = []
        eid = 0
        base_day = 19700  # days since epoch, matches the SQL's day_id
        for day, rate in series:
            for _ in range(rate):
                rows.append(
                    (eid,
                     datetime.datetime(1970, 1, 1)
                     + datetime.timedelta(days=base_day + day, hours=1),
                     1, "a", 0.0)
                )
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id LONG, ts TIMESTAMP, user_id LONG, "
            "event_type STRING, value DOUBLE",
        ).createOrReplaceTempView("prop_hyst_events")
        got = sorted(
            (r["start_day"], r["end_day"], r["n_days"], r["peak_rate"])
            for r in spark.sql(
                hysteresis_alerts_sql("spark", source="prop_hyst_events")
            ).collect()
        )

        # literal state machine
        days = sorted((base_day + d, r) for d, r in series)
        total = sum(r for _, r in days)
        n = len(days)
        state = False
        on_days = []
        for d, r in days:
            if r * n * 100 >= total * 120:
                state = True
            elif r * n * 100 <= total * 95:
                state = False
            if state:
                on_days.append((d, r))
        episodes = []
        for d, r in on_days:
            if episodes and d == episodes[-1][1] + 1:
                s0, _, cnt, pk = episodes[-1]
                episodes[-1] = (s0, d, cnt + 1, max(pk, r))
            else:
                episodes.append((d, d, 1, r))
        assert got == sorted(episodes), (series, got, episodes)

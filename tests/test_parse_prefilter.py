"""The regex-parse hot path: codegen-cache stability of pinned parses, and
soundness of the required-literal prefilter (`required_literal`)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ilogtail_spark.grok import grok_parse
from ilogtail_spark.operators.parse import regex_parse, required_literal
from ilogtail_spark.plans.pipeline import (
    FLAGSHIP_SPEC,
    NGINX_KEYS,
    NGINX_PATTERN,
    build_pipeline,
)


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


class TestCodegenStability:
    def test_rebuilt_flagship_hits_codegen_cache(self, spark, transcripts):
        def noop_write():
            routed = build_pipeline(transcripts, FLAGSHIP_SPEC)
            routed.write.format("noop").mode("overwrite").save()
            return routed

        noop_write()
        before = _compile_count(spark)
        routed = noop_write()
        assert _compile_count(spark) - before == 0
        # the pin still blocks inlining: one regex execution site
        plan = routed._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace(") == 1, plan


class TestRequiredLiteral:
    @pytest.mark.parametrize("pattern,expected", [
        ("a|b", None),
        ("(?i)abc", None),
        ("(?x)a b c", None),
        (r"\Qa|b\E", None),
        ("abc?", "ab"),
        ("(?s)abc", "abc"),
        ("a(bc)d", "abcd"),
        ("x(ab|cd)yz", "yz"),
        (r"(?<n>ab)c", "abc"),
        (r"(?=ab)cd", "cd"),
        ("a{2}b{1,3}c", "aab"),
        ("ab+c", "ab"),
        (r"[]a]bc", "bc"),
        (r"[a[b]]cd", "cd"),
        (r"\p{L}xy", "xy"),
        (r"a\.b\tc", "a.b\tc"),
        (r"\d+", None),
        ("abc(", None),
        (NGINX_PATTERN, " HTTP/"),
    ])
    def test_cases(self, pattern, expected):
        assert required_literal(pattern) == expected


# --- soundness property: rlike match => literal contained ------------------

_CHARS = "abc"
_METAS = ".*+?()[]{}|^$\\"


def _node(depth: int = 2):
    """(regex, draw) pairs: draw(data) yields a string near a match."""
    lit = st.sampled_from(_CHARS).map(lambda c: (c, lambda d, c=c: c))
    esc = st.sampled_from(_METAS).map(lambda c: ("\\" + c, lambda d, c=c: c))
    cls = st.sampled_from([
        ("[ab]", "ab"), ("[^a]", "bc."), ("[a-c]", "abc"), ("[a[bc]]", "abc"),
        ("[]a]", "]a"), ("[.]", "."), ("\\w", "abc"),
    ]).map(lambda t: (t[0], lambda d, m=t[1]: d.draw(st.sampled_from(m))))
    atom = st.one_of(lit, esc, cls)
    if depth > 0:
        sub = st.lists(_node(depth - 1), min_size=1, max_size=3)
        grp = st.tuples(st.sampled_from(["(", "(?:", "(?>"]), sub).map(
            lambda t: (t[0] + "".join(r for r, _ in t[1]) + ")",
                       lambda d, ns=t[1]: "".join(f(d) for _, f in ns)))
        alt = st.tuples(sub, sub).map(
            lambda t: ("(" + "".join(r for r, _ in t[0]) + "|"
                       + "".join(r for r, _ in t[1]) + ")",
                       lambda d, a=t[0], b=t[1]: "".join(
                           f(d) for _, f in d.draw(st.sampled_from([a, b])))))
        atom = st.one_of(atom, grp, alt)
    quant = st.sampled_from([
        ("", 1, 1), ("?", 0, 1), ("*", 0, 3), ("+", 1, 3), ("{0,2}", 0, 2),
        ("{2}", 2, 2), ("{1,3}", 1, 3), ("{2,}", 2, 4),
    ])
    mod = st.sampled_from(["", "", "?", "+"])
    return st.tuples(atom, quant, mod).map(
        lambda t: (t[0][0] + t[1][0] + (t[2] if t[1][0] else ""),
                   lambda d, f=t[0][1], q=t[1]: "".join(
                       f(d) for _ in range(d.draw(st.integers(q[1], q[2]))))))


_pattern = st.tuples(st.lists(_node(), min_size=1, max_size=5), st.booleans()).map(
    lambda t: (("(?s)" if t[1] else "") + "".join(r for r, _ in t[0]), t[0]))
_noise = st.text(alphabet=_CHARS + _METAS + "\x01\x02", max_size=4)


@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(_pattern, st.data())
def test_required_literal_sound(spark, pattern, data):
    regex, nodes = pattern
    lit = required_literal(regex)
    rows = []
    for _ in range(12):
        s = "".join(f(data) for _, f in nodes)
        if data.draw(st.booleans()):  # mutate: cut and splice in noise
            cut = data.draw(st.integers(0, len(s)))
            s = s[:cut] + data.draw(_noise) + s[cut + data.draw(st.integers(0, 2)):]
        rows.append((data.draw(_noise) + s + data.draw(_noise),))
    df = spark.createDataFrame(rows, "s string")
    matched = [r.s for r in df.where(F.col("s").rlike(regex)).collect()]
    if lit is not None:
        missing = [s for s in matched if lit not in s]
        assert not missing, (regex, lit, missing)


# --- engine differential: prefiltered parse == unfiltered extraction -------

def _perkey_reference(df, pattern, keys, max_input_len=None):
    """Per-key regexp_extract with no guard of any kind."""
    pat = "(?s)" + pattern
    src = F.col("text")
    if max_input_len is not None:
        src = F.substring(src, 1, max_input_len)
    m = src.rlike(pat)
    return df.select("id", *[
        F.when(m, F.regexp_extract(src, pat, i + 1)).alias(k) for i, k in enumerate(keys)
    ])


NGINX_LINE = ('10.0.0.1 - - [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" '
              '200 512 "-" "curl/8.0"')
# rows that contain " HTTP/" but cannot match, plus controls
DIFF_ROWS = [
    (1, NGINX_LINE),
    (2, '10.0.0.1 - - [x] "GET /a HTTP/1.1" abc 512 "-" "-"'),
    (3, "GET /index.html HTTP/1.1 from 10.0.0.2"),
    (4, "2024-10-10 13:55:36 app started HTTP/2 listener"),
    (5, " HTTP/" * 40),
    (6, "x" * 90 + NGINX_LINE),  # literal only beyond max_input_len
    (7, "no literal at all"),
    (8, None),
]


class TestPrefilterDifferential:
    # 64 cuts row 1 mid-match (literal kept); 90 keeps row 1 whole and
    # leaves row 6 without the literal
    @pytest.mark.parametrize("max_input_len,parsed_ids", [
        (None, {1, 6}), (64, set()), (90, {1}),
    ])
    def test_regex_parse_matches_unfiltered(self, spark, max_input_len, parsed_ids):
        df = spark.createDataFrame(DIFF_ROWS, "id int, text string")
        got = regex_parse(df, NGINX_PATTERN, NGINX_KEYS, keep_source=True,
                          max_input_len=max_input_len).select("id", *NGINX_KEYS)
        ref = _perkey_reference(df, NGINX_PATTERN, NGINX_KEYS, max_input_len)
        assert sorted(got.collect()) == sorted(ref.collect())
        parsed = {r.id for r in got.where(F.col("ip").isNotNull()).collect()}
        assert parsed == parsed_ids

    def test_grok_multi_match_matches_unfiltered(self, spark, monkeypatch):
        from ilogtail_spark.operators import parse

        df = spark.createDataFrame(DIFF_ROWS, "id int, text string")
        matches = [
            '%{IPORHOST:ip} %{USER:ident} %{USER:auth} \\[%{DATA:ts}\\] '
            '"%{WORD:verb} %{DATA:req} HTTP/%{NUMBER:ver}" %{INT:code}',
            "GET %{NOTSPACE:req} HTTP/%{NUMBER:ver} from %{IP:ip}",
        ]
        cols = ["id", "ip", "req", "ver", "code"]
        got = grok_parse(df, matches).select(*cols).collect()
        monkeypatch.setattr(parse, "_literal_guard", lambda src, pat: None)
        ref = grok_parse(df, matches).select(*cols).collect()
        assert sorted(got) == sorted(ref)
        rows = {r.id: (r.ip, r.req, r.ver) for r in got}
        assert rows[1] == ("10.0.0.1", "/a", "1.1")
        assert rows[3] == ("10.0.0.2", "/index.html", "1.1")

"""Property-based robustness (hypothesis): the parser must be total —
any unicode line parses to a record without raising, preserves the
input verbatim in message_raw, and never loses bytes in the token
round-trip."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pysyslog import ParserOptions, SyslogParser
from pysyslog.parser import (
    FIELD_NAMES,
    _fast_regex,
    _parse_batch,
    _plain_fields,
)

P = SyslogParser(
    ParserOptions(
        now_epoch=1543622400.0,
        auto_detect_json=True,
        auto_detect_key_values=True,
    )
)
P_STRICT = SyslogParser(
    ParserOptions(now_epoch=1543622400.0, rfc5424_strict=True)
)


@given(st.text(max_size=500))
@settings(max_examples=300, deadline=None)
def test_parser_total_and_preserving(s):
    msg = P.parse(s)
    assert msg["message_raw"] == s
    # content+message only exist when the line isn't whitespace-led
    if not (s[:1].isspace() and s[:1] != ""):
        if not s or not s[0].isspace():
            assert "content" in msg


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_strict_mode_total(s):
    assert P_STRICT.parse(s)["message_raw"] == s


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_token_roundtrip_any_text(s):
    toks = list(s.encode("utf-8"))
    back = bytes(toks).decode("utf-8")
    assert back == s
    assert list(back.encode("utf-8")) == toks


@given(
    st.integers(min_value=0, max_value=1543622400 + 86400 * 300),
    st.sampled_from([0, 60, -300, 330, 120]),
)
@settings(max_examples=300, deadline=None)
def test_datetime_render_roundtrip(epoch, offset_min):
    """Rendered datetime_str re-parses to the same instant."""
    from pysyslog.parser_core import NS, SyslogParser as SP

    p = SyslogParser(ParserOptions(now_epoch=1543622400.0))
    ns = epoch * NS
    s = p._fmt_iso(ns, offset_min)
    back = p._parse_iso_datetime(s)
    assert back is not None
    assert back[0] == ns and back[1] == offset_min


# --- fast-path equivalence under adversarial lines -------------------------


def _assert_fast_equals_slow(lines, opts):
    """The vectorized cohort split of one batch is column-identical to
    the pure state machine (None and NaN are both Arrow nulls; ints may
    ride as floats)."""
    raw = pd.Series(lines, dtype=object)
    plain = _plain_fields(FIELD_NAMES)
    got = _parse_batch(SyslogParser(opts), raw, opts, FIELD_NAMES, plain,
                       False, _fast_regex(opts))
    want = _parse_batch(SyslogParser(opts), raw, opts, FIELD_NAMES, plain,
                        False)

    def _n(v):
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, float) and v == int(v):
            return int(v)
        return v

    for f in FIELD_NAMES:
        g = [_n(v) for v in got[f].tolist()]
        w = [_n(v) for v in want[f].tolist()]
        assert g == w, (opts, f, [(lines[i], a, b) for i, (a, b) in
                                  enumerate(zip(g, w)) if a != b][:3])

_MON = st.sampled_from(["Jan", "Feb", "Jun", "Dec", "Xyz", "jan"])
_HOSTS = st.sampled_from(
    ["h1", "web.example.com", "10.1.2.3", "box1.2.3.4", "a-b_c", "x.9y", "h:1"]
)
_PROGS = st.sampled_from(
    ["app", "sshd", "info", "/usr/bin/x", "a/b", "%SYS-5-X", "my.script",
     "app extra", "9app", "/usr/sbin/cron", "rsyslogd-2007"]
)
_TAILS = st.sampled_from(
    ["", "[1234]", "[abc]", "(sub)", "[]", "[1]x", "[1:2]", "[a(b)c]"]
)
_CONTENT = st.sampled_from(
    ["msg", "", "a=1 b=2", '{"k":1}', "[grp k=v] t", "two  spaces",
     "trail ", ": colon", "tab\tinside"]
)


@st.composite
def _syslog_like(draw):
    pri = draw(st.sampled_from(["", "<13>", "<0>", "<191>", "<999>", "< 3>"]))
    mon = draw(_MON)
    day = draw(st.integers(min_value=0, max_value=99))
    hms = draw(st.sampled_from(["12:00:00", "1:2:3", "23:59:59.123",
                                "23:59:59.123456", "10:00:00.1234",
                                "10:00:00.120000", "02:29:00",
                                "2018-06-01T12:34:56Z",
                                "2018-06-01 12:34:56.000+02:00"]))
    if hms.startswith("20"):
        dt = hms
    else:
        yr = draw(st.sampled_from(["", "2018 ", "0000 ", "9999 ", "2016 "]))
        dt = f"{yr}{mon} {day:>2} {hms}"
    host = draw(st.one_of(_HOSTS, st.just("")))  # "" = no-host cron form
    prog = draw(_PROGS)
    tail = draw(_TAILS)
    sep = draw(st.sampled_from([": ", ":", ":  ", " - ", " "]))
    content = draw(_CONTENT)
    hostsep = " " if host else ""
    # optional cisco infix (seq + flagged 2nd timestamp) or netapp
    # bracket-form between host and program — the other slow-path
    # template families the fast path may claim
    infix = draw(st.sampled_from(
        ["", "", "", "42: *Jun  2 03:04:05: ", "725419: .Jun 2 3:04:05: ",
         "7: Jun  2 03:04:05: ", "99: ", ": Jun  2 03:04:05: "]))
    if draw(st.booleans()) and host:
        return (f"{pri}{dt} {host} [{host} {prog}:notice]{sep}{content}")
    return f"{pri}{dt} {host}{hostsep}{infix}{prog}{tail}{sep}{content}"


@given(st.lists(st.one_of(_syslog_like(), st.text(max_size=120)),
                min_size=1, max_size=40))
@settings(max_examples=150, deadline=None)
def test_fast_path_equivalence_property(lines):
    """For ANY batch, the vectorized cohort split must be column-
    identical to the pure state machine."""
    base = ParserOptions(now_epoch=1543622400.0, auto_detect_json=True,
                         auto_detect_key_values=True)
    # the no-program fast-regex variant has its own cohort guards
    for opts in (base, base.with_(extract_program=False)):
        _assert_fast_equals_slow(lines, opts)


# ---------------------------------------------------------------------------
# Fast-path / state-machine equivalence under adversarial composition:
# every fragment family the r4 master regex claims (PRI+version, BSD/ISO
# datetimes, relay hops, Cisco infixes, all program separator forms,
# NetApp brackets, strict/loose SDATA, JSON/KV tails) recombined at
# random; even a 1-row fast cohort takes the vectorized assembly.
# Equivalence is per-column exact.
# ---------------------------------------------------------------------------

_FRAG_PRI = ["", "<13>", "<191>", "<0>", "<13>1 ", "<34>0 ", "<5>00 ", "<13>12 "]
_FRAG_DT = [
    "Jun  1 12:00:00", "Jun 11 12:00:00.123", "2018 Jun  1 12:00:00",
    "Feb 29 01:02:03", "Xxx  5 11:11:11", "2018-06-01T12:34:56Z",
    "2018-06-01T12:34:56.123456+02:00", "2018-06-01 12:34:56",
    "2018-06-01T12:34:56+05", "2018-13-40T99:99:99Z",
]
_FRAG_HOST = ["host1 ", "host1.dom.example ", "host1. ", "10.1.2.3 ",
              "box1.2.3.4 ", ""]
_FRAG_RELAY = [
    "", "1 2018-06-01T11:59:59Z relay1 ", "2018-06-01T11:59:59.042Z origin2 ",
    "7 2018-06-01T11:59:59+05:30 r3 ", "2018-06-01T11:59:59Zx bad ",
    "1 2018-06-01T11:59:59Z r1 2 2018-06-01T11:59:58Z r2 ",
]
_FRAG_CISCO = ["", "123: *Jun  1 12:00:01: ", "42: .Jun  1 12:00:02: ", "9: ", ": "]
_FRAG_PROG = [
    "app: ", "app[7]: ", "app - ", "app -", "sshd[a b]: ", "app[1:2]: ",
    "/usr/sbin/cron[9]: ", "/x[a b]: ", "[n1 raid.disk:notice]: ",
    "err: ", "err - ", "a/b: ", "a/: ", "%SYS-5-X: ", "two words: ", "",
]
_FRAG_CONTENT = [
    "hello world", "x [k=v] y", "[job@5 id=1 queue=q2] done [retry count=3]",
    'a=1 b="two" a=3', 'json {"a": 1, "b": [true, null]}', "json {bad",
    "tail: colon", "a - b - c", '[exampleSDID@32473 iut="3" x="q u"] ok',
    '[timeQuality tzKnown="1"][meta x="y"] strict pair', "", " lead sp",
    "[plain] no kv", "x[attached=1]", "only - one", "trailing ",
]

_BASE = ParserOptions(now_epoch=1543622400.0)
_EQ_OPTION_SETS = [
    _BASE,
    _BASE.with_(auto_detect_json=True, auto_detect_key_values=True),
    _BASE.with_(rfc5424_strict=True),
    _BASE.with_(extract_program=False, auto_detect_key_values=True),
    _BASE.with_(prune_raw=True, prune_empty=True),
    _BASE.with_(date_parsing=False),
]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(_FRAG_PRI), st.sampled_from(_FRAG_DT),
            st.sampled_from(_FRAG_HOST), st.sampled_from(_FRAG_RELAY),
            st.sampled_from(_FRAG_CISCO), st.sampled_from(_FRAG_PROG),
            st.sampled_from(_FRAG_CONTENT),
        ),
        min_size=1, max_size=24,
    ),
    st.sampled_from(_EQ_OPTION_SETS),
)
@settings(max_examples=120, deadline=None)
def test_fast_path_equals_slow_property(frags, opts):
    lines = [pri + dt + " " + host + relay + cisco + prog + content
             for pri, dt, host, relay, cisco, prog, content in frags]
    _assert_fast_equals_slow(lines, opts)

"""Spark-side parse operator: golden equality through the Arrow UDF.

Runs the full fixture corpus through parse_syslog() on a real
SparkSession and checks parsed_json equality against the pure-Python
core (which is itself golden-verified in test_goldens.py), plus typed
column spot checks and plan shape.
"""

from __future__ import annotations

import json
import warnings

import numpy as np
import pytest

from pysyslog import ParserOptions, SyslogParser, options_from_perl
from pysyslog.gen import synth_lines
from pysyslog.goldens import (
    GOLDEN_NOW_EPOCH,
    REFERENCE_DATA_DIR,
    canonical_json,
    load_fixtures,
)
from pysyslog.parser import parse_syslog

FIXTURES = load_fixtures()
BASE = ParserOptions(now_epoch=GOLDEN_NOW_EPOCH, default_tz="UTC")


def test_parse_corpus_through_spark(spark):
    # All-SDATA-on options cover every fixture's features in one pass
    opts = BASE.with_(auto_detect_json=True, auto_detect_key_values=True)
    corpus = {fid: fx["string"] for fid, fx in FIXTURES.items()}
    if not corpus:  # never check zero rows: fall back to generated lines
        warnings.warn(f"golden anchor missing: no *.yaml fixtures under "
                      f"REFERENCE_DATA_DIR={REFERENCE_DATA_DIR}; checking "
                      "Spark against the core parser on generated lines")
        lines, _ = synth_lines(np.arange(200))
        corpus = {f"gen{i:03d}": s for i, s in enumerate(lines)}
    df = spark.createDataFrame(sorted(corpus.items()),
                               "fixture_id string, raw string")
    out = parse_syslog(df, "raw", opts, emit_parsed_json=True).collect()

    core = SyslogParser(opts)
    by_id = {r["fixture_id"]: r for r in out}
    assert by_id and len(by_id) == len(corpus)
    for fid, line in corpus.items():
        want = canonical_json(core.parse(line))
        got = by_id[fid]["parsed_json"]
        assert got == want, f"{fid}: spark vs core mismatch"


def test_typed_columns_and_ts(spark):
    df = spark.createDataFrame(
        [("May 19 22:03:29 janus sshd[10173]: pam_unix(sshd:session): ok",)],
        "raw string",
    )
    row = parse_syslog(df, "raw", BASE).collect()[0]
    assert row["program_name"] == "sshd"
    assert row["program_pid"] == "10173"
    assert row["host"] == "janus"
    assert row["epoch_us"] == 1526767409_000000
    assert str(row["ts"]) == "2018-05-19 22:03:29"
    assert row["preamble"] is None  # absent key -> NULL


def test_sdata_map_flattening(spark):
    opts = BASE.with_(auto_detect_json=True)
    df = spark.createDataFrame(
        [('<163>Jul 26 15:50:14 h prog[1]: [foo x=1] hi {"a":{"b":2}}',)],
        "raw string",
    )
    row = parse_syslog(df, "raw", opts).collect()[0]
    assert row["sdata"]["foo.x"] == "1"
    assert row["sdata"]["a.b"] == "2"
    assert json.loads(row["sdata_json"]) == {"foo": {"x": "1"}, "a": {"b": "2"}}


def test_null_input_row(spark):
    df = spark.createDataFrame([(None,), ("May 19 22:03:29 h p: x",)], "raw string")
    rows = parse_syslog(df, "raw", BASE).orderBy("raw").collect()
    assert rows[0]["message"] is None or rows[1]["message"] is None


def test_plan_is_single_arrow_eval(spark):
    """One ArrowEvalPython node — the single process boundary (SURVEY §3.1)."""
    df = spark.createDataFrame([("x",)], "raw string")
    out = parse_syslog(df, "raw", BASE).select("program_name", "ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_unpinned_now_rejected(spark):
    df = spark.createDataFrame([("x",)], "raw string")
    with pytest.raises(ValueError, match="now_epoch"):
        parse_syslog(df, "raw", ParserOptions())


def test_fast_path_equals_slow_on_mixed_corpus():
    """The vectorized clean-BSD cohort must produce column-identical
    output to the state machine, across option sets, on the full
    generator mix plus handcrafted edge lines."""
    import numpy as np
    import pandas as pd

    from pysyslog.gen import GEN_NOW_EPOCH, synth_lines
    from pysyslog.options import ParserOptions
    from pysyslog.parser import (
        FIELD_NAMES,
        _fast_regex,
        _parse_batch,
        _plain_fields,
        _slow_cols,
    )
    from pysyslog.parser_core import SyslogParser

    lines, _ = synth_lines(np.arange(4000), seed=7)
    lines += [
        "Jun  1 12:00:00 host1 app:  double-space content",
        "Jun  1 12:00:00 host1 app: ",            # empty content
        "Jun  1 12:00:00 host1 info: priority-word program",
        "Jun  1 12:00:00 host1 app[12a]: odd pid",
        "Jun  1 12:00:00 host1 app[]: empty pid",
        "Jun  1 12:00:00 host1 a/b: sub split",
        "Jun  1 12:00:00 host.dom app: domain host",
        "Jun  1 12:00:00 host1 app no-colon tail",
        "Jun  1 12:00:00  host1 app: double gap",
        "Jun  1 12:00:00 host1 app: tail [k=v]",
        "Jun  1 12:00:00 host1 app: json {\"a\":1}",
        "Jun  1 12:00:00 host1 app: kv a=1 b=2",
        "<21>Jun  1 12:00:00 host1 app[9]: with pri",
        "2018-06-01T12:34:56Z host1 app: iso z",
        "2018-06-01 12:34:56Z host1 app: iso space sep",
        "2018-06-01T12:34:56.123+02:00 host1 app: iso offset frac",
        "2018-06-01T12:34:56.123456-05:30 host1 app: iso micros neg",
        "2018-06-01T12:34:56.120000+02:00 host1 app: frac trailing zeros",
        "2018-06-01T12:34:56.000Z host1 app: all-zero frac",
        "2018-06-01T12:34:56.123000-03:00 host1 app: six-digit trailing zeros",
        "2018-06-01T12:34:56+0000 host1 app: compact zero offset",
        "2018-06-01T12:34:56+05 host1 app: hour-only offset",
        "2018-99-99T99:99:99Z host1 app: invalid components",
        "2018-02-29T01:02:03Z host1 app: non-leap feb 29",
        "2018-06-01T23:59:59-01:00 host1 app: date rollover",
        "<0>Jun  1 12:00:00 host1 app: kern emerg",
        "<200>Jun  1 12:00:00 host1 app: unnamed facility",
        "<13> Jun  1 12:00:00 host1 app: space after pri",
        "Jun  1 12:00:00 fq.example.com app: dotted host",
        "Jun  1 12:00:00 web1.srv42.example app: deep domain",
        "Jun  1 12:00:00 10.1.2.3 app: ip host",
        "Jun  1 12:00:00 box1.2.3.4 app: ip-in-host",
        # no-program-variant cohort edges: ws-preceded brackets (loose
        # SDATA territory), digit-led rest (relay territory), colon-led
        # rest (Cisco territory), trailing whitespace, bare words
        "Jun  1 12:00:00 host1 app[7]: tail [k=v] sdata-ish",
        "Jun  1 12:00:00 host1 words with [plain] brackets",
        "Jun  1 12:00:00 host1 2 errors found",
        "Jun  1 12:00:00 host1 : colon-led rest",
        "Jun  1 12:00:00 host1 trailing space ",
        "Jun  1 12:00:00 host1 app[1:2]: colon pid",
        # cisco seq + 2nd timestamp + ntp flag cohort edges
        "<189>Jun  1 12:00:00 host1 725419: *Jun  1 12:00:00: "
        "%SYS-5-CONFIG_I: Configured from console",
        "<189>Jun  1 12:00:00 host1 42: .Jun  1 12:00:01: %LINK-3-UPDOWN: up",
        "<189>Jun  1 12:00:00 host1 7: Jun  1 12:00:02: %X-1-Y: no flag",
        "Jun  1 12:00:00 host1 99: restarting now",          # seq, no 2nd date
        "Jun  1 12:00:00 host1 1: Jun  1 12:00:03 no colon after date",
        "Jun  1 12:00:00 host1 %APP-1-X: percent prog no cisco",
        # netapp bracket-form cohort edges
        "<5>Jun  1 12:00:00 host1 [node01 raid.disk.online:notice]: Disk 3 ok",
        "Jun  1 12:00:00 host1 [node01 raid.disk.online:notice]: no pri level",
        "<5>Jun  1 12:00:00 host1 [node01 raid:bogus]: unknown level",
        # r4 cohort: version digit after PRI (Perl truthiness: "0"
        # consumed but unset, "00" -> version 0), relay hop, hyphen
        # program separator, '['-bearing content (loose/strict SDATA
        # splice through the shared stage bodies)
        "<34>1 2018-06-01T12:00:00+00:00 host1 app[9]: versioned",
        "<34>0 2018-06-01T12:00:00Z host1 app: version zero",
        "<34>00 2018-06-01T12:00:00Z host1 app: version double zero",
        "<34>12 Jun  1 12:00:00 host1 app: two-digit version bsd",
        "<34>1 2018-06-01T12:00:00+00:00 host1 1 2018-06-01T12:00:00.042Z "
        "relay7 APP-3 - EVENT_1 [exampleSDID@32473 iut=\"3\" eventID=\"99\"]",
        "2018-06-01T12:00:00Z host1 2018-06-01T11:59:59Z origin1 app: relayed",
        "Jun  1 12:00:00 host1 55 2018-06-01T11:59:59+02:00 origin2 app[4]: "
        "numbered relay",
        "Jun  1 12:00:00 host1 2018-06-01T11:59:59Zx app: relay junk tail",
        "Jun  1 12:00:00 host1 1 2018-06-01T11:59:59Z r1 2 2018-06-01T11:59:58Z "
        "r2 app: double relay hop",
        "Jun  1 12:00:00 host1 app - hyphen separator content",
        "Jun  1 12:00:00 host1 app - trailing colon: not fast",
        "Jun  1 12:00:00 host1 app - a - b rightmost split",
        "Jun  1 12:00:00 host1 app -x no ws after hyphen",
        "Jun  1 12:00:00 host1 app[7] - hyphen with pid",
        "Jun  1 12:00:00 host1 err - hyphen severity word",
        "<13>Jun  1 12:00:00 host1 app[1]: [job@55555 id=4 queue=q2] done "
        "[retry count=1]",
        "Jun  1 12:00:00 host1 app: [job@5 id=9] tail: respace quirk",
        "Jun  1 12:00:00 host1 app: [plain bracket] no kv",
        "Jun  1 12:00:00 host1 app: [k=v] leading sdata",
        "Jun  1 12:00:00 host1 app: x[attached=1] not spliced",
        "Jun  1 12:00:00 host1 app: [a=1][b=2] adjacent groups",
        "Jun  1 12:00:00 host1 app: [meta x=\"q u o\" y=2] quoted loose",
        "Jun  1 12:00:00 host1 app: only [grp k=v]",
        "<165>1 2018-06-01T12:00:00Z host1 app: [timeQuality tzKnown=\"1\" "
        "isSynced=\"0\"] strict-shaped",
        "Jun  1 12:00:00 host1 app: [m@1 a=\"1\"][n@2 b=\"2\"] two strict",
        # the r4 no-host lookahead fix: a space-y pid puts the ':' in a
        # later token, so RE_HOST succeeds and these must stay slow
        "Jun  1 12:00:00 /x[a b]: y",
        "Jun  1 12:00:00 /usr/bin/app[p q]: space pid path",
        # the state machine rebuilds the tag from its whitespace-split
        # words minus priority names: these pids must stay slow
        "Jun  1 12:00:00 host sshd[101\t73]: hi",
        "Jun  1 12:00:00 host sshd[101  73]: hi",
        "Jun  1 12:00:00 host sshd[1 err 2]: hi",
        "Jun  1 12:00:00 host sshd[1\xa02]: hi",
        # offset minutes of 60+ carry into the hour in the state machine
        "2024-06-01T12:00:00-05:90 host app: offset minutes 90",
        "2024-06-01T12:00:00+01:60 host app: offset minutes 60",
        # a zero BSD fraction renders no fraction at all; an inferred
        # Feb 29 in the future of a leap-year `now` keeps that year
        # (the previous year has no Feb 29)
        "Jun  1 12:00:00.000 host1 app: bsd all-zero frac",
        "Feb 29 12:00:00 host1 app: inferred leap day",
    ]
    # the one datetime derivation's envelope edges: a minus-zero offset
    # is UTC, year 0000 and a non-leap explicit Feb 29 take the
    # now-fallback, and an inferred date more than a day past `now`
    # (2018-12-01) is dated the previous year
    edges = [
        "2018-06-01T12:34:56-00:00 host1 app: iso minus-zero offset",
        "0000-06-01T12:34:56Z host1 app: iso year zero",
        "2016 Feb 29 12:00:00 host1 app: explicit leap day",
        "2018 Feb 29 12:00:00 host1 app: explicit non-leap feb 29",
        "Dec 31 23:59:59 host1 app: inferred future date",
    ]
    lines += edges + [None]
    plain = _plain_fields(FIELD_NAMES)
    option_sets = [
        ParserOptions(now_epoch=GEN_NOW_EPOCH),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, auto_detect_json=True,
                      auto_detect_key_values=True),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, prune_raw=True,
                      prune_empty=True, prune_fields=("tz",)),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, epoch_create=False),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, extract_program=False),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, extract_program=False,
                      auto_detect_json=True, auto_detect_key_values=True),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, rfc5424_strict=True),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, rfc5424_strict=True,
                      extract_program=False, auto_detect_key_values=True),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, rfc5424_structured_data=False),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, date_parsing=False),
        ParserOptions(now_epoch=GEN_NOW_EPOCH, date_parsing=False,
                      extract_program=False),
        # the per-timestamp datetime fallback (no vector derivation)
        ParserOptions(now_epoch=GEN_NOW_EPOCH, default_tz="Europe/Warsaw"),
        ParserOptions(now_epoch=GEN_NOW_EPOCH,
                      time_format="%Y-%m-%d %H:%M:%S%z"),
        # `now` early in a leap year: most inferred dates are in the
        # future and take the previous-year rule
        ParserOptions(now_epoch=1454284800.0),  # 2016-02-01
    ]
    raw = pd.Series(lines, dtype=object)
    for opts in option_sets:
        fast_re = _fast_regex(opts)
        assert fast_re is not None
        got = _parse_batch(SyslogParser(opts), raw, opts, FIELD_NAMES,
                           plain, False, fast_re)
        want = _parse_batch(SyslogParser(opts), raw, opts, FIELD_NAMES,
                            plain, False)
        def _n(v):
            # None and NaN are both Arrow nulls; ints may ride as floats
            if v is None or (isinstance(v, float) and v != v):
                return "\0"
            if isinstance(v, float) and v == int(v):
                return int(v)
            return v

        for f in FIELD_NAMES:
            g = [_n(v) for v in got[f].tolist()]
            w = [_n(v) for v in want[f].tolist()]
            assert g == w, (opts, f, [(i, a, b) for i, (a, b) in
                                      enumerate(zip(g, w)) if a != b][:3])
        # a batch with no fast rows (empty, or only state-machine
        # shapes) is the state machine's own column lists, as objects
        for batch in ([], ["no date at all", " whitespace-led",
                           "<13>host1 app: no date here", None]):
            out = _parse_batch(SyslogParser(opts),
                               pd.Series(batch, dtype=object), opts,
                               FIELD_NAMES, plain, False, fast_re)
            ref = _slow_cols(SyslogParser(opts), batch, FIELD_NAMES, plain,
                             False)
            assert list(out.columns) == FIELD_NAMES
            assert (out.dtypes == object).all()
            assert {f: out[f].tolist() for f in FIELD_NAMES} == ref
    # the envelope edges reach the fast path's datetime derivation
    opts = option_sets[0]
    assert all(_fast_regex(opts).match(s) for s in edges)
    got = _parse_batch(SyslogParser(opts), pd.Series(edges, dtype=object),
                       opts, FIELD_NAMES, plain, False, _fast_regex(opts))
    assert got["date"].tolist()[2:] == ["2016-02-29", "2018-12-01",
                                        "2017-12-31"]
    # the cohort must actually engage for the default option set (the
    # detection-enabled sets legitimately exclude '='/'{' content)
    mask = raw.str.extract(_fast_regex(option_sets[0]))["prog"].notna()
    assert mask.mean() > 0.3, mask.mean()
    # ... and the no-program variant must also engage on the majority
    # of the mix (it lacks the cisco/netapp tails the default regex
    # has, so it is not a strict superset — just require real coverage)
    np_mask = raw.str.extract(
        _fast_regex(option_sets[4]))["content"].notna()
    assert np_mask.mean() > 0.3, np_mask.mean()


def test_sdata_json_serializer_exact():
    """The fused sdata_json serializer (parser._sdata_ser) must emit the
    byte-identical string to json.dumps(canon(x), sort_keys=True,
    ensure_ascii=False, separators=(",", ":")) — the form every oracle
    hash was taken against — over the full generator mix plus
    adversarial value shapes."""
    import numpy as np

    from pysyslog.gen import GEN_NOW_EPOCH, synth_lines
    from pysyslog.goldens import canon
    from pysyslog.parser import _sdata_ser
    from pysyslog.parser_core import SyslogParser as Core

    def ref(x):
        return json.dumps(canon(x), sort_keys=True, ensure_ascii=False,
                          separators=(",", ":"))

    adversarial = [
        {"a": "b"},
        {"k": 1, "j": 2.5, "b": True, "f": False, "n": None},
        {"g": {"x": "y", "z": [1, "2", None, {"q": False}, 1.5]}},
        {"uni": "héllo\n\t\"quoted\" \\ \x01\x7f", "€": "ünïcode"},
        {"1": "strkey", 2: "intkey"},  # key collision: last wins
        {"nested": {"deep": {"deeper": [1.5e300, -0.0, 7, -3]}}},
        {"empty": {}, "el": [], "es": "", "tup": (1, "a")},
        {"big": 2**80, "neg": -(2**70), "tiny": 5e-324},
    ]
    for case in adversarial:
        assert _sdata_ser(case) == ref(case), case

    opts = ParserOptions(now_epoch=GEN_NOW_EPOCH, auto_detect_json=True,
                         auto_detect_key_values=True)
    p = Core(opts)
    lines, _ = synth_lines(np.arange(20000))
    n_sdata = 0
    for line in lines:
        sd = p.parse(line).get("SDATA")
        if sd is not None:
            n_sdata += 1
            assert _sdata_ser(sd) == ref(sd), sd
    assert n_sdata > 5000  # the corpus really exercises the serializer

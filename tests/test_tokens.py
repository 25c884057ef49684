"""Token codec: the round-trip invariant
(BASELINE.json input_hint: per-row token-array equality) and the
decode inside the parse operator."""

from __future__ import annotations

import pandas as pd
import pytest

from pysyslog.gen import GEN_NOW_EPOCH
from pysyslog.options import ParserOptions
from pysyslog.parser import parse_syslog
from pysyslog.tokens import decode_tokens, roundtrip_violations

SCHEMA = "doc_id string, tokens array<int>"


def _tok(s: str):
    return list(s.encode("utf-8"))


def test_detokenize_and_roundtrip(spark):
    lines = [
        "May 19 22:03:29 janus sshd[10173]: session opened",
        "<163>Jul 26 15:50:14 h prog: unicode ü☃ payload",
        "",
    ]
    rows = [(f"d{i}", _tok(s), len(_tok(s)), "t") for i, s in enumerate(lines)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    out = parse_syslog(df, "tokens", ParserOptions(now_epoch=GEN_NOW_EPOCH))
    assert "message_raw" not in out.columns
    got = [r["raw"] for r in out.orderBy("doc_id").collect()]
    assert got == lines
    assert roundtrip_violations(df).count() == 0


def test_roundtrip_catches_corruption(spark):
    df = spark.createDataFrame(
        [("d0", _tok("abc") + [256 + 120]),   # out of range: no byte
         ("d1", _tok("abc") + [None]),        # null element
         ("d2", _tok("abc"))],
        SCHEMA,
    )
    got = sorted(r["doc_id"] for r in roundtrip_violations(df).collect())
    assert got == ["d0", "d1"]


def _py_decode(t):
    """The line the tokens decode to, each value cast to a byte the way
    decode_tokens' uint8 cast wraps it; None where it cannot decode."""
    try:
        return bytes(v % 256 for v in t).decode("utf-8", "strict")
    except (TypeError, UnicodeDecodeError):  # null element, invalid UTF-8
        return None


@pytest.mark.parametrize("tokens,violations", [
    ([104, 105], 0),
    ([], 0),
    (None, 0),
    ([300], 1),
    ([360, 105], 1),
    ([104, None], 1),
    ([-1], 1),
    ([451], 1),
    ([0xC3], 0),                     # truncated sequence
    ([0xED, 0xA0, 0x80], 0),         # encoded surrogate
    ([0xF4, 0x90, 0x80, 0x80], 0),   # above U+10FFFF
])
def test_roundtrip_predicate_edge_cases(spark, tokens, violations):
    df = spark.createDataFrame([("d0", tokens)], SCHEMA)
    bad = roundtrip_violations(df)
    assert bad.count() == violations
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    if tokens is None:
        return
    line = _py_decode(tokens)
    if line is not None:
        # where the tokens decode, the predicate is the round trip
        assert violations == int(_tok(line) != tokens)
    elif None not in tokens and all(0 <= v <= 255 for v in tokens):
        # in-range invalid UTF-8 is the parse UDF's failure, not a
        # violation: the one decoder rejects it
        with pytest.raises(UnicodeDecodeError):
            decode_tokens(pd.Series([tokens]))

"""Streaming parse + watermarked hourly aggregate smoke test."""

from __future__ import annotations

import json
import time


def test_streaming_parse_and_watermarked_agg(spark, tmp_path):
    from pysyslog import ParserOptions
    from pysyslog.streaming import hourly_counts_stream, parse_stream

    src = tmp_path / "in"
    src.mkdir()
    lines = [
        "<11>Jun  1 10:00:01 h1 sshd[1]: a",
        "<11>Jun  1 10:30:02 h1 sshd[2]: b",
        "<13>Jun  1 11:00:03 h2 cron[3]: c",
        "<11>Jun  1 09:00:04 h1 sshd[4]: late but within watermark",
    ]
    with open(src / "b0.json", "w") as fh:
        for l in lines:
            fh.write(json.dumps({"raw": l}) + "\n")

    stream = spark.readStream.schema("raw string").json(str(src))
    parsed = parse_stream(
        stream, ParserOptions(now_epoch=1543622400.0)
    )
    agg = hourly_counts_stream(parsed, watermark="10 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (str(r["hour"]), r["facility"], r["priority"]): r["count"]
        for r in spark.sql("select * from hourly").collect()
    }
    assert rows[("2018-06-01 10:00:00", "user", "err")] == 2
    assert rows[("2018-06-01 11:00:00", "user", "notice")] == 1
    assert rows[("2018-06-01 09:00:00", "user", "err")] == 1


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the reassembly
    transition function."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_reassembly_timeout_keeps_record_counter():
    """After a timeout flush, later records for the same source must
    continue record_no (append-mode output would otherwise repeat
    keys)."""
    import pandas as pd

    from pysyslog.streaming import make_reassemble_fn

    fn = make_reassemble_fn(1000)
    # batch 1: two complete records + one pending buffer
    st = _FakeState()
    out1 = list(fn(("s1",), [pd.DataFrame({
        "line_no": [1, 2, 3],
        "line": ["rec one", "rec two", "rec three pending"],
    })], st))
    assert out1[0]["record_no"].tolist() == [1, 2]
    assert st.get == ("rec three pending", 2)

    # timeout fires: pending buffer flushes as record 3, state KEEPS
    # the counter (not removed)
    st.hasTimedOut = True
    out2 = list(fn(("s1",), [], st))
    assert out2[0]["record_no"].tolist() == [3]
    assert not st.removed
    assert st.get == ("", 3)
    assert st.timeout_set == 1000

    # batch 2 after the flush: a record emits only once terminated by
    # the next head line — and numbering continues at 4, not 1
    st.hasTimedOut = False
    out3 = list(fn(("s1",), [pd.DataFrame({
        "line_no": [4, 5],
        "line": ["rec four", "  continuation"],
    })], st))
    assert out3 == []
    assert st.get == ("rec four\n  continuation", 3)
    out4 = list(fn(("s1",), [pd.DataFrame({
        "line_no": [6], "line": ["rec five"],
    })], st))
    assert out4[0]["record_no"].tolist() == [4]
    assert out4[0]["raw"].tolist() == ["rec four\n  continuation"]
    assert st.get == ("rec five", 4)

    # a second consecutive idle timeout removes the state entirely —
    # per-source state must be bounded for high-cardinality ephemeral
    # sources (documented trade: numbering restarts after 2 idle
    # periods)
    st.hasTimedOut = True
    st.update(("", 4))
    assert list(fn(("s1",), [], st)) == []
    assert st.removed


def test_streaming_reassembly_real_stream(spark, tmp_path):
    """reassemble_stream through a REAL Structured Streaming query
    (file source → applyInPandasWithState → memory sink), not just the
    mock-GroupState transition tests below: completed records emit in
    per-source order, and the processing-time timeout flushes each
    source's pending buffer — exactly the reference's final no-arg
    drain (Line.pm:1062-1065).  The availableNow query does not stop by
    itself while timers are armed, so the test waits for the four
    records and then stops it."""
    from pysyslog.streaming import reassemble_stream

    src = tmp_path / "rin"
    src.mkdir()
    rows = [
        {"source": "s1", "line_no": 1, "line": "May 19 22:03:29 h a: first"},
        {"source": "s1", "line_no": 2, "line": "  continuation one"},
        {"source": "s1", "line_no": 3, "line": "May 19 22:03:30 h a: second"},
        {"source": "s2", "line_no": 1, "line": "May 19 22:03:31 h b: other"},
        {"source": "s2", "line_no": 2, "line": "May 19 22:03:32 h b: tail"},
    ]
    with open(src / "b0.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema(
        "source string, line_no long, line string"
    ).json(str(src))
    # short timers: the two pending buffers flush 2 s after the data
    rec = reassemble_stream(stream, timeout_ms=2_000)
    q = (
        rec.writeStream.format("memory")
        .queryName("reasm_multi")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "rck"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.monotonic() + 180
    try:
        while (q.isActive and time.monotonic() < deadline
               and spark.table("reasm_multi").count() < 4):
            time.sleep(0.5)
    finally:
        q.stop()
    got = {(r["source"], r["record_no"]): r["raw"]
           for r in spark.sql("select * from reasm_multi").collect()}
    assert got == {
        ("s1", 1): "May 19 22:03:29 h a: first\n  continuation one",
        ("s1", 2): "May 19 22:03:30 h a: second",   # timeout-flushed
        ("s2", 1): "May 19 22:03:31 h b: other",
        ("s2", 2): "May 19 22:03:32 h b: tail",     # timeout-flushed
    }

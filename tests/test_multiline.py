"""Multi-line reassembly: core generator, batch window operator, and
the streaming stateful operator — all against the reference buffer
semantics (Line.pm:1044-1070)."""

from __future__ import annotations

from pysyslog import ParserOptions, SyslogParser, parse_syslog_lines
from pysyslog.goldens import GOLDEN_NOW_EPOCH
from pysyslog.multiline import parse_multiline, reassemble

OPTS = ParserOptions(now_epoch=GOLDEN_NOW_EPOCH)

LINES = [
    "May 19 22:03:29 janus sshd[10173]: error follows",
    "  java.lang.RuntimeException: boom",
    "\tat com.example.Main(Main.java:1)",
    "May 19 22:03:30 janus sshd[10173]: second record",
    "May 19 22:03:31 janus cron[1]: third",
]


def test_core_buffer_semantics():
    p = SyslogParser(OPTS)
    recs, buf = parse_syslog_lines(["\n".join(LINES)], p)
    # first flush is the empty initial buffer (reference behavior)
    recs2, buf = parse_syslog_lines(None, p, _buffer=buf)
    all_recs = recs + recs2
    contents = [r.get("message") for r in all_recs]
    assert contents[0] == ""  # initial empty buffer flushed first
    assert "error follows" in all_recs[1]["message_raw"]
    assert "RuntimeException" in all_recs[1]["message_raw"]
    assert all_recs[2]["content"] == "second record"
    assert all_recs[3]["content"] == "third"


def test_batch_reassemble(spark):
    rows = [("s1", i, l) for i, l in enumerate(LINES)]
    rows += [("s2", 0, "  orphan continuation"), ("s2", 1, "May 19 22:03:29 h p: x")]
    df = spark.createDataFrame(rows, "source string, line_no long, line string")
    recs = {
        (r["source"], r["record_no"]): r["raw"]
        for r in reassemble(df).collect()
    }
    assert recs[("s1", 1)] == "\n".join(LINES[0:3])
    assert recs[("s1", 2)] == LINES[3]
    assert recs[("s1", 3)] == LINES[4]
    # orphan continuation before any record start is dropped
    assert ("s2", 0) not in recs
    assert recs[("s2", 1)] == "May 19 22:03:29 h p: x"


def test_parse_multiline_records(spark):
    df = spark.createDataFrame(
        [("s1", i, l) for i, l in enumerate(LINES)],
        "source string, line_no long, line string",
    )
    parsed = {r["record_no"]: r for r in parse_multiline(df, OPTS).collect()}
    assert parsed[1]["program_name"] == "sshd"
    assert "RuntimeException" in parsed[1]["content"]
    assert parsed[3]["program_name"] == "cron"


# \f-, \v- and \r-led lines continue a record under Java's \s; an
# NBSP-led line starts one (Java's \s is ASCII-only)
ODD_WS_LINES = [
    "May 19 22:03:29 janus sshd[1]: one",
    "\fformfeed continuation",
    "\x0bvtab continuation",
    "\rcr continuation",
    "May 19 22:03:30 janus sshd[1]: two",
    "\u00a0nbsp-led line",
    "May 19 22:03:31 janus cron[1]: three",
]


def test_streaming_and_batch_reassembly_agree_on_continuations(spark):
    """The streaming transition function and the batch window split
    records on the same continuation rule: Java's regex whitespace."""
    import pandas as pd
    from test_streaming_agg import _FakeState

    from pysyslog.streaming import make_reassemble_fn

    df = spark.createDataFrame(
        [("s1", i, l) for i, l in enumerate(ODD_WS_LINES)],
        "source string, line_no long, line string",
    )
    batch = [r["raw"] for r in reassemble(df).orderBy("record_no").collect()]

    fn = make_reassemble_fn(1000)
    st = _FakeState()
    lines = pd.DataFrame({"line_no": range(len(ODD_WS_LINES)), "line": ODD_WS_LINES})
    out = list(fn(("s1",), [lines], st))
    # the timeout flushes the record still buffered
    st.hasTimedOut = True
    out += list(fn(("s1",), [], st))
    streamed = [raw for pdf in out for raw in pdf["raw"]]

    assert streamed == batch
    assert len(batch) == 4
    assert batch[0] == "\n".join(ODD_WS_LINES[:4])


def test_streaming_reassembly(spark, tmp_path):
    import json
    import time

    from pysyslog.streaming import reassemble_stream

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    with open(src_dir / "batch0.json", "w") as fh:
        for i, l in enumerate(LINES):
            fh.write(json.dumps({"source": "s1", "line_no": i, "line": l}) + "\n")

    stream = (
        spark.readStream.schema("source string, line_no long, line string")
        .json(str(src_dir))
    )
    out = reassemble_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("reasm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # the availableNow query does not stop by itself while the buffered
    # third record's timer is armed: wait for the two completed records
    deadline = time.monotonic() + 120
    try:
        while (q.isActive and time.monotonic() < deadline
               and spark.table("reasm").count() < 2):
            time.sleep(0.5)
    finally:
        q.stop()
    rows = {r["record_no"]: r["raw"] for r in spark.sql("select * from reasm").collect()}
    # the last record stays buffered until timeout — first two flush
    assert rows[1] == "\n".join(LINES[0:3])
    assert rows[2] == LINES[3]


def test_parallel_reassemble_matches_windowed_on_one_giant_source(spark):
    """r5 verdict #4: a single giant source must (a) split across >1
    window task and (b) produce records — record_no included — identical
    to the serial windowed form, with records that span chunk
    boundaries (including a record longer than a whole chunk, whose
    middle chunk contains NO record start) stitched exactly."""
    import random

    from pysyslog.multiline import reassemble_parallel

    rng = random.Random(7)
    rows = []
    for i in range(600):
        if i == 0 or (i % 10 not in (3, 4) and rng.random() > 0.3):
            rows.append(("giant", i, f"May 19 22:03:29 h p: rec {i}"))
        else:
            rows.append(("giant", i, f"  cont {i}"))
    # one record spanning several whole chunks: a start followed by 25
    # continuations with chunk_rows=10 below -> two all-continuation
    # chunks in the middle
    rows.append(("giant", 600, "May 19 22:03:30 h p: long record"))
    rows += [("giant", 601 + j, f"\tstack {j}") for j in range(25)]
    rows.append(("giant", 626, "May 19 22:03:31 h p: after"))
    # a second source with a leading orphan continuation (grp-0 drop)
    rows += [("tiny", 0, "  orphan"), ("tiny", 1, "May 19 22:03:29 h p: x")]
    df = spark.createDataFrame(
        rows, "source string, line_no long, line string").repartition(8)

    serial = {(r["source"], r["record_no"]): r["raw"]
              for r in reassemble(df).collect()}
    par = reassemble_parallel(df, chunk_rows=10)
    got = {(r["source"], r["record_no"]): r["raw"] for r in par.collect()}
    assert got == serial and len(got) > 100
    assert ("tiny", 0) not in got

    # the window stage is partitioned by (source, chunk): >1 task per
    # giant source (the plan carries __chunk in the window spec)
    plan = par._jdf.queryExecution().executedPlan().toString()
    assert "__chunk" in plan


def test_reassemble_parallel_rejects_bad_chunk_rows(spark):
    """chunk_rows < 1 must raise at construction (ADVICE r6): a
    non-positive chunk size would NULL the chunk key and silently
    return an empty frame instead of erroring."""
    import pytest as _pytest

    from pysyslog.multiline import reassemble_parallel

    df = spark.createDataFrame(
        [("s", 1, "a line")], "source string, line_no long, line string")
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="chunk_rows"):
            reassemble_parallel(df, chunk_rows=bad)

"""Structured Streaming surface: streaming parse, stateful multi-line
reassembly, and watermarked windowed aggregation.

⇔ the reference's streaming entry point parse_syslog_lines
(Line.pm:1044-1070) plus the engine-side aggregate.  Mapping:

* parse: the same Arrow-batched UDF works unchanged on streaming
  DataFrames (stateless projection);
* multi-line reassembly: applyInPandasWithState keyed by source —
  exactly the reference's per-stream `$buffer`, but one buffer per key
  with a processing-time timeout flush instead of the caller's manual
  final drain;
* late data: withWatermark on the event-time column before the hourly
  facility×severity window (the reference has no event-time notion —
  its only late-data rule is year inference, which stays in the
  parser).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .multiline import CONTINUATION_LEADS
from .options import ParserOptions
from .parser import parse_syslog

RECORD_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("record_no", LongType()),
        StructField("raw", StringType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("buffer", StringType()), StructField("emitted", LongType())]
)


def make_reassemble_fn(timeout_ms: int = 60_000):
    """State-transition function for streaming reassembly — exposed so
    the timeout/counter semantics are unit-testable against a mock
    GroupState (Spark gives no deterministic way to force a
    processing-time timeout inside a test)."""
    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        source = key[0]
        if state.hasTimedOut:
            (buffer, emitted) = state.get
            if buffer:
                # flush: emit the pending record, KEEP the counter (a
                # removed state would restart record_no at 1 — duplicate
                # keys in append mode) and re-arm once so a subsequently
                # idle source still gets cleaned up
                emitted += 1
                state.update(("", emitted))
                state.setTimeoutDuration(timeout_ms)
                yield pd.DataFrame(
                    {"source": [source], "record_no": [emitted], "raw": [buffer]}
                )
            else:
                # second consecutive idle timeout: drop the state — at
                # scale, sources are high-cardinality and ephemeral, so
                # per-source state must be bounded.  Documented trade:
                # a source idle for >= 2 timeout periods restarts its
                # record_no numbering.
                state.remove()
            return
        buffer, emitted = state.get if state.exists else ("", 0)
        records = []
        for pdf in pdfs:
            pdf = pdf.sort_values("line_no")
            for line in pdf["line"]:
                if line is None:
                    continue
                if line.startswith(CONTINUATION_LEADS):
                    buffer = (buffer + "\n" + line) if buffer else line
                else:
                    if buffer:
                        records.append(buffer)
                    buffer = line
        emitted_new = emitted + len(records)
        state.update((buffer, emitted_new))
        state.setTimeoutDuration(timeout_ms)
        if records:
            yield pd.DataFrame(
                {
                    "source": [source] * len(records),
                    "record_no": list(range(emitted + 1, emitted_new + 1)),
                    "raw": records,
                }
            )

    return fn


def reassemble_stream(lines: DataFrame, timeout_ms: int = 60_000) -> DataFrame:
    """Stateful streaming reassembly of (source, line_no, line) into
    logical records.  State per source = the pending record buffer
    (⇔ the module-level $buffer, Line.pm:1045); a processing-time
    timeout drains it (⇔ the final no-arg call, Line.pm:1062-1065).

    Scale contract (shared with the batch form, pysyslog/multiline.py):
    one source = one ordered stream = one state partition — parallelism
    comes from the number of sources, never from within one source,
    because a continuation line is only meaningful relative to the
    record started on its own stream."""
    return lines.groupBy("source").applyInPandasWithState(
        make_reassemble_fn(timeout_ms),
        outputStructType=RECORD_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def parse_stream(lines: DataFrame, options: ParserOptions,
                 raw_col: str = "raw") -> DataFrame:
    """Stateless streaming parse — identical operator to batch."""
    return parse_syslog(lines, raw_col, options)


def hourly_counts_stream(parsed: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked facility×severity×hour streaming aggregate; late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").start.alias("hour"),
            F.col("facility"),
            F.col("priority"),
        )
        .count()
    )

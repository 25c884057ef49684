"""Multi-line record reassembly (batch form).

⇔ parse_syslog_lines (Line.pm:1044-1070): lines starting with
whitespace are continuations of the previous record; a record flushes
when a non-whitespace-led line arrives.

Distributed mapping (SURVEY.md §2.2): a running-sum window assigns a
record group id — `grp = sum(is_record_start) OVER (PARTITION BY source
ORDER BY line_no)` — then records are `\n`-joins of each group's lines
in order.  The window partitions by source/file, so parallelism is
per-source (bounded state, no global ordering).  The streaming version
lives in pysyslog.streaming.

Scale contract: in `reassemble`, ONE source serializes into ONE task —
per-source line ordering is the semantics (a continuation line belongs
to the record started on ITS stream).  Throughput scales with the
NUMBER of sources, which in a real log estate is large (hosts ×
files).  For the degenerate single-giant-source case,
`reassemble_parallel` splits each source into line-number chunks and
decomposes the running-sum group id exactly (per-chunk window + a
broadcast of per-chunk record-start offsets), so the window stage runs
one task per CHUNK and the final (source, grp) hash shuffle stitches
chunk-spanning records — identical output, including record_no.
The streaming version (pysyslog/streaming.py) keeps the per-source
contract via its groupBy("source") state partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .options import ParserOptions
from .parser import parse_syslog


# the characters Java's regex \s matches — the rule `_is_start`'s ^\s
# applies; the streaming reassembly tests line heads against the same set
CONTINUATION_LEADS = (" ", "\t", "\n", "\x0b", "\f", "\r")


def _is_start(line_col: str):
    # any non-whitespace-led line starts a record ⇔ Line.pm:1051-1053
    return (~F.col(line_col).rlike(r"^\s")).cast("long")


def _records_from_groups(grouped: DataFrame, source_col: str,
                         line_no_col: str, line_col: str) -> DataFrame:
    """(source, __grp, line_no, line) -> (source, record_no, raw).
    __grp == 0 -> leading continuation lines with no record start: the
    reference leaves them in its buffer forever; we drop them."""
    return (
        grouped.filter(F.col("__grp") > 0)
        .groupBy(source_col, "__grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(line_no_col).alias("n"),
                                                F.col(line_col).alias("l")))
                    ),
                    lambda s: s["l"],
                ),
                "\n",
            ).alias("raw")
        )
        .withColumnRenamed("__grp", "record_no")
    )


def reassemble(
    df: DataFrame,
    source_col: str = "source",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """lines(source, line_no, line) -> records(source, record_no, raw)."""
    w = (
        Window.partitionBy(source_col)
        .orderBy(line_no_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = df.withColumn("__grp", F.sum(_is_start(line_col)).over(w))
    return _records_from_groups(grouped, source_col, line_no_col, line_col)


def reassemble_parallel(
    df: DataFrame,
    source_col: str = "source",
    line_no_col: str = "line_no",
    line_col: str = "line",
    chunk_rows: int = 100_000,
) -> DataFrame:
    """`reassemble` for the giant-source degenerate case (r5 verdict
    #4): identical output — including record_no — with the window stage
    running one task per (source, line-number CHUNK) instead of one per
    source.

    The global group id `sum(is_start) OVER (source ORDER BY line_no)`
    decomposes exactly: chunk = floor(line_no / chunk_rows) is monotone
    in line_no, so grp = (record starts in earlier chunks) + (running
    starts within this chunk).  The first term is a per-chunk total —
    one row per chunk, aggregated small and broadcast back — so no
    chunk ever waits on another's scan.  A record that spans chunk
    boundaries (its continuations fall in later chunks, where they see
    zero local starts and inherit the offset) gets the SAME grp in
    every fragment, and the downstream (source, grp) hash shuffle of
    the group-assembly stage stitches it with no special casing — even
    a record spanning many whole chunks.  Leading continuations of the
    whole source get grp 0 and are dropped, exactly like `reassemble`.

    Size chunk_rows so the offsets side stays broadcastable: it holds
    ONE row per (source, chunk), so at 10^12 lines the 100k default
    yields 10^7 tiny rows (~100 MB) — raise chunk_rows if the line
    count per giant source grows past that.  The offsets window itself
    runs over those same tiny rows, never the data.

    Input contract: line_no must be NOT NULL (both variants already
    assume a total per-source order; here a NULL line_no would get a
    NULL __chunk and be dropped by the inner offsets join, where the
    serial form's window null-ordering keeps it — so NULL line numbers
    are out of contract for BOTH, per the r6 ADVICE note).
    """
    if chunk_rows < 1:
        # fail at construction, not silently at scale (ADVICE r6):
        # chunk_rows <= 0 makes line_no/chunk_rows NULL under non-ANSI
        # division, the NULL __chunk key matches nothing in the inner
        # offsets join, and the function would return an empty frame
        raise ValueError(f"chunk_rows must be >= 1, got {chunk_rows}")
    start = _is_start(line_col)
    chunked = df.withColumn(
        "__chunk", F.floor(F.col(line_no_col) / F.lit(chunk_rows)))
    w_in = (
        Window.partitionBy(source_col, "__chunk")
        .orderBy(line_no_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = chunked.groupBy(source_col, "__chunk").agg(
        F.sum(start).alias("__starts"))
    w_prev = (
        Window.partitionBy(source_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        source_col, "__chunk",
        F.coalesce(F.sum("__starts").over(w_prev), F.lit(0)).alias("__off"),
    )
    grouped = (
        chunked.withColumn("__lgrp", F.sum(start).over(w_in))
        .join(F.broadcast(offsets), [source_col, "__chunk"])
        .withColumn("__grp", F.col("__lgrp") + F.col("__off"))
    )
    return _records_from_groups(grouped, source_col, line_no_col, line_col)


def parse_multiline(
    df: DataFrame,
    options: ParserOptions,
    source_col: str = "source",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    return parse_syslog(reassemble(df, source_col, line_no_col, line_col),
                        "raw", options)

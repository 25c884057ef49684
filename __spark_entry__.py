"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (parse stages,
enrich/route/aggregate engine ops, and the training-data operators:
dedup / similarity / text analysis).  For the parse-surface checks the
input lines are synthesized *inside the query* from the driver's
``events`` table with deterministic SQL-expressible rules, so the DuckDB
oracle can compute the expected parse output directly from the source
columns while Spark runs the real parser UDF — making the parser itself
oracle-gated, not just the relational ops.

Column names are aliased identically on both sides (driver hashes after
sorting columns by name).  Float-valued aggregates are integerized
(cast(x*100 as bigint)) so cross-engine value hashes are exact.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from pysyslog.dedup import exact_dedup, minhash_signatures
from pysyslog.enrich import enrich
from pysyslog.gen import GEN_NOW_EPOCH
from pysyslog.multiline import reassemble
from pysyslog.options import ParserOptions
from pysyslog.parser import parse_syslog
from pysyslog.similarity import brute_force_topk
from pysyslog.tables import INT_FACILITY, INT_PRIORITY
from pysyslog.textops import (
    STOPWORDS,
    with_lang_id,
    with_md5_fingerprint,
    with_quality_score,
    with_token_stats,
)

OPTS = ParserOptions(
    now_epoch=GEN_NOW_EPOCH,
    auto_detect_json=True,
    auto_detect_key_values=True,
)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pin the session timezone so timestamp truncation/rendering matches
    # the (timezone-naive) DuckDB oracle regardless of driver defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fan(df: DataFrame) -> DataFrame:
    """Spread an unsplittable scan across the cluster before an
    expensive per-row operator (optimization guide §2.5, input skew).

    The driver tables are single-row-group parquet files, and a parquet
    split can't cut inside a row group — so no matter what
    maxPartitionBytes says, the scan yields ONE partition and every
    downstream Arrow/pandas UDF runs on one core (measured: parse_pri
    spent 1.7s of its 2.3s in a single-task ArrowEvalPython stage).
    An explicit round-robin repartition is the only way the work fans
    out; it is sized from the session's parallelism (scale-adaptive,
    never a constant) and shuffles only the few narrow columns the
    query projects.  It is not free on other input: on a multi-file
    scan that already yields enough partitions, the round-robin
    repartition is still a full extra exchange of every projected
    column, all rows written to and read back from shuffle files."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# --------------------------------------------------------------------------
# synthesized syslog lines from `events` (SQL-derivable ground truth)
# --------------------------------------------------------------------------

def _pri_lines(spark, sf_dir, fan: bool = False):
    ev = _read(spark, sf_dir, "events")
    if fan:
        # project to the three used columns FIRST so the fan-out
        # shuffle carries ~24 bytes/row, then synthesize the line on
        # the fanned partitions (line concat + parse UDF both parallel)
        ev = _fan(ev.select("event_id", "user_id", "event_type"))
    pri = (F.col("event_id") % 192).cast("int")
    line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">Jun  1 12:00:00 host"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(" prog"), (F.col("event_id") % 10).cast("string"),
        F.lit("["), F.col("event_id").cast("string"), F.lit("]: msg "),
        F.col("event_type"),
    )
    return ev.select("event_id", line.alias("raw"))


def q_parse_pri(spark, sf_dir):
    # fan the events scan across cores before line synthesis and the
    # parse UDF: the scan is one unsplittable row group (see _fan)
    df = parse_syslog(_pri_lines(spark, sf_dir, fan=True), "raw", OPTS)
    return df.select(
        "event_id",
        F.col("preamble"),
        F.col("priority_int"),
        F.col("facility_int"),
        F.col("priority"),
        F.col("facility"),
        F.col("host"),
        F.col("program_name"),
        F.col("program_pid").cast("long").alias("program_pid"),
        F.col("content"),
    )


def q_parse_iso_time(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss+00:00"),
        F.lit(" host"), (F.col("user_id") % 50).cast("string"),
        F.lit(" app[7]: event "), F.col("event_type"),
    )
    parsed = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return parsed.select(
        "event_id", "date", "time", "tz", "epoch", "datetime_utc",
    )


def q_parse_kv(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    line = F.concat(
        F.lit("Jun  1 12:00:00 host1 app: audit user=u"),
        (F.col("user_id")).cast("string"),
        F.lit(" type="), F.col("event_type"),
        F.lit(" cents="), cents.cast("string"),
    )
    parsed = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return parsed.select(
        "event_id",
        parsed["sdata"]["user"].alias("kv_user"),
        parsed["sdata"]["type"].alias("kv_type"),
        parsed["sdata"]["cents"].cast("long").alias("kv_cents"),
    )


def _multiline_lines(ev):
    return ev.select(
        F.concat(F.lit("f"), (F.col("user_id") % 4).cast("string")).alias("source"),
        F.col("event_id").alias("line_no"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("  cont "), F.col("event_id").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("Jun  1 12:00:00 h"), (F.col("user_id") % 9).cast("string"),
                F.lit(" prog: m"), F.col("event_id").cast("string"),
            )
        )
        .alias("line"),
    )


def q_multiline_reassembly(spark, sf_dir):
    lines = _multiline_lines(_read(spark, sf_dir, "events"))
    # pre-cluster by source with a PINNED partition count: the window's
    # own exchange (hashpartitioning(source, shuffle.partitions)) gets
    # AQE-coalesced to a single task at this input size (4 sources ×
    # ~1.5 MB), serializing window + group assembly; a user repartition
    # with an explicit count is exempt from coalescing, satisfies the
    # window's ClusteredDistribution(source), and the downstream
    # (source, grp) aggregate reuses it too — same single exchange as
    # before, now actually parallel across the sources (guide §2.4/§2.5)
    n = spark.sparkContext.defaultParallelism
    return reassemble(lines.repartition(n, "source")).select(
        "source", "record_no", "raw")


def q_multiline_parallel(spark, sf_dir):
    """Intra-source parallel reassembly (pysyslog/multiline.py
    reassemble_parallel, r5 verdict #4): same lines, same oracle SQL as
    multiline_reassembly — the output must be invariant to the chunked
    window decomposition, chunk-spanning records included.  chunk_rows
    is set well below the per-source line count so the chunking is real
    at every SF the driver runs."""
    from pysyslog.multiline import reassemble_parallel

    lines = _multiline_lines(_read(spark, sf_dir, "events"))
    return reassemble_parallel(lines, chunk_rows=512).select(
        "source", "record_no", "raw")


# --------------------------------------------------------------------------
# parse-stage oracles: SDATA / JSON / Cisco / NetApp / relay / dates / prune
# (each synthesizes lines from `events` so DuckDB predicts the parse output)
# --------------------------------------------------------------------------

OPTS_STRICT = OPTS.with_(rfc5424_strict=True)
OPTS_PRUNE = OPTS.with_(prune_raw=True, prune_empty=True,
                        prune_fields=("content", "tz"))
OPTS_TIMEFMT = OPTS.with_(time_format="%Y/%m/%d %H.%M.%S%z")


def _fmtdate_hook(datetime_raw: str):
    """FmtDate-style hook (⇔ $FmtDate, Line.pm:33/:761-763): constant
    output so the oracle is a constant; date/time re-derive from the
    returned datetime_str exactly like the reference's re-split."""
    return ("ignored-date", "ignored-time", "1234.5", "2020-02-02T10:20:30+0500")


OPTS_FMTDATE = OPTS.with_(fmt_date=_fmtdate_hook)

def _eid():
    return F.col("event_id").cast("string")


def _h9():
    return F.concat(F.lit("h"), (F.col("user_id") % 9).cast("string"))


def q_parse_sdata_strict(spark, sf_dir):
    """RFC5424 strict SDATA (⇔ Line.pm:921-934): [SDID@PEN k="v" ...]
    consumed from content head, dotted map keys, quotes trimmed."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit("<13>Jun  1 12:00:00 "), _h9(), F.lit(" app["), _eid(),
        F.lit(']: [exampleSDID@32473 iut="'), (F.col("event_id") % 10).cast("string"),
        F.lit('" eventSource="src '), F.col("event_type"),
        F.lit('" eventID="'), _eid(), F.lit('"] done '), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS_STRICT)
    return p.select(
        "event_id",
        p["sdata"]["exampleSDID@32473.iut"].cast("long").alias("sd_iut"),
        p["sdata"]["exampleSDID@32473.eventSource"].alias("sd_source"),
        p["sdata"]["exampleSDID@32473.eventID"].cast("long").alias("sd_event"),
        "content",
    )


def q_parse_sdata_loose(spark, sf_dir):
    """Loose RFC5424-ish SDATA (⇔ Line.pm:935-956): [group k=v ...]
    excised from content, group-dotted keys, values unquoted."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit("Jun  1 12:00:00 "), _h9(), F.lit(' app: error [session k1="v'),
        (F.col("user_id")).cast("string"), F.lit('" count='),
        (F.col("event_id") % 100).cast("string"), F.lit("] tail"), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id",
        p["sdata"]["session.k1"].alias("sd_k1"),
        p["sdata"]["session.count"].cast("long").alias("sd_count"),
        "content",
    )


def q_parse_json_tail(spark, sf_dir):
    """JSON tail detect (⇔ Line.pm:958-972): valid JSON merges into
    SDATA; malformed JSON sets _json_error and leaves SDATA null."""
    ev = _read(spark, sf_dir, "events")
    good = F.concat(
        F.lit("Jun  1 12:00:00 "), _h9(), F.lit(" app["), _eid(),
        F.lit(']: status {"code":'), (F.col("event_id") % 500).cast("string"),
        F.lit(',"ok":true,"name":"'), F.col("event_type"), F.lit('"}'),
    )
    bad = F.concat(
        F.lit("Jun  1 12:00:00 "), _h9(), F.lit(" app["), _eid(),
        F.lit("]: status {broken "), _eid(),
    )
    line = F.when(F.col("event_id") % 5 == 0, bad).otherwise(good)
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id",
        p["sdata"]["code"].cast("long").alias("js_code"),
        p["sdata"]["ok"].alias("js_ok"),
        p["sdata"]["name"].alias("js_name"),
        F.col("_json_error").isNotNull().alias("json_failed"),
        "content",
    )


def q_parse_cisco_ntp(spark, sf_dir):
    """Cisco sequence + second timestamp + NTP flag (⇔ Line.pm:859-872):
    '' -> ok, '*' -> not configured, '.' -> out of sync."""
    ev = _read(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_id") % 3 == 1, F.lit("*"))
        .when(F.col("event_id") % 3 == 2, F.lit("."))
        .otherwise(F.lit(""))
    )
    line = F.concat(
        F.lit("<189>Jun  1 12:00:00 "), _h9(), F.lit(" "),
        (F.col("event_id") % 900000).cast("string"), F.lit(": "), flag,
        F.lit("Jun  1 12:00:01: %FOO-5-BAR: msg "), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select("event_id", "ntp", "program_name", "content")


def q_parse_netapp(spark, sf_dir):
    """NetApp tag form (⇔ Line.pm:897-909): [host prog:level]: msg —
    program from the tag, level fills priority when PRI is absent."""
    ev = _read(spark, sf_dir, "events")
    level = (
        F.when(F.col("event_id") % 4 == 0, F.lit("notice"))
        .when(F.col("event_id") % 4 == 1, F.lit("warn"))
        .when(F.col("event_id") % 4 == 2, F.lit("err"))
        .otherwise(F.lit("info"))
    )
    na = F.concat(F.lit("na"), (F.col("user_id") % 9).cast("string"))
    line = F.concat(
        F.lit("Jun  1 12:00:00 "), na, F.lit(" ["), na,
        F.lit(" raid.disk.online:"), level, F.lit("]: Disk "),
        (F.col("event_id") % 24).cast("string"), F.lit(" online"),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id", "program_raw", "program_name", "priority",
        F.col("priority_int").cast("int").alias("priority_int"), "content",
    )


def q_parse_relay(spark, sf_dir):
    """Relayed-log origin detection (⇔ Line.pm:852-856): second
    timestamp + relay host captured as origin/origin_date."""
    ev = _read(spark, sf_dir, "events")
    ms = F.lpad((F.col("event_id") % 1000).cast("string"), 3, "0")
    line = F.concat(
        F.lit("<14>1 2023-06-01T12:00:00+00:00 gw"),
        (F.col("user_id") % 9).cast("string"),
        F.lit(" 1 2023-06-01T12:00:05."), ms, F.lit("Z relay"),
        (F.col("event_id") % 20).cast("string"), F.lit(" app: alert "), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id", "version", "origin", "origin_date", "host",
        "program_name", "datetime_raw", "content",
    )


def q_parse_hyphen_program(spark, sf_dir):
    """RFC5424-ish ' -' program separator (⇔ Line.pm:878 RE_PROGRAM's
    (:|\\s-) alternative): the tag splits from content at the
    rightmost ws-hyphen-ws when no colon exists, message keeps the
    matched separator, and the trailing [sdid k="v"] group is spliced
    into SDATA by the loose stage."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit("<165>1 2023-06-01T12:00:00Z "), _h9(),
        F.lit(" APP-"), (F.col("event_id") % 7).cast("string"),
        F.lit(" - EVENT_"), (F.col("event_id") % 5).cast("string"),
        F.lit(' [exampleSDID@32473 iut="'),
        (F.col("event_id") % 10).cast("string"), F.lit('"]'),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id", "version", "program_name", "content", "message",
        "sdata_json",
    )


def q_parse_bsd_year(spark, sf_dir):
    """BSD date fields + year inference (⇔ Line.pm:766-803): dates past
    `now` (pinned 2018-12-01) roll back to the previous year."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.when(F.col("event_id") % 2 == 0, F.lit("Jun  1 07:08:09 "))
        .otherwise(F.lit("Dec 15 23:59:59 ")),
        _h9(), F.lit(" app: m"), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select("event_id", "date", "time", "epoch", "datetime_utc", "tz")


def q_parse_prune(spark, sf_dir):
    """Prune semantics (⇔ Line.pm:999-1009): PruneRaw drops *_raw keys,
    PruneFields drops named keys; message is assembled BEFORE pruning."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit("Jun  1 12:00:00 "), _h9(), F.lit(" app: ok "), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS_PRUNE)
    return p.select(
        "event_id", "message_raw", "program_raw", "host_raw", "content",
        "tz", "message", "program_name", "host",
    )


def q_parse_guard(spark, sf_dir):
    """Non-syslog whitespace guard (⇔ Line.pm:716): lines starting with
    whitespace yield message_raw only — every parsed field stays null."""
    ev = _read(spark, sf_dir, "events")
    line = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("\tcontinuation "), _eid()),
    ).otherwise(
        F.concat(F.lit("Jun  1 12:00:00 "), _h9(), F.lit(" app: m"), _eid())
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS)
    return p.select(
        "event_id", "message_raw", "host", "program_name", "content", "epoch",
    )


def q_parse_fmtdate(spark, sf_dir):
    """FmtDate hook (⇔ $FmtDate, Line.pm:761-763): hook output fills
    (date, time, epoch, datetime_str); date/time re-split from the
    returned datetime_str; the normal render path (datetime_utc) is
    bypassed entirely."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.lit("Jun  1 12:00:00 "), _h9(), F.lit(" app: m"), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS_FMTDATE)
    return p.select(
        "event_id", "date", "time", "epoch", "datetime_str", "datetime_utc",
    )


def q_parse_timefmt(spark, sf_dir):
    """TimeMomentFormatString (⇔ Line.pm:34/:814-816): custom strftime
    rendering for datetime_utc/str with the +00:00->Z rewrite; the
    message's own offset (+02:00) is preserved in datetime_str/tz."""
    ev = _read(spark, sf_dir, "events")
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("+02:00 "), _h9(), F.lit(" app: m"), _eid(),
    )
    p = parse_syslog(ev.select("event_id", line.alias("raw")), "raw", OPTS_TIMEFMT)
    return p.select(
        "event_id", "datetime_utc", "datetime_str", "date", "time", "tz",
    )


# --------------------------------------------------------------------------
# engine relational ops
# --------------------------------------------------------------------------

def q_enrich_broadcast(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    sev = spark.createDataFrame(
        sorted((v, k) for k, v in INT_PRIORITY.items()),
        "sev_int int, severity_name string",
    )
    return (
        ev.join(F.broadcast(sev), (F.col("event_id") % 8).cast("int") == F.col("sev_int"))
        .groupBy("severity_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def q_agg_hourly(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return (
        # hour rendered as string: Arrow timestamp units (ns vs µs) differ
        # between engines and break the driver's value hash
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def q_agg_salted(spark, sf_dir):
    """Two-stage salted aggregation — result must equal a plain GROUP BY."""
    ev = _read(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16))
    stage1 = (
        ev.withColumn("__salt", salt)
        .groupBy("user_id", "__salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("pc"),
        )
    )
    return stage1.groupBy("user_id").agg(
        F.sum("pn").alias("n"), F.sum("pc").alias("value_cents")
    )


def q_route_matrix(spark, sf_dir):
    """Routing fan-out matrix: counts per (event_type, severity bucket)."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("severity_bucket", (F.col("event_id") % 8).cast("int"))
        .groupBy("event_type", "severity_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_topk_event_types(spark, sf_dir):
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.col("event_type"))
    return counts.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


def q_tpch_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_nation_orders(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
    )


# --------------------------------------------------------------------------
# training-data ops: dedup / text / similarity
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs).select("keep_id", "dup_count")


def q_token_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return with_token_stats(docs).select("doc_id", "n_words", "n_subwords", "n_chars_m")


def q_quality_score(spark, sf_dir):
    # fan the unsplittable scan: the score is several JVM regexps per
    # row (~50µs/doc) and otherwise runs on one core (see _fan).  The
    # pure-agg/join queries (agg_hourly, tpch_*) are deliberately NOT
    # fanned — measured: their shuffle costs more than the saved
    # single-partition compute (0.25s -> 1.2s for agg_hourly).
    docs = _fan(_read(spark, sf_dir, "documents"))
    return with_quality_score(docs).select(
        "doc_id", "alpha_ratio", "stop_ratio", "quality_score"
    )


def q_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return with_lang_id(docs).select(
        "doc_id", "lang_hits_en", "lang_hits_de", "lang_hits_fr", "lang_pred"
    )


def q_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return with_md5_fingerprint(docs).select("doc_id", "fingerprint")


def q_minhash_signatures(spark, sf_dir):
    # fan the unsplittable documents scan before the signature UDF (see
    # _fan); the operator itself stays a zero-shuffle narrow map — the
    # fan-out lives in the caller, where the input layout is known
    docs = _fan(_read(spark, sf_dir, "documents"))
    return minhash_signatures(docs, num_hashes=4).select(
        "doc_id", "h0", "h1", "h2", "h3"
    )


def q_ann_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=5)
    return top.select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim6"), "rank"
    )


# --------------------------------------------------------------------------
# non-SQL-expressible ops (rows-only driver check)
# --------------------------------------------------------------------------

def q_minhash_near_dups(spark, sf_dir):
    from pysyslog.dedup import minhash_near_dups

    docs = _read(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=0.5)


def q_simhash_near_dups(spark, sf_dir):
    from pysyslog.dedup import simhash_near_dups

    docs = _read(spark, sf_dir, "documents")
    # max_hamming=3 keeps the 4-band pigeonhole guarantee complete, so
    # the DuckDB replay (same banding, same threshold) is an exact oracle
    return simhash_near_dups(docs, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash pairs → connected components
    (min-label propagation); oracled by a DuckDB recursive CTE over the
    same SQL-replayed pair graph."""
    from pysyslog.dedup import near_dup_clusters

    docs = _read(spark, sf_dir, "documents")
    return near_dup_clusters(docs, threshold=0.5).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard on deterministic adjacent-id pairs."""
    from pysyslog.dedup import jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
        )
    )
    j = jaccard_pairs(docs, pairs)
    # inner joins drop pairs whose id_b has no document (max doc_id edge)
    return j.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard6"))


def q_ann_ivf_topk(spark, sf_dir):
    from pysyslog.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4).select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim6"), "rank"
    )


def q_ann_lsh_topk(spark, sf_dir):
    from pysyslog.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, dim=64, n_planes=10).select(
        "query_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim6"), "rank"
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding near-dup pairs, multi-band LSH + exact verify.

    Non-vacuous by construction (r4 verdict #2: the old single-band run
    was 0-vs-0): the corpus is the embeddings table UNIONed with
    deterministic perturbed copies of vec_id < 20 (+0.01 added to every
    float64 component, new id = vec_id + 1000000, cosine ~0.997 to the
    original), so the expected pair set is non-empty at every SF.  The
    oracle SQL builds the identical union and replays the identical
    8-band x 4-bit signature family, so recall itself is gated — and
    this banding also catches sf0.01's one GENUINE pair
    (169, 466, cos 0.5128), which the round-4 single 8-plane signature
    missed (r4 verdict #3)."""
    from pysyslog.similarity import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(0.01)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(pert)
    return embedding_near_dup_pairs(
        corpus, threshold=0.5, dim=64, n_bands=8, rows_per_band=4
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim6"))


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end on synthesized media (payload =
    utf-8 bytes of the document text): binary column handling,
    mapInPandas batch decode (deterministic sha256 stand-in — real
    codecs absent in this container), and the frame-sampling plan.
    Every output is SQL-predictable: byte length, first feature
    component (first 4 digest bytes LE / 2^32 as float32), and frame
    count."""
    from pysyslog.multimodal import extract_features, frame_sample_plan

    docs = _read(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") % 5000).cast("int").alias("duration_ms"),
    )
    feats = extract_features(media, fake=True)
    frames = (
        frame_sample_plan(media, every_ms=1000)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    return feats.join(frames, "media_id").select(
        "media_id", "kind", "n_bytes",
        F.get("feature", 0).alias("f0"),
        "n_frames",
    )


def q_rolling_fingerprint(spark, sf_dir):
    """Winnowing fingerprint over the documents table PLUS a derived
    short-row cohort (first 5 chars of doc_id<50, re-keyed +1e7): every
    fixture text is >= the 8-char window, so without the cohort the
    kernel's short-row branch is never value-hash-gated — and that is
    exactly where a float64-coercion precision bug hid in r5 (pandas
    setitem rounding hashes above 2^53)."""
    from pysyslog.textops import rolling_hash_udf

    docs = _read(spark, sf_dir, "documents")
    short = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.substring("text", 1, 5).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(short)
    return corpus.select(
        "doc_id", rolling_hash_udf()(F.col("text")).alias("rolling_fp")
    )


# gen.py template cohorts whose facility/severity/hour are closed-form
# functions of the row id (no second-timestamp / relay / tag-level
# semantics): the DuckDB oracle replays gen.py's splitmix64 hashing in
# SQL (see _syslog_pipeline_sql) and predicts the aggregate exactly.
# The four excluded templates (bsd_cron, cisco_catalyst, rfc5424_sd,
# netapp) are each value-gated through their dedicated parse queries.
SQL_COHORT_SOURCES = [
    "bsd_sshd", "bsd_kv", "iso_micro", "iso_json", "bsd_loose_sd",
    "year_prefixed",
]
PIPELINE_ROWS = 6000


def q_syslog_pipeline(spark, sf_dir):
    """Full engine slice on the synthesized corpus: tokens → detokenize
    → parse → enrich → hourly facility×severity aggregate, restricted
    to the SQL-predictable template cohorts (~70% of rows) so the
    flagship slice is value-hash-gated, not just row-counted."""
    from pysyslog.aggregate import hourly_facility_severity_counts
    from pysyslog.gen import gen_tokens_df
    from pysyslog.pipeline import transform

    tokens = gen_tokens_df(spark, PIPELINE_ROWS).filter(
        F.col("source").isin(SQL_COHORT_SOURCES)
    )
    hourly = hourly_facility_severity_counts(transform(tokens, OPTS))
    return hourly.select(
        "facility_name",
        "severity_name",
        # hour rendered as string: Arrow timestamp units differ between
        # engines and break the driver's value hash (same as agg_hourly)
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("n"),
    ).orderBy("facility_name", "severity_name", "hour")


# --------------------------------------------------------------------------
# driver API
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse→enrich→aggregate over lines synthesized from the
    sf0.001 events table (driver smoke check)."""
    sf_dir = "/root/testdata/sf0.001"
    lines = _pri_lines(spark, sf_dir)
    parsed = parse_syslog(lines, "raw", OPTS)
    enriched = enrich(parsed)
    return (
        enriched.groupBy("facility_name", "severity_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("facility_name", "severity_name")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "parse_pri": q_parse_pri,
        "parse_iso_time": q_parse_iso_time,
        "parse_kv": q_parse_kv,
        "parse_sdata_strict": q_parse_sdata_strict,
        "parse_sdata_loose": q_parse_sdata_loose,
        "parse_json_tail": q_parse_json_tail,
        "parse_cisco_ntp": q_parse_cisco_ntp,
        "parse_netapp": q_parse_netapp,
        "parse_relay": q_parse_relay,
        "parse_hyphen_program": q_parse_hyphen_program,
        "parse_bsd_year": q_parse_bsd_year,
        "parse_prune": q_parse_prune,
        "parse_guard": q_parse_guard,
        "parse_fmtdate": q_parse_fmtdate,
        "parse_timefmt": q_parse_timefmt,
        "multiline_reassembly": q_multiline_reassembly,
        "multiline_parallel": q_multiline_parallel,
        "enrich_broadcast": q_enrich_broadcast,
        "agg_hourly": q_agg_hourly,
        "agg_salted": q_agg_salted,
        "route_matrix": q_route_matrix,
        "topk_event_types": q_topk_event_types,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "tpch_nation_orders": q_tpch_nation_orders,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "minhash_signatures": q_minhash_signatures,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        # dedup / similarity pipelines (all oracle-gated except
        # rolling_fingerprint and syslog_pipeline, which stay rows-only)
        "minhash_near_dups": q_minhash_near_dups,
        "dedup_clusters": q_dedup_clusters,
        "simhash_near_dups": q_simhash_near_dups,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "multimodal_features": q_multimodal_features,
        "rolling_fingerprint": q_rolling_fingerprint,
        "syslog_pipeline": q_syslog_pipeline,
    }


# ---- syslog_pipeline oracle: gen.py replayed in SQL -----------------------
# gen.py derives every row field from splitmix64(row_id ^ mixer(salt))
# (gen.py:51-64).  That hash is replayed here in DuckDB SQL — HUGEINT
# arithmetic with split multiplication, since a 64x64-bit product
# overflows signed INT128 — so the oracle predicts the engine's
# facility x severity x hour aggregate over the REAL generated corpus
# (restricted to SQL_COHORT_SOURCES) from first principles.

def _splitmix_ctes(salts: dict[str, int], seed: int = 42,
                   src: str = "ids", id_col: str = "i") -> str:
    """Chained CTEs hx0..hx6 computing gen._h(i, salt, seed) as column
    `name` for each (name, salt) entry; reference the result as hx6."""
    m64 = "18446744073709551616::HUGEINT"

    def mul(col: str, c: int) -> str:
        # (col * c) mod 2^64 via 32-bit split: hi*c mod 2^32 re-shifted
        # plus lo*c, every intermediate < 2^97 (fits HUGEINT)
        return (
            f"((((({col}) >> 32) * {c}::HUGEINT) % 4294967296) * 4294967296"
            f" + ((({col}) % 4294967296) * {c}::HUGEINT)) % {m64}"
        )

    def xs(col: str, s: int) -> str:
        return f"xor(({col})::UBIGINT, (({col}) >> {s})::UBIGINT)::HUGEINT"

    cols0 = []
    for name, salt in salts.items():
        mixer = (seed * 0x5851F42D4C957F2D + salt) & 0xFFFFFFFFFFFFFFFF
        cols0.append(
            f"xor(({id_col})::UBIGINT, {mixer}::UBIGINT)::HUGEINT AS {name}"
        )
    steps = [f"hx0 AS (SELECT {id_col}, {', '.join(cols0)} FROM {src})"]

    def step(k: int, fn) -> None:
        cols = ", ".join(f"{fn(n)} AS {n}" for n in salts)
        steps.append(f"hx{k} AS (SELECT {id_col}, {cols} FROM hx{k - 1})")

    step(1, lambda n: f"(({n} + 11400714819323198485::HUGEINT) % {m64})")
    step(2, lambda n: xs(n, 30))
    step(3, lambda n: mul(n, 0xBF58476D1CE4E5B9))
    step(4, lambda n: xs(n, 27))
    step(5, lambda n: mul(n, 0x94D049BB133111EB))
    step(6, lambda n: xs(n, 31))
    return ",\n".join(steps)


def _syslog_pipeline_sql() -> str:
    """DuckDB replay of q_syslog_pipeline: template selection (h salt
    1, cumulative weights gen.py:35), PRI (salt 2, mod 191), epoch
    (salt 4, mod 120 days) — then gen.py's month/day remap
    (gen.py:116-122), the iso_micro +02:00 offset, and enrich's
    user/notice fallback for PRI-less templates (enrich.py:44-60)."""
    # tsel indices: 0 bsd_sshd, 1 bsd_cron, 2 bsd_kv, 3 iso_micro,
    # 4 iso_json, 5 cisco, 6 rfc5424, 7 netapp, 8 bsd_loose_sd,
    # 9 year_prefixed.  Cohort = {0,2,3,4,8,9}; PRI-bearing = {0,3,8}.
    fac = _fac_case("CASE WHEN tsel IN (0,3,8) THEN p - p % 8 ELSE 8 END")
    sev = _sev_case("CASE WHEN tsel IN (0,3,8) THEN p % 8 ELSE 5 END")
    return f"""
        WITH ids AS (SELECT i FROM range({PIPELINE_ROWS}) t(i)),
        {_splitmix_ctes({"h1": 1, "h2": 2, "h4": 4})},
        t AS (
            SELECT (h2 % 191)::BIGINT AS p,
                   (h4 % {86400 * 120})::BIGINT AS e,
                   CASE WHEN h1 % 100 < 30 THEN 0 WHEN h1 % 100 < 40 THEN 1
                        WHEN h1 % 100 < 52 THEN 2 WHEN h1 % 100 < 66 THEN 3
                        WHEN h1 % 100 < 72 THEN 4 WHEN h1 % 100 < 80 THEN 5
                        WHEN h1 % 100 < 88 THEN 6 WHEN h1 % 100 < 92 THEN 7
                        WHEN h1 % 100 < 96 THEN 8 ELSE 9 END AS tsel
            FROM hx6
        ),
        c AS (
            SELECT tsel, p,
                   make_timestamp(2018, 6 + (e // 86400) // 30,
                                  (e // 86400) % 28 + 1,
                                  (e % 86400) // 3600, (e % 3600) // 60,
                                  (e % 60)::DOUBLE)
                   - CASE WHEN tsel = 3 THEN INTERVAL 2 HOUR
                          ELSE INTERVAL 0 HOUR END AS ts
            FROM t WHERE tsel IN (0, 2, 3, 4, 8, 9)
        )
        SELECT {fac} AS facility_name,
               {sev} AS severity_name,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               count(*) AS n
        FROM c GROUP BY 1, 2, 3
    """


def _sev_case(expr: str) -> str:
    whens = " ".join(
        f"WHEN {v} THEN '{k}'" for k, v in sorted(INT_PRIORITY.items(), key=lambda x: x[1])
    )
    return f"CASE ({expr}) {whens} END"


def _fac_case(expr: str) -> str:
    whens = " ".join(
        f"WHEN {v} THEN '{k}'" for k, v in sorted(INT_FACILITY.items(), key=lambda x: x[1])
    )
    return f"CASE ({expr}) {whens} END"


_SW = {k: ", ".join(f"'{w}'" for w in v) for k, v in STOPWORDS.items()}

_NORM_DOC = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_WORDS_DOC = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_SHINGLES = (
    f"list_transform(range(1, greatest(len({_WORDS_DOC}) - 2, 1) + 1), "
    f"i -> concat_ws(' ', {_WORDS_DOC}[i], {_WORDS_DOC}[i+1], {_WORDS_DOC}[i+2]))"
)


# ---- ANN / LSH oracle SQL generators --------------------------------------
# The hyperplanes are deterministic constants (pysyslog.similarity._plane),
# inlined as DOUBLE[] literals so DuckDB computes the *same* signatures,
# buckets, and probes — replaying the approximate operator exactly, not
# just its verification stage.

def _plane_lit(p: int, dim: int = 64) -> str:
    from pysyslog.similarity import _plane

    return "[" + ", ".join(repr(float(x)) for x in _plane(dim, p)) + "]::DOUBLE[]"


def _sig_expr(vec: str, n_planes: int) -> str:
    terms = [
        f"CASE WHEN list_inner_product({vec}, {_plane_lit(i)}) > 0.0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(n_planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _lsh_topk_sql(k: int = 5, n_planes: int = 10) -> str:
    probes = ", ".join(["sig"] + [f"xor(sig, {1 << i})" for i in range(n_planes)])
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3
        ), sigs AS (
            SELECT vec_id, {_sig_expr('v', n_planes)} AS sig FROM e
        ), qsigs AS (
            SELECT query_id, {_sig_expr('qv', n_planes)} AS sig FROM q
        ), probes AS (
            SELECT query_id, unnest([{probes}]) AS sig FROM qsigs
        ), cand AS (
            SELECT DISTINCT p.query_id, s.vec_id
            FROM probes p JOIN sigs s USING (sig)
        ), scored AS (
            SELECT c.query_id, c.vec_id,
                   list_cosine_similarity(e.v, q.qv) AS cos_sim
            FROM cand c
            JOIN e ON e.vec_id = c.vec_id
            JOIN q ON q.query_id = c.query_id
        )
        SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim6,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored QUALIFY rank <= {k}
    """


def _ivf_topk_sql(k: int = 5, n_centroids: int = 16, n_probe: int = 4,
                  n_assign: int = 2) -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), cent AS (
            SELECT row_number() OVER (ORDER BY md5(vec_id::varchar), vec_id) - 1 AS ci,
                   v AS cv
            FROM e ORDER BY md5(vec_id::varchar), vec_id LIMIT {n_centroids}
        ), assign AS (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, cv) DESC, ci) AS rnk
            FROM e CROSS JOIN cent
        ), c_assigned AS (
            SELECT vec_id, ci AS list FROM assign WHERE rnk <= {n_assign}
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3
        ), q_probes AS (
            SELECT query_id, ci AS list FROM (
                SELECT query_id, ci,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY list_cosine_similarity(qv, cv) DESC, ci) AS rnk
                FROM q CROSS JOIN cent
            ) WHERE rnk <= {n_probe}
        ), cand AS (
            SELECT DISTINCT p.query_id, a.vec_id
            FROM q_probes p JOIN c_assigned a USING (list)
        ), scored AS (
            SELECT c.query_id, c.vec_id,
                   list_cosine_similarity(e.v, q.qv) AS cos_sim
            FROM cand c
            JOIN e ON e.vec_id = c.vec_id
            JOIN q ON q.query_id = c.query_id
        )
        SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim6,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored QUALIFY rank <= {k}
    """


def _band_sig_expr(vec: str, band: int, rows_per_band: int) -> str:
    """Replay of similarity.banded_signature_udf band `band`: sign bits
    of the GLOBALLY-indexed planes [band*r, (band+1)*r) packed LSB-first."""
    terms = [
        f"CASE WHEN list_inner_product({vec}, "
        f"{_plane_lit(band * rows_per_band + j)}) > 0.0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(rows_per_band)
    ]
    return "(" + " + ".join(terms) + ")"


def _embedding_near_dups_sql(threshold: float = 0.5, n_bands: int = 8,
                             rows_per_band: int = 4) -> str:
    band_sigs = "\n            UNION ALL\n".join(
        f"            SELECT vec_id, v, {b} AS band, "
        f"{_band_sig_expr('v', b, rows_per_band)} AS sig FROM e"
        for b in range(n_bands)
    )
    return f"""
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), e AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 1000000, list_transform(v, x -> x + 0.01)
            FROM base WHERE vec_id < 20
        ), sigs AS (
{band_sigs}
        ), pairs AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b,
               round(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim6
        FROM pairs
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
    """


def _minhash_near_dups_sql(threshold: float = 0.5, num_hashes: int = 16,
                           bands: int = 4, rows_per_band: int = 4) -> str:
    mins = ",\n                   ".join(
        f"min(md5(sh || '#{i}')) AS h{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"h{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig"
        )
    banded = "\n            UNION ALL ".join(band_selects)
    return f"""
        WITH ex AS (
            SELECT doc_id, unnest({_SHINGLES}) AS sh FROM documents
        ), sig AS (
            SELECT doc_id,
                   {mins}
            FROM ex GROUP BY doc_id
        ), banded AS (
            {banded}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a
            JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
                          AND a.doc_id < b.doc_id
        ), sh AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM documents
        )
        SELECT id_a, id_b,
               1.0 * len(list_intersect(sa.s, sb.s))
                   / greatest(len(list_distinct(sa.s || sb.s)), 1) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE 1.0 * len(list_intersect(sa.s, sb.s))
                  / greatest(len(list_distinct(sa.s || sb.s)), 1) >= {threshold}
    """


def _dedup_clusters_sql(threshold: float = 0.5) -> str:
    """Connected components via recursive CTE over the replayed MinHash
    pair graph: comp(node) = min id reachable from node."""
    pairs_sql = _minhash_near_dups_sql(threshold)
    return f"""
        WITH RECURSIVE pairs AS (
            {pairs_sql}
        ), e AS (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION
            SELECT id_b AS s, id_a AS d FROM pairs
        ), reach(node, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.d, r.comp FROM reach r JOIN e ON e.s = r.node
        )
        SELECT node AS doc_id, min(comp)::bigint AS cluster_id
        FROM reach GROUP BY node
    """


def _hexbyte(col: str, pos: int) -> str:
    """0-based byte `pos` of a hex-string column, as an integer."""
    hi = f"(strpos('0123456789abcdef', substr({col}, {2 * pos + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr({col}, {2 * pos + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _multimodal_features_sql() -> str:
    """Replays the deterministic fake decoder: feature[0] is the first
    4 sha256 digest bytes read little-endian (numpy frombuffer) over
    2^32, cast to float32."""
    le32 = " + ".join(
        f"{_hexbyte('hx', b)}::BIGINT * {1 << (8 * b)}" for b in range(4)
    )
    return f"""
        WITH m AS (
            SELECT 'm' || doc_id::varchar AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS kind,
                   octet_length(encode(text))::int AS n_bytes,
                   sha256(text) AS hx,  -- hashes the utf-8 bytes
                   (n_chars % 5000) AS dur
            FROM documents
        )
        SELECT media_id, kind, n_bytes,
               (({le32}) / 4294967296.0)::FLOAT AS f0,
               greatest(dur // 1000, 1)::bigint AS n_frames
        FROM m
    """


def _rolling_fp_sql(window: int = 8, mod: int = (1 << 61) - 1,
                    base: int = 257) -> str:
    """Replay of the winnowing fingerprint: per position the window's
    polynomial hash is a closed-form {window}-term sum over code points
    (HUGEINT keeps the ~2^80 intermediate exact; base^k < mod so the
    unreduced powers equal their mod-p values)."""
    powers = [base ** k for k in range(window)]
    long_terms = " + ".join(
        f"ord(substr(text, i + {j}, 1))::HUGEINT * {powers[window - 1 - j]}"
        for j in range(window)
    )
    plist = "[" + ", ".join(str(p) for p in powers) + "]"
    short_terms = " + ".join(
        f"CASE WHEN {j + 1} <= L THEN "
        f"ord(substr(text, {j + 1}, 1))::HUGEINT * ({plist})[L - {j}] "
        f"ELSE 0 END"
        for j in range(window - 1)
    )
    return f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000, substr(text, 1, 5)
            FROM documents WHERE doc_id < 50
        ), d AS (
            SELECT doc_id, text, length(text) AS L
            FROM corpus WHERE text IS NOT NULL
        ), pos AS (
            SELECT doc_id, text, i
            FROM (SELECT doc_id, text, unnest(range(1, L - {window - 2})) AS i
                  FROM d WHERE L >= {window})
        ), long_h AS (
            SELECT doc_id, min(({long_terms}) % {mod}) AS fp
            FROM pos GROUP BY doc_id
        ), short_h AS (
            SELECT doc_id, ({short_terms}) % {mod} AS fp
            FROM d WHERE L < {window}
        )
        SELECT doc_id, fp::bigint AS rolling_fp FROM long_h
        UNION ALL SELECT doc_id, fp::bigint FROM short_h
        UNION ALL SELECT doc_id, NULL::bigint AS rolling_fp
                  FROM corpus WHERE text IS NULL
    """


def _simhash_near_dups_sql(max_hamming: int = 3, bits: int = 64) -> str:
    def _digit(j: int) -> str:
        # bit j < 32 from md5(t), bit j >= 32 from md5(t || '#b')
        if j < 32:
            return f"substr(md5(t), {j + 1}, 1)"
        return f"substr(md5(t || '#b'), {j - 31}, 1)"

    # bit 63 carries the sign in the engine's signed-64 representation
    sig_terms = " + ".join(
        f"CASE WHEN 2 * sum(CASE WHEN {_digit(j)} >= '8' "
        f"THEN 1 ELSE 0 END) > count(*) "
        f"THEN ({-(1 << 63) if j == 63 else (1 << j)})::BIGINT ELSE 0 END"
        for j in range(bits)
    )
    chunk_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, {i} AS ci, (sh >> {16 * i}) & 65535 AS cv FROM sig"
        for i in range(4)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> x != '')) AS t
            FROM documents WHERE text IS NOT NULL
        ), sig AS (
            SELECT doc_id, ({sig_terms})::bigint AS sh
            FROM tok GROUP BY doc_id
        ), banded AS (
            {chunk_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a
            JOIN banded b ON a.ci = b.ci AND a.cv = b.cv
                          AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(sa.sh, sb.sh))::int AS hamming
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
        WHERE bit_count(xor(sa.sh, sb.sh)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    pri = "(event_id % 192)"
    out = {
        "parse_pri": f"""
            SELECT event_id,
                   {pri}::int AS preamble,
                   ({pri} % 8)::int AS priority_int,
                   ({pri} // 8 * 8)::int AS facility_int,
                   {_sev_case(f"{pri} % 8")} AS priority,
                   {_fac_case(f"{pri} // 8 * 8")} AS facility,
                   'host' || (user_id % 50)::varchar AS host,
                   'prog' || (event_id % 10)::varchar AS program_name,
                   event_id AS program_pid,
                   'msg ' || event_type AS content
            FROM events
        """,
        "parse_iso_time": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%d') AS date,
                   strftime(ts, '%H:%M:%S') AS time,
                   'Z' AS tz,
                   epoch(date_trunc('second', ts))::bigint::varchar AS epoch,
                   strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS datetime_utc
            FROM events
        """,
        "parse_kv": """
            SELECT event_id,
                   'u' || user_id::varchar AS kv_user,
                   event_type AS kv_type,
                   floor(value * 100)::bigint AS kv_cents
            FROM events
        """,
        "parse_sdata_strict": """
            SELECT event_id,
                   (event_id % 10)::bigint AS sd_iut,
                   'src ' || event_type AS sd_source,
                   event_id AS sd_event,
                   'done ' || event_id::varchar AS content
            FROM events
        """,
        "parse_sdata_loose": """
            SELECT event_id,
                   'v' || user_id::varchar AS sd_k1,
                   (event_id % 100)::bigint AS sd_count,
                   'error tail' || event_id::varchar AS content
            FROM events
        """,
        "parse_json_tail": """
            SELECT event_id,
                   CASE WHEN event_id % 5 = 0 THEN NULL
                        ELSE (event_id % 500) END::bigint AS js_code,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE 'true' END AS js_ok,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS js_name,
                   (event_id % 5 = 0) AS json_failed,
                   CASE WHEN event_id % 5 = 0
                        THEN 'status {broken ' || event_id::varchar
                        ELSE 'status {"code":' || (event_id % 500)::varchar
                             || ',"ok":true,"name":"' || event_type || '"}'
                   END AS content
            FROM events
        """,
        "parse_cisco_ntp": """
            SELECT event_id,
                   CASE event_id % 3 WHEN 1 THEN 'not configured'
                                     WHEN 2 THEN 'out of sync'
                                     ELSE 'ok' END AS ntp,
                   '%FOO-5-BAR' AS program_name,
                   'msg ' || event_id::varchar AS content
            FROM events
        """,
        "parse_netapp": """
            WITH l AS (
                SELECT *, CASE event_id % 4 WHEN 0 THEN 'notice'
                                            WHEN 1 THEN 'warn'
                                            WHEN 2 THEN 'err'
                                            ELSE 'info' END AS lvl
                FROM events
            )
            SELECT event_id,
                   '[na' || (user_id % 9)::varchar || ' raid.disk.online:'
                       || lvl || ']' AS program_raw,
                   'raid.disk.online' AS program_name,
                   lvl AS priority,
                   (CASE lvl WHEN 'notice' THEN 5 WHEN 'warn' THEN 4
                             WHEN 'err' THEN 3 ELSE 6 END)::int AS priority_int,
                   'Disk ' || (event_id % 24)::varchar || ' online' AS content
            FROM l
        """,
        "parse_relay": """
            SELECT event_id,
                   1::int AS version,
                   'relay' || (event_id % 20)::varchar AS origin,
                   '2023-06-01T12:00:05.'
                       || lpad((event_id % 1000)::varchar, 3, '0')
                       || 'Z' AS origin_date,
                   'gw' || (user_id % 9)::varchar AS host,
                   'app' AS program_name,
                   '2023-06-01T12:00:00+00:00' AS datetime_raw,
                   'alert ' || event_id::varchar AS content
            FROM events
        """,
        "parse_hyphen_program": """
            SELECT event_id,
                   1::int AS version,
                   'APP-' || (event_id % 7)::varchar AS program_name,
                   'EVENT_' || (event_id % 5)::varchar AS content,
                   'APP-' || (event_id % 7)::varchar
                       || ' - EVENT_' || (event_id % 5)::varchar
                       || ' [exampleSDID@32473 iut="'
                       || (event_id % 10)::varchar || '"]' AS message,
                   '{"exampleSDID@32473":{"iut":"'
                       || (event_id % 10)::varchar || '"}}' AS sdata_json
            FROM events
        """,
        "parse_bsd_year": """
            SELECT event_id,
                   CASE WHEN event_id % 2 = 0 THEN '2018-06-01'
                        ELSE '2017-12-15' END AS date,
                   CASE WHEN event_id % 2 = 0 THEN '07:08:09'
                        ELSE '23:59:59' END AS time,
                   CASE WHEN event_id % 2 = 0
                        THEN epoch(TIMESTAMP '2018-06-01 07:08:09')::bigint::varchar
                        ELSE epoch(TIMESTAMP '2017-12-15 23:59:59')::bigint::varchar
                   END AS epoch,
                   CASE WHEN event_id % 2 = 0 THEN '2018-06-01T07:08:09Z'
                        ELSE '2017-12-15T23:59:59Z' END AS datetime_utc,
                   'Z' AS tz
            FROM events
        """,
        "parse_prune": """
            SELECT event_id,
                   NULL::varchar AS message_raw,
                   NULL::varchar AS program_raw,
                   NULL::varchar AS host_raw,
                   NULL::varchar AS content,
                   NULL::varchar AS tz,
                   'app: ok ' || event_id::varchar AS message,
                   'app' AS program_name,
                   'h' || (user_id % 9)::varchar AS host
            FROM events
        """,
        "parse_guard": """
            SELECT event_id,
                   CASE WHEN event_id % 3 = 0
                        THEN chr(9) || 'continuation ' || event_id::varchar
                        ELSE 'Jun  1 12:00:00 h' || (user_id % 9)::varchar
                             || ' app: m' || event_id::varchar
                   END AS message_raw,
                   CASE WHEN event_id % 3 = 0 THEN NULL::varchar
                        ELSE 'h' || (user_id % 9)::varchar END AS host,
                   CASE WHEN event_id % 3 = 0 THEN NULL::varchar
                        ELSE 'app' END AS program_name,
                   CASE WHEN event_id % 3 = 0 THEN NULL::varchar
                        ELSE 'm' || event_id::varchar END AS content,
                   CASE WHEN event_id % 3 = 0 THEN NULL::varchar
                        ELSE epoch(TIMESTAMP '2018-06-01 12:00:00')::bigint::varchar
                   END AS epoch
            FROM events
        """,
        "parse_fmtdate": """
            SELECT event_id,
                   '2020-02-02' AS date,
                   '10:20:30' AS time,
                   '1234.5' AS epoch,
                   '2020-02-02T10:20:30+0500' AS datetime_str,
                   NULL::varchar AS datetime_utc
            FROM events
        """,
        "parse_timefmt": """
            WITH t AS (
                SELECT event_id, date_trunc('second', ts) AS s FROM events
            )
            SELECT event_id,
                   strftime(s - INTERVAL 2 HOUR, '%Y/%m/%d %H.%M.%S') || 'Z'
                       AS datetime_utc,
                   strftime(s, '%Y/%m/%d %H.%M.%S') || '+0200' AS datetime_str,
                   strftime(s, '%Y/%m/%d') AS date,
                   strftime(s, '%H.%M.%S') AS time,
                   '+0200' AS tz
            FROM t
        """,
        "multiline_reassembly": """
            WITH lines AS (
                SELECT 'f' || (user_id % 4)::varchar AS source,
                       event_id AS line_no,
                       CASE WHEN event_id % 5 = 0
                            THEN '  cont ' || event_id::varchar
                            ELSE 'Jun  1 12:00:00 h' || (user_id % 9)::varchar
                                 || ' prog: m' || event_id::varchar
                       END AS line
                FROM events
            ), grouped AS (
                SELECT source, line, line_no,
                       sum(CASE WHEN line NOT SIMILAR TO '\\s.*' THEN 1 ELSE 0 END)
                           OVER (PARTITION BY source ORDER BY line_no) AS grp
                FROM lines
            )
            SELECT source, grp::bigint AS record_no,
                   string_agg(line, chr(10) ORDER BY line_no) AS raw
            FROM grouped WHERE grp > 0
            GROUP BY source, grp
        """,
        "enrich_broadcast": f"""
            SELECT {_sev_case("event_id % 8")} AS severity_name,
                   count(*) AS n,
                   sum(floor(value * 100)::bigint)::bigint AS value_cents
            FROM events GROUP BY 1
        """,
        "agg_hourly": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   count(*) AS n, sum(floor(value * 100)::bigint)::bigint AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "agg_salted": """
            SELECT user_id, count(*) AS n,
                   sum(floor(value * 100)::bigint)::bigint AS value_cents
            FROM events GROUP BY 1
        """,
        "route_matrix": """
            SELECT event_type, (event_id % 8)::int AS severity_bucket, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "topk_event_types": """
            SELECT event_type, n, row_number() OVER (ORDER BY n DESC, event_type) AS rank
            FROM (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
            QUALIFY rank <= 5
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::bigint)::bigint AS sum_qty,
                   sum(floor(l_extendedprice * 100)::bigint)::bigint AS sum_base_cents,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= '1998-09-02'
            GROUP BY 1, 2
        """,
        "tpch_nation_orders": """
            SELECT n_name, count(*) AS n_orders,
                   sum(floor(o_totalprice * 100)::bigint)::bigint AS total_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY md5({_NORM_DOC})
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({_WORDS_DOC})::int AS n_words,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::int AS n_subwords,
                   length(text)::int AS n_chars_m
            FROM documents
        """,
        "quality_score": f"""
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(len(list_filter({_WORDS_DOC}, x -> x IN ({_SW['en']})))
                         / greatest(len({_WORDS_DOC}), 1), 6) AS stop_ratio,
                   round(
                     least(len({_WORDS_DOC}) / 50.0, 1.0) * 0.25
                     + (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / greatest(length(text), 1)) * 0.25
                     + least(len(list_filter({_WORDS_DOC}, x -> x IN ({_SW['en']})))
                             / greatest(len({_WORDS_DOC}), 1) * 4.0, 1.0) * 0.25
                     + CASE WHEN length(text) / greatest(len({_WORDS_DOC}), 1)
                                 BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END,
                   6) AS quality_score
            FROM documents
        """,
        "lang_id": f"""
            WITH h AS (
                SELECT doc_id,
                       len(list_filter({_WORDS_DOC}, x -> x IN ({_SW['en']})))::int AS lang_hits_en,
                       len(list_filter({_WORDS_DOC}, x -> x IN ({_SW['de']})))::int AS lang_hits_de,
                       len(list_filter({_WORDS_DOC}, x -> x IN ({_SW['fr']})))::int AS lang_hits_fr
                FROM documents
            )
            SELECT doc_id, lang_hits_en, lang_hits_de, lang_hits_fr,
                   CASE WHEN lang_hits_en = 0 AND lang_hits_de = 0 AND lang_hits_fr = 0 THEN 'und'
                        WHEN lang_hits_en >= lang_hits_de AND lang_hits_en >= lang_hits_fr THEN 'en'
                        WHEN lang_hits_de >= lang_hits_fr THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM h
        """,
        "fingerprint": f"""
            SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "minhash_signatures": f"""
            WITH ex AS (
                SELECT doc_id, unnest({_SHINGLES}) AS sh FROM documents
            )
            SELECT doc_id,
                   min(md5(sh || '#0')) AS h0,
                   min(md5(sh || '#1')) AS h1,
                   min(md5(sh || '#2')) AS h2,
                   min(md5(sh || '#3')) AS h3
            FROM ex GROUP BY doc_id
        """,
        "ngram_jaccard": f"""
            WITH s AS (
                SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM documents
            ), p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sh AS sa, b.sh AS sb
                FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
                WHERE a.doc_id % 2 = 0
            )
            SELECT id_a, id_b,
                   round(1.0 * len(list_intersect(sa, sb))
                         / greatest(len(list_distinct(sa || sb)), 1), 6)
                       AS jaccard6
            FROM p
        """,
        "minhash_near_dups": _minhash_near_dups_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "simhash_near_dups": _simhash_near_dups_sql(),
        "ann_lsh_topk": _lsh_topk_sql(),
        "ann_ivf_topk": _ivf_topk_sql(),
        "embedding_near_dups": _embedding_near_dups_sql(),
        "rolling_fingerprint": _rolling_fp_sql(),
        "multimodal_features": _multimodal_features_sql(),
        "syslog_pipeline": _syslog_pipeline_sql(),
        "ann_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(e.embedding::DOUBLE[],
                                              q.qv::DOUBLE[]) AS cos_sim
                FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, round(cos_sim, 6) AS cos_sim6,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, vec_id) AS rank
            FROM scored QUALIFY rank <= 5
        """,
    }
    # the parallel (chunk-decomposed) reassembly must be output-
    # invariant to the serial windowed form — SAME oracle by design
    out["multiline_parallel"] = out["multiline_reassembly"]
    return out

"""Spark integration: the vectorized syslog parse operator.

Design (SURVEY.md §3.1/§4): ONE Arrow-batched pandas UDF returning the
full fixed nullable StructType — never per-field UDFs (each would pay
the JVM↔Python boundary) and never row-at-a-time Python UDFs.  The
per-row state machine (pysyslog.parser_core, compiled regexes at module
import) is mapped over each Arrow batch; everything downstream (joins,
aggregations, routing) stays JVM-side in whole-stage codegen.

Schema mapping (SURVEY.md §1): the reference emits a *sparse* hash —
keys exist only if a fragment parsed.  Spark needs a fixed schema, so
every field is nullable, and `parsed_json` (optional) preserves the
exact present-key semantics for golden / routed-row equality checks.
`SDATA` (heterogeneous nested hash) maps to `sdata map<string,string>`
with dotted group keys plus `sdata_json` holding canonical JSON
(SURVEY.md §1.3).
"""

from __future__ import annotations

import json
from json.encoder import encode_basestring as _json_str

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .goldens import canon, canonical_json
from .options import ParserOptions
from .parser_core import _DAYS_IN_MONTH, SyslogParser, _off_str
from .tables import MONTH_NUM
from .tokens import decode_tokens

_STR_FIELDS_1 = (
    "message_raw priority facility datetime_raw epoch datetime_utc "
    "datetime_local datetime_str tz date time host_raw host domain origin "
    "origin_date ntp program_raw program_name program_pid program_sub "
    "content message"
).split()

SYSLOG_SCHEMA = StructType(
    [StructField("preamble", IntegerType()),
     StructField("version", IntegerType()),
     StructField("priority_int", IntegerType()),
     StructField("facility_int", IntegerType())]
    + [StructField(f, StringType()) for f in _STR_FIELDS_1]
    + [
        StructField("epoch_us", LongType()),          # derived: exact micros
        StructField("sdata", MapType(StringType(), StringType())),
        StructField("sdata_json", StringType()),
        StructField("_json_error", StringType()),
        StructField("parsed_json", StringType()),      # populated on demand
    ]
)

FIELD_NAMES = [f.name for f in SYSLOG_SCHEMA.fields]
_INT_FIELDS = {"preamble", "version", "priority_int", "facility_int"}


def _flatten_sdata(sdata, prefix="", out=None):
    """Nested SDATA -> dotted-key flat map; non-scalar leaves (arrays,
    deeper JSON) render as canonical JSON strings."""
    if out is None:
        out = {}
    for k, v in sdata.items():
        key = f"{prefix}{k}"
        if v.__class__ is str:  # overwhelmingly the common case
            out[key] = v
        elif isinstance(v, dict):
            _flatten_sdata(v, key + ".", out)
        elif isinstance(v, (list, tuple)):
            out[key] = json.dumps(canon(v), ensure_ascii=False, separators=(",", ":"))
        elif isinstance(v, bool):
            out[key] = "true" if v else "false"
        elif v is None:
            out[key] = None
        else:
            out[key] = str(v)
    return out


def _sdata_ser(v) -> str:
    """Fused canon() + json.dumps(sort_keys=True, ensure_ascii=False,
    separators=(",", ":")) — emits the byte-identical string (property
    test: tests/test_parser_spark.py::test_sdata_json_serializer_exact)
    without building the intermediate canon'd object tree.  The string
    escaper is the same C encode_basestring json.dumps uses under
    ensure_ascii=False.  Dispatch order mirrors goldens.canon exactly
    (bool before int, numeric scalars render as their canon string
    forms, dict keys stringified-then-sorted with last-wins on
    collision)."""
    if v is None:
        return "null"
    cls = v.__class__
    if cls is str:
        return _json_str(v)
    if cls is dict:
        d = {}
        for k, vv in v.items():
            d[k if k.__class__ is str else str(k)] = vv
        return "{" + ",".join(
            f"{_json_str(k)}:{_sdata_ser(d[k])}" for k in sorted(d)) + "}"
    if cls is bool or isinstance(v, bool):
        return '"true"' if v else '"false"'
    if cls is int or isinstance(v, int):
        return f'"{v}"'
    if cls is float or isinstance(v, float):
        return f'"{v!r}"'
    if isinstance(v, dict):
        return _sdata_ser(dict(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_sdata_ser(e) for e in v) + "]"
    return _json_str(str(v))


def _epoch_us(epoch_str) -> int | None:
    if not epoch_str:
        return None
    try:
        s, _, frac = str(epoch_str).partition(".")
        return int(s) * 1_000_000 + (int(frac[:6].ljust(6, "0")) if frac else 0)
    except ValueError:
        return None


# Per-worker parser cache: one compiled SyslogParser per options tuple,
# reused across all Arrow batches (⇔ the reference's precompiled %RE).
_PARSER_CACHE: dict = {}

# ---------------------------------------------------------------------------
# Vectorized fast path
#
# The per-row state machine costs ~25µs/row in Python; the majority
# cohort of real corpora is "clean BSD" — `Mmm dd HH:MM:SS host prog[pid]:
# content` with nothing for the later stages (no PRI, no relay/Cisco,
# no SDATA/JSON/KV applicable under the active options).  For that
# cohort every output field is computable from the groups of ONE
# anchored regex match per row (`_Groups`), with datetimes derived in
# one vectorized pass (`_derive_dt_columns`).  Rows that don't match
# (or whose content could trigger a detection stage) take the state
# machine unchanged, and `_parse_batch` scatters both cohorts into one
# frame, so outputs are identical — asserted by
# tests/test_parser_spark.py::test_fast_path_equals_slow_on_mixed_corpus.
#
# Only enabled when emit_parsed_json=False: the fast path reproduces
# column values, not the reference's present-key hash semantics.
# ---------------------------------------------------------------------------

# program names that the reference's severity-word filter would drop
# (Line.pm:884: tokens that are priority names are removed from the tag)
from .tables import INT_PRIORITY as _PRIO_WORDS


def _fast_regex(options: ParserOptions):
    """Anchored clean-line matcher for the active options, or None when
    the option set can't take the fast path at all.  Two variants share
    the preamble/datetime/host/relay prefix: the default one splits
    program from content; the extract_program=False one captures the
    whole rest-of-line as content (the state machine skips its program
    stage then, so "no program" must be the CHEAPER preset, as it is in
    the reference's benchmark matrix — not a fast-path opt-out)."""
    # FmtDate is a per-row user hook — slow path only.  DateParsing=0
    # stays fast: the regex consumes the identical datetime text and
    # _fast_cols simply skips the derivation stage, mirroring the
    # state machine's `if opts.date_parsing` gate.
    if options.date_parsing and options.fmt_date is not None:
        return None
    # Content may contain anything a later stage only ADDS from or
    # REWRITES through a SHARED stage body: the JSON / K/V detectors
    # add SDATA (content untouched), and since r4 the strict/loose
    # structured-data splices run in the fast path too
    # (parser_core.strict_sdata_splice / loose_sdata_splice — the very
    # code the state machine runs), so '['-bearing content stays in
    # the fast cohort instead of kicking the whole row to the state
    # machine.  Only '\n' (multi-line) is excluded outright.
    import re as _re

    # dt: plain BSD (optional leading year — the (?=[A-Z]) lookahead
    # binds it to the BSD branch only, matching RE_DATE_BSD's year
    # prefix; optional fractional seconds) or ISO8601 — same shapes the
    # slow path's RE_DATE_BSD / RE_DATE_ISO would consume.  ISO offset
    # minutes of 60+ ("-05:90") are left to `irest`: the state machine
    # carries them into the hour ("-0630"), so those rows take the
    # per-row datetime fallback.
    # preamble: optional RFC5424 version digit(s) after the PRI —
    # RE_PREAMBLE's (\d{0,2}(?=\s))?\s* — consumed only when followed
    # by whitespace, exactly like the slow path.
    # host: either a bare IPv4 (host==host_raw, no domain split) or
    # dotted labels that each start with a letter — such a string cannot
    # contain an IPv4 substring (needs digit.digit), so the slow path's
    # IP-in-host special case is provably inert on this cohort.  The
    # host slot may be ABSENT only when the program is a leading-/
    # path whose first token carries a ':' (the no-host lookahead in
    # each variant) — RE_HOST (`([^:\s]+)\s+`) treats ANY colon-free
    # space-followed token as the host, so the colon-in-first-token
    # requirement is exactly RE_HOST's failure condition (a space-y
    # pid like "/x[a b]:" would put the ':' in a LATER token, so the
    # lookahead checks the first token only).
    # program: a leading-/ path (keeps '/' without the name/sub split,
    # ⇔ Line.pm name.startswith('/') rule) or a letter-led token with
    # no '/' (so the split rule can't fire); the letter-led start also
    # makes the relay and Cisco stages no-ops (both need digit/ws/':').
    # the datetime COMPONENTS are captured here too (bmon/bday/... for
    # BSD, iy/imo/... for ISO) so the vectorized derivation
    # (_derive_dt_columns) works from this one regex pass
    prefix = (
        r"^(?:<(?P<pre>\d{1,3})>(?:(?P<ver>\d{1,2})[ \t]++)?)?"
        r"(?:(?P<yr>\d{4})\s(?=[A-Z]))?"
        # fraction: exactly .mmm or .uuuuuu (RE_DATE_BSD's envelope) —
        # other digit counts are consumed only partially by the slow
        # path, so they must fall through to it
        r"(?P<dt>(?P<bmon>[A-Z][a-z]{2})\s+(?P<bday>\d{1,2})\s+"
        r"(?P<bh>\d{2}):(?P<bmi>\d{2}):(?P<bs>\d{2})"
        r"(?:\.(?P<bfr>\d{3}(?!\d)|\d{6}(?!\d)))?"
        r"|(?P<iy>\d{4})-(?P<imo>\d{2})-(?P<iday>\d{2})[T ]"
        r"(?P<ih>\d{2}):(?P<imi>\d{2}):(?P<isec>\d{2})"
        r"(?:\.(?P<ifr>\d{3}|\d{6}(?!\d))(?!\d))?"
        r"(?P<ioff>Z|[+-]\d{2}:?[0-5]\d)?(?P<irest>\S*))"
        r"\s(?:(?P<host>\d{1,3}(?:\.\d{1,3}){3}"
        r"|[A-Za-z][A-Za-z0-9_-]*(?:\.[A-Za-z][A-Za-z0-9_-]*)*)\s|"
    )
    # relay hop "[num ]ISO origin " ⇔ RE_RELAY (parser_core.py:114-126;
    # the hop count is matched but not captured — the slow path
    # discards it too) with every piece a strict subset (T-separated ISO whose \S* tail
    # is exactly the enumerated fraction+offset, letter-led colon-free
    # origin, single spaces), so when this group matches, RE_RELAY
    # consumes the identical text with identical groups — and the
    # while-loop exits after one hop because the next char is the
    # program/content head (letter, '%', '/', or '['), never
    # digit/space.  Multi-hop relays fall to the state machine.
    relay = (
        r"(?:(?:\d{1,10} )?"
        r"(?P<odate>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"
        r"(?:\.\d{1,9})?(?:Z|[+-]\d{2}:?\d{2})?)"
        r" (?P<origin>[A-Za-z][A-Za-z0-9._-]*+) )?"
    )
    if not options.extract_program:
        # the state machine skips its program stage: content is the
        # whole rest-of-line (message == content, program_* None).
        # Cohort guards: first char letter/'/'/'%'/'[' keeps the relay
        # (digit/ws) and Cisco (ws/digit/':') stages no-ops ('[' is
        # admitted because with ExtractProgram off the NetApp stage
        # never runs, and both SDATA forms go through the shared splice
        # bodies in _fast_cols).  The no-host branch requires ':'
        # inside the first token — RE_HOST's exact failure condition.
        # Possessive quantifiers: the tokenization is deterministic, so
        # a failing line exits without backtracking.  The Cisco
        # seq/2nd-timestamp stages run regardless of ExtractProgram
        # (they precede the program stage), so the same infix applies;
        # after it the state machine lstrips, hence content starts at
        # the first non-space ('%' admitted — inert to relay/Cisco).
        # bare-SEQ guard: RE_DATE_LONG's trailing ':' is OPTIONAL, and
        # its month token is any EXACTLY-3-letter word followed by
        # digits — so after a consumed SEQ the state machine would eat
        # "Jun  1 12:00:03" (no colon) or even "foo 12 33:44" as a
        # second date.  The (?![A-Za-z]{3}[ \t]+\d) lookahead kicks
        # every such shape to the state machine (content can't start
        # with the flag or year forms — first char is letter/slash/%/[)
        return _re.compile(
            prefix + r"(?=/[^\s:]*:))" + relay +
            r"(?:(?P<cseq>\d{0,10}): (?:(?P<cflag>[.*])?"
            r"(?P<cdt>[A-Z][a-z]{2}\s+\d{1,2}\s+\d{2}:\d{2}:\d{2}): "
            r"|(?![A-Za-z]{3}[ \t]+\d)))?"
            r"(?P<content>[A-Za-z/%\[][^\n]*+)$"
        )
    # Tail alternatives beyond the plain program form, each consuming
    # exactly what the state machine's stage would:
    # - Cisco infix "SEQ: [flag]Mmm dd HH:MM:SS: " — RE_CISCO_SEQ eats
    #   "SEQ: " (empty SEQ allowed) and RE_DATE_LONG eats the flagged
    #   second timestamp INCLUDING its trailing ':' (its (?:\:?) tail);
    #   the fast shape is restricted to single spaces and 2-digit
    #   HH:MM:SS so the slow path's consumption is provably identical.
    #   ntp derives from the flag (parser_core.py:688-695); a SEQ
    #   without a second date is also valid (cisco stage fires, ntp
    #   stays unset).  '%'-led programs (cisco mnemonics) are admitted:
    #   '%' passes RE_PROGRAM's [^\[] first-char class and
    #   RE_PROGRAM_NAME keeps the whole token (no '['/'('/' '/slash).
    # - NetApp bracket form "[host prog:level]: " ⇔ RE_NETAPP + the
    #   RE_COLON_SPACE 3-way split (parser_core.py:724-736); the
    #   level-fills-priority rule only fires when no PRI preamble was
    #   parsed, so the fast cohort requires `pre` (checked in the
    #   mask, not here) and the level is then provably ignored.
    # - program separator: ':' (split at the FIRST colon — prog/pid
    #   classes exclude ':', so RE_PROGRAM's greedy [^:]+ stops at
    #   exactly this boundary) or the RFC5424-ish " -" form.  The
    #   hyphen form is only equivalent when the rest-of-line contains
    #   no ':' and no further ws-hyphen-ws: RE_PROGRAM's greedy [^:]+
    #   would otherwise split at the first colon or at the RIGHTMOST
    #   " - " (Line.pm:878) — the two lookaheads kick those to the
    #   state machine.
    # - pid: no whitespace at all.  The state machine rebuilds the tag
    #   from its whitespace-split words (minus priority names), so a pid
    #   holding a tab, a run of spaces or a word like "err" comes out
    #   changed; those rows go to it.
    return _re.compile(
        prefix + r"(?=/[^\s:]*+:))" + relay +
        r"(?:(?:(?P<cseq>\d{0,10}): (?:(?P<cflag>[.*])?"
        r"(?P<cdt>[A-Z][a-z]{2}\s+\d{1,2}\s+\d{2}:\d{2}:\d{2}): )?)?"
        r"(?P<praw>(?P<prog>/[A-Za-z0-9._/-]+|%?[A-Za-z][A-Za-z0-9._/-]+)"
        r"(?:\[(?P<pid>[^\]:()\s]+)\])?)"
        r"(?::\s++|(?P<hsep>[ \t]-)[ \t]++(?=[^:\n]*+$)(?![^\n]*[ \t]-[ \t]))"
        r"|\[(?P<nhost>[^\s:\]\[]+) (?P<nprog>[^\s:\]\[]+)"
        r":(?P<nlev>[^\s:\]\[]+)\]: (?![ :]))"
        r"(?P<content>[^\n]*+)$"
    )


class _Groups:
    """Matched-row group access for the fast path: a list of
    match.groups() tuples plus the name→slot map.  Replaces pandas
    str.extract — the 35-object-column DataFrame it builds (NaN
    sanitization included) cost ~3µs/row, pure overhead next to one
    C-level groups() call per row.  Unmatched groups are None (not
    NaN)."""

    __slots__ = ("tups", "idx")

    def __init__(self, tups, idx):
        self.tups = tups
        self.idx = idx

    def __len__(self) -> int:
        return len(self.tups)

    def has(self, name) -> bool:
        return name in self.idx

    def col(self, name) -> list:
        i = self.idx[name]
        return [t[i] for t in self.tups]


# single source of truth: the state machine's month table
_DIM_VEC = np.array(_DAYS_IN_MONTH)
_MONTH_1BASED = {k: v + 1 for k, v in MONTH_NUM.items()}


def _days_in_month_vec(y, mo):
    dim = _DIM_VEC[np.clip(mo, 1, 12) - 1].copy()
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    dim[(mo == 2) & leap] = 29
    return dim


def _days_from_civil_vec(y, mo, d):
    """Vector twin of parser_core._days_from_civil (y may be scalar)."""
    yy = y - (mo <= 2)
    era = yy // 400
    yoe = yy - era * 400
    doy = (153 * (mo + np.where(mo > 2, -3, 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _dt_fallback(parser, dts, yrs, out):
    """Per-row derivation through the state machine's `dt_fields` for
    every row still None in `out` (identical output by construction),
    resolved once per distinct timestamp in the batch.  Year-prefixed
    rows reconstruct the ORIGINAL "yyyy Mmm d ..." order for RE_DATE_BSD
    (the state machine's datetime_raw puts the year at the END, which
    RE_DATE_BSD would not re-match)."""
    from .parser_core import RE_DATE_BSD

    table: dict = {}
    for i, t in enumerate(out):
        if t is not None:
            continue
        s, yr = dts[i], yrs[i]
        key = s if yr is None else f"{s} {yr}"
        t = table.get(key)
        if t is None:
            if yr is None:
                d = parser.dt_fields(s)
            else:
                src = f"{yr} {s}"
                m = RE_DATE_BSD.match(src)
                groups = m.groups() if m and m.end() == len(src) else None
                d = parser.dt_fields(key, groups)
            t = table[key] = (
                d["epoch"], d["datetime_utc"], d["datetime_local"],
                d["datetime_str"], d["tz"], d["date"], d["time"],
                _epoch_us(d["epoch"]),
            )
        out[i] = t


def _derive_dt_columns(parser, ext, dt_list, yr_list):
    """The datetime-derivation stage of the fast path: the 8 derived
    column lists (epoch, the three rendered strings, tz, date, time,
    epoch_us) for the batch.  Skipped entirely when DateParsing=0.

    One rule set for both timestamp shapes (⇔ Line.pm:766-824), worked
    from the master regex's component groups (no second regex pass).
    Each row's groups are read once into (year, month, day, h, m, s,
    offset_min, infer_year): BSD rows have offset 0 and infer the year
    unless the line carried a year prefix; ISO rows carry their own
    offset (none or 'Z' is UTC).  One numpy validity mask and one
    civil-date epoch follow, with the previous-year rule ("more than a
    day in the future", Line.pm:800-802) on inference rows only, then
    one render loop: np.datetime_as_string emits the
    YYYY-MM-DDTHH:MM:SS prefix in C, the rest is plain string assembly.

    Rows outside that envelope take `_dt_fallback`, so output is
    identical either way: an unknown month abbr (the month-1 Perl
    quirk), invalid components (the now-fallback), Feb 29 under
    inference (leap ambiguity across the candidate years), ISO trailing
    junk, and fractions ending '000' (their shortest-exact 3/6/9-digit
    re-render is not the identity).  So does every row under a local
    zone or a custom time_format."""
    tups: list = [None] * len(dt_list)
    if parser.local_offset_min == 0 and parser._tm_render is None:
        g = ext.idx
        yr_i, bmon, bday, bh, bmi, bs, bfr = (
            g[k] for k in ("yr", "bmon", "bday", "bh", "bmi", "bs", "bfr"))
        iy, imo, iday, ih, imi, isec, ifr, ioff, irest = (
            g[k] for k in ("iy", "imo", "iday", "ih", "imi", "isec", "ifr",
                           "ioff", "irest"))
        local_year = parser.local_year
        pos, comps, fracs = [], [], []
        for i, t in enumerate(ext.tups):
            if t[bmon] is not None:
                mo, f, yr = _MONTH_1BASED.get(t[bmon]), t[bfr], t[yr_i]
                if mo is None or (f is not None and f.endswith("000")):
                    continue
                comps.append((
                    local_year if yr is None else int(yr), mo, int(t[bday]),
                    int(t[bh]), int(t[bmi]), int(t[bs]), 0, yr is None))
            else:
                f, o = t[ifr], t[ioff]
                if t[irest] or (f is not None and f.endswith("000")):
                    continue
                off = (0 if o is None or o == "Z"
                       else (-1 if o[0] == "-" else 1)
                       * (int(o[1:3]) * 60 + int(o[-2:])))
                comps.append((
                    int(t[iy]), int(t[imo]), int(t[iday]), int(t[ih]),
                    int(t[imi]), int(t[isec]), off, False))
            pos.append(i)
            fracs.append(f)
        if comps:
            y, mo, d, h, mi, s, off, infer = np.array(comps, dtype="int64").T
            infer = infer.astype(bool)
            valid = (
                (y >= 1) & (mo >= 1) & (mo <= 12) & (d >= 1)
                & (d <= _days_in_month_vec(y, mo)) & (h <= 23) & (mi <= 59)
                & (s <= 59) & ~(infer & (mo == 2) & (d == 29))
            )
            tod = h * 3600 + mi * 60 + s
            sec = _days_from_civil_vec(y, mo, d) * 86400 + tod - off * 60
            # inference rows have offset 0, and their day is valid in
            # y-1 too because inferred Feb 29 rows are excluded above
            prev = _days_from_civil_vec(y - 1, mo, d) * 86400 + tod
            sec = np.where(infer & (sec > int(parser.now_epoch) + 86400),
                           prev, sec)
            keep = np.flatnonzero(valid)
            sec, off = sec[keep], off[keep]
            utcl = np.datetime_as_string(sec.astype("datetime64[s]"),
                                         unit="s").tolist()
            # a non-zero offset renders datetime_str/date/time on the
            # wall clock at that offset, with tz in the +hhmm form
            nz = off != 0
            wall = iter(np.datetime_as_string(
                (sec[nz] + off[nz] * 60).astype("datetime64[s]"),
                unit="s").tolist())
            for j, sv, b, o in zip(keep.tolist(), sec.tolist(), utcl,
                                   off.tolist()):
                f = fracs[j]
                fd = "." + f if f is not None else ""
                utc = b + fd + "Z"
                us = sv * 1_000_000 + (int(f.ljust(6, "0")) if f is not None else 0)
                if o == 0:
                    tups[pos[j]] = (str(sv) + fd, utc, utc, utc, "Z",
                                    b[:10], b[11:] + fd, us)
                else:
                    w, tz = next(wall), _off_str(o)
                    tups[pos[j]] = (str(sv) + fd, utc, utc, w + fd + tz, tz,
                                    w[:10], w[11:] + fd, us)
    _dt_fallback(parser, dt_list, yr_list, tups)
    return (list(t) for t in zip(*tups))


def _fast_cols(parser, raw_list, ext: _Groups, options,
               field_names) -> dict:
    """Column lists for fast-path rows.  Single-pass list assembly —
    no per-field pandas .map (each would cost a Python call per row)."""
    n = len(ext)
    cols: dict[str, list] = {f: [None] * n for f in field_names}
    dt_list = ext.col("dt")
    yr_list = ext.col("yr")
    if options.date_parsing:
        (cols["epoch"], cols["datetime_utc"], cols["datetime_local"],
         cols["datetime_str"], cols["tz"], cols["date"], cols["time"],
         cols["epoch_us"]) = _derive_dt_columns(parser, ext, dt_list, yr_list)
    # else: the dt-derived fields stay None — ⇔ the state machine's
    # `if opts.date_parsing` gate (datetime_raw below is set either way)
    cols["message_raw"] = raw_list
    # the state machine renders year-prefixed datetime_raw as
    # "Mmm d HH:MM:SS yyyy" (parser_core parse: g[1] + ' ' + g[0])
    cols["datetime_raw"] = [
        s if yr is None else f"{s} {yr}" for s, yr in zip(dt_list, yr_list)
    ]
    # PRI preamble (⇔ Line.pm:719-731): arithmetic + name lookup,
    # resolved once per distinct preamble value
    from .tables import FACILITY_NAMES, FACILITY_MASK, PRIORITY_MASK, PRIORITY_NAMES

    ptab: dict = {None: (None,) * 5}
    pres = []
    for s in ext.col("pre"):
        t = ptab.get(s)
        if t is None:
            p = int(s)
            pi, fi = p & PRIORITY_MASK, p & FACILITY_MASK
            t = ptab[s] = (p, pi, fi, PRIORITY_NAMES.get(pi), FACILITY_NAMES.get(fi))
        pres.append(t)
    (cols["preamble"], cols["priority_int"], cols["facility_int"],
     cols["priority"], cols["facility"]) = (list(t) for t in zip(*pres))
    # RFC5424 version digit after the PRI (⇔ parser_core.py:607 — Perl
    # truthiness: "0" is consumed but sets no key; "00" sets version 0)
    ver_out = cols["version"]
    for i, v in enumerate(ext.col("ver")):
        if isinstance(v, str) and v != "0":
            ver_out[i] = int(v)
    # one relay hop (⇔ parser_core relay loop, single iteration on this
    # cohort): origin_date is copied VERBATIM — the slow path never
    # parses it (Line.pm:855 keeps the matched string)
    org_out, od_out = cols["origin"], cols["origin_date"]
    od_list = ext.col("odate")
    for i, o in enumerate(ext.col("origin")):
        if isinstance(o, str):
            org_out[i] = o
            od_out[i] = od_list[i]
    # host: IPv4 (digit-led) keeps the whole string, no domain split
    # (⇔ Line.pm:841-844); named hosts split host/domain on first '.'
    hosts = ext.col("host")
    host_out, dom_out = cols["host"], cols["domain"]
    for i, h in enumerate(hosts):
        if h is None:  # no-host (path-program) form: host fields stay None
            continue
        if h[0].isdigit():
            host_out[i] = h
        else:
            a, sep, b = h.partition(".")
            host_out[i] = a
            if sep:
                dom_out[i] = b
    cols["host_raw"] = hosts
    content = ext.col("content")
    cols["content"] = content
    if ext.has("praw"):
        praw = ext.col("praw")
        prog = ext.col("prog")
        # slash rule (⇔ parser_core.py:720-722 / Line.pm): a name that
        # CONTAINS '/' but doesn't start with it splits into
        # name/sub; '/'-led path programs keep the whole path.  Runs
        # BEFORE the NetApp fill-in: the NetApp branch assigns its
        # program name verbatim (no slash rule), and its rows are
        # still NaN here
        sub_out = cols["program_sub"]
        for i, p in enumerate(prog):
            if isinstance(p, str) and "/" in p and p[0] != "/":
                name, _, sub = p.partition("/")
                prog[i] = name
                sub_out[i] = sub
        # NetApp bracket-form rows: praw/prog come from the 3-way
        # split groups (⇔ parser_core.py:724-736; program_raw is the
        # bracket WITHOUT the trailing colon)
        nh = ext.col("nhost")
        nl = ext.col("nlev")
        for i, p in enumerate(ext.col("nprog")):
            if isinstance(p, str):
                praw[i] = f"[{nh[i]} {p}:{nl[i]}]"
                prog[i] = p
        cols["program_raw"] = praw
        cols["program_name"] = prog
        cols["program_pid"] = [p if isinstance(p, str) else None
                               for p in ext.col("pid")]
        # message = program_raw + matched separator + ' ' + PRE-splice
        # content (⇔ Line.pm:917 — message is assembled before the
        # SDATA stages rewrite content); separator is ':' for the
        # colon/NetApp forms, the matched ' -' for the hyphen form
        hs = ext.col("hsep")
        cols["message"] = [
            f"{p}{h if isinstance(h, str) else ':'} {c}"
            for p, h, c in zip(praw, hs, content)
        ]
    else:
        # extract_program=False: message == content, program_* None
        # (⇔ the state machine skipping its program stage); message is
        # the PRE-splice content, which is non-empty by the cohort regex
        cols["message"] = list(content)
    # Cisco rows (either variant): a matched second timestamp sets ntp
    # from the flag (⇔ parser_core.py:688-695); a bare SEQ (cdt absent)
    # leaves ntp unset, like the slow path
    cfl = ext.col("cflag")
    ntp_out = cols["ntp"]
    for i, cd in enumerate(ext.col("cdt")):
        if isinstance(cd, str):
            f = cfl[i]
            ntp_out[i] = ("out of sync" if f == "." else
                          "not configured" if f == "*" else "ok")
    # Structured-data splice (strict or loose, per options) through the
    # SAME stage bodies as the state machine (parser_core.
    # strict_sdata_splice / loose_sdata_splice): rewrites content and
    # yields the initial SDATA.  Only '['-bearing rows pay the per-row
    # body ('[' is the loose stage's own literal guard, and the strict
    # pattern cannot match without a leading '['; the strict branch's
    # unconditional lstrip is a no-op here — cohort content never
    # starts with whitespace, the separators consume it possessively).
    from .parser_core import (
        _merge,
        json_tail_sdata,
        kv_sdata,
        loose_sdata_splice,
        strict_sdata_splice,
    )

    splice = (
        strict_sdata_splice if options.rfc5424_strict
        else loose_sdata_splice if options.rfc5424_structured_data
        else None
    )
    sdata0 = None
    if splice is not None and any("[" in c for c in content):
        sdata0 = [None] * n
        content = list(content)  # message above keeps the pre-splice list
        for i, c in enumerate(content):
            if "[" in c:
                content[i], sdata0[i] = splice(c)
        cols["content"] = content
    # JSON-tail / K-V detection: these stages only ADD SDATA, running on
    # the POST-splice content exactly like the state machine
    # (parser_core.json_tail_sdata / kv_sdata are the shared bodies);
    # merge precedence ⇔ Line.pm:966/:995 — existing SDATA keys win
    if options.auto_detect_json or options.auto_detect_key_values or sdata0:
        want_json = options.auto_detect_json
        want_kv = options.auto_detect_key_values
        sd_out = cols["sdata"]
        sdj_out = cols["sdata_json"]
        jerr_out = cols["_json_error"]
        for i, c in enumerate(content):
            sdata = sdata0[i] if sdata0 is not None else None
            if want_json and "{" in c:
                js, jerr = json_tail_sdata(c)
                if js is not None:
                    sdata = _merge(js, sdata) if sdata else js
                elif jerr is not None:
                    jerr_out[i] = jerr
            if want_kv and "=" in c:
                kv = kv_sdata(c)
                if kv:
                    sdata = _merge(kv, sdata) if sdata else kv
            if sdata is not None:
                sd_out[i] = _flatten_sdata(sdata)
                sdj_out[i] = _sdata_ser(sdata)
    # prunes (⇔ Line.pm:999-1009)
    if options.prune_empty:
        # the state machine drops EVERY None-or-empty field
        # (parser_core.py:842-844), not just content — e.g. program
        # 'a/' leaves program_sub='' and host 'h.' leaves domain=''
        # after the partition splits above (ADVICE r4)
        for f, vals in cols.items():
            if any(isinstance(v, str) and v == "" for v in vals):
                cols[f] = [None if isinstance(v, str) and v == "" else v
                           for v in vals]
    if options.prune_raw:
        for f in ("message_raw", "host_raw", "program_raw", "datetime_raw"):
            cols[f] = [None] * n
    for f in options.prune_fields:
        if f in cols:
            cols[f] = [None] * n
    if not options.epoch_create:
        cols["epoch"] = [None] * n
        cols["epoch_us"] = [None] * n
    return cols


def _slow_cols(parser, raw_list, field_names, plain_fields,
               emit_parsed_json) -> dict:
    parse = parser.parse
    cols: dict[str, list] = {f: [] for f in field_names}
    plain_appends = [(f, cols[f].append) for f in plain_fields]
    # the special fields are fixed: explicit slots, no per-field dispatch
    int_appends = [(f, cols[f].append) for f in
                   ("preamble", "version", "priority_int", "facility_int")]
    a_epoch_us = cols["epoch_us"].append
    a_sdata = cols["sdata"].append
    a_sdata_json = cols["sdata_json"].append
    a_parsed = cols["parsed_json"].append
    null_msg: dict = {}
    for s in raw_list:
        msg = parse(s) if s is not None else null_msg
        get = msg.get
        for f, append in plain_appends:
            v = get(f)
            append(str(v) if v is not None and not isinstance(v, str) else v)
        for f, append in int_appends:
            v = get(f)
            append(v if type(v) is int else None)
        a_epoch_us(_epoch_us(get("epoch")))
        sdata = get("SDATA")
        if sdata is None:
            a_sdata(None)
            a_sdata_json(None)
        else:
            a_sdata(_flatten_sdata(sdata) if isinstance(sdata, dict) else None)
            a_sdata_json(_sdata_ser(sdata))
        a_parsed(canonical_json(msg) if emit_parsed_json else None)
    return cols


def _parse_batch(parser, raw: pd.Series, options, field_names, plain_fields,
                 emit_parsed_json, fast_re=None) -> pd.DataFrame:
    """Split a batch into the vectorized clean-line cohort and the
    state-machine remainder; outputs are row-identical either way.
    `fast_re=None` (or emit_parsed_json) parses every row with the state
    machine.

    Each cohort's column lists are scattered into one object ndarray
    per field: object dtype keeps ints exact for Arrow (pandas would
    turn an int+None list into float64, which ROUNDS epoch_us above
    2^53, i.e. post-2255 timestamps), and pre-built ndarrays skip
    pandas' per-column sanitize/platform-cast path."""
    raw_list = raw.tolist()
    n = len(raw_list)
    mask = np.zeros(n, dtype=bool)
    if fast_re is not None and not emit_parsed_json:
        rxm = fast_re.match
        tups = [
            m.groups() if s is not None and (m := rxm(s)) else None
            for s in raw_list
        ]
        gi = fast_re.groupindex
        if "prog" in gi:
            pi = gi["prog"] - 1
            # NetApp bracket-form rows join the cohort only when a PRI
            # preamble parsed: without one the slow path's level-fills-
            # priority rule could fire (parser_core.py:733-735), which
            # the vectorized assembly doesn't replicate
            ni, prei = gi["nprog"] - 1, gi["pre"] - 1
            mask = np.fromiter(
                (
                    t is not None
                    and ((t[pi] is not None and t[pi] not in _PRIO_WORDS)
                         or (t[ni] is not None and t[prei] is not None))
                    for t in tups
                ),
                bool, n,
            )
        else:
            # no-program variant: nothing downstream rewrites the matched
            # rest-of-line outside the shared splice bodies, so a match
            # alone is cohort membership (the severity-word filter only
            # exists for the program-name split)
            mask = np.fromiter((t is not None for t in tups), bool, n)
    cohorts = []
    pos_fast = np.flatnonzero(mask)
    if pos_fast.size:
        idx = {name: num - 1 for name, num in gi.items()}
        cohorts.append((pos_fast, _fast_cols(
            parser, [raw_list[i] for i in pos_fast],
            _Groups([tups[i] for i in pos_fast], idx), options, field_names)))
    pos_slow = np.flatnonzero(~mask)
    if pos_slow.size:
        cohorts.append((pos_slow, _slow_cols(
            parser, [raw_list[i] for i in pos_slow], field_names,
            plain_fields, emit_parsed_json)))
    out: dict = {}
    for f in field_names:
        arr = np.empty(n, dtype=object)
        for pos, cols in cohorts:
            arr[pos] = cols[f]
        out[f] = arr
    return pd.DataFrame(out, index=raw.index, columns=field_names, copy=False)


def _get_parser(options: ParserOptions) -> SyslogParser:
    key = (options,)
    p = _PARSER_CACHE.get(key)
    if p is None:
        p = _PARSER_CACHE[key] = SyslogParser(options)
    return p


def _plain_fields(field_names) -> list[str]:
    """Hot-path field layout: the handful of special fields get explicit
    slots; everything else is a plain dict get.  Columns accumulate
    into per-field lists (pd.DataFrame(dict-of-lists) avoids the
    row-tuple zip the list-of-tuples constructor pays)."""
    return [f for f in field_names if f not in _INT_FIELDS
            and f not in ("epoch_us", "sdata", "sdata_json", "parsed_json")]


def make_parse_udf(options: ParserOptions, emit_parsed_json: bool = False):
    """Build the Arrow-batched parse UDF (options captured by closure;
    must have a pinned now_epoch for deterministic retries)."""
    from pyspark.sql.functions import pandas_udf

    if options.now_epoch is None:
        raise ValueError(
            "options.now_epoch must be pinned before distributing the parser "
            "(wall-clock reads inside tasks break retry determinism)"
        )

    plain_fields = _plain_fields(FIELD_NAMES)
    fast_re = None if emit_parsed_json else _fast_regex(options)

    @pandas_udf(SYSLOG_SCHEMA)
    def parse_udf(raw: pd.Series) -> pd.DataFrame:
        parser = _get_parser(options)
        return _parse_batch(parser, raw, options, FIELD_NAMES, plain_fields,
                            emit_parsed_json, fast_re)

    return parse_udf


def make_parse_tokens_udf(options: ParserOptions):
    """Fused detokenize+parse UDF: tokens array<int32> -> parsed struct
    with the decoded line as `raw`.  One Python/Arrow boundary instead
    of two back-to-back ArrowEvalPython nodes — at 10^12 rows the second
    crossing is pure waste.  The struct has no `message_raw`: it would
    cross the boundary as a second copy of `raw` (or a null under
    prune_raw)."""
    from pyspark.sql.functions import pandas_udf

    if options.now_epoch is None:
        raise ValueError("options.now_epoch must be pinned (see make_parse_udf)")

    field_names = [f for f in FIELD_NAMES if f != "message_raw"]
    schema = StructType(
        [f for f in SYSLOG_SCHEMA.fields if f.name != "message_raw"]
        + [StructField("raw", StringType())]
    )
    plain_fields = _plain_fields(field_names)
    fast_re = _fast_regex(options)

    @pandas_udf(schema)
    def parse_tokens_udf(tokens: pd.Series) -> pd.DataFrame:
        parser = _get_parser(options)
        raw = decode_tokens(tokens)
        out = _parse_batch(parser, raw, options, field_names, plain_fields,
                           False, fast_re)
        out["raw"] = raw
        return out

    return parse_tokens_udf


def parse_syslog_tokens(
    df: DataFrame,
    tokens_col: str = "tokens",
    options: ParserOptions | None = None,
) -> DataFrame:
    """Fused scan-side operator: detokenize+parse in one Arrow crossing,
    flattened, with the JVM-derived ts column (like parse_syslog)."""
    options = options or ParserOptions()
    udf = make_parse_tokens_udf(options)
    out = df.withColumn("syslog", udf(F.col(tokens_col)))
    out = out.select(*df.columns, "syslog.*")
    return out.withColumn("ts", F.timestamp_micros(F.col("epoch_us")))


def parse_syslog(
    df: DataFrame,
    raw_col: str | Column = "raw",
    options: ParserOptions | None = None,
    emit_parsed_json: bool = False,
) -> DataFrame:
    """parse operator: adds the parsed fields as top-level columns plus
    a JVM-derived `ts` timestamp (from epoch_us; stays in whole-stage
    codegen for all downstream windowing).

    ⇔ parse_syslog_line applied column-wise (Line.pm:704-1014).
    """
    options = options or ParserOptions()
    udf = make_parse_udf(options, emit_parsed_json)
    col = F.col(raw_col) if isinstance(raw_col, str) else raw_col
    out = df.withColumn("syslog", udf(col))
    out = out.select(*df.columns, "syslog.*")
    return out.withColumn("ts", F.timestamp_micros(F.col("epoch_us")))

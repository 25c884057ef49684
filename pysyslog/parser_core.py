"""Single-pass syslog line parser — the core of the engine.

From-scratch Python reimplementation of the parse *semantics* of the
reference (reyjrar/Parse-Syslog-Line, /root/reference/lib/Parse/Syslog/Line.pm:704-1014).
Not a port of its execution model: this module is pure Python with all
patterns compiled once at import; the Spark layer (pysyslog.parser) maps
a compiled `SyslogParser.parse` closure over Arrow record batches, so
the per-row work here is the *inner loop* of a vectorized UDF — never a
row-at-a-time Spark Python UDF.

Faithfulness notes (each stage cites the reference behavior it matches):

* Stages run in a fixed order and each *consumes* its match from the
  head of the line (the reference uses destructive `s/^...//`), so later
  stages see a shortened string.  Field extraction is therefore NOT
  independent per field.
* "Absent key" and "key present with null" are distinct outcomes (Perl
  hash semantics); `parse()` returns a dict with exactly the keys the
  reference would produce.  The fixed-schema Spark layer maps both to
  NULL columns but keeps a canonical-JSON rendering for golden equality.
* All time handling is deterministic: `now_epoch` and `default_tz` are
  explicit (the reference reads the wall clock and $ENV{TZ}; tests mock
  them — t/01-parse.t:17-20).

Known deliberate deviations (documented, covered by tests):
* `_json_error` text comes from Python's json module, not Perl's
  JSON::MaybeXS, so the message differs; the golden harness (like the
  reference's own normalizer, t/lib/test/Data.pm:79) compares presence
  and prefix only.
* ISO8601 strings without a UTC offset are parsed as UTC.  (Reference
  delegates to Time::Moment->from_string(lenient); no fixture exercises
  the offset-less form.)
* If year-minus-one re-construction fails (e.g. "Feb 29" rolling back to
  a non-leap year) the original parse is kept; the reference would die
  (Line.pm:801 runs outside its eval).
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone

from .options import ParserOptions
from .tables import (
    FACILITY_NAMES,
    FACILITY_MASK,
    INT_PRIORITY,
    LOG_PRIORITY_ANY,
    MONTH_NUM,
    PRIORITY_MASK,
    PRIORITY_NAMES,
)

NS = 10**9

# ---------------------------------------------------------------------------
# Patterns (semantics ⇔ %RE, Line.pm:188-314; Python 3.11 supports the
# same atomic groups / possessive quantifiers used to bound backtracking)
# ---------------------------------------------------------------------------

RE_LEADING_WS = re.compile(r"^\s")
RE_IPV4 = re.compile(r"(?>(?:[0-9]{1,3}\.){3}[0-9]{1,3})")
RE_PREAMBLE = re.compile(r"^<(\d+)>(\d{0,2}(?=\s))?\s*")
RE_DATE_BSD = re.compile(
    r"""
    (?:(\d{4})\s)?              # optional leading year
    (                           # whole datetime string
        ([A-Za-z]{3})           # month abbr
        \s+
        ([0-9]+)                # day
        \s+
        ([0-9]{1,2})
            :([0-9]{2})
            :([0-9]{2})
        (?:\.
            ((?:[0-9]{3}){1,2}) # .mmm or .uuuuuu
        )?
    )
    """,
    re.X,
)
RE_DATE_ISO = re.compile(
    r"""(
        [0-9]{4}-[0-9]{2}-[0-9]{2}
        (?:\s|T)
        [0-9]{2}:[0-9]{2}:[0-9]{2}
        \S*
    )""",
    re.X,
)
RE_DATE_LONG = re.compile(
    r"""
    (?:[0-9]{4}\s+)?                # optional year (Cisco)
    ([.*])?                         # NTP status marker
    [a-zA-Z]{3}\s+[0-9]+            # Mmm D
    (?:\s+[0-9]{4})?                # optional year (Cisco, again)
    \s+
    [0-9]{1,2}(?:\:[0-9]{2}){1,2}   # HH:MM[:SS]
    (?:\.[0-9]{3,6})?               # optional fraction
    (?:\s+[A-Z]{3,4})?              # optional TZ abbr
    (?:\:?)
    """,
    re.X,
)
RE_HOST = re.compile(r"\s*([^:\s]+)\s+")
RE_CISCO_SEQ = re.compile(r"\s*[0-9]*:\s+")
RE_PROGRAM = re.compile(r"\s*([^\[][^:]+)(:|\s-)\s+")
RE_PROGRAM_NAME = re.compile(r"(.[^\[\(\ ]*)(.*)")
RE_PROGRAM_SUB = re.compile(r"(?>\(([^\)]+)\))")
RE_PROGRAM_PID = re.compile(r"(?>\[([^\]]+)\])")
RE_PROGRAM_SUB_FALLBACK = re.compile(r"^(?:[\/\s])?([^\[(]+)")
RE_NETAPP = re.compile(r"(?>\[([^\]]+)\]:\s*)")
RE_RELAY = re.compile(
    r"""^(?:\s*[0-9]+\s+)?
    (
        [0-9]{4}-[0-9]{2}-[0-9]{2}
        (?:\s|T)
        [0-9]{2}:[0-9]{2}:[0-9]{2}
        \S*
    )
    \s+
    \s*([^:\s]+)\s+
    """,
    re.X,
)
RE_KV_PRECHECK = re.compile(r"(?:^|\s)[a-zA-Z\.0-9\-_]+=\S+")
RE_KVDATA = re.compile(
    r"""
    (?:^|\b)
    (?>
        ([a-zA-Z\.0-9\-_@]+)            # key
    )
    =
    (
        \S+
        (?:\s+\S+)
            *?                          # lazy multi-word value
    )
    (?=
        (?:
            \s*[,;(\[]
            |$
            |\s+[a-zA-Z\.0-9\-_]+=
        )
    )
    """,
    re.X,
)
RE_SDATA_LOOSE = re.compile(
    r"""
    (?>
        (?:^|\s)
        \[
            (?!
                [^=]+
                \]
            )
            ([^\]]+)
        \]
    )
    """,
    re.X,
)
_QUOTED = r'"(?:[^"\\]++|\\.)*+"'
RE_SDATA_STRICT = re.compile(
    r"""
    ^
    (?>
        \[
            (
                (?:
                    (?:timeQuality|origin|meta)
                        |(?:[a-zA-Z0-9\.\-]+@[0-9]+)
                )
                (?:
                    \s
                    [a-zA-Z0-9\.\-]+=""" + _QUOTED + r"""
                )+
            )
        \]
    )
    """,
    re.X,
)
RE_STRICT_TOKEN = re.compile(r"([a-zA-Z0-9\.\-]+=" + _QUOTED + r")")
RE_LOOSE_TOKEN = re.compile(r"([a-zA-Z0-9\.\-]+=(?:" + _QUOTED + r"|\S+))")
RE_SDATA_GROUP = re.compile(r"^([^\s=]+)\s")
RE_KV_TRAIL = re.compile(r"[)\]>,;'\"]+$")
RE_KV_LEAD = re.compile(r"^[(\[<'\"]+")
RE_WS = re.compile(r"\s+")
RE_COLON_SPACE = re.compile(r"[: ]+")
RE_LEAD_COLON_WS = re.compile(r"^[ :]+")
RE_UNQUOTE = re.compile(r'(?:^")|(?:"$)')
RE_UTC_SUFFIX = re.compile(r"\+00:?00$")
RE_LSTRIP = re.compile(r"^\s+")
RE_RESPACE = re.compile(r":\s*")
RE_SPLIT_DT = re.compile(r"[ T]")
RE_SPLIT_TIME = re.compile(r"[+\-Z]")

# Lenient ISO8601 (emulates Time::Moment->from_string(..., lenient=>1)
# closely enough for the corpus; offset-less input -> UTC, see module doc)
RE_ISO_LENIENT = re.compile(
    r"""^\s*
    (\d{4})-(\d{2})-(\d{2})
    [Tt\ ]
    (\d{2}):(\d{2}):(\d{2})
    (?:[.,](\d{1,9}))?
    \s*
    (?:(Z|z|[+-]\d{2}(?::?\d{2})?))?
    \s*$
    """,
    re.X,
)


def _merge(left, right):
    """Recursive right-precedence merge ⇔ Hash::Merge::Simple::dclone_merge
    as used at Line.pm:966 / :995 (existing SDATA keys beat new ones)."""
    out = dict(left)
    for k, v in right.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = _merge(out[k], v)
        else:
            out[k] = v
    return out


def json_tail_sdata(content: str):
    """JSON-tail detection stage body (⇔ Line.pm:958-972): returns
    (decoded-dict | None, error-string | None).  Shared by the state
    machine and the vectorized fast path (parser._fast_cols) so the
    two cohorts cannot drift."""
    pos = content.find("{")
    if pos < 0:
        return None, None
    try:
        return json.loads(content[pos:]), None
    except Exception as e:  # ⇔ eval-or-error (:968-971)
        return None, f"Failed to decode json: {e}"


def kv_sdata(content: str):
    """Splunk-style K/V detection stage body (⇔ Line.pm:973-997):
    returns the extracted dict or None.  Shared by the state machine
    and the vectorized fast path; value trail/lead trims and the
    array auto-promote quirk live only here."""
    if "=" not in content or not RE_KV_PRECHECK.search(content):
        return None
    sdata: dict = {}
    for m in RE_KVDATA.finditer(content):
        k, v = m.group(1), m.group(2)
        # the trim regexes are anchored single-char-class patterns, so
        # a one-char membership test decides them exactly — most values
        # are clean and skip both sub() calls (v is never empty:
        # RE_KVDATA's value group requires at least one \S)
        if v[-1] in ")]>,;'\"":
            v = RE_KV_TRAIL.sub("", v)
        if v and v[0] in "([<'\"":
            v = RE_KV_LEAD.sub("", v)
        if k in sdata:
            if isinstance(sdata[k], list):
                sdata[k].append(v)
            else:
                sdata[k] = [sdata[k], v]  # array auto-promote (:981-992)
        else:
            sdata[k] = v
    return sdata or None


def strict_sdata_splice(content: str):
    """RFC5424 strict structured-data stage body (⇔ Line.pm:921-935):
    consume leading [sdid k="v" ...] groups from the content head,
    returning (new_content, sdata-or-None).  Shared by the state
    machine and the vectorized fast path (parser._fast_cols) so the
    two cohorts cannot drift.  The trailing lstrip is unconditional,
    exactly like the reference."""
    sdata = None
    while True:
        m = RE_SDATA_STRICT.match(content)
        if not m:
            break
        content = content[m.end():]
        sdid, _, sdata_s = re.split(r"(\s+)", m.group(1), maxsplit=1)
        for t in RE_STRICT_TOKEN.finditer(sdata_s):
            k, v = t.group(1).split("=", 1)
            if not v:
                continue
            if sdata is None:
                sdata = {}
            sdata.setdefault(sdid, {})[k] = v[1:-1]  # trim quotes (:929)
    return RE_LSTRIP.sub("", content), sdata


def loose_sdata_splice(content: str):
    """RFC5424-ish loose structured-data stage body (⇔ Line.pm:937-956):
    splice every (^|ws)[group k=v ...] out of content, returning
    (new_content, sdata-or-None).  Shared by the state machine and the
    vectorized fast path.  Quirk parity: the first-':'-re-space runs
    once per splice iteration and the final lstrip only when any
    SDATA was extracted — exactly the reference's flow."""
    sdata = None
    while True:
        m = RE_SDATA_LOOSE.search(content)
        if not m:
            break
        content = content[: m.start()] + content[m.end():]
        inner = m.group(1)
        gm = RE_SDATA_GROUP.match(inner)
        group = None
        if gm:
            group = gm.group(1)
            inner = inner[gm.end():]
        for t in RE_LOOSE_TOKEN.finditer(inner):
            k, v = t.group(1).split("=", 1)
            if not v:
                continue
            v = RE_UNQUOTE.sub("", v)
            if sdata is None:
                sdata = {}
            if group:
                sdata.setdefault(group, {})[k] = v
            else:
                sdata[k] = v
        # re-space quirk (:953): first ':' + following ws -> ': '
        if sdata:
            content = RE_RESPACE.sub(": ", content, count=1)
    if sdata:
        content = RE_LSTRIP.sub("", content)
    return content, sdata


def _frac_str(ns: int) -> str:
    """Fraction rendering of Time::Moment's %f: empty when zero, else
    a dot plus 3/6/9 digits (smallest group that is exact)."""
    if ns == 0:
        return ""
    if ns % 1_000_000 == 0:
        return f".{ns // 1_000_000:03d}"
    if ns % 1000 == 0:
        return f".{ns // 1000:06d}"
    return f".{ns:09d}"


def _off_str(minutes: int) -> str:
    sign = "-" if minutes < 0 else "+"
    m = abs(minutes)
    return f"{sign}{m // 60:02d}{m % 60:02d}"


def _compile_tm_format(fmt: str):
    """Compile a $TimeMomentFormatString-style format (Line.pm:34) into
    a renderer fn(y, mo, d, h, mi, s, frac_ns, offset_min, epoch_sec).
    %F/%T expand to their primitive forms; %f is Time::Moment's
    shortest-exact fraction (empty when 0); unsupported codes pass
    through literally (matching strftime's lenient behavior)."""
    fmt = fmt.replace("%F", "%Y-%m-%d").replace("%T", "%H:%M:%S")
    parts = re.split(r"(%.)", fmt)

    def render(y, mo, d, h, mi, s, frac_ns, offset_min, epoch_sec):
        out = []
        for p in parts:
            if len(p) == 2 and p[0] == "%":
                c = p[1]
                if c == "Y":
                    out.append(f"{y:04d}")
                elif c == "m":
                    out.append(f"{mo:02d}")
                elif c == "d":
                    out.append(f"{d:02d}")
                elif c == "e":
                    out.append(f"{d:2d}")
                elif c == "H":
                    out.append(f"{h:02d}")
                elif c == "M":
                    out.append(f"{mi:02d}")
                elif c == "S":
                    out.append(f"{s:02d}")
                elif c == "f":
                    out.append(_frac_str(frac_ns))
                elif c == "z":
                    out.append("+0000" if offset_min == 0 else _off_str(offset_min))
                elif c == "s":
                    out.append(str(epoch_sec))
                elif c == "%":
                    out.append("%")
                else:
                    out.append(p)
            elif p:
                out.append(p)
        return "".join(out)

    return render


def _custom_formatter(render):
    """fn(epoch_ns, offset_min) for a non-default
    $TimeMomentFormatString (Line.pm:814-816): the compiled `render`
    at that offset, then the reference's s/\\+00:?00$/Z/ rewrite."""

    def fmt(epoch_ns: int, offset_min: int) -> str:
        sec, frac_ns = divmod(epoch_ns, NS)
        days, sod = divmod(sec + offset_min * 60, 86400)
        y, mo, d = _civil_from_days(days)
        h, rem = divmod(sod, 3600)
        mi, s = divmod(rem, 60)
        return RE_UTC_SUFFIX.sub(
            "Z", render(y, mo, d, h, mi, s, frac_ns, offset_min, sec))

    return fmt


_DEFAULT_TIME_FORMAT = "%FT%T%f%z"

_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _days_from_civil(y: int, m: int, d: int) -> int:
    """Gregorian date -> days since 1970-01-01 (standard civil-date
    arithmetic; ~6x faster than constructing datetime objects, which
    dominated the parse profile)."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _civil_from_days(z: int) -> tuple[int, int, int]:
    """days since 1970-01-01 -> (y, m, d); inverse of _days_from_civil."""
    z += 719468
    era = (z if z >= 0 else z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + (3 if mp < 10 else -9)
    return y + (m <= 2), m, d


def _epoch_seconds(y, mo, d, h, mi, s, offset_min) -> int:
    """Whole epoch seconds for wall-clock components at a fixed offset.
    Raises ValueError on invalid components (⇔ Time::Moment->new dying
    inside eval, Line.pm:798; validation ranges match datetime's)."""
    if not 1 <= mo <= 12:
        raise ValueError("month out of range")
    dim = _DAYS_IN_MONTH[mo - 1]
    if mo == 2 and y % 4 == 0 and (y % 100 != 0 or y % 400 == 0):
        dim = 29
    if not (1 <= y <= 9999 and 1 <= d <= dim and 0 <= h <= 23
            and 0 <= mi <= 59 and 0 <= s <= 59):
        raise ValueError("datetime component out of range")
    return (_days_from_civil(y, mo, d) * 86400 + h * 3600 + mi * 60 + s
            - offset_min * 60)


def _tz_offset_minutes(tz_name: str, at_epoch: float) -> int:
    if tz_name in ("UTC", "", None):
        return 0
    from zoneinfo import ZoneInfo

    dt = datetime.fromtimestamp(at_epoch, tz=ZoneInfo(tz_name))
    return int(dt.utcoffset().total_seconds() // 60)


def _local_year(tz_name: str, at_epoch: float) -> int:
    """Year of `now` in the configured zone ⇔ 1900+(localtime)[5]
    under $ENV{TZ} (Line.pm:796)."""
    off = _tz_offset_minutes(tz_name, at_epoch)
    return datetime.fromtimestamp(at_epoch + off * 60, tz=timezone.utc).year


class SyslogParser:
    """Compiled, deterministic parser instance.

    One instance is built per (options, now, tz) tuple and reused across
    every row of every Arrow batch on an executor.
    """

    def __init__(self, options: ParserOptions | None = None):
        self.opts = options or ParserOptions()
        now = self.opts.now_epoch
        if now is None:  # resolve once, at construction — never per row
            import time as _time

            now = _time.time()
        self.now_epoch = float(now)
        self.local_offset_min = _tz_offset_minutes(self.opts.default_tz, self.now_epoch)
        self.local_year = _local_year(self.opts.default_tz, self.now_epoch)
        # custom $TimeMomentFormatString renderer; None keeps the fused
        # fast formatter (_fmt_iso) on the default-format hot path
        self._tm_render = (
            None
            if self.opts.time_format == _DEFAULT_TIME_FORMAT
            else _compile_tm_format(self.opts.time_format)
        )
        # the one formatter fn(epoch_ns, offset_min) -> rendered string
        self._fmt = (self._fmt_iso if self._tm_render is None
                     else _custom_formatter(self._tm_render))
        # datetime render memo: every derived field (epoch, the three
        # rendered strings, tz, date, time) is a pure function of
        # datetime_raw given (options, now) — both fixed for this
        # instance — and log corpora repeat timestamps heavily (many
        # lines per second), so one render serves the whole cluster.
        self._dt_cache: dict = {}

    # -- datetime ----------------------------------------------------------

    def _render_datetime(self, msg: dict, epoch_ns: int, offset_min: int):
        """⇔ Line.pm:812-817: epoch (%s%f), datetime_utc/local/str
        (the time format, %FT%T%f%z by default, with +0000→Z rewrite),
        tz (%z with +0000→Z).

        The default formatter (_fmt_iso) folds the +0000→Z rewrite in
        (an offset of exactly 0 is the only case the regexes can hit),
        and identical offsets share one rendered string — in the common
        case (UTC default tz, offset-less message) all three fields are
        the same string, built once.
        """
        sec, frac_ns = divmod(epoch_ns, NS)
        msg["epoch"] = f"{sec}{_frac_str(frac_ns)}" if frac_ns else str(sec)
        fmt = self._fmt
        utc = fmt(epoch_ns, 0)
        msg["datetime_utc"] = utc
        lo = self.local_offset_min
        local = utc if lo == 0 else fmt(epoch_ns, lo)
        msg["datetime_local"] = local
        msg["datetime_str"] = (
            utc if offset_min == 0
            else local if offset_min == lo
            else fmt(epoch_ns, offset_min)
        )
        msg["tz"] = "Z" if offset_min == 0 else _off_str(offset_min)

    @staticmethod
    def _fmt_iso(epoch_ns: int, offset_min: int) -> str:
        sec, frac_ns = divmod(epoch_ns, NS)
        shifted = sec + offset_min * 60
        days, sod = divmod(shifted, 86400)
        y, mo, d = _civil_from_days(days)
        h, rem = divmod(sod, 3600)
        mi, s = divmod(rem, 60)
        off = "Z" if offset_min == 0 else _off_str(offset_min)
        return (
            f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}"
            f"{_frac_str(frac_ns)}{off}"
        )

    def _parse_bsd_datetime(self, g) -> tuple[int, int] | None:
        """BSD/legacy path ⇔ Line.pm:766-803. Returns (epoch_ns, offset_min)
        or None when construction fails."""
        year_s, _whole, mon_abbr, day_s, hh, mm, ss, hp = g
        # month map ⇔ $MoY{...}+1; Perl's undef numifies to 0, so an
        # unknown 3-letter abbr yields month 1 (January) and the parse
        # SUCCEEDS — default 0 here reproduces that exactly
        month = MONTH_NUM.get(mon_abbr, 0) + 1
        offset_min = self.local_offset_min  # no offset in BSD form (:784)
        ns = 0
        if hp:
            ln = len(hp)
            v = int(hp) * (1_000_000 if ln <= 3 else 1000 if ln <= 6 else 1)
            if ln > 9:
                v = 0
            if v:
                ns = v
        has_year = bool(year_s)
        year = int(year_s) if has_year else self.local_year
        try:
            sec = _epoch_seconds(year, month, int(day_s), int(hh), int(mm), int(ss), offset_min)
        except ValueError:
            return None
        if not has_year and sec > int(self.now_epoch) + 86400:
            # "in the future" -> previous year (Line.pm:800-802)
            try:
                sec = _epoch_seconds(
                    year - 1, month, int(day_s), int(hh), int(mm), int(ss), offset_min
                )
            except ValueError:
                pass  # deviation: keep the future-year parse (see module doc)
        return sec * NS + ns, offset_min

    def _parse_iso_datetime(self, raw: str) -> tuple[int, int] | None:
        """ISO path ⇔ Time::Moment->from_string(lenient=>1) (Line.pm:806)."""
        m = RE_ISO_LENIENT.match(raw)
        if not m:
            return None
        y, mo, d, h, mi, s, frac, off = m.groups()
        if off is None or off.upper() == "Z":
            offset_min = 0
        else:
            sign = -1 if off[0] == "-" else 1
            rest = off[1:].replace(":", "")
            oh = int(rest[:2])
            om = int(rest[2:4]) if len(rest) >= 4 else 0
            offset_min = sign * (oh * 60 + om)
        ns = int(frac.ljust(9, "0")) if frac else 0
        try:
            sec = _epoch_seconds(int(y), int(mo), int(d), int(h), int(mi), int(s), offset_min)
        except ValueError:
            return None
        return sec * NS + ns, offset_min

    def dt_fields(self, datetime_raw: str, bsd_groups=None) -> dict:
        """Memoized datetime derivation: every derived field (epoch,
        datetime_utc/local/str, tz, date, time) is a pure function of
        datetime_raw for this (options, now) instance.  Called from the
        per-row state machine and from the vectorized fast path (which
        resolves each unique timestamp once per batch)."""
        cached = self._dt_cache.get(datetime_raw)
        if cached is None:
            if bsd_groups is None:
                m = RE_DATE_BSD.match(datetime_raw)
                bsd_groups = m.groups() if m and m.end() == len(datetime_raw) else None
            if bsd_groups is not None:
                tm = self._parse_bsd_datetime(bsd_groups)
            else:
                tm = self._parse_iso_datetime(datetime_raw)
            if tm is None:
                # fallback: "now" (:808-809)
                tm = (int(self.now_epoch * NS), self.local_offset_min)
            cached = {}
            self._render_datetime(cached, *tm)
            # date/time split (:820-824).  The default rendered form is
            # always YYYY-MM-DDTHH:MM:SS[.frac](Z|±hhmm) with no +,-,Z
            # inside the time part, so slicing is exactly the
            # reference's split-on-[ T]-then-[+\-Z]; a custom format
            # needs the faithful generic split.
            ds = cached["datetime_str"]
            if self._tm_render is None:
                cached["date"] = ds[:10]
                cached["time"] = ds[11:-1] if ds[-1] == "Z" else ds[11:-5]
            else:
                parts = RE_SPLIT_DT.split(ds)
                cached["date"] = parts[0]
                t = parts[1] if len(parts) > 1 else None
                cached["time"] = RE_SPLIT_TIME.split(t)[0] if t is not None else None
            if len(self._dt_cache) > 200_000:
                self._dt_cache.clear()
            self._dt_cache[datetime_raw] = cached
        return cached

    # -- main entry ---------------------------------------------------------

    def parse(self, raw_string: str) -> dict:
        """⇔ parse_syslog_line (Line.pm:704-1014). One line in, one
        record (dict of present keys) out."""
        opts = self.opts
        msg: dict = {}
        if not opts.prune_raw:
            msg["message_raw"] = raw_string

        # Lines that begin with whitespace aren't syslog (:716)
        if RE_LEADING_WS.match(raw_string):
            return msg

        raw = raw_string

        # PRI preamble (:719-731)
        m = RE_PREAMBLE.match(raw)
        if m:
            raw = raw[m.end():]
            msg["preamble"] = int(m.group(1))
            v = m.group(2)
            if v and v != "0":  # Perl truthiness of `if $2`
                msg["version"] = int(v)
            pi = msg["preamble"] & PRIORITY_MASK
            fi = msg["preamble"] & FACILITY_MASK
            msg["priority_int"] = pi
            msg["facility_int"] = fi
            msg["priority"] = PRIORITY_NAMES.get(pi)
            msg["facility"] = FACILITY_NAMES.get(fi)

        # Date extraction (:736-755)
        bsd_groups = None
        m = RE_DATE_BSD.match(raw)
        if m:
            raw = raw[m.end():]
            g = m.groups()
            msg["datetime_raw"] = g[1] + (f" {g[0]}" if g[0] else "")
            bsd_groups = g
        else:
            m = RE_DATE_ISO.match(raw)
            if m:
                raw = raw[m.end():]
                msg["datetime_raw"] = m.group(1)

        # Date parsing (:758-833)
        if msg.get("datetime_raw"):
            if opts.date_parsing:
                if opts.fmt_date is not None:
                    # hash-slice semantics: all four keys created (:762)
                    vals = list(opts.fmt_date(msg["datetime_raw"]))
                    vals += [None] * (4 - len(vals))
                    msg["date"], msg["time"], msg["epoch"], msg["datetime_str"] = vals[:4]
                    if msg.get("datetime_str"):
                        # FmtDate-provided string: faithful generic split
                        # (⇔ split /[ T]/ then /[+\-Z]/, Line.pm:822-824)
                        parts = RE_SPLIT_DT.split(msg["datetime_str"])
                        msg["date"] = parts[0]
                        t = parts[1] if len(parts) > 1 else None
                        msg["time"] = (
                            RE_SPLIT_TIME.split(t)[0] if t is not None else None
                        )
                else:
                    msg.update(self.dt_fields(msg["datetime_raw"], bsd_groups))

        # Host (:837-850)
        m = RE_HOST.match(raw)
        if m:
            raw = raw[m.end():]
            host_str = m.group(1)
            ip = RE_IPV4.search(host_str)
            if ip:
                msg["host_raw"] = host_str
                msg["host"] = ip.group(0)
            elif host_str:
                host, _, domain = host_str.partition(".")
                msg["host_raw"] = host_str
                msg["host"] = host
                msg["domain"] = domain if _ else None

        # Relayed logs: origin (:852-856).  First-char guard: the relay
        # pattern can only start with whitespace or a digit.
        while raw[:1].isdigit() or raw[:1].isspace():
            m = RE_RELAY.match(raw)
            if not m:
                break
            msg["origin"] = m.group(2)
            msg["origin_date"] = m.group(1)
            raw = raw[m.end():]

        # Cisco sequence + 2nd timestamp + NTP flag (:859-872).
        # First-char guard: the pattern starts with ws, digit, or ':'.
        c0 = raw[:1]
        m = (
            RE_CISCO_SEQ.match(raw)
            if c0 == ":" or c0.isdigit() or c0.isspace()
            else None
        )
        if m:
            raw = raw[m.end():]
            m2 = RE_DATE_LONG.match(raw)
            if m2:
                raw = raw[m2.end():]
                ntp = m2.group(1)
                if ntp:
                    msg["ntp"] = (
                        "out of sync" if ntp == "." else
                        "not configured" if ntp == "*" else "unknown"
                    )
                else:
                    msg["ntp"] = "ok"

        # Program / tag (:876-913)
        progsep = ":"
        if opts.extract_program:
            m = RE_PROGRAM.match(raw)
            if m:
                raw = raw[m.end():]
                msg["program_raw"] = m.group(1)
                progsep = m.group(2) or ""
                prog_str = " ".join(
                    w for w in RE_WS.split(msg["program_raw"]) if w not in INT_PRIORITY
                )
                m2 = RE_PROGRAM_NAME.match(prog_str)
                if m2:
                    msg["program_name"] = m2.group(1)
                    remainder = m2.group(2)
                    if remainder:
                        pm = RE_PROGRAM_PID.search(remainder)
                        msg["program_pid"] = pm.group(1) if pm else None
                        sm = RE_PROGRAM_SUB.search(remainder)
                        msg["program_sub"] = sm.group(1) if sm else None
                        if not msg["program_sub"]:
                            fm = RE_PROGRAM_SUB_FALLBACK.match(remainder)
                            msg["program_sub"] = fm.group(1) if fm else None
                    name = msg["program_name"]
                    if not name.startswith("/") and "/" in name:
                        msg["program_name"], _, msg["program_sub"] = name.partition("/")
            else:
                m = RE_NETAPP.search(raw)
                if m:
                    raw = raw[: m.start()] + raw[m.end():]
                    sub_str = m.group(1)
                    msg["program_raw"] = f"[{sub_str}]"
                    parts = RE_COLON_SPACE.split(sub_str)
                    parts += [None] * (3 - len(parts))
                    _host, program, level = parts[:3]
                    msg["program_name"] = program
                    if "priority" not in msg and level is not None and level in LOG_PRIORITY_ANY:
                        msg["priority"] = level
                        msg["priority_int"] = LOG_PRIORITY_ANY[level]
                    raw = RE_LEAD_COLON_WS.sub("", raw)
        else:
            raw = RE_LSTRIP.sub("", raw)

        # Content + message (:916-918)
        content = raw[:-1] if raw.endswith("\n") else raw  # chomp
        msg["content"] = content
        msg["message"] = (
            f"{msg['program_raw']}{progsep} {content}"
            if msg.get("program_raw") is not None
            else content
        )

        # RFC structured data (:921-956) — stage bodies shared with the
        # vectorized fast path (strict_sdata_splice / loose_sdata_splice)
        if opts.rfc5424_strict:
            msg["content"], sdata = strict_sdata_splice(msg["content"])
            if sdata is not None:
                msg["SDATA"] = sdata
        elif opts.rfc5424_structured_data and "[" in msg["content"]:
            # the '[' literal guard skips the regex scan on the ~common
            # case; the loose pattern cannot match without one
            msg["content"], sdata = loose_sdata_splice(msg["content"])
            if sdata is not None:
                msg["SDATA"] = sdata

        # JSON tail (:958-972) — stage body shared with the fast path
        if opts.auto_detect_json:
            js, jerr = json_tail_sdata(msg["content"])
            if js is not None:
                msg["SDATA"] = _merge(js, msg["SDATA"]) if msg.get("SDATA") else js
            elif jerr is not None:
                msg["_json_error"] = jerr

        # Splunk-style K/V (:973-997) — stage body shared with the fast path
        if opts.auto_detect_key_values:
            sdata = kv_sdata(msg["content"])
            if sdata:
                msg["SDATA"] = _merge(sdata, msg["SDATA"]) if msg.get("SDATA") else sdata

        # Prunes (:999-1009)
        if opts.prune_raw:
            for k in [k for k in msg if k.endswith("_raw")]:
                del msg[k]
        if opts.prune_empty:
            for k in [k for k in msg if msg[k] is None or msg[k] == ""]:
                del msg[k]
        for k in opts.prune_fields:
            msg.pop(k, None)
        if "epoch" in msg and not opts.epoch_create:
            del msg["epoch"]

        return msg


def parse_syslog_lines(chunks, parser: SyslogParser, _buffer=None):
    """Stateful multi-line reassembly ⇔ parse_syslog_lines (Line.pm:1044-1070).

    Generator-style helper used by batch tests; the distributed versions
    live in pysyslog.multiline (window trick) and pysyslog.streaming
    (applyInPandasWithState).  `chunks=None` drains the buffer.
    Returns (records, buffer) so callers manage state explicitly.
    """
    buffer = _buffer or ""
    out = []
    if chunks:
        lines = []
        for c in chunks:
            if c is None:
                continue
            lines.extend(re.split(r"\r?\n", c))
        for line in lines:
            if not line:  # Perl `while (my $line = shift)` stops on falsy
                break
            if re.match(r"^\s", line):
                buffer += "\n" + line
            else:
                out.append(parser.parse(buffer))
                buffer = line
    else:
        if buffer:
            out.append(parser.parse(buffer))
        buffer = ""
    return out, buffer

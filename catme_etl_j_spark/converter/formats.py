"""Excel number-format-code rendering (the POI ``DataFormatter`` gap).

The reference's only value transformation is POI's ``DataFormatter``:
every numeric cell is rendered through its style's number format code
before being written out
(src/.../strategy/UserModeEventConversionStrategy.java:269-274,
src/.../core/poi/CatmePoiSheetContentsHandler.java:38,61). This module
is the from-scratch Python equivalent: the builtin format table
(ids 0-49), ``styles.xml`` parsing (``cellXfs`` -> ``numFmtId``,
custom ``numFmts`` from id 164), date detection, and a renderer for
the date/time/number format-code language.

Scope matches what the reference actually exercises: builtin ids
(notably dates 14-22 and times 45-47), plus the common custom codes
(``0.00``, ``#,##0.00``, ``yyyy-mm-dd``, percents, exponents, simple
fractions). Rendering is locale-fixed to POI's default (US English
month/weekday names, ``.`` decimal separator, ``,`` group separator).

Date serials use the 1900 date system including Excel's leap-year bug:
serial 60 is the nonexistent 1900-02-29, which (like POI's
``DateUtil.getJavaDate``) rolls to 1900-03-01, so serials 60 and 61
both render as March 1st 1900.
"""

from __future__ import annotations

import calendar
import math
import re
from datetime import date, timedelta
from decimal import Decimal
from fractions import Fraction
from xml.etree.ElementTree import iterparse

# POI BuiltinFormats: the ids every xlsx can reference without declaring
# them in styles.xml. Ids 23-36 are locale-reserved; files using them
# carry explicit numFmts, so they fall back to General here. Ids 41-44
# (the accounting formats) ARE defined by POI's BuiltinFormats table
# (reference behavior: UserModeEventConversionStrategy.java formats via
# POI DataFormatter), so they render through the same engine as any
# explicitly-declared numFmt with the identical code string.
BUILTIN_FORMATS: dict[int, str] = {
    0: "General",
    1: "0",
    2: "0.00",
    3: "#,##0",
    4: "#,##0.00",
    9: "0%",
    10: "0.00%",
    11: "0.00E+00",
    12: "# ?/?",
    13: "# ??/??",
    14: "m/d/yy",
    15: "d-mmm-yy",
    16: "d-mmm",
    17: "mmm-yy",
    18: "h:mm AM/PM",
    19: "h:mm:ss AM/PM",
    20: "h:mm",
    21: "h:mm:ss",
    22: "m/d/yy h:mm",
    37: "#,##0 ;(#,##0)",
    38: "#,##0 ;[Red](#,##0)",
    39: "#,##0.00;(#,##0.00)",
    40: "#,##0.00;[Red](#,##0.00)",
    41: '_(* #,##0_);_(* \\(#,##0\\);_(* "-"_);_(@_)',
    42: '_("$"* #,##0_);_("$"* \\(#,##0\\);_("$"* "-"_);_(@_)',
    43: '_(* #,##0.00_);_(* \\(#,##0.00\\);_(* "-"??_);_(@_)',
    44: '_("$"* #,##0.00_);_("$"* \\(#,##0.00\\);_("$"* "-"??_);_(@_)',
    45: "mm:ss",
    46: "[h]:mm:ss",
    47: "mm:ss.0",
    48: "##0.0E+0",
    49: "@",
}

FIRST_CUSTOM_FMT_ID = 164

_NS_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

_EPOCH_1900 = date(1900, 1, 1)
_EPOCH_1904 = date(1904, 1, 1)


def parse_styles(xml_stream) -> list[str]:
    """``styles.xml`` -> format code per cellXfs index.

    Resolution mirrors POI's ``StylesTable``: each ``<xf>`` under
    ``<cellXfs>`` carries a ``numFmtId``; custom ``<numFmt>`` entries
    (id >= 164) override/extend the builtin table. ``applyNumberFormat``
    is not consulted — POI's DataFormatter formats by the style's
    numFmtId regardless, and so does Excel for cell xfs in practice.
    """
    custom: dict[int, str] = {}
    xf_ids: list[int] = []
    in_cell_xfs = False
    for event, el in iterparse(xml_stream, events=("start", "end")):
        if event == "start":
            if el.tag == f"{_NS_MAIN}cellXfs":
                in_cell_xfs = True
        else:
            if el.tag == f"{_NS_MAIN}numFmt":
                try:
                    custom[int(el.get("numFmtId", ""))] = el.get("formatCode", "General")
                except ValueError:
                    pass
            elif el.tag == f"{_NS_MAIN}xf" and in_cell_xfs:
                try:
                    xf_ids.append(int(el.get("numFmtId", "0")))
                except ValueError:
                    xf_ids.append(0)
            elif el.tag == f"{_NS_MAIN}cellXfs":
                in_cell_xfs = False
            el.clear()
    table = dict(BUILTIN_FORMATS)
    table.update(custom)
    return [table.get(i, "General") for i in xf_ids]


def format_general(raw: str) -> str:
    """Excel 'General' rendering of a numeric cell value."""
    # fast path: plain ASCII integers (the dominant case) skip the
    # float round-trip; identical output — float(d) == int(d) exactly
    # for <= 15 digits, and str(int(raw)) strips leading zeros the
    # same way
    if raw.isascii() and raw.isdigit() and len(raw) <= 15:
        return raw if raw[0] != "0" or len(raw) == 1 else str(int(raw))
    try:
        f = float(raw)
    except ValueError:
        return raw
    if not math.isfinite(f):
        return raw  # "nan", "1e400": no finite number to print
    if f == int(f) and abs(f) < 1e16:
        return str(int(f))
    return repr(f)


# ---------------------------------------------------------------- dates

def serial_to_date(whole_days: int, date1904: bool = False) -> date:
    """Serial day -> calendar date.

    1900 system: matches POI DateUtil.getJavaDate — below serial 61
    Excel believes 1900-02-29 exists, so no adjustment; from 61 on, one
    day is subtracted. The phantom serial 60 itself rolls forward to
    Mar 1 (lenient-calendar behavior), so 60 and 61 both print
    1900-03-01. 1904 system (Mac-origin workbooks,
    ``workbookPr date1904="1"``): day 0 is 1904-01-01, no leap quirk.
    """
    if date1904:
        return _EPOCH_1904 + timedelta(days=whole_days)
    adjust = 0 if whole_days < 61 else -1
    return _EPOCH_1900 + timedelta(days=whole_days + adjust - 1)


def _split_serial(serial: float) -> tuple[int, int]:
    """serial -> (whole_days, millis_of_day); millis rounded, carrying
    into the next day at exactly midnight (POI rounds to ms too)."""
    whole = math.floor(serial)
    ms = round((serial - whole) * 86_400_000)
    if ms >= 86_400_000:
        whole += 1
        ms = 0
    return whole, ms


_COND_BRACKET_RE = re.compile(r"\[(?![hmsHMS]+\])[^\]]*\]")
_QUOTED_RE = re.compile(r'"[^"]*"')
_ESCAPED_RE = re.compile(r"\\.")
_DATE_CHAR_RE = re.compile(r"[ymdhsYMDHS]")


def is_date_format(code: str) -> bool:
    """True if the code renders a date/time (POI isADateFormat logic:
    strip quoted literals, escapes, and color/condition brackets —
    keeping elapsed [h]/[mm]/[ss] — then look for date letters)."""
    if code == "General":
        return False
    stripped = _QUOTED_RE.sub("", code)
    stripped = _ESCAPED_RE.sub("", stripped)
    stripped = _COND_BRACKET_RE.sub("", stripped)
    stripped = stripped.replace("AM/PM", "").replace("A/P", "")
    return bool(_DATE_CHAR_RE.search(stripped))


def _tokenize_date(code: str) -> list[tuple[str, str]]:
    """Format code -> [(kind, text)] where kind in
    {lit, y, m, d, h, s, ampm, elapsed_h, elapsed_m, elapsed_s, subsec}.
    """
    toks: list[tuple[str, str]] = []
    i, n = 0, len(code)
    while i < n:
        ch = code[i]
        if ch == '"':
            j = code.find('"', i + 1)
            j = n if j < 0 else j
            toks.append(("lit", code[i + 1 : j]))
            i = j + 1
        elif ch == "\\":
            toks.append(("lit", code[i + 1 : i + 2]))
            i += 2
        elif ch == "[":
            j = code.find("]", i)
            j = n if j < 0 else j
            body = code[i + 1 : j]
            low = body.lower()
            if low and set(low) <= {"h"}:
                toks.append(("elapsed_h", body))
            elif low and set(low) <= {"m"}:
                toks.append(("elapsed_m", body))
            elif low and set(low) <= {"s"}:
                toks.append(("elapsed_s", body))
            # colors/conditions dropped
            i = j + 1
        elif code.startswith("AM/PM", i) or code.startswith("am/pm", i):
            toks.append(("ampm", code[i : i + 5]))
            i += 5
        elif code.startswith("A/P", i) or code.startswith("a/p", i):
            toks.append(("ampm", code[i : i + 3]))
            i += 3
        elif ch.lower() in "ymdhs":
            j = i
            while j < n and code[j].lower() == ch.lower():
                j += 1
            run = code[i:j]
            kind = ch.lower()
            # subsecond digits: s-run followed by .0/.00/.000
            toks.append((kind, run))
            i = j
        elif ch == "." and toks and toks[-1][0] in ("s", "elapsed_s") and i + 1 < n and code[i + 1] == "0":
            j = i + 1
            while j < n and code[j] == "0":
                j += 1
            toks.append(("subsec", code[i + 1 : j]))
            i = j
        elif ch == "_":
            toks.append(("lit", " "))
            i += 2
        elif ch == "*":
            i += 2
        elif ch == ";":
            break  # only the first section of a date format is used
        else:
            toks.append(("lit", ch))
            i += 1
    return toks


def _resolve_months(toks: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Decide month-vs-minute for each ``m`` run: minutes if the nearest
    preceding time-ish token is an hour, or the nearest following one is
    a second (Excel/POI disambiguation rule)."""
    out = list(toks)
    kinds = [k for k, _ in toks]
    for idx, (k, text) in enumerate(toks):
        if k != "m":
            continue
        minute = False
        for j in range(idx - 1, -1, -1):
            if kinds[j] in ("h", "elapsed_h"):
                minute = True
                break
            if kinds[j] in ("y", "d", "s"):
                break
        if not minute:
            for j in range(idx + 1, len(toks)):
                if kinds[j] in ("s", "elapsed_s"):
                    minute = True
                    break
                if kinds[j] in ("y", "d", "h", "elapsed_h"):
                    break
        out[idx] = ("minute" if minute else "month", text)
    return out


def _render_date(
    serial: float, toks: list[tuple[str, str]], twelve_hour: bool, date1904: bool
) -> str:
    whole, ms = _split_serial(serial)
    d = serial_to_date(whole, date1904) if (whole > 0 or date1904) else None
    sec_of_day, milli = divmod(ms, 1000)
    hour24, rem = divmod(sec_of_day, 3600)
    minute, second = divmod(rem, 60)
    out: list[str] = []
    for k, text in toks:
        ln = len(text)
        if k == "lit":
            out.append(text)
        elif k == "y":
            y = d.year if d else 1900
            out.append(f"{y % 100:02d}" if ln <= 2 else f"{y:04d}")
        elif k == "month":
            mo = d.month if d else 1
            if ln == 1:
                out.append(str(mo))
            elif ln == 2:
                out.append(f"{mo:02d}")
            elif ln == 3:
                out.append(calendar.month_abbr[mo])
            elif ln == 4:
                out.append(calendar.month_name[mo])
            else:
                out.append(calendar.month_name[mo][0])
        elif k == "d":
            dy = d.day if d else 0
            if ln == 1:
                out.append(str(dy))
            elif ln == 2:
                out.append(f"{dy:02d}")
            elif ln == 3:
                out.append(calendar.day_abbr[d.weekday()] if d else "")
            else:
                out.append(calendar.day_name[d.weekday()] if d else "")
        elif k == "h":
            h = hour24
            if twelve_hour:
                h = hour24 % 12 or 12
            out.append(f"{h:02d}" if ln >= 2 else str(h))
        elif k == "minute":
            out.append(f"{minute:02d}" if ln >= 2 else str(minute))
        elif k == "s":
            out.append(f"{second:02d}" if ln >= 2 else str(second))
        elif k == "ampm":
            out.append("AM" if hour24 < 12 else "PM")
        elif k == "elapsed_h":
            total_h = (whole * 24 if whole > 0 else 0) + hour24
            out.append(f"{total_h:0{len(text)}d}")
        elif k == "elapsed_m":
            total_m = ((whole * 24 if whole > 0 else 0) + hour24) * 60 + minute
            out.append(f"{total_m:0{len(text)}d}")
        elif k == "elapsed_s":
            total_s = (whole * 86400 if whole > 0 else 0) + sec_of_day
            out.append(f"{total_s:0{len(text)}d}")
        elif k == "subsec":
            frac = milli / 1000.0
            out.append(f"{frac:.{ln}f}"[1:])  # ".x" including the dot
    return "".join(out)


# -------------------------------------------------------------- numbers

def _split_sections(code: str) -> list[str]:
    sections: list[str] = []
    buf: list[str] = []
    in_quote = False
    in_bracket = False
    for ch in code:
        if ch == '"' and not in_bracket:
            in_quote = not in_quote
        elif ch == "[" and not in_quote:
            in_bracket = True
        elif ch == "]" and not in_quote:
            in_bracket = False
        if ch == ";" and not in_quote and not in_bracket:
            sections.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    sections.append("".join(buf))
    return sections


class _NumberSection:
    """One analyzed section of a number format code, with everything the
    renderer needs that depends only on the code worked out here once."""

    __slots__ = (
        "tokens", "n_dec", "min_int", "grouping", "percents",
        "scale_commas", "exp_plus", "n_exp", "n_int_placeholders",
        "frac_den_digits", "has_frac", "has_exp", "has_whole", "has_at",
        "pct_mul", "comma_div", "prefix", "middle", "suffix",
    )

    def __init__(self, section: str) -> None:
        section = _COND_BRACKET_RE.sub("", section)
        # tokens: (kind, text); kinds: lit, int (run of 0#? + grouping
        # commas before the decimal point), dec, pct, exp, frac
        self.tokens: list[tuple[str, str]] = []
        self.n_dec = 0
        self.min_int = 0
        self.grouping = False
        self.percents = 0
        self.scale_commas = 0
        self.exp_plus = False
        self.n_exp = 0
        self.n_int_placeholders = 0
        self.frac_den_digits = 0

        i, n = 0, len(section)
        seen_dot = False
        seen_exp = False
        seen_slash = False
        int_done = False
        while i < n:
            ch = section[i]
            if ch == '"':
                j = section.find('"', i + 1)
                j = n if j < 0 else j
                self.tokens.append(("lit", section[i + 1 : j]))
                i = j + 1
            elif ch == "\\":
                self.tokens.append(("lit", section[i + 1 : i + 2]))
                i += 2
            elif ch == "_":
                self.tokens.append(("lit", " "))
                i += 2
            elif ch == "*":
                i += 2
            elif ch == "%":
                self.percents += 1
                self.tokens.append(("lit", "%"))
                i += 1
            elif ch in "Ee" and i + 1 < n and section[i + 1] in "+-":
                seen_exp = True
                self.exp_plus = section[i + 1] == "+"
                j = i + 2
                while j < n and section[j] in "0#?":
                    self.n_exp += 1
                    j += 1
                self.tokens.append(("exp", section[i:j]))
                i = j
            elif ch in "0#?," or ch == ".":
                # one placeholder cluster: digits/commas/dot run
                j = i
                while j < n and (section[j] in "0#?,." or False):
                    j += 1
                cluster = section[i:j]
                if seen_slash:
                    self.frac_den_digits += sum(c in "0#?" for c in cluster)
                    self.tokens.append(("fracden", cluster))
                elif seen_exp:
                    self.tokens.append(("lit", ""))  # already counted
                elif "." in cluster and not seen_dot:
                    core = cluster.rstrip(",")
                    self.scale_commas += len(cluster) - len(core)
                    ipart, _, dpart = core.partition(".")
                    seen_dot = True
                    int_done = True
                    self._analyze_int(ipart)
                    self.n_dec = sum(c in "0#?" for c in dpart)
                    self.tokens.append(("num", cluster))
                elif not int_done:
                    # might be followed later by '.'? Excel codes keep
                    # int+dec contiguous; treat standalone cluster as int
                    nxt_slash = section.find("/", j)
                    if nxt_slash != -1 and section[j : nxt_slash + 1].strip(" ?0#") == "/":
                        # fraction numerator ahead: this cluster is the
                        # whole part only if another cluster precedes '/'
                        pass
                    self._analyze_int(cluster)
                    int_done = True
                    self.tokens.append(("num", cluster))
                else:
                    # placeholders after the int part without a dot:
                    # fraction numerator (handled at '/') or ignored
                    self.tokens.append(("fracnum", cluster))
                i = j
            elif ch == "/":
                seen_slash = True
                self.tokens.append(("slash", ch))
                i += 1
            elif ch == "@":
                self.tokens.append(("at", ch))
                i += 1
            else:
                self.tokens.append(("lit", ch))
                i += 1
        self._compile()

    def _compile(self) -> None:
        kinds = {k for k, _ in self.tokens}
        self.has_frac = "slash" in kinds
        self.has_exp = "exp" in kinds
        self.has_whole = "num" in kinds
        self.has_at = "at" in kinds
        self.pct_mul = 100.0**self.percents
        self.comma_div = 1000.0**self.scale_commas
        # Output layout: the digits once at the first int/decimal
        # cluster, the fraction once at the first fraction token, the
        # exponent and the General text of '@' at each of theirs. Split
        # into the literal text before the first slot, after the last,
        # and a str.format template for the span between them (None
        # when that span is just the digits).
        parts: list[tuple[bool, str]] = []
        for k, text in self.tokens:
            if k == "lit":
                parts.append((False, text))
            elif k == "exp" or k == "at":
                parts.append((True, "{e}" if k == "exp" else "{a}"))
            elif k == "num" and (True, "{n}") not in parts:
                parts.append((True, "{n}"))
            elif k in ("fracnum", "slash", "fracden") and (True, "{f}") not in parts:
                parts.append((True, "{f}"))
        slots = [i for i, (is_slot, _) in enumerate(parts) if is_slot]
        first, last = (slots[0], slots[-1] + 1) if slots else (len(parts), len(parts))
        self.prefix = "".join(t for _, t in parts[:first])
        self.suffix = "".join(t for _, t in parts[last:])
        middle = "".join(
            t if is_slot else t.replace("{", "{{").replace("}", "}}")
            for is_slot, t in parts[first:last]
        )
        self.middle = None if middle == "{n}" else middle

    def _analyze_int(self, cluster: str) -> None:
        digits = [c for c in cluster if c in "0#?"]
        self.n_int_placeholders = len(digits)
        self.min_int = sum(c == "0" for c in digits)
        core = cluster.rstrip(",")
        self.scale_commas += len(cluster) - len(core)
        self.grouping = "," in core


def _group(int_str: str) -> str:
    out = []
    for k, ch in enumerate(reversed(int_str)):
        if k and k % 3 == 0:
            out.append(",")
        out.append(ch)
    return "".join(reversed(out))


def _round_half_up(x: float, n_dec: int) -> str:
    """Half-up rounding of ``x >= 0`` on the double's shortest decimal
    repr — matches Java DecimalFormat (which POI's DataFormatter
    delegates to): 1.005d prints as "1.005" and rounds to "1.01", even
    though the binary value is slightly below the half-boundary. Exact
    on the digit string, so any magnitude prints in full, as Java's
    unlimited BigDecimal does."""
    r = repr(x)
    if "e" in r:  # 1e+16, 5e-324: the same decimal in plain digits
        r = f"{Decimal(r):f}"
    ip, _, fp = r.partition(".")
    if len(fp) <= n_dec:
        return f"{ip}.{fp:0<{n_dec}}" if n_dec else ip
    digits = ip + fp[:n_dec]
    if fp[n_dec] >= "5":
        digits = str(int(digits) + 1).zfill(len(digits))
    return f"{digits[:-n_dec]}.{digits[-n_dec:]}" if n_dec else digits


def _render_number(value: float, sec: _NumberSection, *, force_sign: bool) -> str:
    x = abs(value)
    x *= sec.pct_mul
    x /= sec.comma_div
    if not math.isfinite(x):
        # percent scaling can overflow a near-DBL_MAX cell to inf;
        # degrade like the date paths instead of crashing the rounding
        return format_general(repr(value))

    exp_val = 0
    step = max(sec.n_int_placeholders, 1)
    if sec.has_exp and x != 0:
        exp_val = math.floor(math.log10(x))
        exp_val = (exp_val // step) * step
        if exp_val < -300:
            # 10.0**exp_val would be subnormal (10.02E-321 for
            # 1e-320) or underflow to 0.0 (subnormal cells):
            # scale in two normal-range steps
            x = x * 1e300 / 10.0 ** (exp_val + 300)
        else:
            x = x / (10.0**exp_val)

    frac_str = ""
    if sec.has_frac:
        max_den = 10**max(sec.frac_den_digits, 1) - 1
        if sec.has_whole:
            whole = int(x)
            fr = Fraction(x - whole).limit_denominator(max_den)
            num_str = str(whole)
        else:
            fr = Fraction(x).limit_denominator(max_den)
            num_str = ""
        frac_str = f"{fr.numerator}/{fr.denominator}" if fr.numerator else ""
    else:
        s = _round_half_up(x, sec.n_dec)
        if sec.has_exp and len(s.partition(".")[0]) > step:
            # the mantissa rounded up to the next power of ten (9.999e5
            # -> 10.00): carry into the exponent, as Excel does (1.00E+06)
            x /= 10.0**step
            exp_val += step
            s = _round_half_up(x, sec.n_dec)
        int_part, _, dec_part = s.partition(".")
        if int_part == "0" and sec.min_int == 0 and sec.n_int_placeholders > 0:
            int_part = ""
        int_part = int_part.zfill(sec.min_int) if sec.min_int else int_part
        if sec.grouping:
            int_part = _group(int_part)
        num_str = int_part + ("." + dec_part if sec.n_dec else "")

    if sec.middle is not None:
        exp_str = ""
        if sec.has_exp:
            sign = "+" if exp_val >= 0 and sec.exp_plus else ("-" if exp_val < 0 else "")
            exp_str = f"E{sign}{abs(exp_val):0{max(sec.n_exp, 1)}d}"
        at_str = format_general(repr(value)) if sec.has_at else ""
        num_str = sec.middle.format(n=num_str, e=exp_str, f=frac_str, a=at_str)
    sign = "-" if force_sign and value < 0 else ""
    return sign + sec.prefix + num_str + sec.suffix


# ------------------------------------------------------------- compiler

def compile_format(code: str, *, date1904: bool = False):
    """Format code -> ``render(raw_numeric_str) -> str``. Returns
    ``format_general`` for General/text-only codes so callers can keep
    the fast path. Compiled renderers are pure and cacheable per
    (code, date-system).
    """
    if code in ("General", "@", ""):
        return format_general
    if is_date_format(code):
        toks = _resolve_months(_tokenize_date(code))
        twelve_hour = any(k == "ampm" for k, _ in toks)
        # Serial for 10000-01-01: dates render only up to 9999-12-31
        # (POI DateUtil.isValidExcelDate's upper bound). Beyond it Excel
        # shows #### — degrade to General exactly like the negative
        # path, instead of overflowing timedelta on corrupt cells.
        max_serial = 2957004 if date1904 else 2958466

        def render_date(raw: str) -> str:
            try:
                serial = float(raw)
            except ValueError:
                return raw
            if not 0 <= serial < max_serial:  # NaN too
                return format_general(raw)  # Excel shows #### ; degrade
            return _render_date(serial, toks, twelve_hour, date1904)

        return render_date

    sections = [_NumberSection(s) for s in _split_sections(code)]

    def render_number(raw: str) -> str:
        try:
            value = float(raw)
        except ValueError:
            return raw
        if len(sections) >= 3 and value == 0:
            return _render_number(value, sections[2], force_sign=False)
        if len(sections) >= 2 and value < 0:
            return _render_number(value, sections[1], force_sign=False)
        return _render_number(value, sections[0], force_sign=True)

    return render_number

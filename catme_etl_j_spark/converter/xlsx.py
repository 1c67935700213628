"""Pure-stdlib streaming XLSX parser (zipfile + SAX).

This is the Spark-side rebuild of the reference's SAX ingest (SURVEY.md
§2.1 S1/S2): the reference streams one sheet's XML through POI/EasyExcel
SAX handlers with bounded memory
(src/.../strategy/UserModeEventConversionStrategy.java:282-299,
src/.../strategy/StreamingConversionStrategy.java:77-95). Here the same
single-pass, constant-memory discipline is implemented with expat SAX
callbacks for sheet data (chunk-fed, push->pull generator) and
``iterparse`` for the small metadata parts; the two reference
strategies collapse into one implementation since both are already
constant-memory (SURVEY.md §2.1 S3 disposition).

Row model matches the reference: ``dict[int, str]`` — 0-based column
index -> formatted cell string (src/.../core/ExcelRowListener.java:30).
Blank cells present in the XML are stored as ``""`` (the live POI
path's convention, UserModeEventConversionStrategy.java:272); cells
absent from the XML are absent from the dict.

Zip-bomb guards mirror §2.6: global min-inflate-ratio (reference
default 0.01, src/.../config/ConverterConfig.java:76-77) and a
max-entry-size cap (reference 6 GB,
UserModeEventConversionStrategy.java:78).

Value formatting: the reference delegates number/date rendering to
POI's DataFormatter (UserModeEventConversionStrategy.java:269-274);
here each numeric cell is rendered through its style's number format
code via formats.py (styles.xml cellXfs -> numFmtId -> compiled
renderer, builtin ids + custom numFmts, 1900 leap-year quirk).
Unstyled numbers render as Excel "General" (integral -> no decimal
point), booleans as TRUE/FALSE. Phonetic ``<rPh>`` ruby-text runs are
skipped in shared and inline strings, matching POI's
ReadOnlySharedStringsTable output.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import zipfile
import zlib
from collections.abc import Iterator
from xml.etree.ElementTree import ParseError, iterparse
from xml.parsers import expat as _expat

from catme_etl_j_spark.converter.errors import (
    ConversionError,
    SheetNotFoundError,
    ZipBombDetectedError,
)
from catme_etl_j_spark.converter.formats import compile_format, format_general, parse_styles

# Archive corruption surfaces LAZILY in the zipfile module (CRC checks,
# zlib inflation, truncated streams, unsupported compression, seeks on
# mangled offsets) and in ElementTree (ParseError, a SyntaxError — NOT an
# ExpatError) — a byte-flip fuzz showed all of these escaping the typed
# ConversionError contract of §2.6 when only construction-time BadZipFile
# was wrapped. Every archive/metadata read goes through _typed below.
_CORRUPT_ARCHIVE_ERRORS = (
    zipfile.BadZipFile,
    zlib.error,
    EOFError,
    OSError,
    NotImplementedError,  # zipfile: unsupported version / compression
    UnicodeDecodeError,  # zipfile: mangled entry names in local headers
    ParseError,
)


@contextlib.contextmanager
def _typed(name: str, what: str):
    """Convert lazy archive/XML corruption into the typed error surface."""
    try:
        yield
    except ConversionError:
        raise
    except _CORRUPT_ARCHIVE_ERRORS as e:
        raise ConversionError(f"corrupt xlsx ({what}): {name}: {e}") from e
    except RuntimeError as e:
        # zipfile raises bare RuntimeError for encrypted entries
        raise ConversionError(f"unreadable xlsx ({what}): {name}: {e}") from e


# Compiled format renderers are pure functions of (code, date-system);
# cache them process-wide so repeated workbooks (one per task) share.
_RENDERER_CACHE: dict[tuple[str, bool], object] = {}


def _renderer_for(code: str, date1904: bool = False):
    """code -> render callable, or None for the General fast path."""
    if code in ("General", "", "@"):
        return None
    key = (code, date1904)
    fn = _RENDERER_CACHE.get(key)
    if fn is None:
        fn = compile_format(code, date1904=date1904)
        _RENDERER_CACHE[key] = fn
    return None if fn is format_general else fn

_NS_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NS_PKGREL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

DEFAULT_MIN_INFLATE_RATIO = 0.01
DEFAULT_MAX_ENTRY_SIZE = 6 * 1024**3  # 6 GB, matches the reference cap

_CELL_REF_RE = re.compile(r"([A-Z]+)(\d+)")

# --- strict row-boundary slice scan (intra-sheet parallel parse) ---
# A row TAG is pure ASCII markup; '<' cannot occur unescaped in text or
# attribute values, so a raw b'<row' byte sequence is a row element
# start unless it hides inside CDATA/comments/PIs/DTD — all of which
# begin with b'<!' or b'<?' and make the scan refuse (fall back to the
# serial parse). The STRICT pattern only matches a row tag whose whole
# attribute list is simple name="value" / name='value' pairs (no '<'
# inside values), which makes the r="N" extraction unambiguous; the
# LOOSE pattern counts every candidate row start, and any mismatch
# between the two counts aborts the plan.
# Superset of every candidate row-element start ('<row' + anything —
# deliberately loose: even '<rowBreaks' counts, so any sheet where the
# count differs from the strict form below refuses to slice).
_ROW_SUPER_NEEDLE = b"<row"
# A row tag whose FIRST attribute is r="N" (the standard spreadsheetml
# serialization, both quote styles). When every '<row' occurrence is
# also one of these (count equality), the declared row index always
# wins in the handler, so slice tasks never consult the sequential
# fallback and row numbering is exact without simulating it. The r
# value directly follows the tag name, so it cannot be a fragment of
# some other attribute's value. Prefixed tags (<x:row>) simply never
# match — the plan refuses and the serial path handles them.
_ROW_RFIRST_NEEDLES = (b'<row r="', b"<row r='")
_XML_DECL_ENC_RE = re.compile(rb"encoding[ \t\r\n]*=[ \t\r\n]*[\"']([^\"']+)[\"']")

# ~12 MiB of decompressed XML per slice task (~1 s of expat parse —
# well above scheduling overhead, guide §2.2). ONE constant (ADVICE
# r11): the slice floor, the adaptive slice-count divisor, and the
# reader's trigger threshold all reference it.
SLICE_TARGET_BYTES = 12 << 20

_ROW_TAG = f"{_NS_MAIN}row"
_C_TAG = f"{_NS_MAIN}c"
_V_TAG = f"{_NS_MAIN}v"
_IS_TAG = f"{_NS_MAIN}is"
_T_TAG = f"{_NS_MAIN}t"
_DIM_TAG = f"{_NS_MAIN}dimension"
_SHEETDATA_TAG = f"{_NS_MAIN}sheetData"


def _col_letters_to_index(letters: str) -> int:
    """'A' -> 0, 'B' -> 1, ..., 'AA' -> 26."""
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


_format_number = format_general  # Excel 'General' rendering (formats.py)


class _SheetHandler:
    """expat callbacks assembling (row_idx, {col: value}) tuples.

    Matches element local names (namespace-agnostic: standard files use
    the spreadsheetml default namespace, but bare names also occur).
    Semantics mirror the reference's SheetContentsHandler: declared row/
    cell refs win over sequential position; blank-but-present cells
    become ``""``; per-cell errors honor continue_on_error.
    """

    __slots__ = (
        "shared", "continue_on_error", "out", "row_idx", "cells", "seq_col",
        "col", "ctype", "capture", "text", "saw_value", "in_is", "col_cache",
        "renderers", "style", "in_rph",
    )

    def __init__(
        self,
        shared: list[str],
        continue_on_error: bool,
        renderers: list | None = None,
    ) -> None:
        self.shared = shared
        self.continue_on_error = continue_on_error
        self.renderers = renderers or []
        self.out: list[tuple[int, dict[int, str]]] = []
        self.row_idx = -1
        self.cells: dict[int, str] = {}
        self.seq_col = 0
        self.col = 0
        self.ctype = "n"
        self.style = None
        self.capture = False
        self.text: str | None = None
        self.saw_value = False
        self.in_is = False
        self.in_rph = False
        self.col_cache: dict[str, int] = {}

    # branch order in start/end follows element frequency: v/c dominate
    # (one each per cell), then row, then the rare is/t/rPh inline-string
    # elements. buffer_text=True means chars() usually fires once per
    # cell, so the text accumulator is a plain slot, not a list.

    def start(self, name: str, attrs: dict[str, str]) -> None:
        local = name.rpartition(":")[2] if ":" in name else name
        if local == "v":
            self.capture = True
            self.saw_value = True
        elif local == "c":
            ref = attrs.get("r")
            if ref:
                letters = ref.rstrip("0123456789")
                col = self.col_cache.get(letters)
                if col is None:
                    col = _col_letters_to_index(letters)
                    self.col_cache[letters] = col
                self.col = col
            else:
                self.col = self.seq_col
            self.seq_col = self.col + 1
            self.ctype = attrs.get("t", "n")
            self.style = attrs.get("s")
            self.text = None
            self.saw_value = False
        elif local == "row":
            declared = attrs.get("r")
            self.row_idx = int(declared) - 1 if declared else self.row_idx + 1
            self.cells = {}
            self.seq_col = 0
        elif local == "is":
            self.in_is = True
        elif local == "rPh":
            self.in_rph = True
        elif local == "t":
            if self.in_is and not self.in_rph:
                self.capture = True
                self.saw_value = True

    def end(self, name: str) -> None:
        local = name.rpartition(":")[2] if ":" in name else name
        if local == "v" or local == "t":
            self.capture = False
        elif local == "c":
            try:
                self.cells[self.col] = self._value()
            except Exception as e:
                if not self.continue_on_error:
                    raise ConversionError(
                        f"row {self.row_idx} col {self.col}: bad cell: {e}"
                    ) from e
        elif local == "row":
            self.out.append((self.row_idx, self.cells))
        elif local == "is":
            self.in_is = False
        elif local == "rPh":
            self.in_rph = False

    def chars(self, data: str) -> None:
        if self.capture:
            t = self.text
            self.text = data if t is None else t + data

    def _value(self) -> str:
        if not self.saw_value:
            return ""
        raw = self.text or ""
        ctype = self.ctype
        if ctype == "n":
            style = self.style
            if style is not None:
                try:
                    fn = self.renderers[int(style)]
                except (ValueError, IndexError):
                    fn = None
                if fn is not None:
                    return fn(raw)
            return _format_number(raw)
        if ctype == "inlineStr":
            return raw
        if ctype == "s":
            return self.shared[int(raw)]
        if ctype == "b":
            return "TRUE" if raw.strip() == "1" else "FALSE"
        if ctype in ("str", "e"):
            return raw
        return _format_number(raw)


class XlsxWorkbook:
    """Random-access wrapper over an xlsx archive with safety caps.

    Accepts a filesystem path or raw bytes (the Spark reader hands the
    ``binaryFile`` content column straight in — no local temp file).
    """

    def __init__(
        self,
        source: str | bytes,
        *,
        min_inflate_ratio: float = DEFAULT_MIN_INFLATE_RATIO,
        max_entry_size: int = DEFAULT_MAX_ENTRY_SIZE,
    ) -> None:
        self._name = source if isinstance(source, str) else "<bytes>"
        try:
            self._zf = zipfile.ZipFile(
                source if isinstance(source, str) else io.BytesIO(source)
            )
        except (zipfile.BadZipFile, NotImplementedError, EOFError, ValueError) as e:
            raise ConversionError(f"not a valid xlsx (zip) file: {self._name}: {e}") from e
        self._check_zip_bomb(min_inflate_ratio, max_entry_size)
        self._sheets = self._read_sheet_map()
        self._renderers: list | None = None  # lazy, cached per workbook

    def _check_zip_bomb(self, min_ratio: float, max_entry: int) -> None:
        for info in self._zf.infolist():
            if info.file_size > max_entry:
                raise ZipBombDetectedError(
                    f"{self._name}:{info.filename} expands to {info.file_size} bytes "
                    f"(cap {max_entry})"
                )
            if (
                info.compress_size > 0
                and info.file_size > 0
                and info.compress_size / info.file_size < min_ratio
            ):
                raise ZipBombDetectedError(
                    f"{self._name}:{info.filename} inflate ratio "
                    f"{info.compress_size / info.file_size:.5f} below minimum {min_ratio}"
                )

    def _read_sheet_map(self) -> list[tuple[str, str]]:
        """[(sheet_name, archive_path)] in workbook order."""
        rels: dict[str, str] = {}
        try:
            with _typed(self._name, "workbook relationships"), self._zf.open(
                "xl/_rels/workbook.xml.rels"
            ) as f:
                for _, el in iterparse(f, events=("end",)):
                    if el.tag == f"{_NS_PKGREL}Relationship":
                        target = el.get("Target", "")
                        if target.startswith("/"):
                            target = target[1:]
                        elif not target.startswith("xl/"):
                            target = "xl/" + target
                        rels[el.get("Id", "")] = target
                    el.clear()
        except KeyError as e:
            raise ConversionError(f"missing workbook relationships: {self._name}") from e
        sheets: list[tuple[str, str]] = []
        self._date1904 = False
        try:
            with _typed(self._name, "workbook.xml"), self._zf.open(
                "xl/workbook.xml"
            ) as f:
                for _, el in iterparse(f, events=("end",)):
                    if el.tag == f"{_NS_MAIN}sheet":
                        rid = el.get(f"{_NS_REL}id", "")
                        name = el.get("name", "")
                        if rid in rels:
                            sheets.append((name, rels[rid]))
                    elif el.tag == f"{_NS_MAIN}workbookPr":
                        # Mac-origin 1904 date system (POI honors this)
                        self._date1904 = el.get("date1904", "0").lower() in ("1", "true")
                    el.clear()
        except KeyError as e:
            raise ConversionError(f"missing workbook.xml: {self._name}") from e
        if not sheets:
            raise ConversionError(f"workbook has no sheets: {self._name}")
        return sheets

    @property
    def sheet_names(self) -> list[str]:
        return [name for name, _ in self._sheets]

    def _shared_strings(self) -> list[str]:
        """Full shared-strings table, loaded once per workbook — the live
        reference does the same (ReadOnlySharedStringsTable,
        UserModeEventConversionStrategy.java:120-127); the lazy LRU
        variant is dead code there (SURVEY.md §2.1 S5) and an
        O(rescan-per-miss) anti-pattern not worth reproducing."""
        try:
            with _typed(self._name, "shared strings"):
                f = self._zf.open("xl/sharedStrings.xml")
        except KeyError:
            return []
        strings: list[str] = []
        with _typed(self._name, "shared strings"), f:
            parts: list[str] = []
            in_rph = 0
            for event, el in iterparse(f, events=("start", "end")):
                if event == "start":
                    if el.tag == f"{_NS_MAIN}rPh":
                        in_rph += 1
                    continue
                if el.tag == f"{_NS_MAIN}rPh":
                    in_rph -= 1
                elif el.tag == f"{_NS_MAIN}t":
                    # skip phonetic ruby runs: POI's shared-strings table
                    # concatenates only the visible <t> text
                    if not in_rph:
                        parts.append(el.text or "")
                elif el.tag == f"{_NS_MAIN}si":
                    strings.append("".join(parts))
                    parts = []
                    el.clear()
        return strings

    def _style_renderers(self) -> list:
        """Per-cellXfs-index render callables (None = General fast path),
        compiled once per workbook from ``xl/styles.xml``."""
        if self._renderers is None:
            try:
                with _typed(self._name, "styles"):
                    f = self._zf.open("xl/styles.xml")
            except KeyError:
                self._renderers = []
            else:
                with _typed(self._name, "styles"), f:
                    codes = parse_styles(f)
                self._renderers = [_renderer_for(c, self._date1904) for c in codes]
        return self._renderers

    def resolve_sheet(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> str:
        """Resolve target sheet to its archive path.

        Precedence: index first, then name, then first sheet — the
        documented EasyExcel-path order (SURVEY.md §2.1 S4 decision:
        index-first; StreamingConversionStrategy.java:83-92). A missing
        name/index raises with the available-sheet list, matching
        UserModeEventConversionStrategy.java:156-161.
        """
        if sheet_index is not None:
            if not 0 <= sheet_index < len(self._sheets):
                raise SheetNotFoundError(
                    f"sheet index {sheet_index} out of range; workbook has "
                    f"{len(self._sheets)} sheets: {self.sheet_names}"
                )
            return self._sheets[sheet_index][1]
        if sheet_name is not None:
            for name, path in self._sheets:
                if name == sheet_name:
                    return path
            raise SheetNotFoundError(
                f"sheet {sheet_name!r} not found; available sheets: {self.sheet_names}"
            )
        return self._sheets[0][1]

    def iter_rows(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        continue_on_error: bool = False,
    ) -> Iterator[tuple[int, dict[int, str]]]:
        """Yield (0-based row index, {0-based col index: string value}).

        Single pass, constant memory: each ``row`` element is cleared
        after emission. Sheet row order is preserved (the reference's
        contract-level guarantee, SURVEY.md §1.1). Rows that are
        present-but-empty in the XML yield ``{}`` — matching the live
        inline handler, which does NOT skip empties (SURVEY.md §2.2 R3).

        ``continue_on_error`` is the reference's per-row error policy
        (ExcelRowListener.java:245-271): malformed cells are skipped
        (True) or raise ConversionError (False).
        """
        path = self.resolve_sheet(sheet_name, sheet_index)
        shared = self._shared_strings()
        try:
            with _typed(self._name, f"sheet part {path}"):
                f = self._zf.open(path)
        except KeyError as e:
            raise ConversionError(f"sheet part {path} missing in archive") from e
        # expat SAX (~2x faster than iterparse on wide sheets); push
        # events accumulate into `out`, drained after each 64 KiB chunk,
        # so this stays a constant-memory generator.
        handler = _SheetHandler(shared, continue_on_error, self._style_renderers())
        # No expat namespace processing (it costs ~40%); sheet elements
        # are matched by prefix-agnostic local name instead.
        parser = _expat.ParserCreate()
        parser.buffer_text = True
        parser.StartElementHandler = handler.start
        parser.EndElementHandler = handler.end
        parser.CharacterDataHandler = handler.chars
        with _typed(self._name, f"sheet part {path}"), f:
            while True:
                chunk = f.read(1 << 16)
                if not chunk:
                    break
                try:
                    parser.Parse(chunk, False)
                except _expat.ExpatError as e:
                    raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
                if handler.out:
                    yield from handler.out
                    handler.out.clear()
            try:
                parser.Parse(b"", True)
            except _expat.ExpatError as e:
                raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
            yield from handler.out

    def sheet_dimension(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> tuple[int, int] | None:
        """(n_rows, n_cols) from the sheet's ``dimension`` element, or
        None if absent/unparseable. O(1): stops at the first sheetData
        element. Lets readers size schemas without a full scan."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            f = self._zf.open(path)
        except KeyError:
            return None
        # Contract is "None if absent/unparseable": a corrupt dimension
        # probe degrades to a full-scan schema sizing; iter_rows will
        # still raise the typed error when the sheet is actually read.
        try:
            with f:
                for event, el in iterparse(f, events=("start",)):
                    if el.tag == _DIM_TAG:
                        ref = el.get("ref", "")
                        if ":" in ref:
                            m = _CELL_REF_RE.match(ref.split(":")[1])
                            if m:
                                return int(m.group(2)), _col_letters_to_index(m.group(1)) + 1
                        return None
                    if el.tag == _SHEETDATA_TAG:
                        return None
        except (RuntimeError, *_CORRUPT_ARCHIVE_ERRORS):
            return None
        return None

    def sheet_max_col(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> int | None:
        """Max 0-based column index of any cell in the sheet, from a
        LIGHT structural scan (regex over the decompressed stream — no
        per-element callbacks, no value rendering), or None when the
        scan cannot be strict about it (a cell without an ``r`` ref,
        lowercase refs, CDATA/comments that could hide or fabricate
        cell tags). None degrades to the caller's full iter_rows scan;
        like sheet_dimension, malformed XML surfaces later when the
        sheet is actually read. ~10x faster than the full parse on the
        1.2M-row bench sheet (the r11 header-inference fix: a sheet
        with no ``dimension`` element was fully parsed TWICE per
        conversion, once on the driver just to size the schema)."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            f = self._zf.open(path)
        except KeyError:
            return None
        try:
            with _typed(self._name, f"sheet part {path}"), f:
                return _max_col_scan(f)
        except ConversionError:
            return None

    def plan_row_slices(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        n_slices: int,
        min_bytes: int = SLICE_TARGET_BYTES,
        spool_path: str | None = None,
    ) -> list[tuple[int, int, int, int]] | None:
        """Plan byte slices of ONE sheet's decompressed XML so that N
        tasks can parse it in parallel (the reference's serial-sheet
        physics lifted for the giant-single-sheet straggler). Returns
        ``[(start, end, init_row_idx, first_row_idx)]`` — each slice
        starts at a row
        element's ``<`` and ends at the next slice's start (last: at
        ``</sheetData``), with the running row index the serial parse
        would hold just before the slice's first row — or ``None``
        whenever the scan cannot PROVE slicing reproduces the serial
        parse bit-for-bit:

        * sheet smaller than ``min_bytes`` decompressed (not worth it);
        * any ``<!``/``<?`` beyond the XML declaration (CDATA, comment,
          DTD/entity, PI — any of which could hide or fabricate row
          markup from this byte-level scan);
        * a declared encoding other than UTF-8/US-ASCII (byte offsets
          would not be ASCII-safe);
        * any row tag NOT carrying a plain-integer ``r="N"`` as its
          first attribute (loose/r-first count mismatch — slicing would
          need the sequential-row simulation the fast scan skips), rows
          outside ``sheetData``, a missing ``</sheetData>``, or a text
          node longer than the carry cap.

        Single streaming pass, constant memory (1 MiB chunks + a
        bounded carry); all counting and boundary location runs at
        memchr speed (bytes.count / bytes.find), so the scan costs
        little more than the decompress itself.

        ``spool_path``: when given, the decompressed sheet XML is also
        written there (same single pass) so downstream consumers —
        slice tasks via :meth:`iter_rows_slice`'s ``spool_path``, the
        width scan via :func:`max_col_from_xml_file` — can ``seek``
        raw bytes instead of re-inflating the entry. On refusal the
        partial spool is removed.
        """
        sp = open(spool_path, "wb") if spool_path else None
        try:
            out = self._plan_scan(sheet_name, sheet_index, n_slices, min_bytes, sp)
        finally:
            if sp is not None:
                sp.close()
        if out is None and spool_path is not None:
            with contextlib.suppress(OSError):
                os.remove(spool_path)
        return out

    def _plan_scan(
        self,
        sheet_name: str | None,
        sheet_index: int | None,
        n_slices: int,
        min_bytes: int,
        sp,
    ) -> list[tuple[int, int, int, int]] | None:
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            info = self._zf.getinfo(path)
        except KeyError:
            return None
        if info.file_size < min_bytes or n_slices <= 1:
            return None
        # scale-adaptive slice count: ~12 MiB of decompressed XML per
        # task (~1 s of expat parse — well above scheduling overhead,
        # guide §2.2), capped by the session's parallelism passed in
        # by the caller
        n_slices = min(n_slices, max(2, int(info.file_size // SLICE_TARGET_BYTES)))
        try:
            f = self._zf.open(path)
        except KeyError:
            return None
        def find_row_start(b: bytes, from_pos: int) -> tuple[int, int]:
            """(position, declared row number) of the next strict row
            start at/after from_pos, or (-1, -1). The digits directly
            follow the needle and are always complete within the cut
            buffer (they precede the tag's '>', hence the next '<')."""
            best, blen = -1, 0
            for n in _ROW_RFIRST_NEEDLES:
                p = b.find(n, from_pos)
                if p >= 0 and (best < 0 or p < best):
                    best, blen = p, len(n)
            if best < 0:
                return -1, -1
            q = best + blen
            e = q
            while e < len(b) and b[e : e + 1].isdigit():
                e += 1
            if e == q:
                return -1, -1  # r="" / non-digit: refuse via caller
            return best, int(b[q:e])

        n_loose = 0
        n_rfirst = 0
        sd_close: int | None = None
        row_after_close = False
        first_row_off: int | None = None
        # byte-even boundary targets (computed once the first row is
        # seen, from the known decompressed size); each becomes the
        # next '<row r=' at or after it
        targets: list[int] | None = None
        ti = 0
        bounds: list[tuple[int, int]] = []  # (offset, declared row number)
        base = 0  # absolute offset of buf[0]
        carry = b""
        first = True
        try:
            with _typed(self._name, f"sheet part {path}"), f:
                while True:
                    raw = f.read(1 << 20)
                    if sp is not None and raw:
                        sp.write(raw)
                    buf = carry + raw
                    if first:
                        first = False
                        if buf[:2] in (b"\xff\xfe", b"\xfe\xff"):
                            return None  # UTF-16 BOM
                        decl_end = 0
                        if buf.lstrip(b"\xef\xbb\xbf \t\r\n").startswith(b"<?xml"):
                            decl_end = buf.find(b"?>")
                            if decl_end == -1:
                                return None
                            m = _XML_DECL_ENC_RE.search(buf[:decl_end])
                            if m and m.group(1).lower() not in (b"utf-8", b"us-ascii"):
                                return None
                        # '<!' anywhere, or '<?' beyond the declaration,
                        # defeats the byte-level strictness
                        if b"<!" in buf or b"<?" in buf[decl_end + 2 if decl_end else 0:]:
                            return None
                    elif b"<!" in buf or b"<?" in buf:
                        return None
                    if raw:
                        cut = buf.rfind(b"<")
                        if cut == -1:
                            carry = b""
                            base += len(buf)
                            continue
                        if len(buf) - cut > (1 << 20):
                            return None  # carry cap: give up, stay serial
                        carry, buf = buf[cut:], buf[:cut]
                    if sd_close is None:
                        p = buf.find(b"</sheetData")
                        if p >= 0:
                            sd_close = base + p
                    # C-speed needle counts; rows past </sheetData>
                    # (same chunk or later) make the plan refuse
                    split_at = len(buf)
                    if sd_close is not None and sd_close >= base:
                        split_at = sd_close - base
                    head = buf[:split_at] if split_at < len(buf) else buf
                    chunk_loose = head.count(_ROW_SUPER_NEEDLE)
                    n_rfirst += sum(head.count(n) for n in _ROW_RFIRST_NEEDLES)
                    n_loose += chunk_loose
                    if split_at < len(buf) and buf.count(_ROW_SUPER_NEEDLE, split_at):
                        row_after_close = True
                    if sd_close is not None and base > sd_close and chunk_loose:
                        row_after_close = True
                    if first_row_off is None and chunk_loose:
                        p, _rn = find_row_start(head, 0)
                        if p < 0:
                            return None  # a row start without first-attr r
                        first_row_off = base + p
                        span = info.file_size - first_row_off
                        targets = [
                            first_row_off + (k * span) // n_slices
                            for k in range(1, n_slices)
                        ]
                    if targets is not None:
                        while ti < len(targets) and targets[ti] < base + split_at:
                            p, rn = find_row_start(head, max(targets[ti] - base, 0))
                            if p < 0:
                                break  # retry in the next chunk
                            bounds.append((base + p, rn))
                            ti += 1
                    if raw:
                        base += len(buf)
                    else:
                        break
        except ConversionError:
            return None
        if (
            n_loose != n_rfirst
            or n_loose == 0
            or sd_close is None
            or row_after_close
            or first_row_off is None
            or first_row_off > sd_close
        ):
            return None
        starts: list[tuple[int, int]] = [(first_row_off, -1)]
        for b_off, rn in bounds:
            if b_off > starts[-1][0] and b_off < sd_close:
                starts.append((b_off, rn))
        out: list[tuple[int, int, int, int]] = []
        for i, (off, rn) in enumerate(starts):
            end = starts[i + 1][0] if i + 1 < len(starts) else sd_close
            # init_row_idx (3rd field) is never consulted in this regime
            # (every row declares r, which wins in the handler); -1
            # mirrors the serial parser's initial state. The 4th field
            # is the slice's first DECLARED 0-based row index (-1 for
            # slice 0) — pure metadata for downstream bucketing, never
            # part of parse semantics.
            out.append((off, end, -1, rn - 1 if rn > 0 else -1))
        return out if len(out) > 1 else None

    def iter_rows_slice(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        start: int,
        end: int,
        init_row_idx: int,
        continue_on_error: bool = False,
        spool_path: str | None = None,
    ) -> Iterator[tuple[int, dict[int, str]]]:
        """:meth:`iter_rows` over one :meth:`plan_row_slices` byte slice
        of the decompressed sheet XML. The slice (a run of whole ``row``
        elements) is wrapped in a synthetic root so expat sees a
        well-formed document; the handler starts from the serial parse's
        running row index at the slice boundary, so declared ``r``
        attributes and sequential fallback both reproduce the serial
        row numbering exactly.

        ``spool_path``: a raw decompressed copy of the sheet XML (the
        plan scan's spool). When present on this machine the slice is
        read with one ``seek`` instead of re-inflating the entry up to
        ``start``; when absent (e.g. a task on another host) the entry
        path below is the fallback — same bytes either way."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        shared = self._shared_strings()
        handler = _SheetHandler(shared, continue_on_error, self._style_renderers())
        handler.row_idx = init_row_idx
        parser = _expat.ParserCreate()
        parser.buffer_text = True
        parser.StartElementHandler = handler.start
        parser.EndElementHandler = handler.end
        parser.CharacterDataHandler = handler.chars
        if spool_path is not None and os.path.exists(spool_path):
            f = open(spool_path, "rb")
            f.seek(start)
        else:
            try:
                with _typed(self._name, f"sheet part {path}"):
                    f = self._zf.open(path)
            except KeyError as e:
                raise ConversionError(f"sheet part {path} missing in archive") from e
        with _typed(self._name, f"sheet part {path}"), f:
            skip = start if f.seekable() is False or f.tell() != start else 0
            while skip > 0:
                got = f.read(min(1 << 20, skip))
                if not got:
                    raise ConversionError(
                        f"sheet part {path} truncated before slice offset {start}"
                    )
                skip -= len(got)
            try:
                parser.Parse(b"<sliceroot>", False)
            except _expat.ExpatError as e:  # pragma: no cover - static prologue
                raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
            remaining = end - start
            while remaining > 0:
                chunk = f.read(min(1 << 16, remaining))
                if not chunk:
                    raise ConversionError(
                        f"sheet part {path} truncated inside slice "
                        f"[{start}, {end})"
                    )
                remaining -= len(chunk)
                try:
                    parser.Parse(chunk, False)
                except _expat.ExpatError as e:
                    raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
                if handler.out:
                    yield from handler.out
                    handler.out.clear()
            try:
                parser.Parse(b"</sliceroot>", True)
            except _expat.ExpatError as e:
                raise ConversionError(f"malformed sheet XML in {path}: {e}") from e
            yield from handler.out

    def sheet_entry_size(
        self, sheet_name: str | None = None, sheet_index: int | None = None
    ) -> int | None:
        """Decompressed size of the sheet's XML entry (central-directory
        metadata — O(1)), or None if the entry is missing."""
        try:
            return self._zf.getinfo(self.resolve_sheet(sheet_name, sheet_index)).file_size
        except KeyError:
            return None

    def spool_sheet(
        self,
        sheet_name: str | None = None,
        sheet_index: int | None = None,
        *,
        spool_path: str,
    ) -> dict | None:
        """Stream ONE sheet's decompressed XML to ``spool_path`` — the
        only inherently serial step of slice planning (one DEFLATE
        stream cannot be inflated in parallel) — and return the cheap
        stream facts the PARALLEL strict scan needs:
        ``{"file_size", "head" (first 4 KiB), "first_row_off"}`` (the
        first strict ``<row r=`` byte offset). Returns None — caller
        falls back to the serial path — on a missing entry, a
        decompressed-size mismatch, no row tag at all, or ANY OSError
        from the spool write (e.g. ENOSPC: degrade to the serial
        parse, never hard-fail a previously-working conversion —
        ADVICE r11)."""
        path = self.resolve_sheet(sheet_name, sheet_index)
        try:
            info = self._zf.getinfo(path)
            f = self._zf.open(path)
        except KeyError:
            return None
        head = b""
        first_row_off: int | None = None
        carry = b""
        pos = 0
        written = 0
        try:
            with _typed(self._name, f"sheet part {path}"), f, open(spool_path, "wb") as sp:
                while True:
                    raw = f.read(1 << 20)
                    if not raw:
                        break
                    sp.write(raw)
                    written += len(raw)
                    if len(head) < 4096:
                        head = (head + raw)[:4096]
                    if first_row_off is None:
                        buf = carry + raw
                        best = -1
                        for nd in _ROW_RFIRST_NEEDLES:
                            p = buf.find(nd)
                            if p >= 0 and (best < 0 or p < best):
                                best = p
                        if best >= 0:
                            first_row_off = pos - len(carry) + best
                        else:
                            carry = buf[-16:]
                    pos += len(raw)
        except (ConversionError, OSError):
            with contextlib.suppress(OSError):
                os.remove(spool_path)
            return None
        if written != info.file_size or first_row_off is None:
            with contextlib.suppress(OSError):
                os.remove(spool_path)
            return None
        return {
            "file_size": info.file_size,
            "head": head,
            "first_row_off": first_row_off,
        }

    def close(self) -> None:
        self._zf.close()

    def __enter__(self) -> XlsxWorkbook:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _max_col_scan(f) -> int | None:
    """Core of :meth:`XlsxWorkbook.sheet_max_col`: the strict
    byte-level width scan over an already-open decompressed sheet XML
    stream. byte-level regexes: cell tags and refs are pure ASCII
    markup, so no utf-8 decode is needed (multi-byte sequences never
    contain ASCII bytes)."""
    cell_open = re.compile(rb"<c[\s/>]")
    cell_ref = re.compile(rb'<c\b[^>]*?\br="([A-Z]+)[0-9]+"')
    n_open = 0
    n_ref = 0
    letters_seen: set[bytes] = set()
    carry = b""
    while True:
        raw = f.read(1 << 20)
        buf = carry + raw
        if b"<![" in buf or b"<!--" in buf:
            return None
        if raw:
            # keep the (possibly split) trailing tag for the
            # next chunk; a tag is < ~1 KB, so the carry is
            # bounded — a longer one means we are inside
            # text, where no '<' can legally occur unescaped
            cut = buf.rfind(b"<")
            if cut == -1 or len(buf) - cut > 4096:
                carry = b""
            else:
                carry, buf = buf[cut:], buf[:cut]
        n_open += len(cell_open.findall(buf))
        refs = cell_ref.findall(buf)
        n_ref += len(refs)
        letters_seen.update(refs)
        if not raw:
            break
    # strictness: every <c …> must have carried an uppercase r ref
    # (else sequential cell positions apply and only the full scan
    # knows the width); zero cells also degrades, so the full scan
    # raises its usual no-rows error
    if n_open != n_ref or not letters_seen:
        return None
    return max(_col_letters_to_index(s.decode("ascii")) for s in letters_seen)


def max_col_from_xml_file(path: str) -> int | None:
    """:func:`_max_col_scan` over a RAW decompressed sheet XML file
    (the slice plan's spool) — the same strict width scan without
    re-inflating the archive entry."""
    try:
        with open(path, "rb") as f:
            return _max_col_scan(f)
    except OSError:
        return None


# --- parallel strict slice scan (r12, VERDICT r11 #3) -----------------
# plan_row_slices above is a SERIAL streaming pass: at 492 MB of sheet
# XML it holds the driver ~3.5 s (plus another ~4 s when the dimension-
# less width scan follows) while every executor idles. The three
# functions below decompose the same strict scan into independent byte
# ranges of the spooled XML so the reader can fan it out as ONE Spark
# job: per-range needle counts sum, first/last positions min/max, and
# each boundary ("first strict row start at/after target T") resolves
# from the range owning T or the first later range with any row start.
# Refusal semantics are the serial scanner's, decomposed: any '<!', any
# '<?' besides the XML declaration, loose/strict row-count mismatch,
# rows outside sheetData, a digit-less first row. The serial
# plan_row_slices stays as the API for direct (non-Spark) callers and
# as the behavioral reference the unit tests compare against.

_SCAN_OVERLAP = 4096  # > max row-number digits and the width scan's tag carry
# one read of scan_slice_range: a task's memory is one window, whatever
# the size of its range (the serial width scan reads 1 MiB at a time too)
SCAN_WINDOW_BYTES = 1 << 20


def parse_decl_head(head: bytes) -> tuple[bool, int | None]:
    """Replicates the serial scanner's first-chunk checks on the spool's
    first bytes: (ok, byte offset of the XML declaration's '<?', or None
    when there is no declaration). ok=False → refuse (UTF-16 BOM,
    unterminated declaration, non-UTF-8 encoding)."""
    if head[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return False, None
    stripped = head.lstrip(b"\xef\xbb\xbf \t\r\n")
    if not stripped.startswith(b"<?xml"):
        return True, None
    decl_q_pos = len(head) - len(stripped)
    decl_end = head.find(b"?>")
    if decl_end == -1:
        return False, None
    m = _XML_DECL_ENC_RE.search(head[:decl_end])
    if m and m.group(1).lower() not in (b"utf-8", b"us-ascii"):
        return False, None
    return True, decl_q_pos


def scan_slice_range(
    spool_path: str,
    lo: int,
    hi: int,
    targets: list[int],
    decl_q_pos: int | None,
    want_width: bool,
) -> dict:
    """Strict-scan ONE byte range [lo, hi) of a spooled sheet XML (the
    per-task body of the parallel slice plan). Only occurrences that
    START inside [lo, hi) count; the overlap read past ``hi`` lets
    needles, row-number digits and cell tags that straddle the range
    edge resolve here without being double-counted by the next range.
    The range is read in ``SCAN_WINDOW_BYTES`` windows, each with the
    same overlap and the same start-inside rule, so a task holds one
    window, not its whole range. Returns a plain picklable dict for
    :func:`combine_slice_scans`."""
    out = {
        "lo": lo,
        "n_loose": 0,
        "n_rfirst": 0,
        "bang": None,
        "qm": None,
        "sd": None,
        "last_loose": None,
        "first_rf": None,
        "first_rf_rn": None,
        "bad_first_digits": False,
        "bounds": {},
    }
    # Walk strict row starts only as far as needed: the range's first
    # one (digit-checked, as the serial scanner does for the sheet's
    # first row) and one per in-range target.
    tq = sorted(t for t in targets if lo <= t < hi)
    walking = True
    cell_open = re.compile(rb"<c[\s/>]")
    cell_ref = re.compile(rb'<c\b[^>]*?\br="([A-Z]+)[0-9]+"')
    n_open = n_ref = 0
    letters_seen: set[bytes] = set()
    loose_len = len(_ROW_SUPER_NEEDLE)
    with open(spool_path, "rb") as f:
        for w_lo in range(lo, hi, SCAN_WINDOW_BYTES):
            f.seek(w_lo)
            buf = f.read(min(SCAN_WINDOW_BYTES, hi - w_lo) + _SCAN_OVERLAP)
            limit = min(SCAN_WINDOW_BYTES, hi - w_lo, len(buf))
            rel = w_lo - lo  # first positions are relative to lo
            out["n_loose"] += buf.count(_ROW_SUPER_NEEDLE, 0, limit + loose_len - 1)
            out["n_rfirst"] += sum(
                buf.count(nd, 0, limit + len(nd) - 1) for nd in _ROW_RFIRST_NEEDLES
            )
            for key, needle in (("bang", b"<!"), ("sd", b"</sheetData")):
                if out[key] is None:
                    p = buf.find(needle)
                    out[key] = rel + p if 0 <= p < limit else None
            if out["qm"] is None:
                q0 = buf.find(b"<?")
                if q0 >= 0 and decl_q_pos is not None and w_lo + q0 == decl_q_pos:
                    q0 = buf.find(b"<?", q0 + 1)
                out["qm"] = rel + q0 if 0 <= q0 < limit else None
            last_loose = buf.rfind(_ROW_SUPER_NEEDLE, 0, limit + loose_len - 1)
            if last_loose >= 0:
                out["last_loose"] = w_lo + last_loose
            pos = 0
            while walking:
                best, blen = -1, 0
                for nd in _ROW_RFIRST_NEEDLES:
                    p = buf.find(nd, pos)
                    if p >= 0 and (best < 0 or p < best):
                        best, blen = p, len(nd)
                if best < 0 or best >= limit:
                    break
                q = best + blen
                e = q
                while e < len(buf) and buf[e : e + 1].isdigit():
                    e += 1
                if e == q:
                    if out["first_rf"] is None:
                        # a digit-less first row start refuses the whole
                        # plan (the serial scanner's find_row_start contract)
                        out["bad_first_digits"] = True
                        out["first_rf"] = w_lo + best
                    pos = best + 1
                    continue
                rn = int(buf[q:e])
                if out["first_rf"] is None:
                    out["first_rf"], out["first_rf_rn"] = w_lo + best, rn
                while tq and tq[0] <= w_lo + best:
                    out["bounds"][tq.pop(0)] = (w_lo + best, rn)
                walking = bool(tq) or out["first_rf"] is None
                pos = best + 1
            if want_width:
                # tags that start before the window's limit end before the
                # first '<' at or after it (markup holds no raw '<')
                cut = buf.find(b"<", limit)
                cut = len(buf) if cut < 0 else cut
                n_open += len(cell_open.findall(buf, 0, cut))
                refs = cell_ref.findall(buf, 0, cut)
                n_ref += len(refs)
                letters_seen.update(refs)
    if want_width:
        out["n_open"], out["n_ref"] = n_open, n_ref
        out["max_col"] = max(
            (_col_letters_to_index(s.decode("ascii")) for s in letters_seen),
            default=-1,
        )
    return out


def combine_slice_scans(
    results: list[dict],
    *,
    first_row_off: int,
    targets: list[int],
    want_width: bool,
) -> tuple[list[tuple[int, int, int, int]] | None, int | None]:
    """Driver-side combine of :func:`scan_slice_range` results into the
    same ``(start, end, init_row_idx, first_row_idx)`` slice plan the
    serial :meth:`XlsxWorkbook.plan_row_slices` produces (plus the
    strict max-column width when requested). Returns (None, None) —
    serial fallback — on any decomposed refusal condition."""
    results = sorted(results, key=lambda r: r["lo"])
    if any(r["bang"] is not None or r["qm"] is not None for r in results):
        return None, None
    n_loose = sum(r["n_loose"] for r in results)
    n_rfirst = sum(r["n_rfirst"] for r in results)
    sds = [r["sd"] + r["lo"] for r in results if r["sd"] is not None]
    sd_close = min(sds) if sds else None
    firsts = [r["first_rf"] for r in results if r["first_rf"] is not None]
    frf = min(firsts) if firsts else None
    last_loose = max(
        (r["last_loose"] for r in results if r["last_loose"] is not None),
        default=None,
    )
    if (
        n_loose != n_rfirst
        or n_loose == 0
        or sd_close is None
        or frf != first_row_off
        or frf > sd_close
        or any(r["bad_first_digits"] and r["first_rf"] == frf for r in results)
        or (last_loose is not None and last_loose > sd_close)
    ):
        return None, None
    bounds: list[tuple[int, int]] = []
    for t in targets:
        cand: tuple[int, int] | None = None
        for r in results:
            b = r["bounds"].get(t)
            if b is not None:
                cand = b
                break
            # a later range's first row start is the "first at/after t"
            # when t's own range ran out of rows past t
            if r["lo"] > t and r["first_rf"] is not None and r["first_rf_rn"] is not None:
                cand = (r["first_rf"], r["first_rf_rn"])
                break
        if cand is not None:
            bounds.append(cand)
    starts: list[tuple[int, int]] = [(first_row_off, -1)]
    for b_off, rn in bounds:
        if b_off > starts[-1][0] and b_off < sd_close:
            starts.append((b_off, rn))
    out: list[tuple[int, int, int, int]] = []
    for i, (off, rn) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else sd_close
        out.append((off, end, -1, rn - 1 if rn > 0 else -1))
    slices = out if len(out) > 1 else None
    width: int | None = None
    if want_width and slices is not None:
        n_open = sum(r.get("n_open", 0) for r in results)
        n_ref = sum(r.get("n_ref", 0) for r in results)
        mc = max((r.get("max_col", -1) for r in results), default=-1)
        if n_open == n_ref and mc >= 0:
            width = mc
    return slices, width


def list_sheets(source: str | bytes) -> list[str]:
    with XlsxWorkbook(source) as wb:
        return wb.sheet_names

"""Seeded xlsx inputs and their reference NDJSON digests.

Every input is a pure function of the seed, so the same seed gives the
same bytes. The reference digest is computed from the serial, in-process
``XlsxWorkbook.iter_rows`` path (no Spark, no slicing, no sink) and is
what the converter's NDJSON output must hash to.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
import zipfile

from catme_etl_j_spark.converter.formats import compile_format
from catme_etl_j_spark.converter.xlsx import SLICE_TARGET_BYTES, XlsxWorkbook
from catme_etl_j_spark.converter.xlsx_writer import _styles_xml

# --- convert_bigsheet: one single-sheet workbook past the slice floor ---

BIG_COLS = 8
# Sheet XML runs ~670 bytes a row (long text cells keep the parse cost
# per byte low), so this many rows clears four slice targets with ~8% to
# spare: the reader then plans one slice per core on a 4-core session.
BIG_ROWS = 4 * SLICE_TARGET_BYTES // 620
# number formats of the four numeric columns E..H
BIG_FORMATS = ('"$"#,##0.00', "yyyy-mm-dd", "0.00%", "0.00E+00")
_LETTERS = "ABCDEFGH"

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="big" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" '
    'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/>'
    '<Relationship Id="rId2" '
    'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" '
    'Target="styles.xml"/></Relationships>'
)


def _numbers(bits) -> tuple[str, str, str, str]:
    """Raw texts of the styled columns E..H: amount, date serial,
    fraction, magnitude (all normal floats: no subnormals)."""
    return (
        f"{bits(17)}.{bits(6) % 50 + 10}",
        str(36526 + bits(14) % 11322),
        f"0.{bits(14) % 10000:04d}",
        f"{bits(20) + 1}e{bits(4) - 8}",
    )


def write_bigsheet(path: str, seed: int, n_rows: int = BIG_ROWS) -> str:
    """Stream a single-sheet workbook to ``path``: 4 inline-string and 4
    styled numeric columns, no dimension element."""
    bits = random.Random(seed).getrandbits
    styles, xf_of_code = _styles_xml(list(BIG_FORMATS))
    s = [xf_of_code[c] for c in BIG_FORMATS]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/styles.xml", styles)
        with zf.open("xl/worksheets/sheet1.xml", "w") as f:
            header = "".join(
                f'<c r="{_LETTERS[j]}1" t="inlineStr"><is><t>col_{j}</t></is></c>'
                for j in range(BIG_COLS)
            )
            f.write(
                (
                    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                    f'<sheetData><row r="1">{header}</row>'
                ).encode()
            )
            chunk: list[str] = []
            for i in range(n_rows):
                r = i + 2
                e, f_, g, h = _numbers(bits)
                chunk.append(
                    f'<row r="{r}">'
                    f'<c r="A{r}" t="inlineStr"><is><t>u{bits(320):080x}-{i}</t></is></c>'
                    f'<c r="B{r}" t="inlineStr"><is><t>v{bits(320):080x}</t></is></c>'
                    f'<c r="C{r}" t="inlineStr"><is><t>w{bits(256):064x}</t></is></c>'
                    f'<c r="D{r}" t="inlineStr"><is><t>x{bits(288):072x}</t></is></c>'
                    f'<c r="E{r}" s="{s[0]}"><v>{e}</v></c>'
                    f'<c r="F{r}" s="{s[1]}"><v>{f_}</v></c>'
                    f'<c r="G{r}" s="{s[2]}"><v>{g}</v></c>'
                    f'<c r="H{r}" s="{s[3]}"><v>{h}</v></c>'
                    "</row>"
                )
                if len(chunk) == 20_000:
                    f.write("".join(chunk).encode())
                    chunk.clear()
            f.write("".join(chunk).encode())
            f.write(b"</sheetData></worksheet>")
    return path


def cell_mix(seed: int, n_rows: int = 5_000) -> list[tuple[str, str]]:
    """(format code, raw cell text) pairs drawn like the workbook's styled
    cells: the input of ``formats.render_per_s``."""
    bits = random.Random(seed).getrandbits
    return [
        (code, raw)
        for _ in range(n_rows)
        for code, raw in zip(BIG_FORMATS, _numbers(bits))
    ]


def render_rate(mix: list[tuple[str, str]]) -> float:
    """Cells rendered per second by ``compile_format(code)(raw)``."""
    t0 = time.perf_counter()
    for code, raw in mix:
        compile_format(code)(raw)
    return len(mix) / (time.perf_counter() - t0)


# --- reference answers ---


class Reference:
    """Expected NDJSON of converting the workbook at ``path``."""

    def __init__(self, path: str) -> None:
        h = hashlib.sha256()
        self.rows = 0
        parse_s = 0.0
        clock = time.perf_counter
        with XlsxWorkbook(path) as wb:
            it = wb.iter_rows()
            names: list[str] = []
            while True:
                t0 = clock()
                nxt = next(it, None)
                parse_s += clock() - t0
                if nxt is None:
                    break
                row_idx, cells = nxt
                if row_idx == 0:
                    names = [cells.get(i, "") or str(i) for i in range(max(cells) + 1)]
                    continue
                line = json.dumps(
                    {names[i]: cells[i] for i in sorted(cells)},
                    ensure_ascii=False,
                    separators=(",", ":"),
                ).encode() + b"\n"
                h.update(line)
                self.rows += 1
        self.digest = h.hexdigest()
        self.iter_rows_per_s = self.rows / parse_s if parse_s else 0.0


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()

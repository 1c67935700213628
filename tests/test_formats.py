"""Excel number-format rendering (converter/formats.py) — the POI
DataFormatter parity surface (UserModeEventConversionStrategy.java:269-274).
"""

from __future__ import annotations

import io
import os
import zipfile
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal, localcontext

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from catme_etl_j_spark.converter.formats import (
    BUILTIN_FORMATS,
    _round_half_up,
    compile_format,
    is_date_format,
    parse_styles,
    serial_to_date,
)
from catme_etl_j_spark.converter.xlsx import XlsxWorkbook
from catme_etl_j_spark.converter.xlsx_writer import Styled, write_xlsx


@pytest.mark.parametrize(
    "code,raw,expected",
    [
        # builtin date ids 14-22
        ("m/d/yy", "44927", "1/1/23"),
        ("d-mmm-yy", "44927", "1-Jan-23"),
        ("d-mmm", "44927", "1-Jan"),
        ("mmm-yy", "44927", "Jan-23"),
        ("h:mm AM/PM", "0.75", "6:00 PM"),
        ("h:mm:ss AM/PM", "0.5211805555555556", "12:30:30 PM"),
        ("h:mm", "0.75", "18:00"),
        ("h:mm:ss", "0.999999", "23:59:59"),
        ("m/d/yy h:mm", "44927.5", "1/1/23 12:00"),
        # builtin time ids 45-47
        ("mm:ss", "0.0212962962962963", "30:40"),
        ("[h]:mm:ss", "1.5", "36:00:00"),
        ("mm:ss.0", "0.00035", "00:30.2"),
        # common custom date codes
        ("yyyy-mm-dd", "44927", "2023-01-01"),
        ("yyyy\\-mm\\-dd", "44927", "2023-01-01"),
        ("yyyy-mm-dd hh:mm:ss", "44927.25", "2023-01-01 06:00:00"),
        ("mmmm d, yyyy", "44927", "January 1, 2023"),
        ("ddd dd mmm", "44928", "Mon 02 Jan"),
        # number codes (builtin 1-4, 9-13, 48 + customs)
        ("0", "3.6", "4"),
        ("0.00", "13309.6", "13309.60"),
        ("0.00", "-1.005", "-1.01"),
        ("#,##0", "1234567", "1,234,567"),
        ("#,##0.00", "1234567.891", "1,234,567.89"),
        ("0%", "0.12", "12%"),
        ("0.00%", "0.12345", "12.35%"),
        ("0.00E+00", "12345.678", "1.23E+04"),
        ("0.00E+00", "0.00012345", "1.23E-04"),
        ("##0.0E+0", "12345.678", "12.3E+3"),
        # a mantissa that rounds up to the next power of ten carries
        ("0.00E+00", "999900", "1.00E+06"),
        ("0E+0", "9.6", "1E+1"),
        ("##0.0E+0", "999.96", "1.0E+3"),
        ("0.00E+00", "-0.0099999", "-1.00E-02"),
        ("# ?/?", "5.25", "5 1/4"),
        ("# ??/??", "5.3", "5 3/10"),
        # sections, scaling, literals
        ("#,##0.00;(#,##0.00)", "-1234.5", "(1,234.50)"),
        ('0.00;-0.00;"zero"', "0", "zero"),
        ("0.0,,", "12345678", "12.3"),
        ('"$"#,##0.00', "1234.5", "$1,234.50"),
        ("General", "17", "17"),
        ("General", "17.5", "17.5"),
        ("@", "17.5", "17.5"),
    ],
)
def test_format_codes(code, raw, expected):
    assert compile_format(code)(raw) == expected


# Every code of test_format_codes, the four styled codes of the
# benchmark workbook and every builtin id, applied to edge values: zero
# and negative zero, the smallest subnormal, ~DBL_MAX, mantissas that
# carry on rounding, decimal half-up ties that the binary double sits
# just below (1.005, 2.675), text, and the date serials around the 1900
# leap-year quirk and at the last renderable instant. The table was
# captured before the renderers were compiled per format code, so any
# change in rendered output shows here.
_BIG = "1" + "0" * 308  # repr(1e308) == "1e+308", printed in full
_BIG_GROUPED = "100" + ",000" * 102
_EDGE_VALUES = (
    "0", "-0", "5e-324", "1e308", "999900", "9.6", "999.96", "-0.0099999", "1.005",
    "2.675", "text", "59", "60", "61", "2958465.99999",
)
_PINNED = [
    ('"$"#,##0.00', (
        "$0.00", "$0.00", "$0.00", "$" + _BIG_GROUPED + ".00", "$999,900.00",
        "$9.60", "$999.96", "-$0.01", "$1.01", "$2.68", "text", "$59.00", "$60.00",
        "$61.00", "$2,958,466.00",
    )),
    ("yyyy-mm-dd", (
        "1900-01-00", "1900-01-00", "1900-01-00", "1e+308", "4637-08-18",
        "1900-01-09", "1902-09-25", "-0.0099999", "1900-01-01", "1900-01-02",
        "text", "1900-02-28", "1900-03-01", "1900-03-01", "9999-12-31",
    )),
    ("0.00%", (
        "0.00%", "0.00%", "0.00%", "1e+308", "99990000.00%", "960.00%", "99996.00%",
        "-1.00%", "100.50%", "267.50%", "text", "5900.00%", "6000.00%", "6100.00%",
        "295846600.00%",
    )),
    ("0.00E+00", (
        "0.00E+00", "0.00E+00", "4.94E-324", "1.00E+308", "1.00E+06", "9.60E+00",
        "1.00E+03", "-1.00E-02", "1.01E+00", "2.68E+00", "text", "5.90E+01",
        "6.00E+01", "6.10E+01", "2.96E+06",
    )),
    ("m/d/yy", (
        "1/0/00", "1/0/00", "1/0/00", "1e+308", "8/18/37", "1/9/00", "9/25/02",
        "-0.0099999", "1/1/00", "1/2/00", "text", "2/28/00", "3/1/00", "3/1/00",
        "12/31/99",
    )),
    ("d-mmm-yy", (
        "0-Jan-00", "0-Jan-00", "0-Jan-00", "1e+308", "18-Aug-37", "9-Jan-00",
        "25-Sep-02", "-0.0099999", "1-Jan-00", "2-Jan-00", "text", "28-Feb-00",
        "1-Mar-00", "1-Mar-00", "31-Dec-99",
    )),
    ("d-mmm", (
        "0-Jan", "0-Jan", "0-Jan", "1e+308", "18-Aug", "9-Jan", "25-Sep",
        "-0.0099999", "1-Jan", "2-Jan", "text", "28-Feb", "1-Mar", "1-Mar",
        "31-Dec",
    )),
    ("mmm-yy", (
        "Jan-00", "Jan-00", "Jan-00", "1e+308", "Aug-37", "Jan-00", "Sep-02",
        "-0.0099999", "Jan-00", "Jan-00", "text", "Feb-00", "Mar-00", "Mar-00",
        "Dec-99",
    )),
    ("h:mm AM/PM", (
        "12:00 AM", "12:00 AM", "12:00 AM", "1e+308", "12:00 AM", "2:24 PM",
        "11:02 PM", "-0.0099999", "12:07 AM", "4:12 PM", "text", "12:00 AM",
        "12:00 AM", "12:00 AM", "11:59 PM",
    )),
    ("h:mm:ss AM/PM", (
        "12:00:00 AM", "12:00:00 AM", "12:00:00 AM", "1e+308", "12:00:00 AM",
        "2:24:00 PM", "11:02:24 PM", "-0.0099999", "12:07:12 AM", "4:12:00 PM",
        "text", "12:00:00 AM", "12:00:00 AM", "12:00:00 AM", "11:59:59 PM",
    )),
    ("h:mm", (
        "0:00", "0:00", "0:00", "1e+308", "0:00", "14:24", "23:02", "-0.0099999",
        "0:07", "16:12", "text", "0:00", "0:00", "0:00", "23:59",
    )),
    ("h:mm:ss", (
        "0:00:00", "0:00:00", "0:00:00", "1e+308", "0:00:00", "14:24:00",
        "23:02:24", "-0.0099999", "0:07:12", "16:12:00", "text", "0:00:00",
        "0:00:00", "0:00:00", "23:59:59",
    )),
    ("m/d/yy h:mm", (
        "1/0/00 0:00", "1/0/00 0:00", "1/0/00 0:00", "1e+308", "8/18/37 0:00",
        "1/9/00 14:24", "9/25/02 23:02", "-0.0099999", "1/1/00 0:07",
        "1/2/00 16:12", "text", "2/28/00 0:00", "3/1/00 0:00", "3/1/00 0:00",
        "12/31/99 23:59",
    )),
    ("mm:ss", (
        "00:00", "00:00", "00:00", "1e+308", "00:00", "24:00", "02:24",
        "-0.0099999", "07:12", "12:00", "text", "00:00", "00:00", "00:00", "59:59",
    )),
    ("[h]:mm:ss", (
        "0:00:00", "0:00:00", "0:00:00", "1e+308", "23997600:00:00", "230:24:00",
        "23999:02:24", "-0.0099999", "24:07:12", "64:12:00", "text", "1416:00:00",
        "1440:00:00", "1464:00:00", "71003183:59:59",
    )),
    ("mm:ss.0", (
        "00:00.0", "00:00.0", "00:00.0", "1e+308", "00:00.0", "24:00.0", "02:24.0",
        "-0.0099999", "07:12.0", "12:00.0", "text", "00:00.0", "00:00.0", "00:00.0",
        "59:59.1",
    )),
    ("yyyy\\-mm\\-dd", (
        "1900-01-00", "1900-01-00", "1900-01-00", "1e+308", "4637-08-18",
        "1900-01-09", "1902-09-25", "-0.0099999", "1900-01-01", "1900-01-02",
        "text", "1900-02-28", "1900-03-01", "1900-03-01", "9999-12-31",
    )),
    ("yyyy-mm-dd hh:mm:ss", (
        "1900-01-00 00:00:00", "1900-01-00 00:00:00", "1900-01-00 00:00:00",
        "1e+308", "4637-08-18 00:00:00", "1900-01-09 14:24:00",
        "1902-09-25 23:02:24", "-0.0099999", "1900-01-01 00:07:12",
        "1900-01-02 16:12:00", "text", "1900-02-28 00:00:00", "1900-03-01 00:00:00",
        "1900-03-01 00:00:00", "9999-12-31 23:59:59",
    )),
    ("mmmm d, yyyy", (
        "January 0, 1900", "January 0, 1900", "January 0, 1900", "1e+308",
        "August 18, 4637", "January 9, 1900", "September 25, 1902", "-0.0099999",
        "January 1, 1900", "January 2, 1900", "text", "February 28, 1900",
        "March 1, 1900", "March 1, 1900", "December 31, 9999",
    )),
    ("ddd dd mmm", (
        " 00 Jan", " 00 Jan", " 00 Jan", "1e+308", "Fri 18 Aug", "Tue 09 Jan",
        "Thu 25 Sep", "-0.0099999", "Mon 01 Jan", "Tue 02 Jan", "text",
        "Wed 28 Feb", "Thu 01 Mar", "Thu 01 Mar", "Fri 31 Dec",
    )),
    ("0", (
        "0", "0", "0", _BIG, "999900", "10", "1000", "-0", "1", "3", "text", "59",
        "60", "61", "2958466",
    )),
    ("0.00", (
        "0.00", "0.00", "0.00", _BIG + ".00", "999900.00", "9.60", "999.96",
        "-0.01", "1.01", "2.68", "text", "59.00", "60.00", "61.00", "2958466.00",
    )),
    ("#,##0", (
        "0", "0", "0", _BIG_GROUPED, "999,900", "10", "1,000", "-0", "1", "3",
        "text", "59", "60", "61", "2,958,466",
    )),
    ("#,##0.00", (
        "0.00", "0.00", "0.00", _BIG_GROUPED + ".00", "999,900.00", "9.60",
        "999.96", "-0.01", "1.01", "2.68", "text", "59.00", "60.00", "61.00",
        "2,958,466.00",
    )),
    ("0%", (
        "0%", "0%", "0%", "1e+308", "99990000%", "960%", "99996%", "-1%", "100%",
        "268%", "text", "5900%", "6000%", "6100%", "295846600%",
    )),
    ("##0.0E+0", (
        "0.0E+0", "0.0E+0", "4.9E-324", "100.0E+306", "999.9E+3", "9.6E+0",
        "1.0E+3", "-10.0E-3", "1.0E+0", "2.7E+0", "text", "59.0E+0", "60.0E+0",
        "61.0E+0", "3.0E+6",
    )),
    ("0E+0", (
        "0E+0", "0E+0", "5E-324", "1E+308", "1E+6", "1E+1", "1E+3", "-1E-2", "1E+0",
        "3E+0", "text", "6E+1", "6E+1", "6E+1", "3E+6",
    )),
    ("# ?/?", (
        "0 ", "0 ", "0 ",
        "100000000000000001097906362944045541740492309677311846336810682903157585404911491537163328978494688899061249669721172515611590283743140088328307009198146046031271664502933027185697489699588559043338384466165001178426897626212945177628091195786707458122783970171784415105291802893207873272974885715430223118336 ",
        "999900 ", "9 3/5", "999 1/1", "-0 ", "1 ", "2 2/3", "text", "59 ", "60 ",
        "61 ", "2958465 1/1",
    )),
    ("# ??/??", (
        "0 ", "0 ", "0 ",
        "100000000000000001097906362944045541740492309677311846336810682903157585404911491537163328978494688899061249669721172515611590283743140088328307009198146046031271664502933027185697489699588559043338384466165001178426897626212945177628091195786707458122783970171784415105291802893207873272974885715430223118336 ",
        "999900 ", "9 3/5", "999 24/25", "-0 1/99", "1 ", "2 27/40", "text", "59 ",
        "60 ", "61 ", "2958465 1/1",
    )),
    ("#,##0.00;(#,##0.00)", (
        "0.00", "0.00", "0.00", _BIG_GROUPED + ".00", "999,900.00", "9.60",
        "999.96", "(0.01)", "1.01", "2.68", "text", "59.00", "60.00", "61.00",
        "2,958,466.00",
    )),
    ('0.00;-0.00;"zero"', (
        "zero", "zero", "0.00", _BIG + ".00", "999900.00", "9.60", "999.96",
        "-0.01", "1.01", "2.68", "text", "59.00", "60.00", "61.00", "2958466.00",
    )),
    ("0.0,,", (
        "0.0", "0.0", "0.0", _BIG[:303] + ".0", "1.0", "0.0", "0.0", "-0.0", "0.0",
        "0.0", "text", "0.0", "0.0", "0.0", "3.0",
    )),
    ("General", (
        "0", "0", "5e-324", "1e+308", "999900", "9.6", "999.96", "-0.0099999",
        "1.005", "2.675", "text", "59", "60", "61", "2958465.99999",
    )),
    ("@", (
        "0", "0", "5e-324", "1e+308", "999900", "9.6", "999.96", "-0.0099999",
        "1.005", "2.675", "text", "59", "60", "61", "2958465.99999",
    )),
    ("#,##0 ;(#,##0)", (
        "0 ", "0 ", "0 ", _BIG_GROUPED + " ", "999,900 ", "10 ", "1,000 ", "(0)",
        "1 ", "3 ", "text", "59 ", "60 ", "61 ", "2,958,466 ",
    )),
    ("#,##0 ;[Red](#,##0)", (
        "0 ", "0 ", "0 ", _BIG_GROUPED + " ", "999,900 ", "10 ", "1,000 ", "(0)",
        "1 ", "3 ", "text", "59 ", "60 ", "61 ", "2,958,466 ",
    )),
    ("#,##0.00;[Red](#,##0.00)", (
        "0.00", "0.00", "0.00", _BIG_GROUPED + ".00", "999,900.00", "9.60",
        "999.96", "(0.01)", "1.01", "2.68", "text", "59.00", "60.00", "61.00",
        "2,958,466.00",
    )),
    ('_(* #,##0_);_(* \\(#,##0\\);_(* "-"_);_(@_)', (
        " - ", " - ", " 0 ", " " + _BIG_GROUPED + " ", " 999,900 ", " 10 ",
        " 1,000 ", " (0)", " 1 ", " 3 ", "text", " 59 ", " 60 ", " 61 ",
        " 2,958,466 ",
    )),
    ('_("$"* #,##0_);_("$"* \\(#,##0\\);_("$"* "-"_);_(@_)', (
        " $- ", " $- ", " $0 ", " $" + _BIG_GROUPED + " ", " $999,900 ", " $10 ",
        " $1,000 ", " $(0)", " $1 ", " $3 ", "text", " $59 ", " $60 ", " $61 ",
        " $2,958,466 ",
    )),
    ('_(* #,##0.00_);_(* \\(#,##0.00\\);_(* "-"??_);_(@_)', (
        " - ", " - ", " 0.00 ", " " + _BIG_GROUPED + ".00 ", " 999,900.00 ",
        " 9.60 ", " 999.96 ", " (0.01)", " 1.01 ", " 2.68 ", "text", " 59.00 ",
        " 60.00 ", " 61.00 ", " 2,958,466.00 ",
    )),
    ('_("$"* #,##0.00_);_("$"* \\(#,##0.00\\);_("$"* "-"??_);_(@_)', (
        " $- ", " $- ", " $0.00 ", " $" + _BIG_GROUPED + ".00 ", " $999,900.00 ",
        " $9.60 ", " $999.96 ", " $(0.01)", " $1.01 ", " $2.68 ", "text",
        " $59.00 ", " $60.00 ", " $61.00 ", " $2,958,466.00 ",
    )),
]


@pytest.mark.parametrize("code,expected", _PINNED, ids=[c for c, _ in _PINNED])
def test_rendering_pinned_on_edge_values(code, expected):
    render = compile_format(code)
    assert tuple(render(v) for v in _EDGE_VALUES) == expected


def _quantize_half_up(x: float, n_dec: int) -> str:
    """Reference rounding: the decimal repr of ``x`` quantized half-up
    by ``Decimal``, in a context wide enough for any double."""
    with localcontext() as ctx:
        ctx.prec = 350 + n_dec
        q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-n_dec), rounding=ROUND_HALF_UP)
    return f"{q:.{n_dec}f}"


_places = st.integers(min_value=0, max_value=12)


@settings(max_examples=2000, deadline=None)
@given(
    st.one_of(
        # every finite double (subnormals included) and the >= 1e16
        # magnitudes whose repr has an exponent
        st.tuples(st.floats(allow_nan=False, allow_infinity=False).map(abs), _places),
        st.tuples(st.floats(min_value=1e16, allow_infinity=False), _places),
        # exact decimal ties at the rounded place: m.5 x 10**-n
        st.tuples(st.integers(min_value=0, max_value=10**15), _places).map(
            lambda t: (float(f"{t[0]}5e-{t[1] + 1}"), t[1])
        ),
    )
)
def test_round_half_up_matches_decimal_quantize(case):
    x, n_dec = case
    assert _round_half_up(x, n_dec) == _quantize_half_up(x, n_dec)


def test_leap_year_1900_quirk():
    # Excel believes 1900-02-29 exists; POI rolls the phantom serial 60
    # to Mar 1, so 60 and 61 both render 1900-03-01.
    assert serial_to_date(1) == date(1900, 1, 1)
    assert serial_to_date(59) == date(1900, 2, 28)
    assert serial_to_date(60) == date(1900, 3, 1)
    assert serial_to_date(61) == date(1900, 3, 1)
    assert serial_to_date(62) == date(1900, 3, 2)
    render = compile_format("yyyy-mm-dd")
    assert render("59") == "1900-02-28"
    assert render("60") == "1900-03-01"
    assert render("61") == "1900-03-01"


def test_is_date_format():
    assert is_date_format("yyyy-mm-dd")
    assert is_date_format("mm:ss")
    assert is_date_format("[h]:mm:ss")
    assert not is_date_format("General")
    assert not is_date_format("0.00")
    assert not is_date_format("[Red]0.00")
    assert not is_date_format('"days"0.00')  # date letters only in quotes


def test_month_vs_minute_disambiguation():
    assert compile_format("h:mm")("0.75") == "18:00"  # m after h = minutes
    assert compile_format("mm:ss")("0.0212962962962963") == "30:40"  # m before s
    assert compile_format("mm/yyyy")("44927") == "01/2023"  # month


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=62, max_value=200_000))
def test_date_serial_roundtrip_property(serial):
    """For any post-leap-bug serial, yyyy-mm-dd rendering equals the
    1899-12-30-epoch date, and the mapping is day-exact."""
    d = date(1899, 12, 30) + timedelta(days=serial)
    assert compile_format("yyyy-mm-dd")(str(serial)) == d.isoformat()


def test_parse_styles_builtin_and_custom():
    xml = b"""<?xml version="1.0"?>
    <styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      <numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd"/></numFmts>
      <cellXfs count="3">
        <xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>
      </cellXfs>
    </styleSheet>"""
    codes = parse_styles(io.BytesIO(xml))
    assert codes == ["General", "m/d/yy", "yyyy-mm-dd"]


def test_builtin_table_has_date_and_time_ids():
    for fid in range(14, 23):
        assert is_date_format(BUILTIN_FORMATS[fid])
    for fid in (45, 46, 47):
        assert is_date_format(BUILTIN_FORMATS[fid])


def test_styled_cells_through_parser(tmp_path):
    p = str(tmp_path / "styled.xlsx")
    write_xlsx(
        p,
        {
            "s": [
                ["date", "price", "raw"],
                [Styled(44927, "yyyy-mm-dd"), Styled(13309.6, "0.00"), 44927],
                [Styled(60, "m/d/yy"), Styled(-1234.5, "#,##0.00;(#,##0.00)"), 1.5],
            ]
        },
    )
    with XlsxWorkbook(p) as wb:
        rows = dict(wb.iter_rows())
    assert rows[1] == {0: "2023-01-01", 1: "13309.60", 2: "44927"}
    assert rows[2] == {0: "3/1/00", 1: "(1,234.50)", 2: "1.5"}


def test_file_without_styles_still_general(tmp_path):
    p = str(tmp_path / "plain.xlsx")
    write_xlsx(p, {"s": [["a"], [44927], [1.5]]})
    with XlsxWorkbook(p) as wb:
        rows = dict(wb.iter_rows())
    assert rows[1] == {0: "44927"}
    assert rows[2] == {0: "1.5"}


def _patch_sheet(src: str, dst: str, transform) -> None:
    """Copy an xlsx, rewriting entries via transform(name, data)."""
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(dst, "w") as zout:
        for info in zin.infolist():
            zout.writestr(info, transform(info.filename, zin.read(info.filename)))


def test_phonetic_rph_runs_skipped(tmp_path):
    """CJK phonetic <rPh> ruby text must not leak into cell values —
    POI's shared-strings table emits only the visible <t> runs."""
    base = str(tmp_path / "base.xlsx")
    write_xlsx(base, {"s": [["x"], ["placeholder"]]})
    shared = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="1" uniqueCount="1">'
        "<si><t>東京</t><rPh sb=\"0\" eb=\"2\"><t>トウキョウ</t></rPh>"
        '<phoneticPr fontId="1"/></si></sst>'
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheetData><row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="inlineStr"><is><t>a</t><rPh sb="0" eb="1"><t>RUBY</t></rPh></is></c>'
        "</row></sheetData></worksheet>"
    )
    patched = str(tmp_path / "rph.xlsx")

    def transform(name, data):
        if name == "xl/worksheets/sheet1.xml":
            return sheet.encode()
        return data

    with zipfile.ZipFile(base) as zin, zipfile.ZipFile(patched, "w") as zout:
        for info in zin.infolist():
            zout.writestr(info, transform(info.filename, zin.read(info.filename)))
        zout.writestr("xl/sharedStrings.xml", shared)

    with XlsxWorkbook(patched) as wb:
        rows = dict(wb.iter_rows())
    assert rows[0] == {0: "東京", 1: "a"}


def test_1904_date_system(tmp_path):
    """Mac-origin workbooks (workbookPr date1904) shift the epoch to
    1904-01-01 and have no leap-year quirk."""
    assert serial_to_date(0, True) == date(1904, 1, 1)
    assert serial_to_date(366, True) == date(1905, 1, 1)  # 1904 IS a leap year
    # same serial renders 4 years + 1 day apart across the two systems
    assert compile_format("yyyy-mm-dd")("44927") == "2023-01-01"
    assert compile_format("yyyy-mm-dd", date1904=True)("44927") == "2027-01-02"

    p = str(tmp_path / "mac.xlsx")
    write_xlsx(
        p,
        {"s": [["d"], [Styled(0, "yyyy-mm-dd")], [Styled(366, "m/d/yy")]]},
        date1904=True,
    )
    with XlsxWorkbook(p) as wb:
        rows = dict(wb.iter_rows())
    assert rows[1] == {0: "1904-01-01"}
    assert rows[2] == {0: "1/1/05"}


def test_accounting_builtin_ids_41_44():
    """Ids 41-44 are in POI's BuiltinFormats table (accounting formats)
    and must not fall back to General: skip-width underscores render as
    spaces, negatives in parens, zero as the dash section."""
    from catme_etl_j_spark.converter.formats import BUILTIN_FORMATS, compile_format

    r44 = compile_format(BUILTIN_FORMATS[44])
    assert r44("1234.567") == " $1,234.57 "
    assert r44("-1234.567") == " $(1,234.57)"
    r41 = compile_format(BUILTIN_FORMATS[41])
    assert r41("1234.567") == " 1,235 "
    assert r41("-1234.567") == " (1,235)"


# ---------------------------------------------------------------------------
# Totality: compile_format(code)(raw) must return a string for ANY code and
# cell value — a corrupt or hostile workbook must degrade, never crash the
# converter. The fuzz found (and the guards below now pin) three real
# crashes: date serials past 9999-12-31 overflowed timedelta, ~1e100
# magnitudes overflowed the default 28-digit Decimal context, and percent
# scaling of near-DBL_MAX cells overflowed to inf inside quantize.
# ---------------------------------------------------------------------------

_fmt_chars = st.sampled_from(list('0#?.,%$-+/():;"@ ymdhsaAMPE[]<>=*_\\eghk'))
_raws = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64).map(repr),
    st.integers(min_value=-(10**15), max_value=10**15).map(str),
    st.text(max_size=12),
)


@settings(max_examples=300, deadline=None)
@given(
    code=st.text(alphabet=_fmt_chars, min_size=0, max_size=24),
    raw=_raws,
    d1904=st.booleans(),
)
def test_compile_format_is_total(code, raw, d1904):
    from catme_etl_j_spark.converter.formats import compile_format

    assert isinstance(compile_format(code, date1904=d1904)(raw), str)


def test_degenerate_cells_degrade_not_crash():
    """Regressions for the three fuzz-found crashes, plus the boundary
    days that must still render as dates."""
    from catme_etl_j_spark.converter.formats import compile_format

    ymd = compile_format("yyyy-mm-dd")
    assert ymd("2958465") == "9999-12-31"  # last renderable day (1900)
    assert ymd("2958466") == "2958466"  # first invalid -> General
    assert ymd("4.31722339101158e+16") == "4.31722339101158e+16"
    ymd4 = compile_format("yyyy-mm-dd", date1904=True)
    assert ymd4("2957003") == "9999-12-31"  # last renderable day (1904)
    assert ymd4("2957004") == "2957004"
    # huge magnitudes print their full digit string (Java BigDecimal parity)
    assert compile_format("0.00")("1e101") == "1" + "0" * 101 + ".00"
    # percent scaling that overflows to inf degrades to General
    assert isinstance(compile_format("0%")("1.7976931348623157e308"), str)
    # cell texts that parse to no finite double print as they are under
    # General and dates, and as the double's General text under numbers
    for raw in ("1e400", "-1e400", "nan", "inf"):
        assert compile_format("General")(raw) == raw
        assert ymd(raw) == raw
    assert compile_format("0.00E+00")("984819e304") == "inf"
    assert compile_format("#,##0.00")("nan") == "nan"
    # scientific formats on subnormal cells, whose 10**exp scale would
    # underflow to 0.0 (ZeroDivisionError) or lose precision
    for fmt, v, want in [
        ("0.00E+00", "5e-324", "4.94E-324"),
        ("##0.0E+0", "5e-324", "4.9E-324"),
        ("0.00E+00", "3e-321", "3.00E-321"),
        ("0.00E+00", "2.2e-308", "2.20E-308"),
    ]:
        assert compile_format(fmt)(v) == want

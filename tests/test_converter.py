"""End-to-end converter tests over FIXTURES.md group A schemas."""

import json

import pytest

from catme_etl_j_spark.converter import ConversionError, convert, read_xlsx
from catme_etl_j_spark.converter.xlsx_writer import write_xlsx


@pytest.fixture(scope="module")
def catalog_xlsx(tmp_path_factory):
    # A1-style happy-path table with a sparse row (A2) mixed in.
    d = tmp_path_factory.mktemp("cat")
    rows = [["sku", "name", "price", "qty"]]
    for i in range(60):
        rows.append([f"SKU{i:03d}", f"Item {i} ä", round(0.5 + i, 2), i])
    rows[10] = [None, "only-name", None, None]
    return write_xlsx(str(d / "catalog.xlsx"), {"Catalog": rows})


def test_read_xlsx_schema_and_order(spark, catalog_xlsx):
    df = read_xlsx(spark, catalog_xlsx)
    assert df.columns == ["_file", "_row_idx", "sku", "name", "price", "qty"]
    assert [f.dataType.simpleString() for f in df.schema.fields[2:]] == ["string"] * 4
    rows = df.orderBy("_row_idx").collect()
    assert len(rows) == 60
    assert rows[0]["sku"] == "SKU000" and rows[0]["_row_idx"] == 1
    assert rows[-1]["sku"] == "SKU059"
    sparse = rows[9]
    assert sparse["sku"] is None and sparse["name"] == "only-name"


def test_ndjson_order_and_sparse_keys(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "out.ndjson")
    res = convert(catalog_xlsx, "NDJSON", out, overwrite=True, spark=spark)
    assert res.rows_written == 60
    lines = [json.loads(line) for line in open(out)]
    assert lines[0]["sku"] == "SKU000"
    assert lines[9] == {"name": "only-name"}  # absent cells omitted (EasyExcel parity)
    assert [ln["sku"] for ln in lines if "sku" in ln] == [f"SKU{i:03d}" for i in range(60) if i != 9]


def test_csv_chunks_rotation_and_padding(spark, catalog_xlsx, tmp_path):
    res = convert(
        catalog_xlsx, "CSV", batch_size=25, temp_dir=str(tmp_path), overwrite=True, spark=spark
    )
    names = [p.split("/")[-1] for p in res.outputs]
    assert names == ["catalog-chunk-1.csv", "catalog-chunk-2.csv", "catalog-chunk-3.csv"]
    c1, c2, c3 = (open(p).read().splitlines() for p in res.outputs)
    # header per chunk; 25+25+10 data rows
    assert c1[0] == c2[0] == c3[0] == "sku,name,price,qty"
    assert (len(c1), len(c2), len(c3)) == (26, 26, 11)
    # sparse row PADDED to full width (divergence from reference misalignment)
    assert c1[10 + 1 - 1] == ",only-name,,"


def test_json_array_framing(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "out.json")
    res = convert(catalog_xlsx, "JSON", out, overwrite=True, spark=spark)
    arr = json.load(open(out))
    assert res.rows_written == len(arr) == 60
    assert arr[9] == {"name": "only-name"}
    pretty = str(tmp_path / "pretty.json")
    convert(catalog_xlsx, "JSON", pretty, overwrite=True, pretty_print=True, spark=spark)
    assert json.load(open(pretty)) == arr
    assert open(pretty).read().startswith("[\n")


def test_header_row_offset(spark, tmp_path):
    # A3: junk rows before the header are dropped (R2).
    p = write_xlsx(
        str(tmp_path / "off.xlsx"),
        {"S": [["junk"], ["title", "noise"], [], ["id", "val"], ["1", "a"], ["2", "b"]]},
    )
    df = read_xlsx(spark, p, header_row=3)
    rows = df.orderBy("_row_idx").collect()
    assert df.columns[2:] == ["id", "val"]
    assert [(r["id"], r["val"]) for r in rows] == [("1", "a"), ("2", "b")]


def test_sheet_max_col_light_scan(tmp_path):
    """r11: files without a dimension element size their schema via the
    light structural width scan (sheet_max_col), which must equal the
    full iter_rows scan — and degrade to None (not a wrong width) on
    cells without refs, CDATA, or comments."""
    import re as _re
    import zipfile as _zip

    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    p = write_xlsx(
        str(tmp_path / "w.xlsx"),
        {"S": [["a", "b"], ["1", "2", "3", "4"], ["x"]]},
    )
    # strip the dimension element so the fallback path is exercised
    src = _zip.ZipFile(p)
    stripped = str(tmp_path / "nodim.xlsx")
    with _zip.ZipFile(stripped, "w") as dst:
        for info in src.infolist():
            data = src.read(info.filename)
            if info.filename.startswith("xl/worksheets/"):
                data = _re.sub(rb"<dimension[^>]*/>", b"", data)
            dst.writestr(info.filename, data)
    wb = XlsxWorkbook(stripped)
    assert wb.sheet_dimension() is None
    assert wb.sheet_max_col() == 3  # widest row has 4 cells
    full = -1
    for _, cells in wb.iter_rows():
        if cells:
            full = max(full, max(cells))
    assert full == 3

    # a cell without an r ref makes the light scan refuse (None)
    noref = str(tmp_path / "noref.xlsx")
    with _zip.ZipFile(noref, "w") as dst:
        for info in src.infolist():
            data = src.read(info.filename)
            if info.filename.startswith("xl/worksheets/"):
                data = _re.sub(rb"<dimension[^>]*/>", b"", data)
                data = data.replace(
                    b'<c r="A2" t="inlineStr">',
                    b'<c t="inlineStr">',
                    1,
                )
            dst.writestr(info.filename, data)
    assert XlsxWorkbook(noref).sheet_max_col() is None


def test_slice_parallel_parse_matches_serial(spark, tmp_path, monkeypatch):
    """r11: a single big sheet is byte-sliced at verified row boundaries
    and parsed by N concurrent tasks; the sliced read must be
    row-for-row identical to the serial read (same rows, same
    _row_idx), including sparse rows and values after the boundaries."""
    from catme_etl_j_spark.converter import reader as reader_mod
    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    rows = [["a", "b", "c"]]
    for i in range(3000):
        rows.append([f"v{i}", i, round(i * 0.5, 2)])
    rows[100] = [None, "only-b", None]  # sparse row crossing a boundary zone
    p = write_xlsx(str(tmp_path / "big.xlsx"), {"S": rows})

    # direct plan + slice-iterator equality (no Spark in the loop)
    with XlsxWorkbook(p) as wb:
        plan = wb.plan_row_slices(None, None, n_slices=4, min_bytes=1)
        assert plan and len(plan) >= 2
        serial = dict(wb.iter_rows())
        sliced = {}
        for s, e, init, _frn in plan:
            for ri, cells in wb.iter_rows_slice(
                None, None, start=s, end=e, init_row_idx=init
            ):
                assert ri not in sliced
                sliced[ri] = cells
        assert sliced == serial

    # end-to-end: the sliced frame equals the serial frame, and the
    # bucket-parallel ordered NDJSON sink is byte-identical to the
    # serial repartition(1)+sort sink
    serial_df = read_xlsx(spark, p).orderBy("_row_idx").collect()
    out_serial = str(tmp_path / "serial.ndjson")
    convert(p, "NDJSON", out_serial, overwrite=True, spark=spark)
    monkeypatch.setattr(reader_mod, "_SLICE_MIN_BYTES", 1)
    sliced_df = read_xlsx(spark, p)
    assert sliced_df.rdd.getNumPartitions() > 1  # really took the slice path
    assert sliced_df._catme_slice_ordered  # sink metadata attached
    assert sliced_df.orderBy("_row_idx").collect() == serial_df
    out_sliced = str(tmp_path / "sliced.ndjson")
    convert(p, "NDJSON", out_sliced, overwrite=True, spark=spark)
    assert open(out_sliced, "rb").read() == open(out_serial, "rb").read()


def test_parallel_slice_scan_matches_serial(tmp_path, monkeypatch):
    """r12: the range-decomposed strict scan (spool_sheet +
    scan_slice_range + combine_slice_scans — what the reader fans out
    as one Spark job) must produce EXACTLY the serial plan_row_slices
    plan, the same strict width, and the same refusals on the pinned
    unprovable variants — also when the read windows are small enough
    to split rows, cell tags and row numbers, where each range's result
    must equal its one-window scan."""
    import re as _re
    import zipfile as _zip

    from catme_etl_j_spark.converter import xlsx as xlsx_mod
    from catme_etl_j_spark.converter.xlsx import (
        XlsxWorkbook,
        combine_slice_scans,
        parse_decl_head,
        scan_slice_range,
    )

    rows = [["a", "b", "c"]] + [[f"v{i}", i, i * 2] for i in range(4000)]
    p = write_xlsx(str(tmp_path / "w.xlsx"), {"S": rows})
    # shrink the slice floor so the small fixture actually multi-slices
    monkeypatch.setattr(xlsx_mod, "SLICE_TARGET_BYTES", 1024)

    def parallel_plan(path: str, n_slices: int, want_width: bool = True, window=None):
        spool = str(tmp_path / "spool.xml")
        with XlsxWorkbook(path) as wb:
            meta = wb.spool_sheet(spool_path=spool)
        if meta is None:
            return None, None
        ok, decl_q = parse_decl_head(meta["head"])
        if not ok:
            return None, None
        fsize, frf = meta["file_size"], meta["first_row_off"]
        n_sl = min(n_slices, max(2, fsize // xlsx_mod.SLICE_TARGET_BYTES))
        span = fsize - frf
        targets = [frf + (k * span) // n_sl for k in range(1, n_sl)]
        ranges = [
            ((j * fsize) // n_sl, ((j + 1) * fsize) // n_sl) for j in range(n_sl)
        ]
        res = [
            scan_slice_range(spool, lo, hi, targets, decl_q, want_width)
            for lo, hi in ranges
        ]
        if window is not None:
            with monkeypatch.context() as m:
                m.setattr(xlsx_mod, "SCAN_WINDOW_BYTES", window)
                windowed = [
                    scan_slice_range(spool, lo, hi, targets, decl_q, want_width)
                    for lo, hi in ranges
                ]
            assert windowed == res
        return combine_slice_scans(
            res, first_row_off=frf, targets=targets, want_width=want_width
        )

    for n_sl in (2, 4, 7):
        with XlsxWorkbook(p) as wb:
            serial = wb.plan_row_slices(None, None, n_slices=n_sl, min_bytes=1)
            serial_width = wb.sheet_max_col()
        # rows here are ~100 bytes: 61-byte windows split every row and
        # many tags, 1000-byte ones fall anywhere in a row
        for window in (None, 61, 1000):
            slices, width = parallel_plan(p, n_sl, window=window)
            assert slices == serial and len(slices) >= 2
            assert width == serial_width

    # refusal parity on the pinned unprovable variants
    src = _zip.ZipFile(p)

    def variant(name: str, mutate) -> str:
        out = str(tmp_path / name)
        with _zip.ZipFile(out, "w") as dst:
            for info in src.infolist():
                data = src.read(info.filename)
                if info.filename.startswith("xl/worksheets/"):
                    data = mutate(data)
                dst.writestr(info.filename, data)
        return out

    cmt = variant(
        "c.xlsx", lambda d: d.replace(b"<sheetData>", b"<sheetData><!-- x -->", 1)
    )
    nor = variant(
        "r.xlsx", lambda d: _re.sub(rb'<row r="7"[^>]*>', b"<row>", d, count=1)
    )
    for window in (None, 61):
        assert parallel_plan(cmt, 4, window=window) == (None, None)
        assert parallel_plan(nor, 4, window=window) == (None, None)


def test_failed_slice_scan_leaves_no_spool(spark, tmp_path, monkeypatch):
    """An exception between spooling the sheet and registering the spool
    (here: the slice scan) removes the sheet-sized spool file instead of
    leaving it in the temp dir; refusal still falls back to serial."""
    import tempfile

    from catme_etl_j_spark.converter import reader as reader_mod

    rows = [["a", "b"]] + [[f"v{i}", i] for i in range(500)]
    p = write_xlsx(str(tmp_path / "w.xlsx"), {"S": rows})
    spool_dir = tmp_path / "spools"
    spool_dir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(spool_dir))
    monkeypatch.setattr(reader_mod, "_SLICE_MIN_BYTES", 1)

    def boom(*a, **k):
        raise RuntimeError("slice scan failed")

    monkeypatch.setattr(reader_mod, "combine_slice_scans", boom)
    with pytest.raises(RuntimeError, match="slice scan failed"):
        read_xlsx(spark, p)
    assert list(spool_dir.iterdir()) == []

    # a refused slice plan also removes its spool and reads serially
    monkeypatch.setattr(reader_mod, "combine_slice_scans", lambda *a, **k: (None, None))
    assert read_xlsx(spark, p).count() == 500
    assert list(spool_dir.iterdir()) == []

    # so does a failed slice-scan job (the scan raises on the executors)
    from catme_etl_j_spark.converter.xlsx import combine_slice_scans

    monkeypatch.setattr(reader_mod, "combine_slice_scans", combine_slice_scans)

    def scan_fails(*a, **k):
        raise RuntimeError("executor scan failed")

    monkeypatch.setattr(reader_mod, "scan_slice_range", scan_fails)
    assert read_xlsx(spark, p).count() == 500
    assert list(spool_dir.iterdir()) == []


def test_slice_plan_refuses_unprovable_sheets(tmp_path):
    """plan_row_slices returns None (serial fallback) whenever the scan
    cannot prove slicing exact: comments/CDATA, rows without a
    first-attribute r=, sheets below the size floor."""
    import re as _re
    import zipfile as _zip

    from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

    p = write_xlsx(
        str(tmp_path / "w.xlsx"),
        {"S": [["a"], *([[i] for i in range(50)])]},
    )
    src = _zip.ZipFile(p)

    def variant(name: str, mutate) -> str:
        out = str(tmp_path / name)
        with _zip.ZipFile(out, "w") as dst:
            for info in src.infolist():
                data = src.read(info.filename)
                if info.filename.startswith("xl/worksheets/"):
                    data = mutate(data)
                dst.writestr(info.filename, data)
        return out

    # baseline sheet slices fine once the floor is lowered
    assert XlsxWorkbook(p).plan_row_slices(None, None, n_slices=4, min_bytes=1)
    # below the size floor: refused
    assert XlsxWorkbook(p).plan_row_slices(None, None, n_slices=4) is None
    # an XML comment could hide row markup: refused
    cmt = variant("c.xlsx", lambda d: d.replace(b"<sheetData>", b"<sheetData><!-- x -->", 1))
    assert XlsxWorkbook(cmt).plan_row_slices(None, None, n_slices=4, min_bytes=1) is None
    # a row without a first-attribute r= needs the sequential fallback: refused
    nor = variant("r.xlsx", lambda d: _re.sub(rb'<row r="7"[^>]*>', b"<row>", d, count=1))
    assert XlsxWorkbook(nor).plan_row_slices(None, None, n_slices=4, min_bytes=1) is None


def test_ragged_rows_index_keys(spark, tmp_path):
    # A4: surplus data columns get stringified-index names.
    p = write_xlsx(
        str(tmp_path / "rag.xlsx"),
        {"S": [["a", "b", "c", "d"], ["1", "2", "3", "4", "5", "6"], ["x", "y"]]},
    )
    df = read_xlsx(spark, p)
    assert df.columns[2:] == ["a", "b", "c", "d", "4", "5"]
    r = df.orderBy("_row_idx").collect()
    assert (r[0]["4"], r[0]["5"]) == ("5", "6")
    assert r[1]["4"] is None


def test_bad_headers_dedupe_and_fallback(spark, tmp_path):
    # A5: empty header -> index key; duplicate names -> suffixed.
    p = write_xlsx(
        str(tmp_path / "bad.xlsx"),
        {"S": [["id", "", "name", "name", "value"], ["1", "2", "3", "4", "5"]]},
    )
    df = read_xlsx(spark, p)
    assert df.columns[2:] == ["id", "1", "name", "name_2", "value"]


def test_multi_sheet_selection(spark, tmp_path):
    # A6: by name, by index, default-first.
    p = write_xlsx(
        str(tmp_path / "ms.xlsx"),
        {
            "Data2024": [["y"], ["2024"]],
            "Data2025": [["y"], ["2025"], ["2025b"]],
            "Ignore": [["z"]],
        },
    )
    assert read_xlsx(spark, p, sheet_name="Data2025").count() == 2
    assert read_xlsx(spark, p, sheet_index=0).count() == 1
    assert read_xlsx(spark, p).count() == 1
    with pytest.raises(Exception, match="available sheets"):
        read_xlsx(spark, p, sheet_name="Nope")


def test_malformed_input_fails_fast(spark, tmp_path):
    bad = tmp_path / "bad.xlsx"
    bad.write_bytes(b"garbage" * 100)
    with pytest.raises(ConversionError):
        read_xlsx(spark, str(bad))


def test_validation_rules(spark, catalog_xlsx, tmp_path):
    with pytest.raises(ConversionError, match="batch_size"):
        convert(catalog_xlsx, "CSV", batch_size=0, spark=spark)
    with pytest.raises(ConversionError, match="output is required"):
        convert(catalog_xlsx, "NDJSON", None, spark=spark)
    with pytest.raises(ConversionError, match="format"):
        convert(catalog_xlsx, "XML", "x", spark=spark)
    with pytest.raises(ConversionError, match="header_row"):
        convert(catalog_xlsx, "NDJSON", "x", header_row=-1, spark=spark)


def test_overwrite_gate(spark, catalog_xlsx, tmp_path):
    out = str(tmp_path / "o.ndjson")
    convert(catalog_xlsx, "NDJSON", out, spark=spark)
    with pytest.raises(ConversionError, match="overwrite"):
        convert(catalog_xlsx, "NDJSON", out, spark=spark)
    convert(catalog_xlsx, "NDJSON", out, overwrite=True, spark=spark)  # ok


def test_ndjson_partitioned_scale_mode(spark, catalog_xlsx, tmp_path):
    # single_file=False: parallel partitioned write (the 100 TB path)
    from catme_etl_j_spark.converter.sinks import write_ndjson
    from catme_etl_j_spark.converter.reader import read_xlsx

    out = str(tmp_path / "nd_dir")
    df = read_xlsx(spark, catalog_xlsx)
    n = write_ndjson(df, out, overwrite=True, single_file=False)
    assert n == 60
    back = spark.read.json(out)
    assert back.count() == 60
    assert "sku" in back.columns and "_row_idx" not in back.columns


def test_multi_file_read(spark, tmp_path):
    # 100 TB posture: parallelism across files — glob read unions them.
    for i in range(3):
        write_xlsx(
            str(tmp_path / f"f{i}.xlsx"), {"S": [["k", "v"], [f"k{i}", str(i)]]}
        )
    df = read_xlsx(spark, str(tmp_path / "*.xlsx"))
    rows = df.orderBy("_file", "_row_idx").collect()
    assert [r["k"] for r in rows] == ["k0", "k1", "k2"]
    assert len({r["_file"] for r in rows}) == 3


@pytest.mark.slow
def test_bigsheet_conversion_bounded_memory():
    """The reference's headline invariant (README.md:11 '~700 MB
    tested, multi-GB designed'; contract :98/:220-225): converting a
    single sheet whose XML is ~492 MB (1.2M rows x 8 cols) must keep
    the PARSING TASK's peak RSS bounded far below the inflated sheet —
    the local path mode opens the archive from disk and the expat parser
    carries only O(batch) state, and the slice scan reads its byte range
    in 1 MiB windows. Measured 182-183 MB worker peak at 492 MB XML on
    4 cores; pinned at 320 MB to absorb allocator noise.
    The conversion itself must produce every row. The converting process
    and its Python workers both import the package from this checkout."""
    import os
    import subprocess
    import sys
    import threading
    import time
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    fixture = str(root / ".scaledata" / "bigsheet.xlsx")
    if not os.path.exists(fixture):
        sys.path.insert(0, str(root / "tools"))
        import gen_bigxlsx

        gen_bigxlsx.generate(fixture)

    def descendants(root):
        kids = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    st = f.read()
                ppid = int(st.rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(p))
            except Exception:
                pass
        out, stack = [], [root]
        while stack:
            n = stack.pop()
            out.append(n)
            stack.extend(kids.get(n, []))
        return out

    def rss_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for ln in f:
                    if ln.startswith("VmRSS:"):
                        return int(ln.split()[1])
        except Exception:
            return 0
        return 0

    def cmdline(pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().replace(b"\0", b" ").decode(errors="replace")
        except Exception:
            return ""

    peaks: dict = {}
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", (
            f"import sys; sys.path.insert(0, {str(root)!r})\n"
            "from catme_etl_j_spark.converter.api import convert\n"
            f"r = convert({fixture!r}, 'NDJSON', '/tmp/bigsheet_test.ndjson',"
            " overwrite=True)\n"
            "print('ROWS', r.rows_written, round(r.elapsed_s, 1))\n"
        )],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
    )

    def poll():
        while proc.poll() is None:
            for pid in descendants(proc.pid):
                kb = rss_kb(pid)
                if not kb:
                    continue
                cl = cmdline(pid)
                if "java" in cl.split(" ")[0]:
                    key = "jvm"
                elif "daemon" in cl or "worker" in cl:
                    key = "pyworker"
                else:
                    key = "pydriver" if pid == proc.pid else "other"
                peaks[key] = max(peaks.get(key, 0), kb)
            time.sleep(0.25)

    t = threading.Thread(target=poll)
    t.start()
    out, _ = proc.communicate(timeout=600)
    t.join()
    assert proc.returncode == 0, out
    line = [l for l in out.decode().splitlines() if l.startswith("ROWS")][0]
    rows = int(line.split()[1])
    assert rows == 1_200_000
    worker_peak_mb = peaks.get("pyworker", 0) / 1024
    assert 0 < worker_peak_mb < 320, (
        f"parse-task peak RSS {worker_peak_mb:.0f} MB for a 492 MB sheet "
        f"— the bounded-memory invariant regressed (peaks: {peaks})"
    )
    os.remove("/tmp/bigsheet_test.ndjson")


def _two_sheet_fixture(tmp_path):
    return write_xlsx(
        str(tmp_path / "multi.xlsx"),
        {
            "alpha": [["k", "v"], ["a1", "1"], ["a2", "2"]],
            "beta": [["k", "v"], ["b1", "3"]],
        },
    )


def test_reader_multi_sheet_star(spark, tmp_path):
    p = _two_sheet_fixture(tmp_path)
    df = read_xlsx(spark, p, sheet_name="*")
    assert df.columns[:4] == ["_file", "_sheet_idx", "_sheet", "_row_idx"]
    rows = sorted(
        (r["_sheet_idx"], r["_sheet"], r["k"], r["v"]) for r in df.collect()
    )
    assert rows == [
        (0, "alpha", "a1", "1"),
        (0, "alpha", "a2", "2"),
        (1, "beta", "b1", "3"),
    ]


def test_reader_multi_sheet_list(spark, tmp_path):
    p = _two_sheet_fixture(tmp_path)
    df = read_xlsx(spark, p, sheet_name=["beta"])
    rows = [(r["_sheet_idx"], r["_sheet"], r["k"]) for r in df.collect()]
    assert rows == [(0, "beta", "b1")]


def test_multi_sheet_convert_ndjson_order(spark, tmp_path):
    """Ordered single-file NDJSON preserves (file, sheet, row) order."""
    p = _two_sheet_fixture(tmp_path)
    out = str(tmp_path / "o.ndjson")
    result = convert(p, "NDJSON", out, sheet_name="*", spark=spark)
    assert result.rows_written == 3
    lines = [ln for ln in open(out).read().splitlines() if ln]
    keys = [json.loads(ln)["k"] for ln in lines]
    assert keys == ["a1", "a2", "b1"]

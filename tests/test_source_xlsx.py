"""XLSX source (reference enterprise Excel connector,
docs/enterprise.md:49-51): stdlib OOXML parsing — sheet catalog via
workbook relationships, shared/inline strings, typed cells, schema
inference — registered as queryable views."""

from __future__ import annotations

import zipfile

import pytest

import strake_spark as ss
from strake_spark.errors import SourceError
from strake_spark.sources import xlsx as X

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _workbook_xml(sheets):
    entries = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheets)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{entries}</sheets></workbook>"
    )


def _workbook_rels(n):
    entries = "".join(
        f'<Relationship Id="rId{i + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(n)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        f"{entries}</Relationships>"
    )


def _sheet_xml(rows):
    """rows: list of list of (ref, t_attr_or_None, inner_xml)."""
    body = []
    for rn, cells in enumerate(rows, start=1):
        cs = "".join(
            '<c r="%s"%s>%s</c>' % (ref, f' t="{t}"' if t else "", inner)
            for ref, t, inner in cells
        )
        body.append(f'<row r="{rn}">{cs}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )


_SST = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">'
    "<si><t>order id</t></si><si><t>status</t></si>"
    "<si><t>OPEN</t></si><si><r><t>CLO</t></r><r><t>SED</t></r></si></sst>"
)


@pytest.fixture()
def book(tmp_path):
    """Two-sheet workbook: orders (header, shared/rich strings, ints,
    floats, bool, a skipped cell) and stats (no strings)."""
    orders = _sheet_xml([
        [("A1", "s", "<v>0</v>"), ("B1", "s", "<v>1</v>"),
         ("C1", None, ""), ("D1", "s", "<v>1</v>")],  # D1 dup header name
        [("A2", None, "<v>1</v>"), ("B2", "s", "<v>2</v>"),
         ("C2", None, "<v>12.5</v>"), ("D2", "b", "<v>1</v>")],
        [("A3", None, "<v>2</v>"), ("B3", "s", "<v>3</v>"),
         # C3 missing entirely -> None
         ("D3", "b", "<v>0</v>")],
        [("A4", None, "<v>3</v>"), ("B4", "inlineStr", "<is><t>NEW</t></is>"),
         ("C4", None, "<v>7</v>"), ("D4", "b", "<v>1</v>")],
    ])
    stats = _sheet_xml([
        [("A1", "str", "<v>day</v>"), ("B1", "str", "<v>total</v>")],
        [("A2", None, "<v>45000</v>"), ("B2", None, "<v>10.25</v>")],
        [("A3", None, "<v>45001</v>"), ("B3", None, "<v>11</v>")],
    ])
    path = tmp_path / "book.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _workbook_xml(["orders", "stats"]))
        z.writestr("xl/_rels/workbook.xml.rels", _workbook_rels(2))
        z.writestr("xl/sharedStrings.xml", _SST)
        z.writestr("xl/worksheets/sheet1.xml", orders)
        z.writestr("xl/worksheets/sheet2.xml", stats)
    return str(path)


class TestReader:
    def test_sheet_names_and_selection(self, book):
        assert X.sheet_names(book) == ["orders", "stats"]
        with pytest.raises(SourceError, match="no sheet named"):
            X.read_sheet(book, "nope")

    def test_typed_cells_and_header(self, book):
        names, rows = X.read_sheet(book, "orders")
        assert names == ["order_id", "status", "col_2", "status_1"]  # dup header deduplicated
        assert rows[0] == [1, "OPEN", 12.5, True]
        assert rows[1] == [2, "CLOSED", None, False]  # rich text + gap
        assert rows[2] == [3, "NEW", 7, True]  # inline string

    def test_headerless_mode(self, book):
        names, rows = X.read_sheet(book, "stats", header=False)
        assert names == ["col_0", "col_1"]
        assert len(rows) == 3 and rows[0] == ["day", "total"]


class TestSparkViews:
    def test_engine_queries_workbook(self, spark, book):
        eng = ss.connect(
            {"sources": [{
                "name": "xl", "type": "xlsx", "url": book,
                "tables": [
                    {"name": "orders"},
                    {"name": "stats", "options": {"date_columns": ["day"]}},
                ],
            }]},
            spark=spark,
        )
        out = eng.execute(
            "SELECT order_id, status FROM xl_orders "
            "WHERE col_2 IS NOT NULL ORDER BY order_id"
        ).to_pylist()
        assert out == [
            {"order_id": 1, "status": "OPEN"},
            {"order_id": 3, "status": "NEW"},
        ]
        # column typing: ints stay integral, mixed int/float -> double
        types = {c["column"]: c["type"] for c in eng.describe("xl_orders")}
        assert types["order_id"] == "bigint"
        assert types["col_2"] == "double"
        # excel serial date converted
        days = eng.execute(
            "SELECT CAST(day AS DATE) AS d FROM xl_stats ORDER BY d"
        ).to_pylist()
        assert str(days[0]["d"]) == "2023-03-15"  # serial 45000

    def test_autoregister_all_sheets(self, spark, book):
        eng = ss.connect(
            {"sources": [{"name": "wb", "type": "excel", "url": book}]},
            spark=spark,
        )
        assert set(eng.list_sources()["wb"]) == {"wb_orders", "wb_stats"}
        n = eng.execute("SELECT count(*) AS n FROM wb_stats").to_pylist()
        assert n == [{"n": 2}]

    def test_missing_file_is_loud(self, spark):
        with pytest.raises(SourceError, match="existing .xlsx"):
            ss.connect(
                {"sources": [{"name": "nx", "type": "xlsx", "url": "/no/such.xlsx"}]},
                spark=spark,
            )


class TestCorruptWorkbooks:
    """Corrupt or non-OOXML files must raise SourceError, not raw
    zipfile/XML errors (r18)."""

    def test_corrupt_deflate_stream_is_loud(self, tmp_path):
        # pinned fuzz find (r19 opt round): a byte flip INSIDE a
        # member's compressed data kills the inflater with a raw
        # zlib.error before zipfile's CRC check (which would raise the
        # caught BadZipFile) ever runs. 0xFF fill = BFINAL=1 BTYPE=11
        # (reserved) -> deterministic "invalid block type".
        import struct
        import zipfile

        import pytest

        from strake_spark.errors import SourceError
        from strake_spark.sources.xlsx import sheet_names

        path = tmp_path / "deflate.xlsx"
        wb_xml = (
            '<?xml version="1.0"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheets>'
            '<sheet name="orders" sheetId="1"/></sheets></workbook>'
        ) * 4  # repeat so DEFLATE actually compresses
        with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as z:
            z.writestr("xl/workbook.xml", wb_xml)
        with zipfile.ZipFile(path) as z:
            zi = z.getinfo("xl/workbook.xml")
            assert zi.compress_type == zipfile.ZIP_DEFLATED
        data = bytearray(path.read_bytes())
        nlen, xlen = struct.unpack_from("<HH", data, zi.header_offset + 26)
        start = zi.header_offset + 30 + nlen + xlen
        data[start:start + zi.compress_size] = b"\xff" * zi.compress_size
        path.write_bytes(bytes(data))
        with pytest.raises(SourceError, match="not a readable xlsx"):
            sheet_names(str(path))

    @staticmethod
    def _deflated_book(path):
        import zipfile

        wb_xml = (
            '<?xml version="1.0"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheets>'
            '<sheet name="orders" sheetId="1"/></sheets></workbook>'
        ) * 4
        with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as z:
            z.writestr("xl/workbook.xml", wb_xml)
        return bytearray(path.read_bytes())

    @staticmethod
    def _ok_book(path):
        """A readable one-sheet workbook with no rows."""
        import zipfile

        with zipfile.ZipFile(path, "w") as z:
            z.writestr(
                "xl/workbook.xml",
                '<workbook xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main" xmlns:r="http://schemas.'
                'openxmlformats.org/officeDocument/2006/relationships">'
                '<sheets><sheet name="S1" r:id="rId1"/></sheets></workbook>',
            )
            z.writestr(
                "xl/_rels/workbook.xml.rels",
                '<Relationships xmlns="http://schemas.openxmlformats.org/'
                'package/2006/relationships">'
                '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>'
                "</Relationships>",
            )
            z.writestr(
                "xl/worksheets/sheet1.xml",
                '<worksheet xmlns="http://schemas.openxmlformats.org/'
                'spreadsheetml/2006/main"><sheetData/></worksheet>',
            )
        return path

    def test_unsupported_zip_features_are_loud(self, tmp_path):
        # pinned fuzz finds: stdlib zipfile signals these with raw
        # NotImplementedError / RuntimeError, not BadZipFile.
        import pytest

        from strake_spark.errors import SourceError
        from strake_spark.sources.xlsx import sheet_names

        path = tmp_path / "v.xlsx"
        data = self._deflated_book(path)
        cd = data.index(b"PK\x01\x02")
        # central-directory extract_version (offset +6) -> 100 ("zip
        # file version 10.0" NotImplementedError)
        hi = bytearray(data)
        hi[cd + 6] = 100
        path.write_bytes(bytes(hi))
        with pytest.raises(SourceError, match="not a readable xlsx"):
            sheet_names(str(path))
        # central-directory flag bits (offset +8) bit 0 -> "encrypted,
        # password required" RuntimeError at z.read
        enc = bytearray(data)
        enc[cd + 8] |= 1
        path.write_bytes(bytes(enc))
        with pytest.raises(SourceError, match="not a readable xlsx"):
            sheet_names(str(path))

    def test_mutated_workbook_bytes_never_raise_raw(self, tmp_path):
        # standing mutation fuzz (same contract as the WAV/PNG decoder
        # fuzz): byte flips and truncations of a DEFLATED workbook must
        # parse or raise SourceError — never raw zipfile/zlib/OS errors
        # (the classes _loud_workbook translates were each found this
        # way: zlib.error, NotImplementedError, EOFError, encrypted
        # RuntimeError, seek OSError).
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from strake_spark.errors import SourceError
        from strake_spark.sources.xlsx import read_sheet, sheet_names

        path = tmp_path / "m.xlsx"
        base = bytes(self._deflated_book(path))

        @settings(max_examples=200, deadline=None)
        @given(
            pos=st.integers(0, len(base) - 1),
            val=st.integers(0, 255),
            cut=st.integers(0, len(base)),
            pos2=st.integers(0, len(base) - 1),
            val2=st.integers(0, 255),
        )
        def run(pos, val, cut, pos2, val2):
            m1 = base[:pos] + bytes([val]) + base[pos + 1:]
            m2 = m1[:pos2] + bytes([val2]) + m1[pos2 + 1:]
            for payload in (m1, m2, base[:cut], m2[:cut]):
                path.write_bytes(payload)
                for fn in (sheet_names, read_sheet):
                    try:
                        fn(str(path))
                    except SourceError:
                        pass

        run()

    def test_garbage_and_truncated_files_are_loud(self, tmp_path):
        import zipfile

        import pytest

        from strake_spark.errors import SourceError
        from strake_spark.sources.xlsx import read_sheet, sheet_names

        garbage = tmp_path / "g.xlsx"
        garbage.write_bytes(b"not a zip at all")
        zip_no_workbook = tmp_path / "z.xlsx"
        with zipfile.ZipFile(zip_no_workbook, "w") as z:
            z.writestr("hello.txt", "hi")
        bad_xml = tmp_path / "x.xlsx"
        with zipfile.ZipFile(bad_xml, "w") as z:
            z.writestr("xl/workbook.xml", "<not-closed")
            z.writestr("xl/_rels/workbook.xml.rels", "<Relationships/>")
        for path in (garbage, zip_no_workbook, bad_xml):
            with pytest.raises(SourceError, match="not a readable xlsx"):
                sheet_names(str(path))
            with pytest.raises(SourceError, match="not a readable xlsx"):
                read_sheet(str(path))

    def test_unrelated_keyerror_is_not_mislabeled(self, tmp_path, monkeypatch):
        """r19 advice: only zipfile's missing-member KeyError may become
        'not a readable xlsx workbook'; a dict-lookup KeyError from a
        real bug inside the parse body must keep its traceback."""
        import pytest

        from strake_spark.sources import xlsx

        ok = self._ok_book(tmp_path / "ok.xlsx")
        # sanity: the fixture workbook reads fine
        names, rows = xlsx.read_sheet(str(ok))
        assert rows == []

        def boom(z):
            raise KeyError("unrelated lookup bug")

        monkeypatch.setattr(xlsx, "_shared_strings", boom)
        with pytest.raises(KeyError, match="unrelated"):
            xlsx.read_sheet(str(ok))

    def test_errno_less_oserror_inside_zipfile_is_loud(self, tmp_path, monkeypatch):
        """An OSError without an errno raised inside zipfile's parsing is
        a format complaint, not an OS failure: it becomes SourceError.
        One raised outside zipfile keeps its type."""
        import zipfile

        import pytest

        from strake_spark.errors import SourceError
        from strake_spark.sources import xlsx

        path = str(self._ok_book(tmp_path / "e.xlsx"))
        assert xlsx.sheet_names(path) == ["S1"]

        def bare(self, *a, **kw):
            raise OSError()

        with monkeypatch.context() as m:
            m.setattr(zipfile._SharedFile, "read", bare)
            with pytest.raises(SourceError, match="not a readable xlsx"):
                xlsx.sheet_names(path)

        def outside(z):
            raise OSError()

        monkeypatch.setattr(xlsx, "_shared_strings", outside)
        with pytest.raises(OSError):  # SourceError is no OSError
            xlsx.read_sheet(path)

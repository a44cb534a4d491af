"""XLSX (Microsoft Excel) source — spreadsheets as SQL tables.

Reference surface: the Enterprise Edition's Excel connector queries
spreadsheets "in S3 or local storage as if they were SQL tables"
(docs/enterprise.md:49-51, Calamine-based). This is a dependency-free
re-expression: XLSX is the public OOXML package format — a ZIP holding
``xl/workbook.xml`` (sheet catalog), ``xl/sharedStrings.xml`` (the
string table) and ``xl/worksheets/sheetN.xml`` (rows of typed cells) —
parsed here with stdlib ``zipfile`` + ``xml.etree`` only.

Scale stance: workbooks are read driver-side and handed to Spark as a
DataFrame. That is the right shape, not a compromise — the XLSX format
itself caps a sheet at 1,048,576 rows x 16,384 columns, so a workbook
is always driver-sized; the distributed path for big data is parquet.
Multi-FILE fan-out still distributes (one view per sheet, unions of
workbooks are plain SQL).

Typing: cells carry their own type markers (t="s" shared string,
t="b" boolean, t="str"/"inlineStr" literal strings, bare = number).
Column types are inferred per column over the data rows (long if every
value is integral, else double, else string — mixed columns degrade to
string). Dates: OOXML stores dates as serial NUMBERS distinguished
only by cell style; without style decoding they surface as those
numbers. Pass ``date_columns`` in table options to convert named
columns from Excel serial dates (days since 1899-12-30) to timestamps.
"""

from __future__ import annotations

import os
import re
import zipfile
import zlib
import xml.etree.ElementTree as ET

from pyspark.sql import SparkSession

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources.file import view_name
from strake_spark.sources.registry import source_type

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_NS = {
    "r": "http://schemas.openxmlformats.org/package/2006/relationships",
}
_DOC_REL = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
# Excel's date epoch (the 1900 system, with its historical off-by-two)
_EXCEL_EPOCH_DAYS = 25569  # days from 1899-12-30 to 1970-01-01


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27 (column letters only; row digits ignored)."""
    n = 0
    for ch in ref:
        if ch.isdigit():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


import contextlib


@contextlib.contextmanager
def _loud_workbook(path: str):
    """Convert corrupt-file failures into SourceError (r18): a
    non-OOXML or truncated file previously escaped as a raw
    zipfile.BadZipFile / xml ParseError. KeyError is deliberately NOT
    caught here (r19 advice): zipfile signals a missing archive member
    with KeyError, but so does any unrelated dict-lookup bug inside the
    parse body — translate the zip-member case at the z.read call
    (``_member``) so real bugs keep their tracebacks."""
    try:
        yield
    except (
        zipfile.BadZipFile, ET.ParseError, zlib.error, NotImplementedError, EOFError,
    ) as e:
        # Beyond BadZipFile, stdlib zipfile signals corrupt/unsupported
        # archives with several raw types (each a byte-flip fuzz find):
        # zlib.error — corrupted DEFLATE stream dies in the inflater
        # before the CRC check (which would raise BadZipFile) runs;
        # NotImplementedError — mutated version-needed / compression-
        # type fields; EOFError — mis-sized member stream runs dry.
        # None of these are raised by the parse body itself.
        raise SourceError(f"{path}: not a readable xlsx workbook: {e}") from e
    except RuntimeError as e:
        # zipfile raises bare RuntimeError for password-protected
        # members (a flipped encryption flag bit on untrusted input);
        # other RuntimeErrors keep their tracebacks.
        if "encrypt" in str(e) or "password" in str(e):
            raise SourceError(f"{path}: not a readable xlsx workbook: {e}") from e
        raise
    except OSError as e:
        # A mutated header offset makes zipfile seek outside the file:
        # OSError(EINVAL) (fuzz find; ESPIPE is the same class of
        # out-of-file seek on other platforms). Only corrupt-input
        # signatures convert to SourceError: those errnos, and an
        # OSError with no errno raised inside zipfile's parsing (the OS
        # always sets an errno, so an errno-less one is a format
        # complaint). Every other OSError (transient disk I/O,
        # ConnectionResetError on a network filesystem, missing file,
        # permissions) is an environmental failure, not corrupt input,
        # and keeps its type.
        import errno

        if e.errno in (errno.EINVAL, errno.ESPIPE) or (
            e.errno is None and _raised_in_zipfile(e)
        ):
            raise SourceError(
                f"{path}: not a readable xlsx workbook: {e}"
            ) from e
        raise


def _raised_in_zipfile(e: BaseException) -> bool:
    import traceback

    return any(
        frame.f_globals.get("__name__") == "zipfile"
        for frame, _ in traceback.walk_tb(e.__traceback__)
    )


def _member(z: zipfile.ZipFile, name: str) -> bytes:
    """z.read with ONLY its missing-member KeyError translated."""
    try:
        return z.read(name)
    except KeyError as e:
        raise SourceError(
            f"{z.filename}: not a readable xlsx workbook: missing archive "
            f"member {name!r}"
        ) from e


def sheet_names(path: str) -> list[str]:
    """Worksheet names in workbook order."""
    with _loud_workbook(path), zipfile.ZipFile(path) as z:
        wb = ET.fromstring(_member(z, "xl/workbook.xml"))
    return [
        s.get("name") or f"sheet{i + 1}"
        for i, s in enumerate(wb.findall("m:sheets/m:sheet", _NS))
    ]


def _sheet_targets(z: zipfile.ZipFile) -> dict[str, str]:
    """sheet name -> archive member path, resolved through the
    workbook relationships (sheet order in the ZIP is NOT reliable)."""
    wb = ET.fromstring(_member(z, "xl/workbook.xml"))
    rels = ET.fromstring(_member(z, "xl/_rels/workbook.xml.rels"))
    by_rid = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.findall("r:Relationship", _REL_NS)
    }
    out = {}
    for sheet in wb.findall("m:sheets/m:sheet", _NS):
        target = by_rid.get(sheet.get(_DOC_REL), "")
        if target.startswith("/"):
            member = target.lstrip("/")
        else:
            member = "xl/" + target
        out[sheet.get("name")] = member.replace("xl/xl/", "xl/")
    return out


def _shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall("m:si", _NS):
        # plain <t> or rich-text runs <r><t>...</t></r>
        out.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))
    return out


def _cell_value(c, strings: list[str]):
    t = c.get("t", "n")
    if t == "inlineStr":
        return "".join(x.text or "" for x in c.iter(f"{{{_NS['m']}}}t"))
    v = c.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        # the index is workbook bytes: a negative value would silently
        # return the WRONG string (Python negative indexing) and
        # out-of-range/non-numeric escaped as raw IndexError/ValueError
        # past _loud_workbook's zip/XML scope (r19 review)
        try:
            i = int(v.text)
        except ValueError:
            raise SourceError(
                f"not a readable xlsx workbook: non-numeric shared-string "
                f"index {v.text!r}"
            ) from None
        if not 0 <= i < len(strings):
            raise SourceError(
                f"not a readable xlsx workbook: shared-string index {i} "
                f"out of range (have {len(strings)})"
            )
        return strings[i]
    if t == "b":
        return v.text == "1"
    if t in ("str", "e"):
        return v.text
    # numeric: keep ints exact
    text = v.text
    try:
        f = float(text)
    except ValueError:
        return text
    if f.is_integer() and "e" not in text.lower() and "." not in text:
        return int(text)
    return f


def read_sheet(path: str, sheet: str | None = None, header: bool = True):
    """(column_names, rows) for one worksheet. Rows are dense lists
    aligned to the widest row; missing cells are None."""
    with _loud_workbook(path), zipfile.ZipFile(path) as z:
        targets = _sheet_targets(z)
        if sheet is None:
            if not targets:
                raise SourceError(f"{path}: workbook has no sheets")
            sheet = next(iter(targets))
        member = targets.get(sheet)
        if member is None:
            raise SourceError(
                f"{path}: no sheet named {sheet!r} (have {sorted(targets)})"
            )
        strings = _shared_strings(z)
        root = ET.fromstring(_member(z, member))
    raw: list[dict[int, object]] = []
    width = 0
    for row in root.findall("m:sheetData/m:row", _NS):
        cells: dict[int, object] = {}
        last = -1
        for c in row.findall("m:c", _NS):
            ref = c.get("r")
            idx = _col_index(ref) if ref else last + 1
            last = idx
            cells[idx] = _cell_value(c, strings)
        if cells:
            width = max(width, max(cells) + 1)
        raw.append(cells)
    dense = [[r.get(i) for i in range(width)] for r in raw]
    if header and dense:
        names = [
            str(h) if h is not None else f"col_{i}"
            for i, h in enumerate(dense[0])
        ]
        body = dense[1:]
    else:
        names = [f"col_{i}" for i in range(width)]
        body = dense
    # worksheet-name -> column-name sanity: Spark rejects dots/spaces,
    # and duplicate headers (common in real spreadsheets) must
    # deduplicate or every reference to them is ambiguous
    names = [re.sub(r"[^0-9A-Za-z_]", "_", n) for n in names]
    seen: dict[str, int] = {}
    unique = []
    for n in names:
        if n in seen:
            seen[n] += 1
            unique.append(f"{n}_{seen[n]}")
        else:
            seen[n] = 0
            unique.append(n)
    return unique, body


def _infer_type(values):
    kinds = {type(v) for v in values if v is not None}
    if not kinds:
        return "string"
    if kinds <= {bool}:
        return "boolean"
    if kinds <= {int}:
        return "long"
    if kinds <= {int, float}:
        return "double"
    return "string"


def sheet_to_df(spark: SparkSession, path: str, sheet: str | None = None,
                header: bool = True, date_columns: tuple[str, ...] = ()):
    names, body = read_sheet(path, sheet, header)
    types = [
        _infer_type([r[i] for r in body]) for i in range(len(names))
    ]
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, types))
    norm = []
    for r in body:
        norm.append(
            [
                (float(v) if t == "double" and isinstance(v, int) else
                 str(v) if t == "string" and v is not None else v)
                for v, t in zip(r, types)
            ]
        )
    df = spark.createDataFrame(norm, schema=schema or "col_0 string")
    if date_columns:
        from pyspark.sql import functions as F

        for col in date_columns:
            if col in names:
                df = df.withColumn(
                    col,
                    F.timestamp_seconds(
                        (F.col(col).cast("double") - _EXCEL_EPOCH_DAYS) * 86400.0
                    ),
                )
    return df


@source_type("xlsx", "excel")
def register_xlsx_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    """Each configured table maps one worksheet to a view:
    ``tables: [{name: orders, path: /data/book.xlsx}]`` with optional
    per-table options ``sheet`` (default: the table name, falling back
    to the first sheet), ``header`` (default true) and ``date_columns``.
    With no tables configured, every sheet of ``url`` registers under
    its own (sanitized) name."""
    registered: list[str] = []
    if cfg.tables:
        for tbl in cfg.tables:
            path = tbl.path or cfg.url
            if not path:
                raise SourceError(
                    f"xlsx source {cfg.name!r}: table {tbl.name!r} needs a path or source url"
                )
            opts = dict(getattr(tbl, "options", None) or {})
            sheet = opts.get("sheet")
            if sheet is None and tbl.name in sheet_names(path):
                sheet = tbl.name
            df = sheet_to_df(
                spark, path, sheet,
                header=bool(opts.get("header", True)),
                date_columns=tuple(opts.get("date_columns", ())),
            )
            name = view_name(cfg.name, tbl.name)
            df.createOrReplaceTempView(name)
            registered.append(name)
        return registered
    if not cfg.url or not os.path.exists(cfg.url):
        raise SourceError(f"xlsx source {cfg.name!r}: url must be an existing .xlsx file")
    for sheet in sheet_names(cfg.url):
        df = sheet_to_df(spark, cfg.url, sheet)
        safe = re.sub(r"[^0-9A-Za-z_]", "_", sheet).lower()
        name = view_name(cfg.name, safe)
        df.createOrReplaceTempView(name)
        registered.append(name)
    return registered

"""Minimal self-contained xlsx reader/writer (no openpyxl/xlsxwriter).

Reference: ``Orange/data/io.py:246-318`` (``ExcelReader``: first sheet by
default, named-sheet selection, header row + type inference) and
``io.py:319-346`` (``ExcelWriter``).  The reference delegates to openpyxl;
that library may be absent here, and an .xlsx file is only a zip of small
XML parts — so this module implements the subset the reference exercises
with stdlib ``zipfile`` + ``xml.etree``:

  * writer: one worksheet, header row, numbers as native numeric cells,
    everything else as inline strings (no sharedStrings table needed);
  * reader: first (or named) worksheet, shared-string and inline-string
    cells, numeric cells, blank cells as NULL; column types inferred with
    the same ``guess_data_type`` probe the csv reader uses.

Excel is driver-side small-data by construction (the format caps at
1,048,576 rows); ``write_xlsx`` enforces the same explicit row bound as
``sources/tab.py:write_tab`` — the distributed persisted form is parquet.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession

from orange3_spark.session import local_frame

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _col_letter(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _cell_xml(ref: str, v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return ""                     # NULL/NaN → blank cell
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(str(v))}</t></is></c>")


def write_grid(path: str, grid, *, sheet: str = "Sheet1") -> None:
    """Write a list-of-rows cell grid as a single-sheet .xlsx (numbers →
    native numeric cells via repr — round-trip exact; None/NaN → blank).
    Shared by the Table writer below and sources/dst.py."""
    body = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>']
    for i, r in enumerate(grid):
        cs = "".join(_cell_xml(f"{_col_letter(j)}{i + 1}", v)
                     for j, v in enumerate(r))
        body.append(f'<row r="{i + 1}">{cs}</row>')
    body.append("</sheetData></worksheet>")

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK.format(name=escape(sheet)))
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", "\n".join(body))


def write_xlsx(df: DataFrame, path: str, *, sheet: str = "Sheet1",
               max_rows: int = 1_000_000) -> None:
    """Write a DataFrame as a single-sheet .xlsx (header row + data).
    Driver-side with an explicit bound, mirroring ``write_tab``."""
    n = df.count()
    if n > max_rows:
        raise ValueError(f".xlsx writer is driver-side; {n} rows > "
                         f"{max_rows}. Persist as parquet instead.")
    write_grid(path, [list(df.columns)] + [list(r) for r in df.collect()],
               sheet=sheet)


def _sheet_path(z: zipfile.ZipFile, sheet: str | int | None) -> str:
    """Resolve a sheet name/index to its worksheet part via workbook.xml +
    its relationships (``io.py:262-280`` sheet selection)."""
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    targets = {}
    for rel in rels:
        t = rel.get("Target")
        targets[rel.get("Id")] = t if t.startswith("xl/") \
            else "xl/" + t.lstrip("/")
    sheets = []
    for sh in wb.find(f"{_NS}sheets"):
        sheets.append((sh.get("name"), targets[sh.get(f"{_REL_NS}id")]))
    if sheet is None or sheet == 0:
        return sheets[0][1]
    if isinstance(sheet, int):
        return sheets[sheet][1]
    for name, target in sheets:
        if name == sheet:
            return target
    raise ValueError(f"no sheet named {sheet!r}; have "
                     f"{[s[0] for s in sheets]}")


_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    m = _CELL_REF.match(ref)
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def read_grid(path: str, sheet: str | int | None = None
              ) -> list[dict[int, str | None]]:
    """Raw cell grid of a worksheet: one ``{col_index: text}`` dict per
    row (shared-string / inline-string / numeric / bool cells resolved
    to their text).  Shared by the Table reader below and the .dst
    distance-matrix reader (sources/dst.py)."""
    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root:
                shared.append("".join(t.text or ""
                                      for t in si.iter(f"{_NS}t")))
        ws = ET.fromstring(z.read(_sheet_path(z, sheet)))
        grid: list[dict[int, str | None]] = []
        for row in ws.iter(f"{_NS}row"):
            cells: dict[int, str | None] = {}
            last = -1                 # running index: a cell without r=
            for c in row.iter(f"{_NS}c"):   # follows its predecessor (OOXML)
                r_attr = c.get("r")
                j = _col_index(r_attr) if r_attr else last + 1
                last = j
                t = c.get("t", "n")
                if t == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    cells[j] = "".join(x.text or ""
                                       for x in is_el.iter(f"{_NS}t")) \
                        if is_el is not None else None
                else:
                    v = c.find(f"{_NS}v")
                    raw = v.text if v is not None else None
                    if raw is None:
                        cells[j] = None
                    elif t == "s":
                        cells[j] = shared[int(raw)]
                    elif t == "b":
                        cells[j] = "1" if raw in ("1", "true") else "0"
                    else:
                        cells[j] = raw
            grid.append(cells)
    return grid


def read_xlsx(spark: SparkSession, path: str, *,
              sheet: str | int | None = None) -> DataFrame:
    """Read an .xlsx worksheet: header row → column names, then Orange
    type inference per column (discrete probe → float → time → string,
    ``sources/infer.py``) exactly like the csv reader."""
    from orange3_spark.sources.csv import infer_and_type

    grid = read_grid(path, sheet)
    if not grid:
        raise ValueError(f"{path}: empty worksheet")
    width = max(max(r, default=-1) for r in grid) + 1
    names = [grid[0].get(j) or f"c{j}" for j in range(width)]
    # de-duplicate header names (repeated or empty header cells would make
    # F.col ambiguous downstream): suffix later repeats with _2, _3, …
    used: set[str] = set()
    for i, n in enumerate(names):
        base, k = n, 1
        while n in used:
            k += 1
            n = f"{base}_{k}"
        used.add(n)
        names[i] = n
    data = [tuple(r.get(j) for j in range(width)) for r in grid[1:]]
    raw = local_frame(
        spark, data, ", ".join(f"`{n}` string" for n in names))
    return infer_and_type(raw)

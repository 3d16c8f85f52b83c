"""Styled .xlsx diff report — reference operator #11
(``cmd/dbdiff/main.go:108-270``) with the same block layout:

* per-table block starting at B2, two blank margin rows between tables
* orange ``TableName`` label cell + table name (``main.go:166-180``)
* green header row: ``(diff)`` + column names (``main.go:182-196``)
* one row per changed row, first cell ``INSERTED`` / ``DELETED`` /
  ``UPD BEFORE`` / ``UPD  AFTER`` (``main.go:201-250``)
* yellow fill + red border on exactly the modified cells of UPDATED rows
* all data cells thin-bordered; NULL rendered as ``<NULL>``

No spreadsheet library ships in this image, so this module emits the
(public, ECMA-376) SpreadsheetML zip format directly — a workbook with
one sheet, inline strings, and the four cell styles above.  Driver-side
code: the diff DataFrame is collected (changed rows only), exactly the
reference's own assumption — through the result's ``rows`` memo, which a
console report of the same results has already filled.
"""

from __future__ import annotations

import zipfile
from datetime import datetime
from pathlib import Path
from xml.sax.saxutils import escape

from dbdiff_spark.diff import DELETED, INSERTED, UPDATED, DiffResult, collect_rows
from dbdiff_spark.normalize import NULL_SENTINEL

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
</Relationships>"""

# style ids (cellXfs index):
# 0 default | 1 bordered | 2 modified (yellow fill, red border)
# 3 header (green fill, border) | 4 table-name (orange fill)
STYLE_DEFAULT, STYLE_BORDER, STYLE_MOD, STYLE_HEADER, STYLE_TABLENAME = range(5)

_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>
<fills count="5">
<fill><patternFill patternType="none"/></fill>
<fill><patternFill patternType="gray125"/></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/></patternFill></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FF92D050"/></patternFill></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFFFC000"/></patternFill></fill>
</fills>
<borders count="3">
<border><left/><right/><top/><bottom/><diagonal/></border>
<border>
<left style="thin"><color rgb="FF000000"/></left><right style="thin"><color rgb="FF000000"/></right>
<top style="thin"><color rgb="FF000000"/></top><bottom style="thin"><color rgb="FF000000"/></bottom><diagonal/>
</border>
<border>
<left style="thin"><color rgb="FFFF0000"/></left><right style="thin"><color rgb="FFFF0000"/></right>
<top style="thin"><color rgb="FFFF0000"/></top><bottom style="thin"><color rgb="FFFF0000"/></bottom><diagonal/>
</border>
</borders>
<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>
<cellXfs count="5">
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
<xf numFmtId="0" fontId="0" fillId="0" borderId="1" xfId="0" applyBorder="1"/>
<xf numFmtId="0" fontId="0" fillId="2" borderId="2" xfId="0" applyFill="1" applyBorder="1"/>
<xf numFmtId="0" fontId="0" fillId="3" borderId="1" xfId="0" applyFill="1" applyBorder="1"/>
<xf numFmtId="0" fontId="0" fillId="4" borderId="0" xfId="0" applyFill="1"/>
</cellXfs>
</styleSheet>"""

# block layout constants (main.go:100-106)
OFFSET_COL = 2  # "B"
OFFSET_ROW = 2  # row 2
MARGIN_ROWS = 2

_STATUS_CELL = {
    (INSERTED, False): "INSERTED",
    (DELETED, True): "DELETED",
    (UPDATED, True): "UPD BEFORE",
    (UPDATED, False): "UPD  AFTER",
}


def _col_letter(n: int) -> str:
    out = ""
    while n > 0:
        n, rem = divmod(n - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


class _Sheet:
    def __init__(self) -> None:
        self.rows: dict[int, dict[int, tuple[str, int]]] = {}

    def set(self, row: int, col: int, value: str, style: int) -> None:
        self.rows.setdefault(row, {})[col] = (value, style)

    def to_xml(self) -> str:
        parts = [
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>',
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">',
            "<sheetData>",
        ]
        for r in sorted(self.rows):
            parts.append(f'<row r="{r}">')
            for c in sorted(self.rows[r]):
                value, style = self.rows[r][c]
                ref = f"{_col_letter(c)}{r}"
                parts.append(
                    f'<c r="{ref}" s="{style}" t="inlineStr">'
                    f"<is><t xml:space=\"preserve\">{escape(value)}</t></is></c>"
                )
            parts.append("</row>")
        parts.append("</sheetData></worksheet>")
        return "".join(parts)


def write_diff_xlsx(
    results: dict[str, DiffResult],
    output_path: str | Path,
    max_rows_per_table: int = 10_000,
) -> Path:
    """Render every table's diff into one sheet, reference block layout."""
    collect_rows(results, max_rows_per_table)
    sheet = _Sheet()
    ri = OFFSET_ROW
    for table in sorted(results):
        res = results[table]
        rows = res.rows(max_rows_per_table)
        if not rows:
            continue
        cols = res.value_columns
        # table-name block
        sheet.set(ri, OFFSET_COL, "TableName", STYLE_TABLENAME)
        sheet.set(ri, OFFSET_COL + 1, table, STYLE_DEFAULT)
        ri += 1
        # header row
        sheet.set(ri, OFFSET_COL, "(diff)", STYLE_HEADER)
        for i, cname in enumerate(cols):
            sheet.set(ri, OFFSET_COL + 1 + i, cname, STYLE_HEADER)
        ri += 1
        # data rows
        for r in rows:
            label = _STATUS_CELL.get((r["diff_status"], r["is_before"]))
            if label is None:
                continue
            sheet.set(ri, OFFSET_COL, label, STYLE_BORDER)
            modified = set(r["modified_columns"] or [])
            for i, cname in enumerate(cols):
                v = r[cname]
                text = NULL_SENTINEL if v is None else str(v)
                style = (
                    STYLE_MOD
                    if r["diff_status"] == UPDATED and cname in modified
                    else STYLE_BORDER
                )
                sheet.set(ri, OFFSET_COL + 1 + i, text, style)
            ri += 1
        ri += MARGIN_ROWS

    output_path = Path(output_path)
    with zipfile.ZipFile(output_path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/styles.xml", _STYLES)
        z.writestr("xl/worksheets/sheet1.xml", sheet.to_xml())
    return output_path


def default_output_name(prefix: str = "dbdiff", now: datetime | None = None) -> str:
    """Timestamped filename (reference: generateOutFilename,
    main.go:273-282 — dbdiff_YYYYMMDD_HHMMSS.xlsx)."""
    now = now or datetime.now()
    return f"{prefix}_{now.strftime('%Y%m%d_%H%M%S')}.xlsx"


def open_command(path: str | Path, platform: str | None = None) -> list[str] | None:
    """Viewer command for the written report — reference behavior parity
    (``cmd/dbdiff/main.go:261-269``): the reference launches the OS
    viewer on macOS (``/usr/bin/open``) and Windows (``cmd /C``), and
    does nothing elsewhere.  Returns the argv to spawn, or ``None`` on
    platforms with no auto-open (Linux servers — where this engine
    usually runs headless)."""
    import sys

    platform = platform or sys.platform
    if platform == "darwin":
        return ["/usr/bin/open", str(path)]
    if platform.startswith("win"):
        return ["cmd", "/C", str(path)]
    return None


def maybe_open(path: str | Path, auto_open: bool = False) -> bool:
    """Spawn the platform viewer when ``auto_open`` is set (opt-in flag,
    vs the reference's unconditional launch — a headless Spark driver
    should never pop a GUI by default).  Returns True when a viewer was
    started."""
    if not auto_open:
        return False
    cmd = open_command(path)
    if cmd is None:
        return False
    import subprocess

    subprocess.Popen(cmd)  # fire-and-forget, like the reference's .Start()
    return True

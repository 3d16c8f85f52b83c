"""Output checks: parse what the sinks wrote and compare it with the truth.

The console text and the xlsx sheet XML are parsed independently and each
is compared with the ground truth kept by ``data.LiveDatabase.edit``.  For
the corpus workload, each registry entry's rows are compared with its
``oracle_sql()`` twin run by DuckDB over the same parquet files.
"""

from __future__ import annotations

import math
import re
import zipfile
from pathlib import Path
from xml.etree import ElementTree

from perfbench.data import KEYS, TableTruth

# Row cap of both sinks (``print_diffs`` / ``write_diff_xlsx`` defaults).
SINK_ROW_CAP = 10_000

_CONSOLE_LABELS = {
    "INSERTED        : ": ("INSERTED", False),
    "DELETED         : ": ("DELETED", True),
    "UPDATED[Before] : ": ("UPDATED", True),
    "UPDATED[After ] : ": ("UPDATED", False),
}
_XLSX_LABELS = {
    "INSERTED": ("INSERTED", False),
    "DELETED": ("DELETED", True),
    "UPD BEFORE": ("UPDATED", True),
    "UPD  AFTER": ("UPDATED", False),
}
_XLSX_MODIFIED_STYLE = "2"
_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def parse_console(text: str) -> dict[str, list[tuple[str, bool, dict[str, str], set[str]]]]:
    """``===table===`` blocks of ``LABEL : ([col:val]...)`` lines →
    table → [(status, is_before, values, modified_columns)].  Console rows
    carry no styling, so ``modified_columns`` is left empty here."""
    out: dict[str, list] = {}
    rows = None
    for line in text.splitlines():
        if line.startswith("===") and line.endswith("==="):
            rows = out.setdefault(line[3:-3], [])
            continue
        label = line[:18]
        if rows is None or label not in _CONSOLE_LABELS:
            raise ValueError(f"unparseable console line: {line[:80]!r}")
        body = line[18:]
        if not (body.startswith("([") and body.endswith("])")):
            raise ValueError(f"unparseable console row: {line[:80]!r}")
        values = {}
        for part in body[2:-2].split("]["):
            col, _, val = part.partition(":")
            values[col] = val
        status, is_before = _CONSOLE_LABELS[label]
        rows.append((status, is_before, values, set()))
    return out


def parse_xlsx(path: Path) -> dict[str, list[tuple[str, bool, dict[str, str], set[str]]]]:
    """Blocks of TableName / header / data rows from sheet1 → same shape as
    :func:`parse_console`, with ``modified_columns`` read from the
    highlighted-cell style."""
    with zipfile.ZipFile(path) as z:
        root = ElementTree.fromstring(z.read("xl/worksheets/sheet1.xml"))
    grid: dict[int, dict[str, tuple[str, str]]] = {}
    for row in root.iter(f"{_NS}row"):
        r = int(row.get("r"))
        for c in row.iter(f"{_NS}c"):
            col = re.match(r"[A-Z]+", c.get("r")).group(0)
            t = c.find(f"{_NS}is/{_NS}t")
            grid.setdefault(r, {})[col] = (t.text or "" if t is not None else "", c.get("s", "0"))
    out: dict[str, list] = {}
    r_nums = sorted(grid)
    i = 0
    while i < len(r_nums):
        cells = grid[r_nums[i]]
        if cells.get("B", ("", ""))[0] != "TableName":
            raise ValueError(f"xlsx row {r_nums[i]}: expected a TableName block")
        table = cells["C"][0]
        header = grid[r_nums[i] + 1]
        cols = [header[k][0] for k in sorted(header, key=_col_index) if k != "B"]
        rows = out.setdefault(table, [])
        r = r_nums[i] + 2
        while r in grid:
            cells = grid[r]
            status, is_before = _XLSX_LABELS[cells["B"][0]]
            letters = sorted((k for k in cells if k != "B"), key=_col_index)
            values = {cols[n]: cells[k][0] for n, k in enumerate(letters)}
            modified = {cols[n] for n, k in enumerate(letters) if cells[k][1] == _XLSX_MODIFIED_STYLE}
            rows.append((status, is_before, values, modified))
            r += 1
        i = r_nums.index(r - 1) + 1
    return out


def _col_index(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + ord(ch) - 64
    return n


def expected_rows(truth: TableTruth) -> list[tuple[str, bool, tuple[str, ...]]]:
    """The report rows the truth implies, in the sinks' order (key columns
    compared as strings in STRING mode, before-row first), cut at the cap."""
    rows = [("INSERTED", False, k) for k in truth.inserted]
    rows += [("DELETED", True, k) for k in truth.deleted]
    for k in truth.updated:
        rows += [("UPDATED", True, k), ("UPDATED", False, k)]
    rows.sort(key=lambda r: (r[2], not r[1]))
    return rows[:SINK_ROW_CAP]


def compare(report: dict, truth: dict[str, TableTruth], sink: str, require_modified: bool) -> list[str]:
    """Differences between one parsed sink report and the truth."""
    errors = []
    for table, tt in sorted(truth.items()):
        got_rows = report.get(table, [])
        key = KEYS[table]
        got = sorted(
            ((s, b, tuple(v.get(k, "?") for k in key)) for s, b, v, _ in got_rows),
            key=lambda r: (r[2], not r[1]),
        )
        want = expected_rows(tt)
        if got != want:
            missing = sorted(set(want) - set(got))[:3]
            extra = sorted(set(got) - set(want))[:3]
            errors.append(f"{sink} {table}: {len(got)} rows vs {len(want)} expected; "
                          f"missing {missing} extra {extra}")
            continue
        for s, _, v, modified in got_rows:
            if s != "UPDATED":
                continue
            k = tuple(v[c] for c in key)
            if require_modified:
                found = modified
            else:  # console: modified = columns whose rendering changed
                pair = [vv for ss, _, vv, _ in got_rows if ss == "UPDATED"
                        and tuple(vv[c] for c in key) == k]
                found = {c for c in pair[0] if pair[0][c] != pair[-1][c]}
            if found != set(tt.updated[k]):
                errors.append(f"{sink} {table} {k}: modified {sorted(found)} "
                              f"expected {sorted(tt.updated[k])}")
                break
    return errors


def check_iteration(console_text: str, xlsx_path: Path,
                    truth: dict[str, TableTruth]) -> tuple[list[str], dict[str, int]]:
    """All mismatches of one REPL iteration's two reports, and the number
    of report rows each sink rendered."""
    try:
        console = parse_console(console_text)
        xlsx = parse_xlsx(xlsx_path)
    except (ValueError, KeyError, IndexError, zipfile.BadZipFile) as exc:
        return [f"report unparseable: {exc}"], {}
    errors = compare(console, truth, "console", require_modified=False)
    errors += compare(xlsx, truth, "xlsx", require_modified=True)
    missing_blocks = set(truth) - set(console)
    if missing_blocks:
        errors.append(f"console: no block for {sorted(missing_blocks)}")
    rendered = {"sinks.console": sum(map(len, console.values())),
                "sinks.xlsx": sum(map(len, xlsx.values()))}
    return errors, rendered


# --- corpus workload: DuckDB oracle twin ------------------------------------


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    return str(v)


def canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(_canon(r[i]) for i in order) for r in rows))

"""Console sink — reproduces the reference's report lines
(``cmd/dbdiff/main.go:201-250``):

    ===<table>===
    INSERTED        : ([col:val][col2:val2])
    DELETED         : (...)
    UPDATED[Before] : (...)
    UPDATED[After ] : (...)

NULL renders as ``<NULL>`` (``extract_data.go:111-115``) — presentation
only; comparisons upstream are null-safe on real NULLs (SURVEY §1.4).

The diff result is presumed small relative to the inputs (changed rows
only), so collecting to the driver mirrors the reference's own
assumption; ``max_rows`` guards the pathological all-rows-changed case.
The rows are the result's ``rows(max_rows)`` memo, collected for every
table at once, so a later xlsx report of the same results runs no job.
"""

from __future__ import annotations

import io

from dbdiff_spark.diff import DELETED, INSERTED, UPDATED, DiffResult, collect_rows
from dbdiff_spark.normalize import NULL_SENTINEL

_LABELS = {
    (INSERTED, False): "INSERTED        : ",
    (DELETED, True): "DELETED         : ",
    (UPDATED, True): "UPDATED[Before] : ",
    (UPDATED, False): "UPDATED[After ] : ",
}


def format_row(columns: list[str], row) -> str:
    """Reference RowObject.String() shape (extract_data.go:135-147)."""
    parts = []
    for c in columns:
        v = row[c]
        parts.append(f"[{c}:{NULL_SENTINEL if v is None else v}]")
    return "(" + "".join(parts) + ")"


def render_table_diff(
    table_name: str, result: DiffResult, max_rows: int = 10_000
) -> str:
    rows = result.rows(max_rows)
    out = io.StringIO()
    out.write(f"==={table_name}===\n")
    for r in rows:
        label = _LABELS.get((r["diff_status"], r["is_before"]))
        if label is None:  # NOT_MODIFIED in include_unchanged mode
            continue
        out.write(label + format_row(result.value_columns, r) + "\n")
    return out.getvalue()


def print_diffs(results: dict[str, DiffResult], max_rows: int = 10_000) -> None:
    collect_rows(results, max_rows)
    for name in sorted(results):
        text = render_table_diff(name, results[name], max_rows=max_rows)
        print(text, end="")

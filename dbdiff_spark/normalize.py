"""Normalizing projections — the reference's "everything is a nullable
string" type model, as an optional Spark projection.

The reference scans every column of every type through ``sql.NullString``
(``extract_data.go:63-67``) and renders NULL as the literal string
``"<NULL>"`` (``extract_data.go:105-121``).  We reproduce the
string-typed comparison as *fidelity mode* via ``cast("string")`` but keep
NULL a real SQL NULL end-to-end (comparisons are null-safe instead —
SURVEY §1.4); ``"<NULL>"`` is applied only by :func:`presentation_view`
at the sink boundary, which removes the reference's value/NULL collision
bug without changing observable behavior for sane data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbdiff_spark.sqltext import ident, string_lit

NULL_SENTINEL = "<NULL>"


def normalize_to_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Cast every (or the given) column to nullable string.

    Mirrors reference operator #5 (SURVEY §2): all source types coerced
    to string before comparison.  A plain ``cast`` stays inside
    whole-stage codegen — no UDF, no Python round-trip.  Built as SQL
    text, one string per column (see ``sqltext``).
    """
    cols = columns or df.columns
    return df.selectExpr(*[f"CAST({ident(c)} AS STRING) AS {ident(c)}" for c in cols])


def presentation_view(df: DataFrame, value_columns: list[str] | None = None) -> DataFrame:
    """Render NULLs as the reference's ``"<NULL>"`` sentinel for sinks.

    Presentation-only (console/xlsx); never used in comparisons.
    """
    cols = value_columns or df.columns
    null = string_lit(NULL_SENTINEL)
    return df.selectExpr(
        *[
            f"coalesce(CAST({ident(c)} AS STRING), {null}) AS {ident(c)}"
            if c in cols
            else ident(c)
            for c in df.columns
        ]
    )

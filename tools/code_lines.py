"""Count the code lines of Python modules: every physical line that
holds part of a code token, without comments, blank lines and
docstrings (the first string statement of a module, class or
function).  A multi-line string that is not a docstring (an SQL text)
counts every line it spans.

Usage::

    python tools/code_lines.py dbdiff_spark/ops/similarity.py dbdiff_spark/streaming/cdc.py
    python tools/code_lines.py --functions dbdiff_spark/ops/similarity.py

Prints one ``<lines>  <path>`` row per module and a total; with
``--functions``, each module's top-level functions and classes follow
it, largest first.
"""

from __future__ import annotations

import argparse
import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> set[int]:
    """The 1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(source))


def top_level_counts(source: str) -> list[tuple[str, int]]:
    """``(name, code lines)`` of each top-level function and class,
    decorators included."""
    lines = code_lines(source)
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            span = range(first, node.end_lineno + 1)
            out.append((node.name, sum(1 for ln in span if ln in lines)))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--functions", action="store_true")
    args = ap.parse_args(argv)
    total = 0
    for path in args.paths:
        with open(path, encoding="utf-8") as f:
            source = f.read()
        n = len(code_lines(source))
        total += n
        print(f"{n:7d}  {path}")
        if args.functions:
            for name, c in sorted(top_level_counts(source), key=lambda t: -t[1]):
                print(f"{c:7d}    {name}")
    if len(args.paths) > 1:
        print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())

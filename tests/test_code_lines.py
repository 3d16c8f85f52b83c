"""The code-line counter: comments, blank lines and docstrings drop out;
every line of a non-docstring multi-line string counts."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from code_lines import code_lines, main, top_level_counts  # noqa: E402

SNIPPET = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps its line


# a comment line
def f(x):
    """One-line docstring."""
    sql = """
SELECT 1
"""
    return x + len(sql)


class C:
    """Class docstring."""

    def g(self):
        return os.sep
'''


def test_counts_code_lines_only():
    assert sorted(code_lines(SNIPPET)) == [4, 8, 10, 11, 12, 13, 16, 19, 20]
    assert top_level_counts(SNIPPET) == [("f", 5), ("C", 3)]


def test_cli_prints_module_and_function_counts(tmp_path, capsys):
    path = tmp_path / "m.py"
    path.write_text(SNIPPET)
    assert main([str(path), "--functions"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].split() == ["9", str(path)]
    assert [ln.split() for ln in out[1:]] == [["5", "f"], ["3", "C"]]

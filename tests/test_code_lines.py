"""Unit test for tools/code_lines.py (the code-line count)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SAMPLE = '''"""Module docstring,
two lines."""

import os  # a comment


def f(x):
    """Function docstring."""
    # comment only
    sql = """
    SELECT 1
    """
    return x + len(sql)


class C:
    """Class docstring."""

    def g(self):
        return os.sep
'''


def test_code_lines_counts_tokens_minus_docstrings():
    """Blank, comment-only and docstring lines do not count; a
    multi-line string literal counts on every line it spans; a
    function's count covers its own lines."""
    spec = importlib.util.spec_from_file_location(
        "code_lines", REPO / "tools" / "code_lines.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # import, def f, sql (3 lines), return, class C, def g, return
    assert mod.code_line_numbers(SAMPLE) == {4, 7, 10, 11, 12, 13, 16, 19, 20}
    assert mod.count(SAMPLE) == 9
    assert mod.per_function(SAMPLE) == {"f": 5, "C.g": 2}

#!/usr/bin/env python
"""Code-line count for Python sources, the size measure the simplicity
changes report.

A code line is a physical line that holds a Python token other than
COMMENT, NL, NEWLINE, INDENT or DEDENT (a multi-line string counts on
every line it spans), and that is not part of a module, class or
function docstring. Blank lines, comment-only lines and docstrings do
not count; oracle SQL strings and other string literals do.

Usage:
  python tools/code_lines.py FILE [FILE ...]        # one line per file
  python tools/code_lines.py --functions FILE ...   # plus per function
"""

from __future__ import annotations

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
    tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_line_numbers(source: str) -> set[int]:
    """1-based numbers of the code lines of ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.difference_update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> int:
    """Number of code lines in ``source``."""
    return len(code_line_numbers(source))


def per_function(source: str) -> dict[str, int]:
    """Code lines of every top-level and nested function, keyed by its
    dotted name; a function's decorators (a ``@query`` oracle string,
    say) count toward it."""
    lines = code_line_numbers(source)
    out: dict[str, int] = {}

    def visit(node, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    start = min(
                        [child.lineno] + [d.lineno for d in child.decorator_list]
                    )
                    span = range(start, child.end_lineno + 1)
                    out[name] = len(lines.intersection(span))
                visit(child, name + ".")

    visit(ast.parse(source), "")
    return out


def main(argv: list[str]) -> int:
    functions = "--functions" in argv
    paths = [a for a in argv if a != "--functions"]
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    for path in paths:
        with open(path, encoding="utf-8") as f:
            source = f.read()
        print(f"{count(source)}\t{path}")
        if functions:
            for name, n in per_function(source).items():
                print(f"{n}\t{path}:{name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

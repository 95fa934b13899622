"""Package code-line count: the one line count CHANGES.md cites.

A line counts when it holds a token that is not a comment. Blank lines,
comment-only lines and the lines of module, class and function
docstrings do not count.

    python tools/loc.py [DIR ...]     # default: ocr_platform_spark/

prints one total per directory (``.py`` files, recursive).
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code lines of one module's ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def count(root: str) -> int:
    return sum(code_lines(p.read_text(encoding="utf-8"))
               for p in sorted(pathlib.Path(root).rglob("*.py")))


if __name__ == "__main__":
    for root in sys.argv[1:] or ["ocr_platform_spark"]:
        print(f"{count(root)}\t{root}")

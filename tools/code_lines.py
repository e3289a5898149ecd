"""Count code lines of Python files.

Usage: python tools/code_lines.py <file or directory> [...]

A code line is a physical line that holds at least one token other than a
comment or a line break, and is not part of a docstring (the leading
string statement of a module, class or function). Every line a
non-docstring string literal spans counts, so a multi-line SQL text counts
in full. Prints one line per file, then the total over all of them.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
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
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _files(paths: list[str]) -> list[str]:
    out = []
    for path in paths:
        if os.path.isdir(path):
            out += sorted(
                os.path.join(root, f)
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".py")
            )
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> int:
    total = 0
    for path in _files(paths):
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

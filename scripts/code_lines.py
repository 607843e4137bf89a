#!/usr/bin/env python
"""Count the code lines of Python files as committed at a git revision.

    python scripts/code_lines.py <rev> <path>...

A code line holds at least one token that is not a comment, and is not
part of a module, class or function docstring; blank lines do not
count. Prints one ``<path> <n>`` line per file and a ``total`` line.
Run it from the root of the repository.
"""

from __future__ import annotations

import ast
import io
import subprocess
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    rev, paths = sys.argv[1], sys.argv[2:]
    total = 0
    for path in paths:
        src = subprocess.run(
            ["git", "show", f"{rev}:{path}"], capture_output=True, text=True, check=True
        ).stdout
        n = code_lines(src)
        total += n
        print(path, n)
    print("total", total)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Count Python code lines: non-blank lines that are neither comments
nor docstrings (module, class and function docstrings).

    python tools/count_code_lines.py flink_stream_spark        # total
    python tools/count_code_lines.py flink_stream_spark -v     # per file
"""

from __future__ import annotations

import ast
import io
import pathlib
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


def code_lines(src: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main() -> None:
    root = pathlib.Path(sys.argv[1])
    verbose = "-v" in sys.argv[2:]
    files = sorted(root.rglob("*.py")) if root.is_dir() else [root]
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        if verbose:
            print(n, f)
    print("total", total)


if __name__ == "__main__":
    main()

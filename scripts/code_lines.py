"""Count code lines in a Python tree: non-blank lines holding a token other
than a comment, minus module, class and function docstrings.

Usage: python scripts/code_lines.py [DIR]   (default: the package)
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
    tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first.value, "value", None), str
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines = {
        ln
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type not in _SKIP
        for ln in range(tok.start[0], tok.end[0] + 1)
    }
    return len(lines - doc)


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "json_parquet_convertor_spark",
    )
    print(
        sum(
            code_lines(os.path.join(d, f))
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".py")
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

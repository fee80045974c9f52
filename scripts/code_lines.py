"""Count total and code lines of Python files.

A code line is a non-blank line that is neither a comment nor part of a
docstring (the string statement that opens a module, class or function
body). Lines inside other strings count as code.

Usage::

    python3 scripts/code_lines.py <path>... [--json]

Prints one ``total code path`` line per file, then the sums. With
``--json`` it prints ``{"files": {path: [total, code]}, "total": [..]}``.
"""

from __future__ import annotations

import ast
import io
import json
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(total lines, code lines) of one file's text."""
    doc = docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code - doc)


def main(argv: list[str]) -> None:
    as_json = "--json" in argv
    paths = [a for a in argv if a != "--json"]
    if not paths:
        sys.exit(__doc__)
    files = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            files[path] = count(f.read())
    total = [sum(t for t, _ in files.values()), sum(c for _, c in files.values())]
    if as_json:
        print(json.dumps({"files": files, "total": total}))
        return
    for path, (t, c) in files.items():
        print(f"{t:7d} {c:7d}  {path}")
    print(f"{total[0]:7d} {total[1]:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

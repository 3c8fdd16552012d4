"""Count the code lines of Python files: lines that hold at least one
token other than a comment, a newline or an indent, with docstrings
excluded.

A docstring is the leading string-constant expression of a module, class
or function body (what ``ast.get_docstring`` returns); its lines do not
count. Every other token counts each line it spans, so a multi-line
string literal that is not a docstring counts all its lines. Blank lines
and comment-only lines never count.

Usage::

    python scripts/code_lines.py FILE [FILE ...]

prints one ``<lines>  <file>`` row per file and, for several files, a
``<lines>  total`` row.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        source = f.read()
    doc = _docstring_lines(ast.parse(source))
    with open(path, "rb") as f:
        tokens = list(tokenize.tokenize(f.readline))
    lines: set[int] = set()
    for tok in tokens:
        if tok.type in _SKIP:
            continue
        span = set(range(tok.start[0], tok.end[0] + 1))
        if not span <= doc:
            lines.update(span)
    return len(lines)


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:6d}  {p}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

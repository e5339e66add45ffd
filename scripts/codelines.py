"""Count code lines: lines that hold a token other than a comment, a line
break or an indent change, outside module, class and function docstrings.

usage: python scripts/codelines.py FILE...

Prints each file's count and, for more than one file, the total. A token
that spans lines (a triple-quoted string) counts every line it covers.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def docstring_lines(source: str) -> set[int]:
    """Line numbers covered by module, class and function docstrings."""
    lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _SCOPES) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> int:
    """Code lines of one Python source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docstring_lines(source))


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip())
        return 2
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = count(f.read())
        total += n
        print(f"{n:7,d}  {path}")
    if len(paths) > 1:
        print(f"{total:7,d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

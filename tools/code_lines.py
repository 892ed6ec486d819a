"""Count code lines in Python files: lines that carry at least one token
other than a comment, a blank or a docstring. This is the measure a
refactor reports as its net line-count change.

    python tools/code_lines.py FILE...            # per file and total
    git show REV:PATH > /tmp/old.py && python tools/code_lines.py /tmp/old.py
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def code_lines(src: str) -> int:
    docstrings = set()
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            docstrings.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def main(paths: list[str]) -> None:
    total = 0
    for path in paths:
        with open(path) as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:7d} {path}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main(sys.argv[1:])

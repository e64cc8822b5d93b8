"""Count code lines: non-blank lines of Python source, excluding
comment-only lines and docstrings.

Usage: python tools/code_lines.py [path ...]   (default: the package)

Prints one line per path and the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path


def code_lines(source: str) -> int:
    skip: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            value = body[0].value
            if isinstance(value, ast.Constant) and isinstance(value.value, str):
                skip.update(range(body[0].lineno, body[0].end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in (
            tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER,
        ):
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def main() -> None:
    root = Path(__file__).resolve().parent.parent
    paths = [Path(p) for p in sys.argv[1:]] or [root / "http_log_anonymizer_spark"]
    total = 0
    for path in paths:
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        n = sum(code_lines(f.read_text()) for f in files)
        print(f"{n:7d} {path}")
        total += n
    print(f"{total:7d} total")


if __name__ == "__main__":
    main()

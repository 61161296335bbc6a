"""Count Python code lines: non-blank lines that are not comments or
docstrings, per file and in total.

A line counts when some token other than a comment, a newline or an
indent starts on it or spans it, and it is not inside a docstring (the
first string statement of a module, class or function, per ``ast``).
Lines of a multi-line non-docstring string (an embedded SQL text, say)
count when they are non-blank.

Usage: python scripts/count_code_lines.py [PATH ...]   (default:
integrator_spark). Directories are walked for ``*.py`` files. Prints
``<lines>  <file>`` per file, then ``<lines>  total``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

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


def count_code_lines(source: str) -> int:
    """Number of code lines in one Python source text."""
    text = source.splitlines()
    doc = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in doc and text[ln - 1].strip():
                code.add(ln)
    return len(code)


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    total = 0
    for f in _files(argv or ["integrator_spark"]):
        n = count_code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

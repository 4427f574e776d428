"""Code-line count: lines that hold code, not docstrings, comments
or blank space — the measure the ROADMAP's line-count aims use.

A line counts when it carries at least one token other than a
comment, a newline, an indent/dedent or a docstring. Docstrings are
the string-literal first statements of modules, classes and
functions, found with ``ast``; every other token comes from
``tokenize``, so a ``#`` inside a string is not a comment and a
multi-line expression counts each physical line it spans.

    python tools/loc.py [path ...]        # files or directories

Prints one ``<count>  <file>`` line per Python file and a total.
Defaults to the package and ``tools/``.
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
    tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: str) -> int:
    with open(path, "rb") as fh:
        src = fh.read()
    docs = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in docs:
                code.add(ln)
    return len(code)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out.extend(
                    os.path.join(root, n) for n in sorted(names) if n.endswith(".py")
                )
        else:
            out.append(p)
    return out


def main() -> None:
    paths = sys.argv[1:] or ["map_reduce_sf_crime_spark", "tools"]
    total = 0
    for f in _files(paths):
        n = count(f)
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()

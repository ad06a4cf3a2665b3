"""Count code lines of Python files, the way simplicity changes report them.

A code line is a physical line that is not blank, does not start with
``#`` and lies outside every docstring span. A docstring is the
first-statement string of the module and of every function and class;
its span runs from its first to its last physical line.

Usage: python tools/code_lines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory (searched recursively for
``*.py``). Prints one ``<count>  <file>`` line per file, then the total.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

_DOC_OWNERS = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def code_lines(source: str) -> int:
    doc_lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, _DOC_OWNERS) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            doc_lines.update(range(first.lineno, first.end_lineno + 1))
    return sum(
        1
        for i, line in enumerate(source.splitlines(), start=1)
        if line.strip() and not line.lstrip().startswith("#") and i not in doc_lines
    )


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for f in _files(argv):
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python
"""Count code lines of Python files: lines holding code, not comments,
docstrings or blank lines.

    python scripts/code_lines.py PATH [PATH ...] [--base REV]

Each PATH is a .py file or a directory searched for them. Prints one row
per file and a total. With `--base REV` it also counts the same paths
at git revision REV (read with `git show`, so the working tree is left
alone) and prints both counts and their difference; a file that exists
on one side only counts 0 on the other.

A line counts when a token other than a comment sits on it (a token
spanning lines, such as a multi-line string, counts every line it
spans) and it is not part of a module, class or function docstring.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """The number of code lines in Python `source`."""
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout


def tree_counts(paths: list[str]) -> dict[str, int]:
    """{repo-relative file: code lines} in the working tree."""
    out = {}
    for p in paths:
        full = os.path.join(ROOT, p)
        files = [full] if os.path.isfile(full) else [
            os.path.join(d, f)
            for d, dirs, names in os.walk(full)
            if "__pycache__" not in d
            for f in names
            if f.endswith(".py")
        ]
        for f in files:
            with open(f, encoding="utf-8") as fh:
                out[os.path.relpath(f, ROOT)] = code_lines(fh.read())
    return out


def rev_counts(rev: str, paths: list[str]) -> dict[str, int]:
    """{repo-relative file: code lines} at git revision `rev`."""
    files = _git("ls-tree", "-r", "--name-only", rev, "--", *paths).split()
    return {
        f: code_lines(_git("show", f"{rev}:{f}"))
        for f in files
        if f.endswith(".py")
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--base", metavar="REV")
    args = ap.parse_args(argv)
    paths = [os.path.relpath(os.path.abspath(p), ROOT) for p in args.paths]
    now = tree_counts(paths)
    if args.base is None:
        width = max(map(len, now), default=5)
        for f in sorted(now):
            print(f"{f:<{width}}  {now[f]:>6}")
        print(f"{'total':<{width}}  {sum(now.values()):>6}")
        return 0
    base = rev_counts(args.base, paths)
    files = sorted(now.keys() | base.keys())
    width = max(map(len, files), default=5)
    print(f"{'file':<{width}}  {args.base[:10]:>10}  {'now':>6}  {'delta':>6}")
    for f in files + ["total"]:
        b, n = (
            (sum(base.values()), sum(now.values())) if f == "total"
            else (base.get(f, 0), now.get(f, 0))
        )
        print(f"{f:<{width}}  {b:>10}  {n:>6}  {n - b:>+6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

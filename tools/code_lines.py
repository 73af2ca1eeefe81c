"""Count Python code lines per file — no blank lines, no comments, no
docstrings — at a git revision and in the working tree.

    python tools/code_lines.py [--rev REV] [--tests] [PATH ...]

With no PATH, counts every ``.py`` file that differs between REV
(default ``HEAD``) and the working tree, untracked files included.
Files under ``tests/`` are left out unless ``--tests`` is given, so the
total is the non-test program code. The revision side is read with
``git show REV:PATH``; a file absent on one side counts 0 there.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import subprocess
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, col) of every module/class/function docstring literal."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add((first.value.lineno, first.value.col_offset))
    return out


def code_lines(source: str) -> int:
    docs = _docstring_starts(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING and tok.start in docs:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], capture_output=True, text=True, check=True
    ).stdout


def _at_rev(rev: str, path: str) -> int:
    try:
        return code_lines(_git("show", f"{rev}:{path}"))
    except subprocess.CalledProcessError:
        return 0


def _in_tree(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path, encoding="utf-8") as f:
        return code_lines(f.read())


def _changed(rev: str) -> list[str]:
    names = _git("diff", "--name-only", rev, "--", "*.py").split()
    names += _git("ls-files", "--others", "--exclude-standard",
                  "--", "*.py").split()
    return sorted(set(names))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--tests", action="store_true",
                    help="also count files under tests/")
    ap.add_argument("paths", nargs="*")
    args = ap.parse_args(argv)
    os.chdir(_git("rev-parse", "--show-toplevel").strip())
    paths = args.paths or _changed(args.rev)
    if not args.tests:
        paths = [p for p in paths if not p.startswith("tests/")]
    width = max([len(p) for p in paths] + [5])
    print(f"{'file':<{width}}  {args.rev[:12]:>12}  {'tree':>6}  {'delta':>6}")
    tot_rev = tot_tree = 0
    for p in paths:
        r, t = _at_rev(args.rev, p), _in_tree(p)
        tot_rev, tot_tree = tot_rev + r, tot_tree + t
        print(f"{p:<{width}}  {r:>12}  {t:>6}  {t - r:>+6}")
    print(f"{'total':<{width}}  {tot_rev:>12}  {tot_tree:>6}"
          f"  {tot_tree - tot_rev:>+6}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

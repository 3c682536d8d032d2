"""Count code lines: every line of a package directory or a single ``.py``
file that carries a token other than a comment, blank line or docstring.

A docstring is the leading string-literal statement of a module, class or
function body (found with ``ast``); every other line holding at least one
real token (found with ``tokenize``) counts once, so a statement spread
over three lines counts three.  Prints one ``<lines>  <module>`` row per
module, then the directory's total; a file prints one row.  The default
is the package.

Usage: python tools/count_loc.py [package_dir | file.py] ...
    e.g. python tools/count_loc.py dgraphpandas_spark __spark_entry__.py bench.py
"""
from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def docstring_lines(tree: ast.AST) -> set:
    lines = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    skip = docstring_lines(ast.parse(source))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in skip:
                lines.add(ln)
    return len(lines)


def _lines(path: str) -> int:
    with open(path, encoding='utf-8') as f:
        return code_lines(f.read())


def count(path: str) -> dict:
    if not os.path.isdir(path):
        return {os.path.basename(path): _lines(path)}
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != '__pycache__')
        for name in sorted(files):
            if name.endswith('.py'):
                full = os.path.join(root, name)
                out[os.path.relpath(full, path)] = _lines(full)
    return out


def main(argv: list) -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for path in argv[1:] or [os.path.join(repo, 'dgraphpandas_spark')]:
        per_module = count(path)
        for module, n in per_module.items():
            print(f'{n:6d}  {module}')
        if os.path.isdir(path):
            print(f'{sum(per_module.values()):6d}  total')


if __name__ == '__main__':
    main(sys.argv)

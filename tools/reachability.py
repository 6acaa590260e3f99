"""Package size and reachability scan.

Counts the package's code lines (comments, docstrings and blank lines
excluded) and lists the top-level definitions that no workload reaches.

A definition is a module-level ``def``, ``class`` or assigned name. It
is reached when a root, or a definition already reached, names it: by
an ``ast.Name`` id, an ``ast.Attribute`` attr or a string constant that
is an identifier (``getattr`` and registry lookups). Names are matched
by name alone, not by module, so the scan errs towards "reached".
Import statements name nothing. The roots are:

- every name in ``__spark_entry__.py``, ``bench.py``,
  ``perfbench/*.py`` and ``tools/*.py`` other than this scan (tests
  are not roots);
- the module-level statements of every package module;
- every definition of the registry (``plans/queries.py``), the oracle
  (``oracle/duckdb_sql.py``) and ``contract.py``.

Usage: python tools/reachability.py [--quiet]

Prints the code-line count per package directory and in all, then one
line per unreached definition (``path:line name lines code_lines``),
then the unreached totals: definitions, their lines (the whole ``def``,
docstring included) and their code lines. Dunder names (``__all__``)
are not definitions. ``--quiet`` prints only the totals.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "finding_similar_high_dimensional_items_for_big_data_sets_spark"
ROOT_DEF_MODULES = ("plans/queries.py", "oracle/duckdb_sql.py", "contract.py")
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "tools")
_NON_CODE = {
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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def code_lines(source: str, tree: ast.AST) -> set[int]:
    """Line numbers that carry code: a token other than a comment or a
    line break, outside every docstring."""
    doc = _docstring_lines(tree)
    out: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        out.update(r for r in range(tok.start[0], tok.end[0] + 1) if r not in doc)
    return out


def names_in(node: ast.AST) -> set[str]:
    """Every name a node mentions: Name ids, Attribute attrs and
    identifier-shaped string constants."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> tuple[str, ast.Module]:
    with open(path, encoding="utf-8") as fh:
        source = fh.read()
    return source, ast.parse(source, path)


def scan(root: str = ROOT):
    """(per-file code-line counts, unreached definitions) where each
    unreached entry is ``(relpath, lineno, name, lines, code_lines)``."""
    pkg_dir = os.path.join(root, PKG)
    counts: dict[str, int] = {}
    defs = []  # (relpath, lineno, name, lines, code_lines, node)
    reached: set[str] = set()
    for path in _py_files(pkg_dir):
        rel = os.path.relpath(path, pkg_dir)
        source, tree = _parse(path)
        lines = code_lines(source, tree)
        counts[rel] = len(lines)
        root_defs = rel in ROOT_DEF_MODULES
        for stmt in tree.body:
            names = _defined_names(stmt)
            if not names or root_defs:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    reached |= names_in(stmt)
                continue
            span = range(stmt.lineno, stmt.end_lineno + 1)
            n_code = len(lines.intersection(span))
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defs.append((rel, stmt.lineno, name, len(span), n_code, stmt))
    roots = [os.path.join(root, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        roots.extend(_py_files(os.path.join(root, d)))
    for path in roots:
        if os.path.exists(path) and not os.path.samefile(path, __file__):
            reached |= names_in(_parse(path)[1])
    pending = list(defs)
    grew = True
    while grew:
        grew = False
        rest = []
        for d in pending:
            if d[2] in reached:
                reached |= names_in(d[5])
                grew = True
            else:
                rest.append(d)
        pending = rest
    return counts, sorted(d[:5] for d in pending)


def main(argv: list[str]) -> int:
    quiet = "--quiet" in argv
    counts, unreached = scan()
    total = sum(counts.values())
    if not quiet:
        by_dir: dict[str, int] = {}
        for rel, n in counts.items():
            top = rel.split(os.sep)[0] if os.sep in rel else "."
            by_dir[top] = by_dir.get(top, 0) + n
        for top, n in sorted(by_dir.items()):
            print(f"{n:7,d}  {PKG}/{top}")
    print(f"{total:7,d}  code lines in {PKG}")
    if not quiet:
        for rel, line, name, n, n_code in unreached:
            print(f"{PKG}/{rel}:{line} {name} {n} {n_code}")
    lines = sum(d[3] for d in unreached)
    n_code = sum(d[4] for d in unreached)
    print(
        f"{len(unreached)} unreached definitions, {lines:,d} lines "
        f"({n_code:,d} code lines)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

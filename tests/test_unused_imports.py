"""Every name a package module imports at module level is used in that
module.  No linter ships with the project, so this stdlib-``ast`` scan
is the check.  Exempt: ``from __future__`` imports, ``__init__.py``
(its imports are the public re-exports) and statements marked
``# noqa: ... F401`` (imports kept for their side effects, such as the
stage-registration imports in ``pipeline.py``)."""

import ast
import pathlib
import re

PKG = (pathlib.Path(__file__).resolve().parents[1]
       / "pincette_mongo_streams_spark")


def _module_imports(tree: ast.Module, lines: list):
    """(name, lineno) of every import binding at module level, including
    imports nested in top-level if/try blocks."""

    def visit(stmts):
        for st in stmts:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                if (isinstance(st, ast.ImportFrom)
                        and st.module == "__future__"):
                    continue
                text = "\n".join(lines[st.lineno - 1:st.end_lineno])
                if re.search(r"#\s*noqa:[^\n]*F401", text):
                    continue
                for a in st.names:
                    yield (a.asname or a.name).split(".")[0], st.lineno
            elif isinstance(st, (ast.If, ast.Try)):
                yield from visit(st.body)
                yield from visit(st.orelse)
                for h in getattr(st, "handlers", []):
                    yield from visit(h.body)
                yield from visit(getattr(st, "finalbody", []))

    yield from visit(tree.body)


def test_no_unused_module_level_imports():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        tree = ast.parse(src)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for name, lineno in _module_imports(tree, src.splitlines()):
            if name not in used:
                unused.append(
                    f"{path.relative_to(PKG.parent)}:{lineno} {name}")
    assert not unused, "unused imports:\n" + "\n".join(unused)

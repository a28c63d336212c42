"""Every ``star_schema_etl_airflow_spark`` import in the repository resolves.

``registry.specs()`` imports only the spec modules at top level, so an
import inside a function body (a lazy import) that names a deleted
module or helper would only fail when that function runs.  This walks
the source with ``ast`` instead — every import statement, at any depth,
in the package, ``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` — and checks that the module exists and defines
each imported name.  No Spark session, no imports of the code itself.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "star_schema_etl_airflow_spark"


def _sources() -> list[str]:
    files = [os.path.join(REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    for top in (PKG, "tests", "tools", "perfbench"):
        for dirpath, _, names in os.walk(os.path.join(REPO, top)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(files)


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for candidate in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(candidate):
            return candidate
    return None


def _bind(node: ast.AST, names: set[str]) -> None:
    if isinstance(node, ast.Name):
        names.add(node.id)
    elif isinstance(node, (ast.Tuple, ast.List)):
        for elt in node.elts:
            _bind(elt, names)


def _defined_names(body: list[ast.stmt], names: set[str]) -> set[str]:
    """Names a module binds at top level, including inside top-level
    ``if``/``try`` blocks (optional-dependency fallbacks)."""
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                _bind(target, names)
        elif isinstance(node, ast.AnnAssign):
            _bind(node.target, names)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                names.add((alias.asname or alias.name).split(".")[0])
        elif isinstance(node, ast.If):
            _defined_names(node.body + node.orelse, names)
        elif isinstance(node, ast.Try):
            _defined_names(node.body + node.orelse + node.finalbody, names)
            for handler in node.handlers:
                _defined_names(handler.body, names)
    return names


def _exports(module_file: str) -> set[str]:
    with open(module_file) as f:
        return _defined_names(ast.parse(f.read()).body, set())


def _imports(path: str):
    """Yield ``(lineno, module, names)`` for every package import in
    ``path``; ``names`` is empty for a plain ``import module``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom) and not node.level:
            if node.module.split(".")[0] == PKG:
                yield node.lineno, node.module, [a.name for a in node.names]


def _problems(path: str) -> list[str]:
    out = []
    rel = os.path.relpath(path, REPO)
    for lineno, module, names in _imports(path):
        module_file = _module_file(module)
        if module_file is None:
            out.append(f"{rel}:{lineno}: no module {module}")
            continue
        if not names:
            continue
        exports = _exports(module_file)
        for name in names:
            if name not in exports and _module_file(f"{module}.{name}") is None:
                out.append(f"{rel}:{lineno}: {module} defines no {name}")
    return out


def test_the_walk_sees_lazy_imports():
    """Guard on the guard: an import inside a function body is visited."""
    path = os.path.join(REPO, PKG, "registry.py")
    lazy = [m for _, m, _ in _imports(path) if m.endswith(".plans")]
    assert lazy, "registry.py's lazy spec-module import was not found"


def test_package_imports_resolve():
    problems = [p for path in _sources() for p in _problems(path)]
    assert not problems, "\n".join(problems)

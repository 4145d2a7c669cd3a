"""Every in-package import resolves, including lazy ones.

Many modules import engine code inside functions, so a stale name
(a deleted helper, a moved module) fails only when that function
runs — and the scripts under ``scripts/`` never run in this suite.
This walks the source with ``ast`` instead: each
``from real_time_data_pipeline_spark... import name`` anywhere in the
package or the scripts must name a module that imports and an
attribute (or submodule) that exists, and every name it binds must be
used in that module. Re-exports are declared, not inferred: the
``import name as name`` form (PEP 484's explicit re-export) and
``__init__.py`` files are exempt. No Spark session is needed.
"""

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_data_pipeline_spark"


def _sources():
    for top in (PACKAGE, "scripts"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _package_imports(tree):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == PACKAGE
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_package_imports_resolve():
    checked, broken = 0, []
    for path in _sources():
        for lineno, module, alias in _package_imports(_parse(path)):
            name = alias.name
            checked += 1
            try:
                ok = _resolves(module, name)
            except ImportError as exc:
                ok, name = False, f"{name} ({exc})"
            if not ok:
                broken.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{name}")
    assert checked > 100  # the walk really found the package's imports
    assert not broken, "\n".join(broken)


def test_package_imports_are_used():
    unused = []
    for path in _sources():
        if os.path.basename(path) == "__init__.py":
            continue
        tree = _parse(path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for lineno, module, alias in _package_imports(tree):
            bound = alias.asname or alias.name
            if bound not in used and bound != "*" and alias.asname != alias.name:
                unused.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{alias.name}")
    assert not unused, "\n".join(unused)

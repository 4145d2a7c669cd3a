"""Every in-package import resolves, including lazy ones.

Many modules import engine code inside functions, so a stale name
(a deleted helper, a moved module) fails only when that function
runs — and the scripts under ``scripts/`` never run in this suite.
This walks the source with ``ast`` instead: each
``from real_time_data_pipeline_spark... import name`` anywhere in the
package or the scripts must name a module that imports and an
attribute (or submodule) that exists. No Spark session is needed.
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


def _package_imports(path):
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and node.module.split(".")[0] == PACKAGE
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name


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
        for lineno, module, name in _package_imports(path):
            checked += 1
            try:
                ok = _resolves(module, name)
            except ImportError as exc:
                ok, name = False, f"{name} ({exc})"
            if not ok:
                broken.append(f"{os.path.relpath(path, ROOT)}:{lineno}: {module}.{name}")
    assert checked > 100  # the walk really found the package's imports
    assert not broken, "\n".join(broken)

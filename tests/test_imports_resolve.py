"""Every ``nlquery_spark`` import in the repo resolves: module-level and
function-local, absolute and relative. A lazy import of a deleted module
or name fails only when its function runs, so no import-time check sees
it; this walks the source instead."""

import ast
import importlib
import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
FILES = [
    p
    for d in ("nlquery_spark", "scripts", "perfbench", "tests")
    for p in sorted((REPO / d).rglob("*.py"))
] + [REPO / "__spark_entry__.py"]


def _imports(path):
    """(lineno, module, [names]) for each nlquery_spark import in ``path``."""
    # a module's package, and an __init__.py's own package, alike
    package = ".".join(path.relative_to(REPO).parent.parts)
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                mod = importlib.util.resolve_name("." * node.level + mod, package)
            yield node.lineno, mod, [a.name for a in node.names]


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    # an unimported submodule of a package
    return hasattr(mod, "__path__") and bool(
        importlib.util.find_spec(f"{module}.{name}")
    )


def test_every_nlquery_spark_import_resolves():
    checked, broken = 0, []
    for path in FILES:
        for lineno, module, names in _imports(path):
            if module.split(".")[0] != "nlquery_spark":
                continue
            where = f"{path.relative_to(REPO)}:{lineno}"
            try:
                missing = [n for n in names if not _resolves(module, n)]
            except ImportError as e:
                broken.append(f"{where}: {module}: {e}")
                continue
            broken += [f"{where}: {module}.{n}" for n in missing]
            checked += 1
    assert not broken, "\n".join(broken)
    assert checked > 100  # the walk really saw the repo's imports

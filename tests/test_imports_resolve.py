"""Every ``nlquery_spark`` import in the repo resolves: module-level and
function-local, absolute and relative. A lazy import of a deleted module
or name fails only when its function runs, so no import-time check sees
it; this walks the source instead."""

import ast
import importlib
import importlib.util
import pathlib
import re

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


# -------------------------------------------- library names in the docs --

DOCS = [REPO / "COVERAGE.md", REPO / "docs" / "OPERATIONS.md"]
_LIB_PATH = re.compile(
    r"(?:nlquery_spark/)?((?:kernel|operators|functions|plans|sources|streaming)/[\w/]+\.py)$"
)


def _doc_units(text):
    """Each table cell, and each other paragraph or list item, of a
    markdown document: a bare ``::name`` refers to the last path in
    its own unit."""
    unit = []
    for line in text.splitlines():
        if line.startswith("|"):
            yield from line.strip("|").split("|")
            continue
        if not line.strip() or line.lstrip().startswith(("- ", "#")):
            yield "\n".join(unit)
            unit = []
        unit.append(line)
    yield "\n".join(unit)


def _doc_refs(path):
    """(library file, dotted name or None) for each backticked library
    reference in ``path``; a span may wrap across lines."""
    for unit in _doc_units(path.read_text()):
        last = None  # the last .py path in this unit, library or not
        for span in re.findall(r"`([^`]+)`", unit):
            span = re.sub(r"\s+", "", span)
            file, sep, name = span.partition("::")
            if file.endswith(".py"):
                m = _LIB_PATH.match(file)
                last = m and m.group(1)
            elif file or not sep:
                continue
            if last:
                yield last, name or None


def _defines(tree, dotted):
    """Whether a module's AST defines ``dotted`` at top level (a def,
    class or assignment), a dotted tail naming one in a class body."""
    body = tree.body
    for part in dotted.split("."):
        found = None
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            if part in names:
                found = node
        if found is None:
            return False
        body = getattr(found, "body", [])
    return True


def test_docs_name_existing_library_code():
    """Every backticked library reference in COVERAGE.md and
    docs/OPERATIONS.md names a file under nlquery_spark/ and, where it
    gives a name, a definition in that file, so a row or bullet left
    behind by deleted code fails here."""
    checked, broken = 0, []
    for doc in DOCS:
        for rel, name in _doc_refs(doc):
            src = REPO / "nlquery_spark" / rel
            checked += 1
            if not src.is_file():
                broken.append(f"{doc.name}: {rel} (no such file)")
            elif name and not _defines(ast.parse(src.read_text()), name):
                broken.append(f"{doc.name}: {rel}::{name} (not defined there)")
    assert not broken, "\n".join(broken)
    assert checked > 50  # the parser really saw the docs' references

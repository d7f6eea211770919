"""The scripts under tools/ must keep naming things that exist.

Each script is parsed with ``ast`` (never run: most start a Spark
session at import).  Every ``from processor_spark… import name``,
every ``import processor_spark…`` and every attribute read off a name
bound to a processor_spark module (``S._numpy_flat_assign`` after
``from processor_spark.operators import similarity as S``) must
resolve.  Sibling-script imports (``from tools.canary import canary``)
must name a tools/ file that defines the name at top level.  A kernel
deleted from the engine therefore fails here instead of at the next
measurement run.
"""

from __future__ import annotations

import ast
import importlib
import pathlib

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _resolve(dotted: str):
    """Module or module attribute named by a dotted path."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        parent, _, name = dotted.rpartition(".")
        return getattr(_resolve(parent), name)


def _tools_defines(module: str, name: str | None) -> bool:
    path = TOOLS / (module.split(".", 1)[1].replace(".", "/") + ".py")
    if not path.is_file():
        return False
    if name is None:
        return True
    tree = ast.parse(path.read_text())
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name == name:
            return True
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Name) and t.id == name for t in targets):
                return True
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if any((a.asname or a.name).split(".")[0] == name for a in node.names):
                return True
    return False


def _uses(tree: ast.Module) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every engine or sibling-script name a
    script depends on; name None = the module itself."""
    uses: list[tuple[int, str, str | None]] = []
    bound: dict[str, str] = {}  # local name -> dotted engine path
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in ("processor_spark", "tools"):
                    uses.append((node.lineno, a.name, None))
                    if a.asname and a.name.startswith("processor_spark"):
                        bound[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and not node.level and node.module:
            if node.module.split(".")[0] not in ("processor_spark", "tools"):
                continue
            for a in node.names:
                uses.append((node.lineno, node.module, a.name))
                if node.module.startswith("processor_spark"):
                    bound[a.asname or a.name] = f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound
        ):
            uses.append((node.lineno, bound[node.value.id], node.attr))
    return uses


def _exists(module: str, name: str | None) -> bool:
    if module.split(".")[0] == "tools":
        return _tools_defines(module, name)
    try:
        _resolve(module if name is None else f"{module}.{name}")
        return True
    except (ImportError, AttributeError):
        return False


def test_tools_reference_existing_names():
    scripts = sorted(TOOLS.glob("*.py"))
    assert scripts
    checked = 0
    misses = []
    for path in scripts:
        for line, module, name in _uses(ast.parse(path.read_text())):
            checked += 1
            if not _exists(module, name):
                misses.append(f"tools/{path.name}:{line}: {module} has no {name}")
    assert checked > 100  # the scan sees the scripts' engine references
    assert not misses, "\n".join(misses)

"""Every streaming query the engine starts goes through one drain helper.

``streaming.pipelines._drain`` starts the query, waits for it, raises
on an unfinished availableNow drain and applies the one-batch rule for
a plain dedup.  A runner that called ``.start()`` on its own writer
would skip all of that (``LakeTable.merge_stream`` once stopped a
timed-out drain and returned as if complete).  Each module under
``processor_spark/`` is parsed with ``ast`` and every ``.start()`` on a
``writeStream`` or ``trigger(...)`` chain, and every
``.awaitTermination(...)``, must sit inside ``_drain``.
"""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "processor_spark"
HELPER = "_drain"


def _chain_attrs(node: ast.AST) -> list[str]:
    """Attribute names along a call chain such as
    ``df.writeStream.foreachBatch(f).trigger(availableNow=True)``."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def _stream_calls(tree: ast.Module):
    """(line, enclosing function, call) for every streaming start or
    await in a module."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            if attr == "awaitTermination" or (
                attr == "start"
                and {"writeStream", "trigger"} & set(_chain_attrs(node.func.value))
            ):
                found.append((node.lineno, func, attr))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_streaming_queries_start_only_in_the_drain_helper():
    inside, outside = [], []
    for path in sorted(ENGINE.rglob("*.py")):
        for line, func, attr in _stream_calls(ast.parse(path.read_text())):
            where = f"{path.relative_to(ENGINE.parent)}:{line} ({func}: .{attr}())"
            (inside if func == HELPER else outside).append(where)
    assert not outside, "\n".join(outside)
    assert len(inside) == 2, inside  # the helper's own start and await

"""Every numpy distance path goes through one exact-distance kernel.

``operators.similarity._sq_tiles`` computes the decomposed squared
distance x² + y² − 2·x·yᵀ in float64, checks the sub-2^53 exactness
contract (``_assert_sub53``) on both operands and tiles by one rule; the
top-k and ε-hit reducers on top of it own the (sq, id) tie-break and the
id masks.  A hand-written copy of the decomposition elsewhere would be a
separate place to get the exactness proof, the tile or the tie-break
wrong.  Each module under ``processor_spark/`` is parsed with ``ast``:
a subtraction whose right operand is ``2.0 * (A @ B.T)`` may appear only
in the kernel, and ``_assert_sub53`` may be called only by the kernel
and by ``_cents_sorted``, which guards a centroid table read from disk.
The Gram and pixel matmuls elsewhere are not distance blocks and do not
match the pattern.

The Catalyst trainers follow the same rule.  The ``(sq, cid)``
``min_by`` argmin, ``F.min_by(…, F.struct(F.col("sq"), F.col("cid")))``,
may be written only in ``_assign_cells`` (nearest centroid) and
``_pqt_encode`` (nearest code per subspace), and the integer Lloyd
update ``s div n`` only in ``_cell_means`` and in ``q_kmeans_update``,
whose oracle also encodes float distances and a per-dimension drift.
"""

from __future__ import annotations

import ast
import pathlib
import re

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "processor_spark"
KERNEL = "_sq_tiles"
GUARD = "_assert_sub53"
ARGMIN_SITES = ["(_assign_cells)", "(_pqt_encode)"]
UPDATE_SITES = ["(_cell_means)", "(q_kmeans_update)"]
_UPDATE = re.compile(r"\bs\s+div\s+n\b")


def _is_two_times_gram(node: ast.AST) -> bool:
    """``2.0 * (A @ B.T)``."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Mult)
        and isinstance(node.left, ast.Constant)
        and node.left.value == 2.0
        and isinstance(node.right, ast.BinOp)
        and isinstance(node.right.op, ast.MatMult)
        and isinstance(node.right.right, ast.Attribute)
        and node.right.right.attr == "T"
    )


def _call_name(node: ast.AST) -> str | None:
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _is_col(node: ast.AST, name: str) -> bool:
    """``F.col("<name>")`` or the bare ``"<name>"``."""
    if _call_name(node) == "col" and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == name


def _is_sq_cid_argmin(node: ast.AST) -> bool:
    """``F.min_by(…, F.struct(F.col("sq"), F.col("cid")))``, columns
    named or bare."""
    if _call_name(node) != "min_by" or len(node.args) != 2:
        return False
    key = node.args[1]
    return (
        _call_name(key) == "struct"
        and len(key.args) == 2
        and _is_col(key.args[0], "sq")
        and _is_col(key.args[1], "cid")
    )


def _sites(tree: ast.Module):
    """(line, enclosing function, kind) of every decomposed-distance
    expression, exactness-guard call, (sq, cid) min_by argmin and
    ``s div n`` update in a module."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Sub)
            and _is_two_times_gram(node.right)
        ):
            found.append((node.right.lineno, func, "distance"))
        if _call_name(node) == GUARD:
            found.append((node.lineno, func, "guard"))
        if _is_sq_cid_argmin(node):
            found.append((node.lineno, func, "argmin"))
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _UPDATE.search(node.value)
        ):
            found.append((node.lineno, func, "update"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def scan(root: pathlib.Path = ENGINE) -> dict[str, list[str]]:
    """``{"distance": [...], "guard": [...], "argmin": [...],
    "update": [...]}`` of ``path:line (function)`` sites under
    ``root``."""
    out: dict[str, list[str]] = {
        "distance": [], "guard": [], "argmin": [], "update": []
    }
    for path in sorted(root.rglob("*.py")):
        for line, func, kind in _sites(ast.parse(path.read_text())):
            out[kind].append(f"{path.relative_to(root.parent)}:{line} ({func})")
    return out


def test_one_decomposed_distance_site():
    sites = scan()["distance"]
    assert [s.rsplit(" ", 1)[1] for s in sites] == [f"({KERNEL})"], "\n".join(sites)


def test_exactness_guard_called_by_kernel_and_centroid_read_only():
    callers = sorted(s.rsplit(" ", 1)[1] for s in scan()["guard"])
    assert callers == ["(_cents_sorted)", f"({KERNEL})"], "\n".join(scan()["guard"])


def test_sq_cid_argmin_only_in_assign_and_encode():
    sites = scan()["argmin"]
    callers = sorted({s.rsplit(" ", 1)[1] for s in sites})
    assert callers == ARGMIN_SITES, "\n".join(sites)


def test_lloyd_update_only_in_cell_means():
    sites = scan()["update"]
    callers = sorted({s.rsplit(" ", 1)[1] for s in sites})
    assert callers == UPDATE_SITES, "\n".join(sites)

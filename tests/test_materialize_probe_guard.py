"""One materialization path, one bounded probe (no Spark).

An AST scan over ``real_estate_bigdata_spark/`` that fails on

1. any ``.localCheckpoint(...)`` or ``.checkpoint(...)`` call outside
   ``util.checkpoint_frame`` — every checkpoint must honour the session
   conf ``spark.real_estate_bigdata.materialize``;
2. any hand-written bounded probe outside ``util.bounded_collect``: a
   ``.limit(<k> + 1)`` whose result is ``.collect()``-ed and whose row
   count the same function then compares with ``<k>``.

A top-(k+1) fetch that keeps every row it gets (the BPE ranking reads
the row past the batch as its boundary) compares no row count with
``k``, so it is not a probe and the scan leaves it alone.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "real_estate_bigdata_spark"
CHECKPOINT_CALLS = {"localCheckpoint", "checkpoint"}


def _functions(tree: ast.AST):
    """(function name, node) for every def, outermost first; module-level
    code is reported under ``<module>``."""
    yield "<module>", tree
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node


def _own_nodes(fn: ast.AST):
    """Nodes of ``fn``'s body (lambdas included), not descending into
    nested defs — ``_functions`` reports those on their own."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def _method(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _plus_one_operand(node: ast.AST) -> ast.AST | None:
    """``k`` when ``node`` is ``k + 1`` or ``1 + k``."""
    if not (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)):
        return None
    for one, k in ((node.right, node.left), (node.left, node.right)):
        if isinstance(one, ast.Constant) and one.value == 1:
            return k
    return None


def _limit_bound(collect: ast.Call) -> ast.AST | None:
    """``k`` when the receiver chain of ``collect`` holds ``.limit(k + 1)``."""
    node = collect.func.value
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "limit" and len(node.args) == 1:
            k = _plus_one_operand(node.args[0])
            if k is not None:
                return k
        node = node.func.value
    return None


def _len_of(node: ast.AST) -> ast.AST | None:
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "len"
        and len(node.args) == 1
    ):
        return node.args[0]
    return None


def _probes(fn: ast.AST) -> list[int]:
    """Line numbers of LIMIT-(k+1) collects in ``fn`` whose row count is
    compared with ``k``."""
    # collected rows bound to a name: name -> [(k dump, line)]
    bound: dict[str, list[tuple[str, int]]] = {}
    inline: list[tuple[ast.AST, str, int]] = []
    for node in _own_nodes(fn):
        if not _method(node, "collect"):
            continue
        k = _limit_bound(node)
        if k is not None:
            inline.append((node, ast.dump(k), node.lineno))
    inline_ids = {id(n): (kd, line) for n, kd, line in inline}
    for node in _own_nodes(fn):
        if isinstance(node, ast.Assign) and id(node.value) in inline_ids:
            for t in node.targets:
                if isinstance(t, ast.Name):
                    bound.setdefault(t.id, []).append(inline_ids[id(node.value)])
    found = []
    for node in _own_nodes(fn):
        if not isinstance(node, ast.Compare):
            continue
        operands = [node.left, *node.comparators]
        dumps = {ast.dump(o) for o in operands}
        for o in operands:
            arg = _len_of(o)
            if arg is None:
                continue
            if id(arg) in inline_ids:
                candidates = [inline_ids[id(arg)]]
            elif isinstance(arg, ast.Name):
                candidates = bound.get(arg.id, [])
            else:
                candidates = []
            found += [line for kd, line in candidates if kd in dumps]
    return sorted(set(found))


def _scan() -> tuple[list[str], list[str], int, int]:
    checkpoints, probes = [], []
    in_checkpoint_frame = in_bounded_collect = 0
    util = PACKAGE / "util.py"
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(REPO)
        for name, fn in _functions(tree):
            home_checkpoint = path == util and name == "checkpoint_frame"
            home_probe = path == util and name == "bounded_collect"
            for node in _own_nodes(fn):
                if any(_method(node, m) for m in CHECKPOINT_CALLS):
                    if home_checkpoint:
                        in_checkpoint_frame += 1
                    else:
                        checkpoints.append(f"{rel}:{node.lineno} in {name}")
                if home_probe and _method(node, "collect") and _limit_bound(node):
                    in_bounded_collect += 1
            if not home_probe:
                probes += [f"{rel}:{line} in {name}" for line in _probes(fn)]
    return checkpoints, probes, in_checkpoint_frame, in_bounded_collect


def test_every_checkpoint_goes_through_checkpoint_frame():
    checkpoints, _, in_home, _ = _scan()
    assert in_home == 2, "checkpoint_frame no longer holds both Spark calls"
    assert not checkpoints, (
        "checkpoint outside util.checkpoint_frame (it ignores the "
        f"materialize mode): {checkpoints}"
    )


def test_every_bounded_probe_goes_through_bounded_collect():
    _, probes, _, in_home = _scan()
    assert not probes, f"hand-written LIMIT k+1 probe, use bounded_collect: {probes}"
    assert in_home == 1, "bounded_collect no longer holds the LIMIT k+1 collect"


def test_probe_detector_sees_the_hand_written_forms():
    """The detector flags the named and the inline probe and leaves a
    top-(k+1) fetch alone, so a clean scan means something."""
    src = '''
def named(df, k):
    rows = df.limit(k + 1).collect()
    if len(rows) <= k:
        return rows

def inline(df, k):
    return len(df.orderBy("x").limit(k + 1).collect()) > k

def fetch(df, k):
    rows = df.orderBy("x").limit(k + 1).collect()
    return rows[:k], rows[k:]
'''
    tree = ast.parse(src)
    got = {name: _probes(fn) for name, fn in _functions(tree) if name != "<module>"}
    assert got == {"named": [3], "inline": [8], "fetch": []}

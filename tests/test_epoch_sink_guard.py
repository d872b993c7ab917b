"""One epoch-sink protocol (no Spark).

An AST scan over ``real_estate_bigdata_spark/`` that fails on

1. any ``.trigger(...)`` call outside ``streaming.ingest.start_sink`` —
   every streaming query starts through the one trigger switch;
2. any ``.partitionBy("ingest_batch", ...)`` outside ``util.write_epoch``
   — every epoch store writes its partitions through the one
   epoch-tagged dynamic overwrite.

Trigger offenders are reported once per function (one hand-written
block holds both the ``availableNow`` and the ``processingTime`` call);
epoch-write offenders once per call.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "real_estate_bigdata_spark"
EPOCH_COL = "ingest_batch"


def _functions(tree: ast.AST):
    """(qualified name, node) for every def, outermost first; module-level
    code is reported under ``<module>``."""
    yield "<module>", tree

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    yield name, child
                yield from walk(child, name + ".")
            else:
                yield from walk(child, prefix)

    yield from walk(tree, "")


def _own_nodes(fn: ast.AST):
    """Nodes of ``fn``'s body (lambdas included), not descending into
    nested defs or classes — ``_functions`` reports those on their own."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def _method(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
    )


def _is_epoch_write(node: ast.AST) -> bool:
    return (
        _method(node, "partitionBy")
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == EPOCH_COL
    )


def _scan_tree(tree: ast.AST, rel: str, trigger_home, epoch_home):
    """(trigger offender functions, epoch-write offender calls, trigger
    calls in the home, epoch writes in the home)."""
    triggers, writes = set(), []
    in_start_sink = in_write_epoch = 0
    for name, fn in _functions(tree):
        for node in _own_nodes(fn):
            if _method(node, "trigger"):
                if (rel, name) == trigger_home:
                    in_start_sink += 1
                else:
                    triggers.add(f"{rel} in {name}")
            if _is_epoch_write(node):
                if (rel, name) == epoch_home:
                    in_write_epoch += 1
                else:
                    writes.append(f"{rel}:{node.func.end_lineno} in {name}")
    return triggers, writes, in_start_sink, in_write_epoch


def _scan() -> tuple[list[str], list[str], int, int]:
    trigger_home = ("real_estate_bigdata_spark/streaming/ingest.py", "start_sink")
    epoch_home = ("real_estate_bigdata_spark/util.py", "write_epoch")
    triggers, writes = set(), []
    in_start_sink = in_write_epoch = 0
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(REPO).as_posix()
        t, w, n_t, n_w = _scan_tree(tree, rel, trigger_home, epoch_home)
        triggers |= t
        writes += w
        in_start_sink += n_t
        in_write_epoch += n_w
    return sorted(triggers), writes, in_start_sink, in_write_epoch


def test_every_streaming_query_starts_through_start_sink():
    triggers, _, in_home, _ = _scan()
    assert not triggers, (
        f"{len(triggers)} hand-written trigger switch(es), use "
        f"streaming.ingest.start_sink: {triggers}"
    )
    assert in_home == 2, "start_sink no longer holds both trigger calls"


def test_every_epoch_partition_goes_through_write_epoch():
    _, writes, _, in_home = _scan()
    assert not writes, (
        f"{len(writes)} hand-written epoch write(s), use util.write_epoch: "
        f"{writes}"
    )
    assert in_home == 1, "write_epoch no longer holds the epoch partitionBy"


def test_detector_sees_the_hand_written_forms():
    """The detector flags a launcher's trigger block once, both epoch
    write layouts, and a method's trigger by its class-qualified name;
    it leaves non-epoch partitioned writes alone, so a clean scan means
    something."""
    src = '''
def launcher(writer, available_now):
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()

def store(df, batch_id, path):
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("ingest_batch", "__tp").parquet(path)

def lake(df, path):
    df.write.partitionBy("ingest_date", "source").parquet(path)
    def _process(batch_df, batch_id):
        batch_df.write.partitionBy("ingest_batch").parquet(path)

class Registry:
    def start_all(self, writer):
        return writer.trigger(availableNow=True).start()
'''
    triggers, writes, n_t, n_w = _scan_tree(
        ast.parse(src), "m.py", ("m.py", "start_sink"), ("m.py", "write_epoch")
    )
    assert triggers == {"m.py in launcher", "m.py in Registry.start_all"}
    assert writes == ["m.py:12 in store", "m.py:17 in lake._process"]
    assert (n_t, n_w) == (0, 0)

"""Policy gate: every streaming start in the engine must pin an explicit
repo-owned checkpointLocation. Without one, Spark checkpoints streaming
state into its own dir under /tmp — exactly the state a contended host
or tmp-cleaner corrupts mid-run (round 3's driver bench died rc=1 on one
such HDFSBackedStateStore.abort). `run_available_now` now sets one for
every drain; direct `.writeStream` call sites must either go through it
or set the option themselves within the same statement."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "zoom_etl_spark"


def _string_literal_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            lines.update(range(node.lineno, (node.end_lineno or
                                             node.lineno) + 1))
    return lines


def _stream_starts():
    """(path, tree, lineno, statement text) for every `.writeStream` in
    the package's code, up to its `.start()`."""
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        tree = ast.parse(text)
        doc_lines = _string_literal_lines(tree)
        for m in re.finditer(r"\.writeStream\b", text):
            lineno = text.count("\n", 0, m.start()) + 1
            if lineno in doc_lines:  # docstring example, not code
                continue
            end = text.find(".start()", m.start())
            stmt = text[m.start():end if end != -1 else m.start() + 500]
            yield path, tree, lineno, stmt


def test_every_stream_start_has_explicit_checkpoint():
    offenders = [f"{path.relative_to(PKG.parent)}:{lineno}"
                 for path, _, lineno, stmt in _stream_starts()
                 if "checkpointLocation" not in stmt]
    # run_available_now itself sets the option; anything else must too
    assert not offenders, (
        "streaming starts without an explicit checkpointLocation "
        f"(use run_available_now or drain_checkpoint): {offenders}")


def test_run_available_now_is_the_only_memory_drain():
    """One memory-sink drain path: `run_available_now` sizes the state
    store from the drained plan, so a second hand-rolled drain would
    name its sizing again by hand."""
    offenders = []
    for path, tree, lineno, stmt in _stream_starts():
        if not re.search(r"""\.format\(\s*["']memory["']""", stmt):
            continue
        fn = next((n for n in ast.walk(tree)
                   if isinstance(n, ast.FunctionDef)
                   and n.lineno <= lineno <= n.end_lineno), None)
        if (path.relative_to(PKG).as_posix(), getattr(fn, "name", None)) \
                != ("streaming/ingest.py", "run_available_now"):
            offenders.append(f"{path.relative_to(PKG.parent)}:{lineno}")
    assert not offenders, (
        f"memory-sink drains outside run_available_now: {offenders}")


def test_run_available_now_cleans_checkpoint_dirs():
    from zoom_etl_spark.streaming.ingest import _CKPT_ROOT
    root = Path(_CKPT_ROOT)
    if root.exists():
        assert list(root.iterdir()) == [], (
            "leaked checkpoint dirs — drain_checkpoint must remove them")

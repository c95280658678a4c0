"""Operators own their working sets: no module keeps state across calls.

A module global rebound by a call (``global`` statement) outlives the
call that set it, so a later call, from any engine or driver query, can
release what an earlier call's pending result still reads.
"""

import ast
import pathlib

import reffy_spark


def test_no_global_statements():
    root = pathlib.Path(reffy_spark.__file__).parent
    found = [
        f"{path.relative_to(root.parent)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Global)
    ]
    assert found == []

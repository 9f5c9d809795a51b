"""Tooling guard: a module that defines the same top-level ``test_*``
name twice silently runs only the last definition, so the first one
never executes. Parse every test module and fail on such shadowing."""

import ast
import collections
import pathlib


def test_no_shadowed_test_functions():
    shadowed = {}
    for path in sorted(pathlib.Path(__file__).parent.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        names = collections.Counter(
            node.name for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_"))
        dups = sorted(name for name, n in names.items() if n > 1)
        if dups:
            shadowed[path.name] = dups
    assert not shadowed, f"test functions defined twice: {shadowed}"

"""No module of the engine binds a top-level name twice: a second
binding silently replaces the first for every function that reads the
name at call time."""

import ast
import collections
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "databend_spark"


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            if isinstance(node.target, ast.Name):
                yield node.target.id


def test_no_module_level_name_is_bound_twice():
    twice = []
    for path in sorted(PACKAGE.rglob("*.py")):
        counts = collections.Counter(_top_level_names(ast.parse(path.read_text())))
        twice += [
            f"{path.relative_to(PACKAGE.parent)}: {name}"
            for name, n in counts.items()
            if n > 1
        ]
    assert twice == []

"""The slow-tier list stays honest: every ``SLOW_TESTS`` entry in
``tests/conftest.py`` must name a test function that exists, or a
deleted or renamed test leaves an entry that silently marks nothing.

No Spark session needed — both sides are read with ``ast``.
"""

import ast
import pathlib

TESTS = pathlib.Path(__file__).resolve().parent


def _slow_tests() -> set[str]:
    tree = ast.parse((TESTS / "conftest.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "SLOW_TESTS" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    raise AssertionError("tests/conftest.py defines no SLOW_TESTS")


def _test_functions(path: pathlib.Path) -> set[str]:
    return {
        node.name
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_every_slow_entry_names_an_existing_test():
    stale = []
    for entry in sorted(_slow_tests()):
        fname, _, test = entry.partition("::")
        path = TESTS / fname
        name = test.split("[", 1)[0]
        if not path.is_file() or name not in _test_functions(path):
            stale.append(entry)
    assert not stale, f"SLOW_TESTS entries naming no test: {stale}"

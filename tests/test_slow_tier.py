"""Guard: every `file::func` line of tests/slow_tests.txt names a test
function that exists. A renamed or deleted slow test would otherwise leave a
dead entry behind and its new name would run in the default tier unnoticed."""

import ast
import pathlib

TESTS = pathlib.Path(__file__).resolve().parent


def _test_functions(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text())
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_slow_tier_entries_name_existing_tests():
    entries = [
        line.strip()
        for line in (TESTS / "slow_tests.txt").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]
    defs: dict[str, set[str]] = {}
    missing = []
    for entry in entries:
        fname, _, func = entry.partition("::")
        path = TESTS / fname
        if fname not in defs:
            defs[fname] = _test_functions(path) if path.is_file() else set()
        if not func.startswith("test") or func not in defs[fname]:
            missing.append(entry)
    assert entries
    assert not missing, "slow_tests.txt names missing tests:\n" + "\n".join(missing)

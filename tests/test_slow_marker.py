"""``conftest.SLOW_TESTS`` names exact node ids; a renamed or deleted test
would silently drop out of the ``slow`` run and leave a stale entry. Checked
by parsing the test files, so it holds however the suite was selected."""

import ast
from pathlib import Path

from conftest import SLOW_TESTS

ROOT = Path(__file__).resolve().parent.parent


def test_every_slow_entry_names_a_module_level_test():
    missing = []
    for nid in sorted(SLOW_TESTS):
        path, _, name = nid.partition("::")
        f = ROOT / path
        if not f.is_file():
            missing.append(nid)
            continue
        tree = ast.parse(f.read_text(), filename=str(f))
        defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        if not name.startswith("test_") or name not in defs:
            missing.append(nid)
    assert missing == []

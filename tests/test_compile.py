"""Scans over the project's own Python sources.

Every source compiles with warnings as errors: an invalid escape
sequence in a non-raw literal (``'\\s+'``) compiles with a
DeprecationWarning today and a SyntaxWarning from Python 3.12 on; a
later Python makes it a SyntaxError.  This scan fails on the first one.

Every fast-profile skip entry in ``conftest._SLOW_TESTS`` names a test
function that exists: an entry left behind by a rename or a deletion
would otherwise rot silently (the renamed test just runs again).
"""

from __future__ import annotations

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _sources() -> list[Path]:
    return [
        *(
            p
            for base in ("jurimetria_etl_spark", "tools", "tests")
            for p in sorted((ROOT / base).rglob("*.py"))
        ),
        ROOT / "bench.py",
    ]


def test_sources_compile_with_warnings_as_errors():
    failures = []
    for path in _sources():
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{path.relative_to(ROOT)}: {e}")
    assert failures == []



def _test_functions(fname: str) -> set[str]:
    path = ROOT / "tests" / fname
    if not path.exists():
        return set()
    return {
        node.name
        for node in ast.parse(path.read_text(encoding="utf-8")).body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("test_")
    }


def test_slow_test_entries_name_existing_tests():
    from tests.conftest import _SLOW_TESTS

    missing = [
        entry
        for entry in sorted(_SLOW_TESTS)
        if entry.split("::")[1] not in _test_functions(entry.split("::")[0])
    ]
    assert missing == []

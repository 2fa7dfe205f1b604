"""Every Python source of the project compiles with warnings as errors.

An invalid escape sequence in a non-raw literal (``'\\s+'``) compiles with
a DeprecationWarning today and a SyntaxWarning from Python 3.12 on; a
later Python makes it a SyntaxError.  This scan fails on the first one.
"""

from __future__ import annotations

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

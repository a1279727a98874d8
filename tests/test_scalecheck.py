"""tools/scalecheck.py runs any of its cases by name and refuses any other
name without starting Spark."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _scalecheck(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "scalecheck", REPO / "tools" / "scalecheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_case_name_maps_to_a_callable(monkeypatch):
    scalecheck = _scalecheck(monkeypatch)
    assert scalecheck.CASES
    assert all(callable(fn) for fn in scalecheck.CASES.values())


@pytest.mark.parametrize("argv", [["no_such_case"], []])
def test_unknown_case_exits_nonzero_and_lists_the_cases(monkeypatch, argv):
    scalecheck = _scalecheck(monkeypatch)

    def no_spark(*_a, **_k):
        raise AssertionError("a refused case must not start Spark")

    monkeypatch.setattr(scalecheck, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        scalecheck.main(argv)
    assert exc.value.code not in (0, None)
    for name in scalecheck.CASES:
        assert name in str(exc.value.code)

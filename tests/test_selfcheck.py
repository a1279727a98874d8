"""tools/selfcheck.py checks the queries of its own checkout, whatever the
working directory it is started from."""

from __future__ import annotations

import importlib.util
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _selfcheck():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", REPO / "tools" / "selfcheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_selfcheck_uses_its_own_checkout(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", "elsewhere")
    selfcheck = _selfcheck()
    assert selfcheck.REPO == str(REPO)
    selfcheck.use_checkout()
    assert sys.path[0] == str(REPO)
    assert os.environ["PYTHONPATH"] == os.pathsep.join([str(REPO), "elsewhere"])
    monkeypatch.delenv("PYTHONPATH")
    selfcheck.use_checkout()
    assert os.environ["PYTHONPATH"] == str(REPO)

"""Every script under ``scripts/`` imports cleanly: a script that still
imports a helper from a deleted script fails here.  Importing starts no
Spark session, since every script guards ``main()`` with ``__name__``."""
import importlib
import os
import sys

import pytest

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
NAMES = sorted(f[: -len(".py")] for f in os.listdir(SCRIPTS) if f.endswith(".py"))


@pytest.mark.parametrize("name", NAMES)
def test_script_imports(name, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    monkeypatch.delitem(sys.modules, name, raising=False)
    mod = importlib.import_module(name)
    assert callable(mod.main)

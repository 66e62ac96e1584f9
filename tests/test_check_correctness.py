"""tools/check_correctness.py is imported as a library (perfbench takes
its ``multiset``), so importing it must not read the importer's argv."""

from __future__ import annotations

import importlib
import sys


def test_import_reads_no_argv(monkeypatch):
    argv = ["run.py", "--workload", "floor", "--seed", "1"]
    monkeypatch.setattr(sys, "argv", argv)
    monkeypatch.delitem(sys.modules, "tools.check_correctness", raising=False)
    mod = importlib.import_module("tools.check_correctness")
    leaked = {
        name for name, v in vars(mod).items()
        if not name.startswith("__") and isinstance(v, (str, list, set, tuple))
        and (v in argv or (not isinstance(v, str) and any(a in v for a in argv)))
    }
    assert leaked == set()
    assert not hasattr(mod, "SF_DIR") and not hasattr(mod, "ONLY")

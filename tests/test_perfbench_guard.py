"""perfbench's traced mode wraps program functions by (module, attribute)
name; a refactor that moves one of them would make ``--trace 1`` fail at
install time.  This pins every name it patches."""

from __future__ import annotations

import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracing_patch_targets_resolve():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    assert tracing._FUNCTIONS
    for mod_name, attr, _span in tracing._FUNCTIONS:
        mod = importlib.import_module(mod_name)
        assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"

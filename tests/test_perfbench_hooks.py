"""The benchmark's tracer patches engine functions by name
(``perfbench/workload.py``: ``WRAPS`` and ``INSERT_NEW_ROWS``). A rename
in the engine must fail here instead of breaking traced benchmark runs
with an AttributeError."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_workload():
    path = os.path.join(ROOT, "perfbench", "workload.py")
    spec = importlib.util.spec_from_file_location("perfbench_workload", path)
    mod = importlib.util.module_from_spec(spec)
    saved_path, saved_modules = list(sys.path), set(sys.modules)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module
    try:
        spec.loader.exec_module(mod)
    finally:
        # the module puts perfbench/ on sys.path and imports its helpers
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            if (getattr(sys.modules[name], "__file__", None) or "").startswith(
                os.path.join(ROOT, "perfbench")
            ):
                del sys.modules[name]
    return mod


def test_traced_engine_names_resolve():
    wl = _load_workload()
    assert wl.WRAPS and wl.INSERT_NEW_ROWS
    for module, owner, attr, _span in wl.WRAPS:
        obj = importlib.import_module(module)
        if owner:
            obj = getattr(obj, owner)
        assert callable(getattr(obj, attr, None)), (module, owner, attr)
    for module, attr in wl.INSERT_NEW_ROWS:
        obj = importlib.import_module(module)
        assert callable(getattr(obj, attr, None)), (module, attr)

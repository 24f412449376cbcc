"""Every binding the benchmark's span recorder wraps under ``--trace 1``
still exists: a refactor that removes or renames one fails here, not in
the next traced benchmark run.  Imports only; no Spark session."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

SPANS = Path(__file__).resolve().parent.parent / "perfbench" / "spans.py"


def _program_spans():
    spec = importlib.util.spec_from_file_location("_perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.PROGRAM_SPANS


def test_every_traced_binding_resolves():
    missing = []
    for module_name, attr_path, _ in _program_spans():
        owner = importlib.import_module(module_name)
        for part in attr_path.split("."):
            owner = getattr(owner, part, None)
            if owner is None:
                break
        if not callable(owner):
            missing.append(f"{module_name}:{attr_path}")
    assert not missing, missing

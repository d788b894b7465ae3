"""Order-independent answer hashes, shared by the DuckDB oracle side and
the Spark side.  The canonical form is the repository's own correctness
gate (``tools/oracle_check.py``): columns sorted by name, floats rounded
to 6 places, timestamps at millisecond precision, rows sorted."""

from __future__ import annotations

import importlib.util
import os

_GATE = None


def _gate():
    global _GATE
    if _GATE is None:
        path = os.path.join(os.getcwd(), "tools", "oracle_check.py")
        spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _GATE = mod
    return _GATE


def frame_hash(pdf) -> str:
    """``<rows>:<md5 of the canonical CSV>`` of a pandas frame."""
    gate = _gate()
    return f"{len(pdf)}:{gate.value_hash(gate.canonicalize(pdf))}"

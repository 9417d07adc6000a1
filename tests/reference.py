"""The reference checkout that the differential tests compare against.

The reference's ``converter`` package is looked for under ``reference/src``
beside this repository.  ``AVAILABLE`` says whether it imports; tests that
need it carry ``requires_reference`` and skip with ``REASON`` where it does
not, so the reference-free checks in the same modules still run.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

SRC = Path(__file__).resolve().parents[2] / "reference" / "src"
if str(SRC) not in sys.path:
    sys.path.insert(0, str(SRC))

try:
    import converter  # noqa: F401
except ModuleNotFoundError as exc:
    if exc.name != "converter":  # the checkout is there but does not import
        raise
    AVAILABLE = False
else:
    AVAILABLE = True

REASON = f"reference checkout absent: no `converter` package importable from {SRC}"
requires_reference = pytest.mark.skipif(not AVAILABLE, reason=REASON)

"""Order-insensitive reference of a result frame, and the check against it.

The rules are the repository's correctness-gate rules (``tests/parity.py``,
strict mode): columns sorted by name, every cell rendered to a
canonical string, floats at 9 significant digits tagged ``f:`` so an int
126 and a float 126.0 differ, rows sorted.  A reference is the row count
plus a SHA-256 of that canonical form.

Nine significant digits cannot hold every float sum exactly: a sum of
2-decimal prices near 1e7 keeps one decimal, so two summation orders
can round a ``.x5`` total to different strings.  Small results
(``KEEP_ROWS`` rows or fewer) therefore also keep their values, and a
hash mismatch falls back to comparing those values with a relative
tolerance of 1e-9.  The rules live here rather than being imported so
that the frozen ``expected.json`` means the same thing however the test
helpers change.
"""

from __future__ import annotations

import decimal
import hashlib
import math

import numpy as np
import pandas as pd

KEEP_ROWS = 200
REL_TOL = 1e-9


def canon_value(v) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else f"f:{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    if isinstance(v, (list, dict, set, np.ndarray)):
        # the gate refuses nested cells; render them so a result that
        # carries one fingerprints (and mismatches) instead of crashing
        return "nested:" + repr(v.tolist() if isinstance(v, np.ndarray)
                                else v)
    return str(v)


def _value(v):
    """A cell as the tolerant check sees it: finite floats stay numbers,
    everything else is its canonical string."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) and not math.isnan(v):
        return v
    return canon_value(v)


def _rows(pdf: pd.DataFrame, cell) -> list[list]:
    cols = sorted(pdf.columns)
    return [[cell(v) for v in row]
            for row in pdf[cols].itertuples(index=False, name=None)]


def reference(pdf: pd.DataFrame) -> list:
    """``[row_count, sha256_hex]``, plus ``[columns, rows]`` for small
    results, independent of row and column order."""
    cols = sorted(pdf.columns)
    lines = sorted("\x1f".join(r) for r in _rows(pdf, canon_value))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    ref = [len(lines), h.hexdigest()]
    if len(lines) <= KEEP_ROWS:
        ref += [cols, _rows(pdf, _value)]
    return ref


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def matches(pdf: pd.DataFrame, expected: list | None) -> bool:
    """Whether ``pdf`` is the result ``expected`` describes."""
    if expected is None:
        return False
    got = reference(pdf)
    if got[:2] == expected[:2]:
        return True
    if len(expected) < 4 or got[0] != expected[0] or got[2] != expected[2]:
        return False
    left = got[3]
    for row in expected[3]:
        hit = next((i for i, g in enumerate(left)
                    if all(_close(x, y) for x, y in zip(g, row))), None)
        if hit is None:
            return False
        left.pop(hit)
    return True

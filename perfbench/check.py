"""Output comparison shared by the workloads: the repository's own
correctness normalizer and order-insensitive value hash
(``tools/check_correctness.py``), applied to two pandas frames."""

from __future__ import annotations

import importlib.util
import os

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
)
_cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_cc)
normalize = _cc.normalize
value_hash = _cc.value_hash


def frames_problem(got: pd.DataFrame, want: pd.DataFrame, ordered_columns: bool = False) -> "str | None":
    """``None`` when ``got`` holds the same rows as ``want`` (any row
    order); otherwise what differs. With ``ordered_columns`` the column
    order must match too."""
    if ordered_columns and list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = normalize(got), normalize(want)
    if list(g.dtypes.astype(str)) != list(w.dtypes.astype(str)):
        return f"dtypes {list(g.dtypes.astype(str))} != {list(w.dtypes.astype(str))}"
    if value_hash(g) != value_hash(w):
        return "value hash mismatch"
    return None

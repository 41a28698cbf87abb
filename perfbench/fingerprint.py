"""Order-insensitive result fingerprints: row count plus an md5 over the
sorted canonical rows, with columns taken in name order.

Both engines' results pass through pandas first, so the canonical forms
only need to agree across Spark's ``toPandas()``, DuckDB's ``.df()`` and
pyarrow's ``to_pandas()``: DATE and midnight TIMESTAMP render the same,
DECIMAL renders as its nearest double, NaN and None are both NULL.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):  # pd.Timestamp is a datetime
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _column(s: pd.Series) -> list[str]:
    """Canonical strings of one column; int, float and naive timestamp
    columns skip the per-cell type dispatch."""
    if s.dtype.kind in "iu":
        return [str(v) for v in s.tolist()]
    if s.dtype.kind == "f":
        return ["NULL" if v != v else repr(v) for v in s.tolist()]
    if s.dtype.kind == "M" and s.dt.tz is None:
        return s.dt.strftime("%Y-%m-%d %H:%M:%S.%f").fillna("NULL").tolist()
    return [_cell(v) for v in s.tolist()]


def fingerprint(pdf: pd.DataFrame) -> dict:
    """``{"rows": n, "md5": hex}`` for a pandas frame."""
    cols = sorted(pdf.columns, key=str.lower)
    lines = sorted(
        "\x01".join(row) for row in zip(*(_column(pdf[c]) for c in cols))
    )
    digest = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "md5": digest}

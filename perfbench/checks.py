"""Order-insensitive result comparison used by the output checks."""

from __future__ import annotations

import math
from decimal import Decimal


def _canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, Decimal)):
        d = Decimal(v).normalize()
        return format(d, "f")
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canon_rows(rows) -> list[tuple]:
    """Rows as sorted tuples of canonical strings: row order, Decimal scale
    and int-vs-Decimal representation are ignored; floats compare exactly."""
    return sorted(tuple(_canon_value(v) for v in row) for row in rows)


def canon_frame(df) -> list[tuple]:
    """A pandas frame canonicalised with its columns sorted by name."""
    import pandas as pd

    df = df[sorted(df.columns)]
    return canon_rows(
        tuple(None if v is pd.NA else v for v in row) for row in df.itertuples(index=False)
    )

"""Order-insensitive, type-sensitive digest of an Arrow result.

Columns are taken in sorted-name order, rows are sorted, and every
value is rendered with its type class (int, float, decimal, ...), so a
Spark ``toArrow()`` result and a DuckDB ``.arrow()`` result of the same
rows digest identically — the same strictness as the repo's parity
check (scripts/check_parity.py), reduced to one hash per result.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal


def _cell(v) -> str:
    if v is None:
        return "n:"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"D:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{k}={_cell(x)}"
                                for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"s:{v}"


def digest(table) -> str:
    """sha256 over the sorted rows of ``table`` (a pyarrow.Table)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(_cell(v) for v in r) for r in zip(*data))
    h = hashlib.sha256(("\x1e".join(cols) + "\x1d").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:32]

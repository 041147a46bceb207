"""Order-insensitive result digests, shared by the timed runs (checked
against ``pinned.json``) and ``run.py --pin`` (checked against the DuckDB
oracle before a digest is pinned)."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def digest(table) -> tuple[int, str]:
    """``(rows, sha256)`` of a ``pyarrow.Table``: columns taken in name
    order, rows as a sorted multiset, so neither column nor row order
    changes the digest."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(json.dumps([_norm(c[i]) for c in cols]) for i in range(table.num_rows))
    h = hashlib.sha256(json.dumps(names).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()

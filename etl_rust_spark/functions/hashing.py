"""Canonical result hashing for oracle differential testing.

Convention (SURVEY.md §5.3, validated against DuckDB 1.0.0):
- columns sorted by name (the driver's compare does the same),
- float/Decimal → ``repr(round(v, 6))`` (queries already ROUND in SQL),
- timestamp → ``"%Y-%m-%d %H:%M:%S.%f"`` in UTC, date → ISO,
- bool → lowercase, None → ``"<NULL>"``, else ``str(v)``,
- rows sorted lexicographically (order-insensitive), then sha256 over
  the joined tuples.

``xxhash64`` is XXH64 from its public spec: ``versions/layout.py``
replays Spark's bucket hash (``xxhash64`` with seed 42) on the driver
with it to prune bucket directories for a point probe.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from decimal import Decimal
from typing import Any, Iterable, Sequence

__all__ = ["canonical_value", "canonical_rows", "canonical_hash", "xxhash64"]


def canonical_value(v: Any) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        # Type-aware, like the driver's gate: a DECIMAL result is NOT the
        # same wire type as a DOUBLE even when values are equal (r2 dq04:
        # Spark DECIMAL(24,2) '52771.00' vs DuckDB DOUBLE 52771.0 hashed
        # differently on the driver while this function folded both to
        # float and passed locally).  Keep decimals textual and prefixed
        # so Decimal-vs-float always discriminates.
        return "dec:" + str(v)
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(rows: Iterable[Sequence[Any]], columns: Sequence[str]) -> list[tuple[str, ...]]:
    """Canonicalize rows with columns re-ordered by sorted column name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canonical_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def canonical_hash(rows: Iterable[Sequence[Any]], columns: Sequence[str]) -> str:
    h = hashlib.sha256()
    for row in canonical_rows(rows, columns):
        h.update("\x1f".join(row).encode("utf-8"))
        h.update(b"\x1e")
    return h.hexdigest()


_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            for i in range(4):
                lane = int.from_bytes(data[pos + 8 * i : pos + 8 * i + 8], "little")
                v = (v1, v2, v3, v4)[i]
                v = (v + lane * _P2) & _M64
                v = (_rotl64(v, 31) * _P1) & _M64
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            pos += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        k = int.from_bytes(data[pos : pos + 8], "little")
        k = (_rotl64((k * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl64(h ^ k, 27) * _P1) + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos : pos + 4], "little") * _P1) & _M64
        h = ((_rotl64(h, 23) * _P2) + _P3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _M64
        h = (_rotl64(h, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h

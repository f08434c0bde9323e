"""Order-insensitive output digests, computed the same way for Spark
outputs and for references.

A row hashes to 64 bits (blake2b over a canonical JSON form of its
columns, sorted by name); a multiset of rows digests to ``(count, sum of
row hashes mod 2**64)``. The digest is additive, so per-operation digests
sum to the digest of their union. Floats are canonicalised the way the
registry's oracle compare does (6 significant digits, -0.0 folded to
0.0), so engines that differ in the last bits still agree.
"""

from __future__ import annotations

import hashlib
import json
import math

_MASK = (1 << 64) - 1


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{(0.0 if v == 0 else v):.6g}"
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def row_hash(row: dict, cols: list[str]) -> int:
    text = json.dumps([_canon(row[c]) for c in cols], sort_keys=True,
                      ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(
        hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def digest_rows(rows, cols) -> tuple[int, int]:
    cols = sorted(cols)
    n = total = 0
    for row in rows:
        n += 1
        total = (total + row_hash(row, cols)) & _MASK
    return n, total


def digest_table(table) -> tuple[int, int]:
    """Digest of a pyarrow Table over all its columns."""
    return digest_rows(table.to_pylist(), table.column_names)


def flipped_digest(table) -> tuple[int, int]:
    """Digest of ``table`` with one value changed: the first row's value
    in the first column by name."""
    rows = table.to_pylist()
    col = sorted(table.column_names)[0]
    v = rows[0][col]
    rows[0][col] = v + 1 if isinstance(v, int) else f"{v}x"
    return digest_rows(rows, table.column_names)


def combine(digests) -> tuple[int, int]:
    n = total = 0
    for dn, dt in digests:
        n += dn
        total = (total + dt) & _MASK
    return n, total


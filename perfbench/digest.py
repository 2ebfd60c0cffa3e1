"""Order-independent digests of table states, computed in Python.

A digest is ``[row_count, sum of per-row hashes mod 2**64]`` over tuples
of scalars and integer lists, so two row sets are equal exactly when
their digests are (up to 64-bit hash collisions) regardless of row order,
file layout or bucket count. Table states are digested over
``(doc_id, tokens, n_tok, source, lang)``.
"""

from __future__ import annotations

import hashlib

_MASK = (1 << 64) - 1
COLUMNS = ("doc_id", "tokens", "n_tok", "source", "lang")


def _field(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, (list, tuple)):
        return ",".join(str(int(t)) for t in v)
    return str(v)


def _row_hash(row) -> int:
    text = "\x1f".join(_field(v) for v in row)
    return int.from_bytes(
        hashlib.blake2b(text.encode(), digest_size=8).digest(), "little"
    )


def of_rows(rows) -> list:
    n = total = 0
    for row in rows:
        n += 1
        total = (total + _row_hash(row)) & _MASK
    return [n, total]


def corrupt(d: list) -> list:
    """A digest that differs from ``d`` (for the gate's self-test)."""
    return [d[0], (d[1] + 1) & _MASK]


def of_table(df) -> list:
    """Digest of a Spark DataFrame with the sequences-table columns; a
    column the table never gained (``lang`` before any epoch carried it)
    reads as NULL."""
    from pyspark.sql import functions as F

    cols = [F.col(c) if c in df.columns else F.lit(None).alias(c) for c in COLUMNS]
    return of_rows(tuple(r) for r in df.select(*cols).collect())

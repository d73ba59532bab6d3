"""Order-independent digests of output tables and triple precision/recall.

A digest is the row count plus the sum, modulo 2**64, of a 64-bit hash of
each row's canonical text form. Summing (not XOR-ing) keeps duplicate
rows visible, and neither row order nor partitioning changes the result.
Floats are written with six decimals, so the digest of a table read back
from parquet equals the digest of the same rows computed in Python.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Sequence

GRAPH_COLS = ("subj", "subj_type", "pred", "obj", "obj_type", "url", "conf",
              "subj_id", "obj_id")
MENTION_COLS = ("url", "source", "start", "end", "label", "conf", "text")
TRIPLE_COLS = ("subj", "subj_type", "pred", "obj", "obj_type", "url", "conf")

_MASK = (1 << 64) - 1


def _field(value) -> str:
    if value is None:
        return "\x00"
    if isinstance(value, float):
        return f"{value:.6f}"
    return str(value)


def row_hash(row: Sequence) -> int:
    key = "\x1f".join(_field(v) for v in row).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def digest(rows: Iterable[Sequence]) -> str:
    n = total = 0
    for row in rows:
        total = (total + row_hash(row)) & _MASK
        n += 1
    return f"{n}:{total:016x}"


def precision_recall(graph_rows: Iterable[Sequence], gold: set) -> tuple[float, float]:
    """P/R of (url, subj, pred, obj) edges against the generator's gold
    triples. ``graph_rows`` are in GRAPH_COLS or TRIPLE_COLS order."""
    got = {(r[5], r[0], r[2], r[3]) for r in graph_rows}
    hit = len(got & gold)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(gold) if gold else 0.0
    return precision, recall

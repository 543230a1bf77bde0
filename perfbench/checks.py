"""Output checks: exact comparison with DuckDB oracles, table invariants.

Comparisons are cell by cell after sorting on the key: a float must be
bit-equal (the registered queries are written to match their oracles
exactly), NULL equals NULL, and a missing or extra row or column
counts every cell it holds as different.
"""

from __future__ import annotations

import math

import pandas as pd


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return None
    if hasattr(v, "item"):
        return v.item()
    return v


def diff_cells(actual: pd.DataFrame, expected: pd.DataFrame, key: list[str]) -> int:
    """Number of cells that differ between two result frames."""
    if sorted(actual.columns) != sorted(expected.columns) or len(actual) != len(expected):
        return max(actual.size, expected.size, 1)
    cols = sorted(expected.columns)
    a = actual[cols].sort_values(key).reset_index(drop=True)
    b = expected[cols].sort_values(key).reset_index(drop=True)
    bad = 0
    for c in cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if _norm(x) != _norm(y):
                bad += 1
    return bad


def ingest_invariants(
    table: pd.DataFrame, ingested: list[int], newest_epoch: int, watermark: int
) -> list[str]:
    """Row count equals the activities ingested, ``activity_id`` is
    unique, every record carries one nested sample per source sample,
    and the final watermark equals the newest landed epoch."""
    errors = []
    ids = table["activity_id"].tolist()
    if len(ids) != len(ingested):
        errors.append(f"rows {len(ids)} != activities ingested {len(ingested)}")
    if len(set(ids)) != len(ids):
        errors.append("activity_id not unique")
    if set(ids) != set(ingested):
        errors.append("activity_id set differs from the activities ingested")
    if (table["streams_len"] != table["n_samples"]).any():
        errors.append("nested streams length differs from n_samples")
    if watermark != newest_epoch:
        errors.append(f"watermark {watermark} != newest landed epoch {newest_epoch}")
    return errors


def curated_read_errors(n: int, chars: int, keep: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """The curated-corpus read (kept documents, their total length)
    against the oracle's keep flags."""
    want = docs[docs.doc_id.isin(keep.doc_id[keep.keep.astype(bool)])]
    if (n, chars) != (len(want), int(want.n_chars.sum())):
        return [f"curated read ({n}, {chars}) != oracle keep set ({len(want)}, {int(want.n_chars.sum())})"]
    return []

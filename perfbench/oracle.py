"""Canonical digest of a query answer, shared by the oracle generator and
the benchmark's answer check.

An answer is canonicalised the way tools/compare_oracle.py compares
Spark with DuckDB: columns sorted by name, rows sorted by every column,
values compared as their pandas string form.
"""
import hashlib

import pandas as pd


def digest(df: pd.DataFrame) -> dict:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    h.update("\x1f".join(df.columns).encode())
    for c in df.columns:
        h.update(b"\x1e")
        h.update("\x1f".join(df[c].astype(str)).encode())
    return {"columns": list(df.columns), "rows": len(df), "sha256": h.hexdigest()}

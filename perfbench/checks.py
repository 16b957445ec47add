"""Output and storage checks shared by the workloads (run untimed)."""

from __future__ import annotations

import os


def compare(pdf, con, sql: str) -> str | None:
    """Compare a result fetched to the driver (pandas) with ``sql`` asked
    of the DuckDB connection ``con``, through ``verify_local``'s fetch and
    fingerprint: None when they match, else what differs."""
    import verify_local as vl

    s_cols = list(pdf.columns)
    s_rows = vl._rows_from_pandas(pdf)
    d_rows, d_cols = vl._oracle_fetch(con, sql)
    if len(s_rows) != len(d_rows):
        return f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}"
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    if vl.fingerprint(s_rows, s_cols) != vl.fingerprint(d_rows, d_cols):
        return "value-hash mismatch"
    return None


def du(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(bytes, parquet data files) under ``path``, leaving out the
    top-level entries named in ``skip``."""
    size = files = 0
    for dirpath, dirs, names in os.walk(path):
        if dirpath == path:
            dirs[:] = [d for d in dirs if d not in skip]
            names = [n for n in names if n not in skip]
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += name.endswith(".parquet")
    return size, files

"""Output checks. Pure functions over results and planted truth, so a
test can hand them a corrupted result without starting Spark."""

from __future__ import annotations

import hashlib


def stats_mismatches(got: dict, want: dict) -> list[str]:
    """Every stats cell that differs from the truth (nested dicts such as
    ``splits`` compare whole)."""
    keys = sorted(set(got) | set(want))
    return [f"{k}: got {got.get(k)!r}, want {want.get(k)!r}"
            for k in keys if got.get(k) != want.get(k)]


def frame_hash(pdf) -> str:
    """Order-insensitive md5 of a result frame: columns sorted by name,
    timestamps at microseconds, rows sorted by every column."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


def query_mismatches(spark_hashes: dict[str, str], oracle_hashes: dict[str, str]) -> list[str]:
    """Queries whose engine result hash differs from the oracle's."""
    return [q for q in sorted(oracle_hashes) if spark_hashes.get(q) != oracle_hashes[q]]

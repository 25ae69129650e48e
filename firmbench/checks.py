"""Correctness checks, run outside the timed region.

Each check returns a list of human-readable failures (empty = pass), so a
run can count failures against the ops it attempted instead of stopping at
the first one.

- ``compare_bit_exact``: a query result against its DuckDB oracle, the same
  comparison as ``tests/test_oracle_parity.py`` (columns sorted by name,
  rows sorted, values equal bit for bit, floats included).
- ``dag_row_counts`` / ``moved_cities``: the firmographics warehouse after a
  DAG phase against the counts and HQ moves the generator produced, read
  from the parquet footers and files directly (not through Spark).
"""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def _is_na(v) -> bool:
    return v is None or (not isinstance(v, (list, tuple)) and pd.isna(v))


def compare_bit_exact(name: str, got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Failures of ``got`` (Spark) against ``oracle`` (DuckDB)."""
    if len(got) != len(oracle):
        return [f"{name}: row count {len(got)} != oracle {len(oracle)}"]
    if sorted(got.columns) != sorted(oracle.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(oracle.columns)}"]
    g, o = _normalize(got), _normalize(oracle)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), o[c].tolist())):
            a_na, b_na = _is_na(a), _is_na(b)
            ok = (a_na and b_na) if (a_na or b_na) else a == b
            if not ok:
                return [f"{name}: col {c} row {i}: spark={a!r} oracle={b!r}"]
    return []


def parquet_rows(files: list[str]) -> int:
    """Row count of parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def table_rows(path: str) -> int:
    """Row count of a parquet table directory."""
    return parquet_rows(glob.glob(os.path.join(path, "*.parquet")))


def dag_row_counts(counts: dict[str, int], expected: dict[str, int]) -> list[str]:
    return [
        f"{table}: {counts.get(table)} rows, generator expects {n}"
        for table, n in expected.items()
        if counts.get(table) != n
    ]


def dbt_key(*parts) -> str:
    """dbt_utils.generate_surrogate_key, recomputed independently of the
    program (FIXTURES.md §6)."""
    s = "-".join("_dbt_utils_surrogate_key_null_" if p is None else str(p) for p in parts)
    return hashlib.md5(s.encode()).hexdigest()


def moved_cities(dim_location: pd.DataFrame, moved: dict[str, tuple[str, str]]) -> list[str]:
    """Every company whose HQ moved must have a current ``dim_location`` row
    under its new key, carrying the new city and state."""
    rows = dim_location.set_index("location_key")
    failures = []
    for name, (city, state) in sorted(moved.items()):
        key = dbt_key(name, city, state)
        if key not in rows.index:
            failures.append(f"dim_location: no current row for moved company {name}")
            continue
        got = (rows.at[key, "headquarters_city"], rows.at[key, "headquarters_state"])
        if got != (city, state):
            failures.append(f"dim_location: {name} shows {got}, expected {(city, state)}")
    return failures

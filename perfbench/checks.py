"""Output checks: order-insensitive result hashes and the DuckDB views
the oracles run against.

Results are canonicalized by ``tools/driver_sim.py``'s ``canon``
(columns sorted by name, rows sorted on raw values, then each value
stringified, floats to 9 significant digits), so the benchmark compares
exactly as the project's driver simulation does.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from tools.driver_sim import canon


def result_hash(df: pd.DataFrame) -> str:
    """Hash of the canonical form: equal for equal row multisets."""
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def duckdb_connect(fixture_dir: str, tmp_dir: str):
    """In-memory DuckDB with one view per fixture table, spilling (if
    ever) into ``tmp_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name in sorted(os.listdir(fixture_dir)):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(fixture_dir, name)}')"
            )
    return con


def count_failures(results: list[tuple[str, str]], expected: dict[str, str]) -> int:
    """Number of ``(name, hash)`` results whose hash differs from the
    expected one for that name."""
    return sum(h != expected.get(name) for name, h in results)

"""Output checks: registry DuckDB oracles and the Delta replay.

Both use the comparison of the repository's oracle tests
(``tests/oracle_utils.compare_frames``): columns by name, rows sorted on
every column, values equal exactly.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle_utils import compare_frames, duck_connection  # noqa: E402


def compare(actual: pd.DataFrame, expected: pd.DataFrame, name: str) -> str | None:
    """``None`` when the frames hold the same rows, else the differences."""
    problems = compare_frames(actual, expected, name)
    return "; ".join(problems)[:500] if problems else None


def _digest(sf_dir: str, sql: str) -> str:
    h = hashlib.sha256(sql.encode())
    for f in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()[:24]


def expected_frame(con, sf_dir: str, name: str, sql: str, cache_dir: str) -> pd.DataFrame:
    """The oracle's answer, memoised on disk by the SQL and the input bytes.

    Runs in one checkout share the cache, so only the first run pays for
    the DuckDB query (up to 4 s a query here).
    """
    path = os.path.join(cache_dir, f"{name}-{_digest(sf_dir, sql)}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    frame = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    frame.to_pickle(path + ".part")
    os.replace(path + ".part", path)
    return frame


def check_queries(
    sf_dir: str, oracles: dict[str, str], outputs: dict[str, pd.DataFrame], cache_dir: str
) -> dict[str, str]:
    """Problems by query name for every output that differs from its oracle."""
    problems = {}
    with duck_connection(sf_dir) as con:
        for name, sql in oracles.items():
            if name not in outputs:
                problems[name] = f"{name}: no output collected"
                continue
            diff = compare(outputs[name], expected_frame(con, sf_dir, name, sql, cache_dir), name)
            if diff:
                problems[name] = diff
    return problems


def replay_delta(seed_file: str, commits: list[tuple[int, str, str]], versions: list[int]) -> dict[int, pd.DataFrame]:
    """Replay the table's commits in DuckDB; snapshots at ``versions``.

    ``commits`` holds ``(version, kind, arg)`` in commit order, where
    ``arg`` is the batch parquet file for ``append``/``merge`` and the SQL
    predicate for ``delete``; ``optimize`` changes no rows. Version 0 is
    ``seed_file``.
    """
    want = set(versions)
    snaps = {}
    with duckdb.connect() as con:
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{seed_file}')")
        if 0 in want:
            snaps[0] = con.execute("SELECT * FROM t").fetchdf()
        for version, kind, arg in commits:
            if kind == "append":
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{arg}')")
            elif kind == "merge":
                con.execute(
                    "DELETE FROM t WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM read_parquet('{arg}'))"
                )
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{arg}')")
            elif kind == "delete":
                con.execute(f"DELETE FROM t WHERE {arg}")
            if version in want:
                snaps[version] = con.execute("SELECT * FROM t").fetchdf()
    return snaps

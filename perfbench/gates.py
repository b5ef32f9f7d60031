"""Correctness gates. None of them is timed.

The expected state always comes from an independent fold of the
generated events -- DuckDB over the input parquet for final tables, a
plain dict fold for the per-window lookup and changelog checks -- never
from the package under test.
"""

from __future__ import annotations

import duckdb
import pandas as pd

FLAT_KEY = ["conv_id", "turn_idx"]
ROW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def fold_flat(files: list[str]) -> pd.DataFrame:
    """LWW fold keyed on (conv_id, turn_idx): highest LSN wins, a
    winning delete removes the key."""
    return duckdb.sql(
        f"""
        SELECT {", ".join(ROW_COLS)} FROM read_parquet({_files_sql(files)})
        QUALIFY row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) = 1
            AND op <> 'delete'
        """
    ).df()


def fold_tree(files: list[str]) -> pd.DataFrame:
    """LWW fold keyed on (days(ts), conv_id, turn_idx): the partition
    tree's documented non-global-index contract (a key on two days is
    two rows). Malformed envelopes never reach the table."""
    cols = ", ".join(ROW_COLS)
    return duckdb.sql(
        f"""
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY CAST(ts AT TIME ZONE 'UTC' AS DATE), conv_id, turn_idx
                ORDER BY lsn DESC) AS rn
            FROM read_parquet({_files_sql(files)}, union_by_name = true)
            WHERE NOT coalesce(malformed, false))
        WHERE rn = 1 AND op <> 'delete'
        """
    ).df()


def rows_mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Rows in exactly one of the two frames (multiset difference)."""
    def norm(df):
        df = df[ROW_COLS].copy()
        # Spark hands back naive UTC, DuckDB tz-aware UTC: compare epoch us
        ts = pd.to_datetime(df["ts"], utc=True) - pd.Timestamp(0, tz="UTC")
        df["ts"] = ts // pd.Timedelta(microseconds=1)
        df["turn_idx"] = df["turn_idx"].astype("int64")
        return df

    con = duckdb.connect()
    con.register("a", norm(actual))
    con.register("e", norm(expected))
    sel = ", ".join(f"CAST({c} AS VARCHAR)" for c in ROW_COLS)
    q = f"(SELECT {sel} FROM a EXCEPT ALL SELECT {sel} FROM e) UNION ALL (SELECT {sel} FROM e EXCEPT ALL SELECT {sel} FROM a)"
    return con.sql(f"SELECT count(*) FROM ({q})").fetchone()[0]


class KeyFold:
    """Incremental LWW state {key: (lsn, text)} for the per-window
    lookup and changelog gates."""

    def __init__(self):
        self.state: dict[tuple, tuple[int, str]] = {}

    def apply(self, events: pd.DataFrame) -> int:
        """Fold one window's events; return how many keys changed
        (inserted, updated or deleted), which is what one changelog
        pull between the two snapshots must return."""
        last = events.sort_values("lsn").drop_duplicates(FLAT_KEY, keep="last")
        changed = 0
        for conv, turn, op, lsn, text in zip(
            last["conv_id"], last["turn_idx"], last["op"], last["lsn"], last["text"]
        ):
            key = (conv, int(turn))
            if op == "delete":
                changed += self.state.pop(key, None) is not None
            else:
                changed += self.state.get(key, (None,))[0] != lsn
                self.state[key] = (int(lsn), text)
        return changed

    def live_keys(self) -> list[tuple]:
        return sorted(self.state)

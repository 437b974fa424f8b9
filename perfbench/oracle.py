"""Independent final-state fold in DuckDB over the generated feed files.

No engine code: the raw JSON payloads are parsed here, and the fold is the
rule of ``tests/oracle.pandas_fold``: per ``(conv_id, turn_idx)`` take the
max-``seq`` event; if its op is ``D`` the row is absent, otherwise the row
carries that event's payload and ``ts``. Timestamps compare as epoch
microseconds, so neither side's time zone handling enters the comparison.
"""

from __future__ import annotations

import duckdb

COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts_us")


def _paths(files: list[str]) -> str:
    return ", ".join("'" + f.replace("'", "''") + "'" for f in files)


def _events(files: list[str]) -> str:
    paths = _paths(files)
    return f"""
        SELECT CAST(json_extract(payload_json, '$.seq') AS BIGINT) AS seq,
               json_extract_string(payload_json, '$.type') AS op,
               json_extract_string(payload_json, '$.conv_id') AS conv_id,
               CAST(json_extract(payload_json, '$.turn_idx') AS INTEGER) AS turn_idx,
               json_extract_string(payload_json, '$.role') AS role,
               json_extract_string(payload_json, '$.text') AS text,
               json_extract_string(payload_json, '$.tool') AS tool,
               epoch_us(CAST(json_extract_string(payload_json, '$.timestamp') AS TIMESTAMPTZ)) AS ts_us
        FROM read_parquet([{paths}])"""


def _fold(files: list[str]) -> str:
    return f"""
        SELECT conv_id, turn_idx, role, text, tool, ts_us FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY seq DESC) AS rn
            FROM ({_events(files)})
        ) WHERE rn = 1 AND op <> 'D'"""


class Oracle:
    """Expected table states for prefixes of the feed (one file = one segment)."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute("SET threads = 2")
        self._folds: dict[tuple, str] = {}

    def fold(self, files: list[str]) -> str:
        """Name of a temp table holding the fold over ``files``."""
        key = tuple(files)
        if key not in self._folds:
            name = f"fold_{len(self._folds)}"
            self.con.execute(f"CREATE TEMP TABLE {name} AS {_fold(files)}")
            self._folds[key] = name
        return self._folds[key]

    def close(self) -> None:
        self.con.close()

    def rows_per_file(self, files: list[str]) -> dict[str, int]:
        return dict(self.con.execute(
            f"SELECT filename, count(*) FROM read_parquet([{_paths(files)}], filename = true) GROUP BY 1"
        ).fetchall())

    def live_rows(self, files: list[str]) -> int:
        return self.con.execute(f"SELECT count(*) FROM {self.fold(files)}").fetchone()[0]

    def conv_rows(self, files: list[str], conv_id: str) -> list[tuple]:
        return sorted(self.con.execute(
            f"SELECT * FROM {self.fold(files)} WHERE conv_id = ?", [conv_id]
        ).fetchall())

    def pick_conv(self, segment: str, rng) -> str:
        """A conv_id the segment touches, chosen by the seeded ``rng``."""
        ids = [r[0] for r in self.con.execute(
            f"SELECT DISTINCT conv_id FROM ({_events([segment])}) ORDER BY 1"
        ).fetchall()]
        return ids[rng.randrange(len(ids))]

    def mismatch_rows(self, actual, files: list[str]) -> int:
        """Rows in the symmetric difference (multiset) of ``actual`` — an
        Arrow table with :data:`COLS` — and the fold over ``files``."""
        self.con.register("actual_rows", actual)
        try:
            exp = "SELECT * FROM " + self.fold(files)
            act = "SELECT " + ", ".join(COLS) + " FROM actual_rows"
            return self.con.execute(
                f"SELECT (SELECT count(*) FROM ({act} EXCEPT ALL {exp})) + "
                f"(SELECT count(*) FROM ({exp} EXCEPT ALL {act}))"
            ).fetchone()[0]
        finally:
            self.con.unregister("actual_rows")

"""Output checks: the checksum-fold action with its pinned values, and the
Sparkify star schema compared against DuckDB run over the same JSON.

The fold is the benchmark's own copy of the work-forcing action: every
output column goes through ``max(xxhash64(cast(col AS string)))`` in one
single-row aggregate, so Catalyst cannot prune per-row expression work,
and only one row is collected. A ``count(*)`` rides along so a
query that loses rows cannot keep its per-column maxima by chance, and
an order-independent sum of whole-row hashes (each taken mod a prime,
so the sum cannot overflow under ANSI mode) makes a wrong value in any
row change the fold, not only one in the row holding a column's maximum.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
_PRIME = 2_147_483_647  # 2**31 - 1: a sum of 2**32 residues still fits a long


def fold(df: DataFrame) -> list[int]:
    """Execute ``df`` with every output column forced; return
    ``[row count, sum of row hashes mod prime, per-column max hash...]``."""
    cols = [df[c].cast("string") for c in df.columns]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_PRIME))).alias("rows"),
        *[F.max(F.xxhash64(c)).alias(f"h{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    return [int(v) if v is not None else None for v in row]


def load_pins() -> dict:
    """``{data scale: {row: fold value}}``."""
    with open(PINS_PATH) as fh:
        return json.load(fh)


# --- Sparkify star schema ---------------------------------------------------

_SONG_COLS = {
    "artist_id": "VARCHAR", "artist_latitude": "VARCHAR",
    "artist_longitude": "VARCHAR", "artist_location": "VARCHAR",
    "artist_name": "VARCHAR", "song_id": "VARCHAR", "title": "VARCHAR",
    "duration": "DOUBLE", "year": "INTEGER",
}
_LOG_COLS = {
    "artist": "VARCHAR", "auth": "VARCHAR", "firstName": "VARCHAR",
    "gender": "VARCHAR", "itemInSession": "INTEGER", "lastName": "VARCHAR",
    "length": "DOUBLE", "level": "VARCHAR", "location": "VARCHAR",
    "method": "VARCHAR", "page": "VARCHAR", "registration": "DOUBLE",
    "sessionId": "INTEGER", "song": "VARCHAR", "status": "INTEGER",
    "ts": "DOUBLE", "userAgent": "VARCHAR", "userId": "VARCHAR",
}

# Reference semantics (plans/sparkify.py, FIXTURES.md §3) written
# independently in DuckDB SQL. ts is integral epoch millis.
_EXPECTED_SQL = {
    "events": """
        SELECT *, date_trunc('second', make_timestamp(CAST(ts AS BIGINT) * 1000))
               AS start_time
        FROM log_raw WHERE page = 'NextSong'""",
    "songs": "SELECT DISTINCT song_id, title, artist_id, year, duration FROM song_raw",
    "artists": """
        SELECT DISTINCT artist_id, artist_name AS name, artist_location AS location,
               artist_latitude AS latitude, artist_longitude AS longitude
        FROM song_raw""",
    "users": """
        SELECT DISTINCT userId AS user_id, firstName AS first_name,
               lastName AS last_name, gender, level
        FROM (SELECT *, max(ts) OVER (PARTITION BY userId) AS mx FROM x_events)
        WHERE ts = mx AND userId <> '' AND userId IS NOT NULL""",
    "time": """
        SELECT DISTINCT start_time, hour(start_time) AS hour, day(start_time) AS day,
               weekofyear(start_time) AS week, month(start_time) AS month,
               year(start_time) AS year, dayofweek(start_time) + 1 AS weekday
        FROM x_events""",
    "songplays": """
        WITH catalog AS (
            SELECT s.song_id, coalesce(s.artist_id, a.artist_id) AS artist_id,
                   s.title, a.name AS artist_name, s.duration
            FROM x_songs s FULL JOIN x_artists a ON s.artist_id = a.artist_id)
        SELECT e.start_time, e.userId AS user_id, e.level, c.song_id, c.artist_id,
               e.sessionId AS session_id, e.location, e.userAgent AS user_agent,
               year(e.start_time) AS year, month(e.start_time) AS month
        FROM x_events e LEFT JOIN catalog c
          ON e.song = c.title AND e.artist = c.artist_name AND e.length = c.duration""",
}

# column -> kind; the digest casts each kind to one canonical type so a
# Hive partition column read back as BIGINT hashes like the INTEGER it was
_TABLE_COLS = {
    "songs": dict(song_id="s", title="s", artist_id="s", year="i", duration="d"),
    "artists": dict(artist_id="s", name="s", location="s", latitude="s", longitude="s"),
    "users": dict(user_id="s", first_name="s", last_name="s", gender="s", level="s"),
    "time": dict(start_time="t", hour="i", day="i", week="i", month="i", year="i",
                 weekday="i"),
    "songplays": dict(start_time="t", user_id="s", level="s", song_id="s",
                      artist_id="s", session_id="i", location="s", user_agent="s",
                      year="i", month="i"),
}
_CANON = {
    "s": "CAST({} AS VARCHAR)",
    "i": "CAST({} AS BIGINT)",
    "d": "CAST({} AS DOUBLE)",
    "t": "epoch_us({})",
}


def _digest(con, table: str, relation: str) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes) of ``relation``."""
    cols = ", ".join(_CANON[k].format(c) for c, k in _TABLE_COLS[table].items())
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _parquet_relation(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class StarSchemaOracle:
    """Expected star-schema digests, computed once per corpus in DuckDB."""

    def __init__(self, song_glob: str, log_glob: str):
        import duckdb

        def cols(spec: dict) -> str:
            return "{" + ", ".join(f"'{k}': '{v}'" for k, v in spec.items()) + "}"

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.con.execute(
            f"CREATE VIEW song_raw AS SELECT * FROM read_json('{song_glob}', "
            f"format = 'newline_delimited', columns = {cols(_SONG_COLS)})"
        )
        self.con.execute(
            f"CREATE VIEW log_raw AS SELECT * FROM read_json('{log_glob}', "
            f"format = 'newline_delimited', columns = {cols(_LOG_COLS)})"
        )
        for name, sql in _EXPECTED_SQL.items():
            self.con.execute(f"CREATE TABLE x_{name} AS {sql}")
        self.expected = {t: _digest(self.con, t, f"x_{t}") for t in _TABLE_COLS}

    def close(self) -> None:
        self.con.close()

    def check_warehouse(self, db_path: str) -> list[str]:
        """Mismatches between the loaded warehouse and the expected star
        schema, plus a uniqueness check on ``songplay_id``."""
        import duckdb

        errors = []
        con = duckdb.connect(db_path, read_only=True)
        try:
            for t, want in self.expected.items():
                got = _digest(con, t, t)
                if got != want:
                    errors.append(f"warehouse {t}: (rows, digest) {got} != {want}")
            n, distinct = con.execute(
                "SELECT count(*), count(DISTINCT songplay_id) FROM songplays"
            ).fetchone()
            if n != distinct:
                errors.append(f"songplay_id not unique: {n} rows, {distinct} ids")
        finally:
            con.close()
        return errors

    def check_tables(self, tables: dict[str, str]) -> list[str]:
        """Mismatches for Parquet table directories, e.g. a drain's output."""
        errors = []
        for t, path in tables.items():
            got = _digest(self.con, t, _parquet_relation(path))
            if got != self.expected[t]:
                errors.append(f"{t} at {path}: (rows, digest) {got} != {self.expected[t]}")
        return errors

"""Output checks, run after the timed region and outside every timing.

- Registered queries: Spark's output against the query's DuckDB oracle
  (``plans.ORACLE_SQL``) over the same generated tables — row count,
  column names and order-insensitive exact values.
- Star-schema ETL: the five written tables, read back with DuckDB,
  against an independent DuckDB computation over the same JSON feed.

Each check returns ``None`` on a match, else a one-line reason.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import pandas as pd


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{tmp_dir}'")
    con.sql("SET TimeZone = 'UTC'")
    return con


def _norm(v):
    """One hashable, engine-neutral form per cell value."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    df = df[cols].astype(object).where(pd.notna(df[cols]), None)
    return Counter(tuple(_norm(v) for v in row) for row in df.itertuples(index=False))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(want.columns)
    a, b = _rows(got, cols), _rows(want, cols)
    if a != b:
        extra = next(iter(a - b), None)
        return f"values differ, e.g. {extra}"
    return None


def check_query(oracle_sql: str, got: pd.DataFrame, table_dir: str, tmp_dir: str) -> str | None:
    con = _connect(tmp_dir)
    try:
        for f in os.listdir(table_dir):  # one <table>.parquet per table
            name = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{table_dir}/{f}'")
        want = con.sql(oracle_sql).df()
    finally:
        con.close()
    return compare(got, want)


SONG_COLS = (
    "song_id: 'VARCHAR', title: 'VARCHAR', artist_id: 'VARCHAR', artist_name: 'VARCHAR', "
    "artist_location: 'VARCHAR', artist_latitude: 'DOUBLE', artist_longitude: 'DOUBLE', "
    "year: 'BIGINT', duration: 'DOUBLE', num_songs: 'BIGINT'"
)
LOG_COLS = (
    "artist: 'VARCHAR', auth: 'VARCHAR', firstName: 'VARCHAR', gender: 'VARCHAR', "
    "itemInSession: 'BIGINT', lastName: 'VARCHAR', length: 'DOUBLE', level: 'VARCHAR', "
    "location: 'VARCHAR', method: 'VARCHAR', page: 'VARCHAR', registration: 'DOUBLE', "
    "sessionId: 'BIGINT', song: 'VARCHAR', status: 'BIGINT', ts: 'BIGINT', "
    "userAgent: 'VARCHAR', userId: 'VARCHAR'"
)

#: the five star-schema tables computed straight from the feed (reference
#: etl.py semantics: full-row distinct dims, time keeps duplicates,
#: second-truncated UTC start_time, OR-join on artist name or location)
EXPECTED_SQL = {
    "songs": "SELECT DISTINCT song_id, title, duration, year, artist_id FROM song",
    "artists": """SELECT DISTINCT artist_id, artist_name AS name, artist_location AS location,
                         artist_latitude AS latitude, artist_longitude AS longitude FROM song""",
    "users": """SELECT DISTINCT userId AS user_id, firstName AS first_name,
                       lastName AS last_name, gender, level FROM ev""",
    "time": """SELECT start_time, hour(start_time) AS hour, day(start_time) AS day,
                      weekofyear(start_time) AS week, dayname(start_time) AS weekday,
                      year(start_time) AS year, month(start_time) AS month FROM ev""",
    "songplays": """
        SELECT DISTINCT e.start_time, e.userId AS user_id, e.level, s.song_id, a.artist_id,
               e.sessionId AS session_id, e.location, e.userAgent AS user_agent,
               year(e.start_time) AS year, month(e.start_time) AS month
        FROM ev e
        JOIN (SELECT DISTINCT song_id, title, duration FROM song) s ON e.song = s.title
        LEFT JOIN (SELECT DISTINCT artist_id, artist_name, artist_location FROM song) a
               ON a.artist_name = e.artist OR a.artist_location = e.location""",
}

PARTITIONED = {"songs", "time", "songplays"}


def check_etl(feed_dir: str, out_dir: str, tmp_dir: str) -> str | None:
    con = _connect(tmp_dir)
    try:
        con.sql(
            f"CREATE VIEW song AS SELECT * FROM read_json('{feed_dir}/song_data/*/*/*', "
            f"format = 'newline_delimited', columns = {{{SONG_COLS}}})"
        )
        con.sql(
            f"CREATE VIEW ev AS SELECT *, make_timestamp((ts // 1000) * 1000000) AS start_time "
            f"FROM read_json('{feed_dir}/log_data/*/*', format = 'newline_delimited', "
            f"columns = {{{LOG_COLS}}}) WHERE page = 'NextSong'"
        )
        for table, sql in EXPECTED_SQL.items():
            glob = "*/*/*.parquet" if table in PARTITIONED else "*.parquet"
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{table}/{glob}', hive_partitioning = true)"
            ).df()
            bad = compare(got, con.sql(sql).df())
            if bad:
                return f"{table}: {bad}"
    finally:
        con.close()
    return None

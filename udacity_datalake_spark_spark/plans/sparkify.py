"""The reference's two ETL pipelines (Sparkify star schema), re-expressed
Spark-first: each output table is a pure ``DataFrame → DataFrame`` builder,
composable and unit-testable, with the reference's scale hazards replaced
by hash-join-safe equivalents (SURVEY.md §4.3).

Behavior parity with reference etl.py:23-173, validated against the golden
quirks the committed outputs prove (tests/test_sparkify.py):

- full-row distinct semantics — a level-churn user yields TWO users rows
  (golden users: 104 rows / 96 ids);
- ``time`` keeps duplicate timestamps (golden: 6820 rows / 6813 distinct);
- second-truncated start_time (from_unixtime semantics, etl.py:98-102);
- OR-predicate artist join with left-outer misses → null artist_id
  (golden songplays: 3 of 4 null) — via the decomposed rewrite, not BNLJ;
- weekday as full day name via date_format('EEEE'), not a Python UDF;
- songs partitioned by (year, artist_id); time/songplays by (year, month);
- every table is replaced whole on each run (static partition overwrite,
  the reference's ``mode('overwrite')``), so a rerun into the same output
  equals a fresh run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_datalake_spark_spark.functions.datetime import (
    epoch_ms_to_timestamp_compat,
    time_parts,
)
from udacity_datalake_spark_spark.operators.joins import left_join_or
from udacity_datalake_spark_spark.schemas import SONG_DATA_SCHEMA
from udacity_datalake_spark_spark.sources.writers import write_parquet


def build_songs(song_data: DataFrame) -> DataFrame:
    """songs dim: 5-col projection + distinct (reference etl.py:39-43)."""
    return song_data.select("song_id", "title", "artist_id", "year", "duration").distinct()


def build_artists(song_data: DataFrame) -> DataFrame:
    """artists dim: rename-projection + distinct (reference etl.py:51-59).
    Distinct is on the full tuple — two songs by one artist with different
    lat/long keep both rows, matching the golden output."""
    return song_data.select(
        F.col("artist_id"),
        F.col("artist_name").alias("name"),
        F.col("artist_location").alias("location"),
        F.col("artist_latitude").alias("latitude"),
        F.col("artist_longitude").alias("longitude"),
    ).distinct()


def filter_songplay_events(log_data: DataFrame) -> DataFrame:
    """The page='NextSong' predicate (reference etl.py:81)."""
    return log_data.where(F.col("page") == "NextSong")


def build_users(events: DataFrame) -> DataFrame:
    """users dim (reference etl.py:84-92): full-row distinct, so a user who
    switched level appears once per level — the engine intentionally does
    NOT collapse to one row per user_id."""
    return events.select(
        F.col("userId").alias("user_id"),
        F.col("firstName").alias("first_name"),
        F.col("lastName").alias("last_name"),
        F.col("gender"),
        F.col("level"),
    ).distinct()


def with_start_time(events: DataFrame) -> DataFrame:
    """ts epoch-ms → second-truncated start_time (reference etl.py:98-102
    compat; the exact-ms variant is functions.datetime.epoch_ms_to_timestamp_exact)."""
    return events.withColumn("start_time", epoch_ms_to_timestamp_compat("ts"))


def build_time(events: DataFrame) -> DataFrame:
    """time dim (reference etl.py:115-131): date parts + weekday name.
    NO distinct — duplicate timestamps are retained exactly as the
    reference does (golden: 6820 rows, 6813 distinct start_times)."""
    t = with_start_time(events).select("start_time")
    return time_parts(t, "start_time").select(
        "start_time", "hour", "day", "week", "month", "year", "weekday"
    )


def build_songplays(
    events: DataFrame,
    songs: DataFrame,
    artists: DataFrame,
    time_table: DataFrame,
) -> DataFrame:
    """songplays fact (reference etl.py:139-173):

    J1  events ⋈ songs ON song = title (inner; title-string equi-key);
    J2  ⟕ artists ON name = artist OR location = artist_location —
        executed as the decomposed hash-join rewrite (operators.joins),
        never BroadcastNestedLoopJoin;
    J3  ⟕ time ON start_time (re-attaches year/month; duplicate
        timestamps in time multiply rows and the final distinct collapses
        them — reference semantics preserved);
    then the 8+2-column projection and distinct.

    ``songs`` must be the 3-column read-back shape the reference produces
    via its leaf-dir glob (song_id, title, duration — partition columns
    dropped; SURVEY.md §2.1-S3): artist attribution flows only from the
    artists join, which is why golden rows carry null artist_id.
    """
    ev = with_start_time(events).alias("a")
    j1 = ev.join(songs, ev.song == songs.title, "inner")

    # disjoint-name requirement of the rewrite: log.location stays 'location'
    # (projected as the songplays location, etl.py:165); artist side renamed.
    art = artists.select(
        F.col("artist_id"),
        F.col("name").alias("__artist_name"),
        F.col("location").alias("__artist_location"),
    )
    j2 = left_join_or(
        j1,
        art,
        F.col("artist") == F.col("__artist_name"),
        F.col("location") == F.col("__artist_location"),
    )

    tt = time_table.select(
        F.col("start_time").alias("__t_start"), F.col("year"), F.col("month")
    )
    j3 = j2.join(tt, j2.start_time == tt.__t_start, "left")

    return j3.select(
        F.col("start_time"),
        F.col("userId").alias("user_id"),
        F.col("level"),
        F.col("song_id"),
        F.col("artist_id"),
        F.col("sessionId").alias("session_id"),
        F.col("location"),
        F.col("userAgent").alias("user_agent"),
        F.col("year"),
        F.col("month"),
    ).distinct()


def songs_readback_shape(songs: DataFrame) -> DataFrame:
    """Compat shim for the reference's glob read-back that loses the
    (year, artist_id) partition columns (etl.py:139, SURVEY.md §4.3.4)."""
    return songs.select("song_id", "title", "duration")


SONGS_PARTITIONS = ["year", "artist_id"]


def _write(df: DataFrame, path: str, **kw) -> None:
    """Replace the whole table, as the reference's ``mode('overwrite')``
    does: the session's dynamic partition overwrite would keep every
    partition the new data does not touch."""
    write_parquet(df, path, partition_overwrite_mode="static", **kw)


def read_written(
    spark, like: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> DataFrame:
    """Base-path read of a table written from a frame shaped like ``like``
    with ``partitionBy(*partition_by)``.  The read takes the schema that
    write produced (data columns, then partition columns), so it fires no
    footer-inference job; a file whose types disagree still fails the
    read."""
    fields = {f.name: f for f in like.schema.fields}
    data = [f for f in like.schema.fields if f.name not in partition_by]
    schema = T.StructType(data + [fields[c] for c in partition_by])
    return spark.read.schema(schema).parquet(path)


def process_song_data(spark, song_data: DataFrame, output_dir: str) -> None:
    """Pipeline 1 (reference etl.py:23-62): songs + artists to parquet."""
    _write(build_songs(song_data), f"{output_dir}/songs", partition_by=SONGS_PARTITIONS)
    _write(build_artists(song_data), f"{output_dir}/artists", target_files=1)


def process_log_data(spark, log_data: DataFrame, output_dir: str) -> None:
    """Pipeline 2 (reference etl.py:65-173): users, time, songplays.

    As in the reference, songs/artists are re-read from the parquet that
    ``process_song_data`` just wrote; the reference's read-back shape is
    reproduced by ``songs_readback_shape``.  The read-back takes the
    schema those tables were written with, derived from ``build_songs``
    and ``build_artists`` over an empty song feed, so it fires no
    schema-inference job.
    """
    events = filter_songplay_events(log_data)
    _write(build_users(events), f"{output_dir}/users", target_files=1)

    time_table = build_time(events)
    _write(time_table, f"{output_dir}/time", partition_by=["year", "month"])

    feed = spark.createDataFrame([], SONG_DATA_SCHEMA)
    songs = songs_readback_shape(
        read_written(spark, build_songs(feed), f"{output_dir}/songs", SONGS_PARTITIONS)
    )
    artists = read_written(spark, build_artists(feed), f"{output_dir}/artists")
    songplays = build_songplays(events, songs, artists, time_table)
    _write(songplays, f"{output_dir}/songplays", partition_by=["year", "month"])

"""Golden-quirk regression tests for the ported Sparkify pipelines
(the behaviors the reference's committed outputs prove — SURVEY.md §5)."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F

from udacity_datalake_spark_spark.plans.sparkify import (
    build_artists,
    build_songplays,
    build_songs,
    build_time,
    build_users,
    filter_songplay_events,
    process_log_data,
    process_song_data,
    songs_readback_shape,
)
from udacity_datalake_spark_spark.schemas import LOG_DATA_SCHEMA, SONG_DATA_SCHEMA
from udacity_datalake_spark_spark.sources.readers import read_json_feed, read_table

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


import pytest as _pytest_cache_scope


@_pytest_cache_scope.fixture(autouse=True)
def _scoped_operator_cache(spark):
    """This module exercises operators whose internal persist() is
    documented as caller-clears scope (banded dedup / LSH / invariant
    frames / gate-scalar persists).  Clearing per test honors that
    contract and keeps the conftest module-level persist-leak gate
    meaningful: a NEW operator leak in any module WITHOUT this declared
    scope still fails the suite."""
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def song_data(spark):
    return read_json_feed(spark, f"{FIXTURES}/song_data.json", SONG_DATA_SCHEMA)


@pytest.fixture(scope="module")
def log_data(spark):
    return read_json_feed(spark, f"{FIXTURES}/log_data.json", LOG_DATA_SCHEMA)


def test_songs_distinct_and_columns(song_data):
    songs = build_songs(song_data)
    assert songs.columns == ["song_id", "title", "artist_id", "year", "duration"]
    assert songs.count() == 3  # exact duplicate record collapsed


def test_artists_full_tuple_distinct(song_data):
    artists = build_artists(song_data)
    # AR1 appears twice (different lat/long) — full-row distinct keeps both
    assert artists.count() == 3
    assert artists.where(F.col("artist_id") == "AR1AAAA1187B9XXXX1").count() == 2


def test_users_level_churn_yields_two_rows(log_data):
    users = build_users(filter_songplay_events(log_data))
    assert users.count() == 3  # user 10 free + user 10 paid + user 80 paid
    assert users.select("user_id").distinct().count() == 2
    # userId is a STRING (golden parquet truth, not the README's INTEGER)
    assert dict(users.dtypes)["user_id"] == "string"


def test_time_retains_duplicates_and_truncates_ms(log_data):
    time_table = build_time(filter_songplay_events(log_data))
    assert time_table.count() == 6  # one row per NextSong event, NO distinct
    assert time_table.select("start_time").distinct().count() == 5  # shared ts kept twice
    first = time_table.orderBy("start_time").first()
    # 1541990000123 ms → second-truncated (from_unixtime compat semantics)
    assert first.start_time == datetime.datetime.fromtimestamp(
        1541990000, datetime.timezone.utc
    ).replace(tzinfo=None)
    assert first.weekday == "Monday" and first.year == 2018 and first.month == 11


def test_songplays_golden_quirks(spark, song_data, log_data):
    events = filter_songplay_events(log_data)
    songs = songs_readback_shape(build_songs(song_data))
    artists = build_artists(song_data)
    sp = build_songplays(events, songs, artists, build_time(events)).cache()

    rows = sp.collect()
    assert len(rows) == 4  # only title-matching events survive J1
    by_session_item = {(r.session_id, r.start_time): r for r in rows}
    # name-match → AR1; two identical artist rows collapse via distinct
    assert sp.where(F.col("song_id") == "SOALPHA12AB018XXX1").where(
        F.col("user_id") == "10"
    ).count() == 1
    # location-only match attributes AR2 (OR-join second disjunct)
    ar2 = sp.where(F.col("artist_id") == "AR2BBBB1187B9XXXX2").collect()
    assert len(ar2) == 1 and ar2[0].song_id == "SOALPHA12AB018XXX1"
    # J2 misses → null artist_id (the golden 3-of-4 pattern)
    assert sp.where(F.col("artist_id").isNull()).count() == 2
    # location column is the LOG side value (reference etl.py:165)
    assert {r.location for r in rows} >= {"Portland, ME", "Nowhere, KS"}


def test_songplays_rewrite_equals_direct_or_join(spark, song_data, log_data):
    from udacity_datalake_spark_spark.plans.sparkify import with_start_time

    events = filter_songplay_events(log_data)
    songs = songs_readback_shape(build_songs(song_data))
    artists = build_artists(song_data)
    time_table = build_time(events)

    rewritten = build_songplays(events, songs, artists, time_table)

    # the reference's literal plan (BNLJ OR-join, etl.py:140-169)
    ev = with_start_time(events).alias("a")
    j1 = ev.join(songs, ev.song == songs.title, "inner")
    art = artists.select(
        "artist_id",
        F.col("name").alias("__n"),
        F.col("location").alias("__l"),
    )
    j2 = j1.join(art, (F.col("artist") == F.col("__n")) | (F.col("location") == F.col("__l")), "left")
    tt = time_table.select(F.col("start_time").alias("__ts"), "year", "month")
    direct = (
        j2.join(tt, F.col("start_time") == F.col("__ts"), "left")
        .select(
            "start_time",
            F.col("userId").alias("user_id"),
            "level",
            "song_id",
            "artist_id",
            F.col("sessionId").alias("session_id"),
            "location",
            F.col("userAgent").alias("user_agent"),
            "year",
            "month",
        )
        .distinct()
    )
    key = lambda r: tuple(str(x) for x in r)
    assert sorted(map(key, rewritten.collect())) == sorted(map(key, direct.collect()))


def test_end_to_end_partitioned_layout(spark, song_data, log_data, tmp_path):
    out = str(tmp_path / "lake")
    process_song_data(spark, song_data, out)
    process_log_data(spark, log_data, out)

    assert os.path.isdir(f"{out}/songs/year=0")  # unknown-year sentinel partition
    assert os.path.isdir(f"{out}/songplays/year=2018/month=11")
    assert os.path.isdir(f"{out}/time/year=2018/month=11")

    # partition columns recovered on base-path read; dropped by the compat shim
    songs_back = spark.read.parquet(f"{out}/songs")
    assert set(songs_back.columns) == {"song_id", "title", "duration", "year", "artist_id"}
    assert songs_readback_shape(songs_back).columns == ["song_id", "title", "duration"]

    sp = spark.read.parquet(f"{out}/songplays")
    assert sp.count() == 4
    assert sp.where(F.col("artist_id").isNull()).count() == 2


def test_etl_cli_end_to_end(spark, tmp_path):
    """The spark-submit entry (etl_cli.run_etl) reproduces the reference's
    CLI pipeline (reference etl.py:176-199): JSON feeds in the reference
    layout → full star schema as partitioned parquet."""
    import shutil

    from udacity_datalake_spark_spark.etl_cli import run_etl

    inp = tmp_path / "input"
    (inp / "song_data" / "A" / "B").mkdir(parents=True)
    (inp / "log_data" / "2018").mkdir(parents=True)
    shutil.copy(f"{FIXTURES}/song_data.json", inp / "song_data" / "A" / "B" / "songs.json")
    shutil.copy(f"{FIXTURES}/log_data.json", inp / "log_data" / "2018" / "events.json")
    out = str(tmp_path / "lake")

    run_etl(spark, str(inp), out)

    songs = spark.read.parquet(f"{out}/songs")
    users = spark.read.parquet(f"{out}/users")
    songplays = spark.read.parquet(f"{out}/songplays")
    assert songs.count() == 3 and users.count() == 3
    # partitioned layout: partition columns recovered via discovery
    assert {"year", "artist_id"} <= set(songs.columns)
    assert {"year", "month"} <= set(songplays.columns)
    assert spark.read.parquet(f"{out}/artists").count() == 3
    assert spark.read.parquet(f"{out}/time").count() > 0


def test_read_json_feed_infer_schema_compat(spark):
    """infer_schema=True reproduces the reference's inference-driven read
    (reference etl.py:36,78): ids/numerics land as whatever inference
    guesses (strings stay strings, ints widen to long) instead of the
    engine's explicit types — a bug-for-bug compat flag, not a default."""
    import pytest

    inferred = read_json_feed(spark, f"{FIXTURES}/log_data.json", infer_schema=True)
    explicit = read_json_feed(spark, f"{FIXTURES}/log_data.json", LOG_DATA_SCHEMA)
    # inference sees the numeric-looking userId strings as strings — the
    # reference's famous quirk — and widens JSON integers to long
    assert dict(inferred.dtypes)["userId"] == "string"
    assert dict(inferred.dtypes)["status"] == "bigint"
    assert inferred.count() == explicit.count()
    with pytest.raises(ValueError):
        read_json_feed(spark, f"{FIXTURES}/log_data.json")


STAR_TABLES = ("songs", "artists", "users", "time", "songplays")


def _read_tables(spark, out):
    return {t: spark.read.parquet(f"{out}/{t}") for t in STAR_TABLES}


def test_etl_rerun_equals_fresh_run(spark, tmp_path):
    """Every table is replaced whole (reference etl.py:46-48,62,95,134,171
    ``mode('overwrite')``): a run of seed 2 over seed 1's output equals a
    fresh seed-2 run.  Under the session's dynamic partition overwrite the
    rerun kept seed 1's songs and songplays partitions (142 vs 71 songs)."""
    from perfbench import gen

    from udacity_datalake_spark_spark.etl_cli import run_etl

    for seed in (1, 2):
        gen.make_feed(str(tmp_path / f"feed{seed}"), seed, 1)
    rerun, fresh = str(tmp_path / "rerun"), str(tmp_path / "fresh")
    run_etl(spark, str(tmp_path / "feed1"), rerun)
    run_etl(spark, str(tmp_path / "feed2"), rerun)
    run_etl(spark, str(tmp_path / "feed2"), fresh)

    got, want = _read_tables(spark, rerun), _read_tables(spark, fresh)
    for t in STAR_TABLES:
        assert got[t].count() == want[t].count(), t
        assert got[t].exceptAll(want[t]).count() == 0, t
        assert want[t].exceptAll(got[t]).count() == 0, t
    assert want["songs"].count() == gen.GOLDEN["songs"]


def _listing_tasks(sc, group):
    """Tasks of each file-listing job in ``group`` (Spark describes the
    job it runs to list more than 32 paths as "Listing leaf files ...")."""
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    tasks = {}
    for job in st.getJobIdsForGroup(group):
        desc = store.job(job).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            tasks[job] = sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(job).stageIds)
    return tasks


def test_run_etl_job_shape(spark, tmp_path, monkeypatch):
    """Fixed costs of one ``run_etl`` over a 40-file song feed, one file
    per directory, counted from the status store under a job group:

    - the feed listing (more than 32 paths, so Spark lists them with a
      job) runs at most one task per shuffle partition, not one per file;
    - the songs/artists read-back takes the written schema and fires no
      footer-inference job;
    - each songs partition directory holds one parquet file."""
    import json
    import uuid

    from pyspark.sql.readwriter import DataFrameReader

    from udacity_datalake_spark_spark.etl_cli import run_etl

    n_songs = 40
    inp = tmp_path / "input"
    for k in range(n_songs):
        d = inp / "song_data" / "A" / f"B{k:02d}"
        d.mkdir(parents=True)
        song = {
            "song_id": f"SO{k:016d}", "title": f"Song {k}", "artist_id": f"AR{k:016d}",
            "artist_name": f"Artist {k}", "artist_location": "", "artist_latitude": None,
            "artist_longitude": None, "year": 1990 + k % 7, "duration": 200.0 + k,
            "num_songs": 1,
        }
        (d / f"TR{k:04d}.json").write_text(json.dumps(song) + "\n")
    (inp / "log_data" / "2018").mkdir(parents=True)
    shutil.copy(f"{FIXTURES}/log_data.json", inp / "log_data" / "2018" / "events.json")
    out = str(tmp_path / "lake")

    sc = spark.sparkContext
    group, readback = f"etl-shape-{uuid.uuid4().hex}", f"etl-readback-{uuid.uuid4().hex}"
    parquet_reads = []
    read_parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        parquet_reads.append(paths)
        sc.setJobGroup(readback, "songs/artists read-back")
        try:
            return read_parquet(self, *paths, **options)
        finally:
            sc.setJobGroup(group, "run_etl")

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    sc.setJobGroup(group, "run_etl")
    try:
        run_etl(spark, str(inp), out)
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    listing = _listing_tasks(sc, group)
    assert len(listing) == 1 and max(listing.values()) <= n_shuffle, listing
    assert [p[0].rsplit("/", 1)[-1] for p in parquet_reads] == ["songs", "artists"]
    assert sc.statusTracker().getJobIdsForGroup(readback) == []

    leaves = [(d, fs) for d, sub, fs in os.walk(f"{out}/songs") if not sub]
    assert len(leaves) == n_songs
    for d, fs in leaves:
        assert len([f for f in fs if f.endswith(".parquet")]) == 1, d


def test_readback_type_mismatch_fails_loudly(spark, song_data, log_data, tmp_path):
    """The read-back takes the schema the songs/artists builders produce,
    so an ``artists`` table whose ``artist_id`` was written as a long fails
    the songplays build instead of flowing into songplays as a long."""
    out = str(tmp_path / "lake")
    process_song_data(spark, song_data, out)
    bad = build_artists(song_data).withColumn("artist_id", F.lit(7).cast("long"))
    bad.write.mode("overwrite").parquet(f"{out}/artists")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        process_log_data(spark, log_data, out)


def test_read_table_type_drift_fails_loudly(spark, tmp_path):
    """``read_table`` reads with the declared ``TESTDATA_SCHEMAS`` types,
    so an ``events`` table whose ``user_id`` was written as a string fails
    the scan instead of coming back as a string, a narrower int still
    widens to the declared long, and a column the table does not declare
    raises before any read."""
    d = str(tmp_path)

    def plant(ddl, row):
        spark.createDataFrame([row], ddl).write.mode("overwrite").parquet(f"{d}/events.parquet")
        return read_table(spark, d, "events")

    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        plant("event_id long, user_id string", (1, "7")).collect()
    widened = plant("event_id long, user_id int", (1, 7))
    assert widened.dtypes == [("event_id", "bigint"), ("user_id", "bigint")]
    assert [tuple(r) for r in widened.collect()] == [(1, 7)]
    with pytest.raises(ValueError, match="'events'.*'extra'"):
        plant("event_id long, user_id long, extra int", (1, 7, 0))

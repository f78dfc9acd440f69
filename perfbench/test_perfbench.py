"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests cover the generators, the span accounting and the output
checks.  The ``traced`` tests start real benchmark runs (about a minute
each) and show that per-layer counts repeat exactly for one seed, and
that a second seed changes the ETL feed and nothing else.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Span, self_times  # noqa: E402



def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_feed_is_a_function_of_the_seed(tmp_path):
    gen.make_feed(str(tmp_path / "a"), 1, 1)
    gen.make_feed(str(tmp_path / "b"), 1, 1)
    gen.make_feed(str(tmp_path / "c"), 2, 1)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_query_table_ignores_the_run_seed(tmp_path):
    import workloads

    for seed in (1, 2):
        workloads.WORKLOADS["curation_build"](str(tmp_path / str(seed)), seed).prepare()
    assert _same_tree(str(tmp_path / "1" / "tables"), str(tmp_path / "2" / "tables"))


def test_feed_covers_the_fixture_edge_cases(tmp_path):
    gen.make_feed(str(tmp_path), 3, 1)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW song AS SELECT * FROM read_json('{tmp_path}/song_data/*/*/*', "
        f"format = 'newline_delimited', columns = {{{checks.SONG_COLS}}})"
    )
    con.sql(
        f"CREATE VIEW log AS SELECT * FROM read_json('{tmp_path}/log_data/*/*', "
        f"format = 'newline_delimited', columns = {{{checks.LOG_COLS}}})"
    )
    one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
    assert one("SELECT count(*) - count(DISTINCT song) FROM song") > 0  # duplicate records
    assert one("SELECT count(*) FROM song WHERE year = 0") > 0
    assert one("SELECT count(*) FROM song WHERE artist_latitude IS NULL") > 0
    assert one("SELECT count(*) FROM song WHERE artist_location = ''") > 0
    assert one(
        "SELECT count(*) FROM (SELECT artist_id FROM song "
        "GROUP BY 1 HAVING count(DISTINCT artist_latitude) > 1)"
    ) > 0  # one artist, two coordinate tuples
    assert one(
        "SELECT count(*) FROM (SELECT userId FROM log WHERE page = 'NextSong' "
        "GROUP BY 1 HAVING count(DISTINCT level) > 1)"
    ) > 0  # level churn
    assert one("SELECT count(*) FROM log WHERE page <> 'NextSong'") > 0
    assert one("SELECT count(*) - count(DISTINCT ts // 1000) FROM log WHERE page = 'NextSong'") > 0
    assert one(
        "SELECT count(*) FROM log l JOIN (SELECT DISTINCT title, artist_name, artist_location "
        "FROM song) s ON l.song = s.title AND l.artist <> s.artist_name "
        "AND l.location = s.artist_location"
    ) > 0  # location-only OR-join match
    assert one(
        "SELECT count(*) FROM log l WHERE page = 'NextSong' "
        "AND song NOT IN (SELECT title FROM song)"
    ) > 0  # unmatched songs
    assert one(
        "SELECT count(*) FROM log l JOIN song s ON l.song = s.title AND l.artist = s.artist_name"
    ) > 0  # title and artist match
    assert one(
        "SELECT count(*) FROM log WHERE song IN (SELECT title FROM song) "
        "AND artist NOT IN (SELECT artist_name FROM song) "
        "AND location NOT IN (SELECT artist_location FROM song)"
    ) > 0  # title match, no artist match: NULL artist_id
    # title matches are as rare as in the reference's sample: 4 in 6,820
    n_next = one("SELECT count(*) FROM log WHERE page = 'NextSong'")
    matched = one(
        "SELECT count(*) FROM log WHERE page = 'NextSong' AND song IN (SELECT title FROM song)"
    )
    assert matched == max(4, round(n_next * 4 / 6820))


def test_self_times_account_for_the_wall():
    root = Span(0, "driver.op", None, "q", 0.0, 10.0)
    build = Span(1, "plans.build", 0, "q", 1.0, 5.0, job_s=2.5)
    release = Span(2, "scratch.release", 1, "q", 1.0, 1.5)
    sink = Span(3, "driver.sink", 0, "q", 6.0, 9.0, job_s=2.0)
    got = self_times([root, build, release, sink])
    assert got == pytest.approx(
        {"driver": 3.0 + 1.0, "plans": 1.0, "scratch": 0.5, "exec": 4.5}
    )
    assert sum(got.values()) == pytest.approx(root.dur)


def test_compare_is_order_insensitive_and_exact():
    a = pd.DataFrame({"k": [1, 2, None], "v": [0.5, float("nan"), 2.0]})
    assert checks.compare(a.iloc[::-1], a[["v", "k"]]) is None
    b = a.copy()
    b.loc[0, "v"] = 0.5000000001
    assert checks.compare(a, b)
    assert checks.compare(a, a.iloc[:2])
    assert checks.compare(a, a.rename(columns={"v": "w"}))


def test_etl_check_catches_a_wrong_table(tmp_path):
    """Write the expected tables with DuckDB (the layout the ETL writes),
    then break one row: the check must pass before and fail after."""
    feed, out = str(tmp_path / "feed"), str(tmp_path / "out")
    gen.make_feed(feed, 4, 1)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW song AS SELECT * FROM read_json('{feed}/song_data/*/*/*', "
        f"format = 'newline_delimited', columns = {{{checks.SONG_COLS}}})"
    )
    con.sql(
        f"CREATE VIEW ev AS SELECT *, make_timestamp((ts // 1000) * 1000000) AS start_time "
        f"FROM read_json('{feed}/log_data/*/*', format = 'newline_delimited', "
        f"columns = {{{checks.LOG_COLS}}}) WHERE page = 'NextSong'"
    )
    parts = {"songs": "year, artist_id", "time": "year, month", "songplays": "year, month"}
    os.makedirs(out)
    for table, sql in checks.EXPECTED_SQL.items():
        if table in parts:
            con.sql(
                f"COPY ({sql}) TO '{out}/{table}' (FORMAT parquet, PARTITION_BY ({parts[table]}))"
            )
        else:
            os.makedirs(f"{out}/{table}")
            con.sql(f"COPY ({sql}) TO '{out}/{table}/part-0.parquet' (FORMAT parquet)")
    assert checks.check_etl(feed, out, str(tmp_path)) is None
    con.sql(
        f"COPY (SELECT user_id, first_name, 'x' AS last_name, gender, level FROM "
        f"'{out}/users/part-0.parquet') TO '{out}/users/part-1.parquet' (FORMAT parquet)"
    )
    os.remove(f"{out}/users/part-0.parquet")
    assert "users" in checks.check_etl(feed, out, str(tmp_path))


#: per-layer counts that must repeat exactly for one seed
COUNTS = [
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "writers.files", "writers.dirs", "plans.jobs_at_build",
    "plan.exchanges", "sparkify.rows_out", "readers.rows_read",
]


#: per-layer self times; with the job time they add up to the op walls
SELF_TIMES = [
    "readers.self_s", "sparkify.self_s", "writers.self_s", "plans.self_s", "plan.plan_s",
    "scratch.release_s", "exec.exec_s", "driver.other_s",
]


def _traced(workload: str, seed: int, cwd: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=900, cwd=cwd,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["etl_star", "curation_build"])
def test_traced_counts_repeat_and_seed_changes_only_the_feed(workload, tmp_path):
    cwd = os.path.dirname(HERE)
    a, b, c = (_traced(workload, s, cwd) for s in (11, 11, 12))
    assert {k: a[k] for k in COUNTS} == {k: b[k] for k in COUNTS}
    for m in (a, b, c):
        parts = sum(m[k] for k in SELF_TIMES)
        assert parts == pytest.approx(m["trace.pass_s"], rel=0.02, abs=0.02)
    if workload == "etl_star":  # another feed: other bytes, same shape
        assert a["writers.bytes"] != c["writers.bytes"]
        assert a["readers.bytes_read"] != c["readers.bytes_read"]
    else:  # the query table does not depend on the seed
        assert {k: a[k] for k in COUNTS} == {k: c[k] for k in COUNTS}

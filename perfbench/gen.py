"""Seeded input generators for the benchmark.

Two kinds of input, both written under a directory the caller owns:

- ``make_corpus``: the ``documents`` table the dedup queries read, with
  the schema and value domains of the engine's test table.
- ``make_feed``: a Sparkify JSON feed (``song_data/*/*/*`` and
  ``log_data/*/*``) shaped like the reference's local sample, scaled,
  and covering every edge case FIXTURES.md §1-2 lists:
  duplicate records, level churn, ``year=0``, NULL lat/long, empty
  locations, location-only OR-join matches, unmatched songs and
  non-NextSong pages.

Both are pure functions of their arguments: the same seed writes the
same bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def make_corpus(out_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` (the engine's test-table schema): word
    texts of 10-100 tokens, 5 % near-duplicates of an earlier text (plus
    " dup") and a few exact duplicates, so dedup has clusters to find."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "de", "es", "fr", "zh", "en"])
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def _alnum(rng: np.random.Generator, n: int) -> str:
    chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    return "".join(chars[i] for i in rng.integers(0, len(chars), n))


#: the reference's local sample, which produced its committed golden
#: outputs (SURVEY.md §5, FIXTURES.md §1-2): 71 songs by 69 artists over
#: 21 ``year`` partitions (``year=0`` among them); 8,056 log events, of
#: which 6,820 are NextSong pages, all in November 2018; 96 users, 8 of
#: whom switch level (104 ``users`` rows); and 4 songplays, 3 of them
#: with a NULL ``artist_id``
GOLDEN = {"songs": 71, "artists": 69, "years": 21, "events": 8056, "next_song": 6820,
          "users": 96, "level_switchers": 8, "songplays": 4}


def make_feed(out_dir: str, seed: int, scale: int) -> None:
    """Write a Sparkify feed under ``out_dir``, shaped like the reference's
    local sample (``GOLDEN``) with every count times ``scale``.

    Song ``s`` is by artist ``s % n_artists``, so nearly every song has an
    artist of its own and the ``songs`` table has about one partition
    directory per song.  NextSong events whose title matches a song are
    as rare as in the sample (4 in 6,820, at least 4), spread evenly and
    cycling through the OR-join's cases: title and artist match, no
    artist match (NULL ``artist_id``), location-only match.
    """
    g = GOLDEN
    n_songs, n_artists, n_users = g["songs"] * scale, g["artists"] * scale, g["users"] * scale
    n_events = g["events"] * scale
    rng = np.random.default_rng(seed)
    artists = []
    for a in range(n_artists):
        loc = "" if a % 17 == 0 else f"City{a % 23}, ST{a % 7}"
        lat = lon = None
        if a % 5:
            lat, lon = round(rng.uniform(-60, 60), 4), round(rng.uniform(-150, 150), 4)
        artists.append({
            "artist_id": f"AR{_alnum(rng, 16)}",
            "artist_name": f"Artist {a}",
            "artist_location": loc,
            "artist_latitude": lat,
            "artist_longitude": lon,
        })
    years = [0] + [1961 + round(y * 47 / (g["years"] - 2)) for y in range(g["years"] - 1)]
    songs = []
    for s in range(n_songs):
        art = dict(artists[s % n_artists])
        if s >= n_artists and art["artist_latitude"] is not None:
            # same artist, different coordinates: artists keeps both tuples
            art["artist_latitude"] = round(art["artist_latitude"] + 1.0, 4)
        songs.append({
            "song_id": f"SO{_alnum(rng, 16)}",
            "title": f"Song {s}",
            **art,
            "year": years[int(rng.integers(0, len(years)))],
            "duration": round(float(rng.uniform(60, 600)), 5),
            "num_songs": 1,
        })
    songs += [dict(songs[int(i)]) for i in rng.integers(0, n_songs, max(1, n_songs // 50))]
    located = [s for s in songs if s["artist_location"]]

    users = []
    for u in range(n_users):
        users.append({
            "userId": str(u + 2),
            "firstName": f"First{u}",
            "lastName": f"Last{u}",
            "gender": "MF"[u % 2],
            "level": "free" if rng.random() < 0.6 else "paid",
        })
    switch_every = g["users"] // g["level_switchers"]  # every 12th user switches
    t0 = int(datetime(2018, 11, 1, tzinfo=timezone.utc).timestamp() * 1000)
    span_ms = 30 * 86_400 * 1000
    ts = np.sort(rng.integers(t0, t0 + span_ms, n_events))
    next_song = rng.random(n_events) < g["next_song"] / g["events"]
    n_next = int(next_song.sum())
    n_match = max(4, round(n_next * g["songplays"] / g["next_song"]))
    match_at = {int(k): j for j, k in enumerate(np.linspace(0, n_next - 1, n_match).round())}
    events, k_next = [], 0
    for i in range(n_events):
        ui = int(rng.integers(0, n_users))
        u = users[ui]
        level = u["level"]
        if ui % switch_every == 0 and i >= n_events // 2:  # level churn: two users rows
            level = "paid" if level == "free" else "free"
        page = "NextSong" if next_song[i] else ("Home", "Login", "Logout")[int(rng.integers(0, 3))]
        song = songs[int(rng.integers(0, len(songs)))]
        kind = None
        if next_song[i]:
            j = match_at.get(k_next)
            k_next += 1
            if j is not None:
                kind = ("both", "none", "location", "none")[j % 4]
        if kind == "both":  # title and artist both match
            song_title, artist, location = song["title"], song["artist_name"], f"Town{i % 40}"
        elif kind == "location":  # title matches, artist only via location (OR-join arm 2)
            song = located[int(rng.integers(0, len(located)))]
            song_title, artist, location = song["title"], "Unknown Band", song["artist_location"]
        elif kind == "none":  # title matches, no artist match: NULL artist_id
            song_title, artist, location = song["title"], "Unknown Band", "Nowhere"
        else:  # no song match: dropped by the inner join
            song_title, artist, location = f"Other {i % 997}", f"Band {i % 89}", f"Town{i % 40}"
        # a few events share a timestamp (the sample's time table has duplicates)
        ev_ts = int(ts[i - 1]) if i % 1000 == 1 else int(ts[i])
        events.append({
            "artist": artist if page == "NextSong" else None,
            "auth": "Logged In",
            "firstName": u["firstName"] if page != "Logout" else None,
            "gender": u["gender"] if page != "Logout" else None,
            "itemInSession": i % 50,
            "lastName": u["lastName"] if page != "Logout" else None,
            "length": song["duration"] if page == "NextSong" else None,
            "level": level,
            "location": location,
            "method": "PUT" if page == "NextSong" else "GET",
            "page": page,
            "registration": 1.5e12,
            "sessionId": int(i // 25),
            "song": song_title if page == "NextSong" else None,
            "status": 200,
            "ts": ev_ts,
            "userAgent": '"Mozilla/5.0 (X11; Linux x86_64)"',
            "userId": u["userId"] if page != "Logout" else "",
        })

    for k, song in enumerate(songs):  # one song per file, as in the sample
        d = os.path.join(out_dir, "song_data", "A", chr(65 + k % 26))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"TR{k:06d}.json"), "w") as f:
            f.write(json.dumps(song) + "\n")
    log_dir = os.path.join(out_dir, "log_data", "2018")
    os.makedirs(log_dir, exist_ok=True)
    for k in range(0, n_events, 5000):
        with open(os.path.join(log_dir, f"events{k // 5000:04d}.json"), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events[k : k + 5000])

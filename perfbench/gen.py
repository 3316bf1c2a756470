"""Seeded generator for reference-shaped KPI pipeline inputs.

Writes three CSV inputs shaped like the reference's S3/Postgres data
(``users``, ``songs``, and N ``streams`` files) from one seed. The
program under test only ever sees the written files. The same seed and
sizes give byte-identical files.

Fitted to the reference sample (SURVEY.md section 1.1): 50,000 users,
6 countries with 98% in one, ages 18-69, accounts created during 2024,
and stream files of 11,346 plays each with about 10,650 distinct tracks
and 9,000 distinct users. Track and user popularity are Zipf, with the
exponents fitted to those two distinct counts (``TRACK_ZIPF``,
``USER_ZIPF``). The reference's songs file is missing, so the catalogue
size, genre and artist shapes and the shares below are assumptions,
each chosen so that a KPI code path runs:

- 100,000 songs: the smallest round catalogue on which 11,346 plays
  can hit 10,650 distinct tracks and still be skewed (a uniform draw
  needs about 89,000);
- genre popularity Zipf over 40 genres and artist catalogue sizes Zipf
  over 3,000 artists, so groups differ in size;
- track names drawn from a pool smaller than the catalogue, so the
  ``most_popular_track`` mode groups different tracks under one name;
- 2% of songs have no genre (dropped from ``genre_kpis``) and 1% of
  plays are of tracks missing from ``songs`` (left-join misses);
- event time advances file by file, and ``LATE_SHARE`` of each file's
  events belongs to the last half hour of the previous file's span:
  late, but inside a one-hour watermark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# measured on the reference sample
N_USERS = 50_000
EVENTS_PER_FILE = 11_346
HOME_COUNTRY_SHARE = 0.98
# six countries are measured; only the first one's name is known
COUNTRIES = ["United States", "Canada", "United Kingdom", "Germany", "France", "Australia"]
AGE_RANGE = (18, 69)
CREATED = (np.datetime64("2024-01-01"), np.datetime64("2024-12-30"))
T0 = np.datetime64("2024-06-25T00:00:00", "s")  # the sample's day of plays
# fitted: expected distinct tracks (users) in EVENTS_PER_FILE draws is
# about 10,650 (9,000), as measured per reference file
TRACK_ZIPF = 0.26
USER_ZIPF = 0.56
# assumptions (see the module docstring)
N_SONGS = 100_000
N_GENRES = 40
GENRE_ZIPF = 1.1
N_ARTISTS = 3_000
ARTIST_ZIPF = 0.9
TRACK_NAME_POOL = 2 / 5
NULL_GENRE_SHARE = 0.02
UNKNOWN_TRACK_SHARE = 0.01
LATE_SHARE = 0.05
LATE_WINDOW_S = 30 * 60
_B62 = np.frombuffer(b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", "S1")
_WRITE = pacsv.WriteOptions(quoting_style="needed")
# size of the seeded registry tables (generate_tables)
N_ORDERS = 20_000


@dataclass
class Inputs:
    """Paths and stated properties of one generated input set."""

    users_csv: str
    songs_csv: str
    stream_files: list[str]
    meta: dict


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _ids(rng: np.random.Generator, n: int, width: int = 22) -> np.ndarray:
    """n distinct Spotify-style base62 ids."""
    chars = _B62[rng.integers(0, len(_B62), size=(n, width))]
    ids = chars.view(f"S{width}").ravel().astype(f"U{width}")
    # 62^22 ids: a repeat would mean a broken generator, not bad luck
    if len(np.unique(ids)) != n:
        raise RuntimeError("repeated track id")
    return ids


def _write(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path, _WRITE)


def _shuffled_zipf_p(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    """Zipf probabilities in random rank order, so ids carry no
    popularity signal."""
    return _zipf_p(n, s)[rng.permutation(n)]


def _distinct_per_file(files: list[pa.Table], col: str) -> float:
    return float(np.mean([len(t[col].unique()) for t in files]))


def generate(seed: int, out_dir: str, n_files: int, hours_per_file: int) -> Inputs:
    """Write users.csv, songs.csv and streams/streams_NNN.csv under
    ``out_dir`` and return their paths. Each stream file spans
    ``hours_per_file`` hours of event time after the previous one."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(out_dir, "streams"), exist_ok=True)

    # users
    home = rng.random(N_USERS) < HOME_COUNTRY_SHARE
    others = np.array(COUNTRIES[1:])[rng.integers(0, len(COUNTRIES) - 1, N_USERS)]
    days = int((CREATED[1] - CREATED[0]).astype(int)) + 1
    users = pa.table(
        {
            "user_id": pa.array(np.arange(1, N_USERS + 1, dtype=np.int32)),
            "user_name": pa.array([f"user_{i}" for i in range(1, N_USERS + 1)]),
            "user_age": pa.array(
                rng.integers(AGE_RANGE[0], AGE_RANGE[1] + 1, N_USERS).astype(np.int32)
            ),
            "user_country": pa.array(np.where(home, COUNTRIES[0], others)),
            "created_at": pa.array(CREATED[0] + rng.integers(0, days, N_USERS)),
        }
    )
    users_csv = os.path.join(out_dir, "users.csv")
    _write(users, users_csv)

    # songs
    track_ids = _ids(rng, N_SONGS + int(N_SONGS * UNKNOWN_TRACK_SHARE))
    known, unknown = track_ids[:N_SONGS], track_ids[N_SONGS:]
    genre_names = np.array([f"genre_{g:02d}" for g in range(N_GENRES)])
    genre = genre_names[rng.choice(N_GENRES, N_SONGS, p=_zipf_p(N_GENRES, GENRE_ZIPF))]
    artist = rng.choice(N_ARTISTS, N_SONGS, p=_zipf_p(N_ARTISTS, ARTIST_ZIPF))
    name_pool = int(N_SONGS * TRACK_NAME_POOL)
    songs = pa.table(
        {
            "id": pa.array(np.arange(N_SONGS, dtype=np.int32)),
            "track_id": pa.array(known),
            "artists": pa.array([f"Artist {a:04d}" for a in artist]),
            "album_name": pa.array([f"Album {a:04d}-{i % 7}" for i, a in enumerate(artist)]),
            "track_name": pa.array(
                [f"Track {t:05d}" for t in rng.integers(0, name_pool, N_SONGS)]
            ),
            "track_genre": pa.array(genre, mask=rng.random(N_SONGS) < NULL_GENRE_SHARE),
            "duration_ms": pa.array(rng.integers(90_000, 420_001, N_SONGS).astype(np.int32)),
        }
    )
    songs_csv = os.path.join(out_dir, "songs.csv")
    _write(songs, songs_csv)

    # streams: per-file advancing event time plus a late share
    track_p = _shuffled_zipf_p(rng, N_SONGS, TRACK_ZIPF)
    user_p = _shuffled_zipf_p(rng, N_USERS, USER_ZIPF)
    span = hours_per_file * 3600
    n = EVENTS_PER_FILE
    files, tables = [], []
    for k in range(n_files):
        tracks = known[rng.choice(N_SONGS, n, p=track_p)]
        miss = rng.random(n) < UNKNOWN_TRACK_SHARE
        tracks[miss] = unknown[rng.integers(0, len(unknown), int(miss.sum()))]
        offs = rng.integers(0, span, n)
        if k > 0:
            late = rng.random(n) < LATE_SHARE
            offs[late] = -rng.integers(1, LATE_WINDOW_S + 1, int(late.sum()))
        ts = T0 + np.int64(k * span) + offs
        t = pa.table(
            {
                "user_id": pa.array((rng.choice(N_USERS, n, p=user_p) + 1).astype(np.int32)),
                "track_id": pa.array(tracks),
                "listen_time": pa.array(ts.astype("datetime64[s]")).cast(pa.string()),
            }
        )
        path = os.path.join(out_dir, "streams", f"streams_{k:03d}.csv")
        _write(t, path)
        files.append(path)
        tables.append(t)

    return Inputs(
        users_csv,
        songs_csv,
        files,
        meta={
            "seed": seed,
            "users": N_USERS,
            "songs": N_SONGS,
            "files": n_files,
            "events": n_files * n,
            "hours_per_file": hours_per_file,
            "distinct_tracks_per_file": _distinct_per_file(tables, "track_id"),
            "distinct_users_per_file": _distinct_per_file(tables, "user_id"),
        },
    )


def generate_tables(seed: int, out_dir: str) -> str:
    """Write seeded lineitem/orders/customer/events parquet tables with
    the testdata column names and types the registry keys
    ``genre_kpis``, ``hourly_kpis`` and ``agg_topk_by_freq`` read
    (only those columns). Returns the table directory."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = N_ORDERS // 10
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    day_us = np.int64(86_400_000_000)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, N_ORDERS).astype(np.int64)),
        "o_orderpriority": pa.array(priorities[rng.integers(0, 5, N_ORDERS)]),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines.sum())
    write("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(1, N_ORDERS + 1, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(1, 20_001, n_lines).astype(np.int64)),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n_lines) / 100.0),
        "l_shipdate": pa.array(day0 + rng.integers(0, 120, n_lines) * day_us),
    })
    n_events = N_ORDERS * 2
    types = np.array(["view", "click", "add_to_cart", "purchase", "share", "search"])
    write("events", {
        "event_id": pa.array(np.arange(1, n_events + 1, dtype=np.int64)),
        "ts": pa.array(day0 + rng.integers(0, 30 * day_us, n_events)),
        "user_id": pa.array(rng.integers(1, n_events // 5 + 1, n_events).astype(np.int64)),
        "event_type": pa.array(types[rng.choice(6, n_events, p=_zipf_p(6, 1.2))]),
    })
    return out_dir

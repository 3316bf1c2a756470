"""Independent DuckDB recomputation of the KPI outputs.

Each check reads the generated input CSVs with DuckDB (never through
Spark), recomputes the expected rows, and compares them with what the
program wrote. Checks are untimed; every mismatch is returned as a
message and counted as a failed operation.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

_STREAMS = "{'user_id': 'INTEGER', 'track_id': 'VARCHAR', 'listen_time': 'TIMESTAMP'}"
_SONGS = (
    "{'id': 'INTEGER', 'track_id': 'VARCHAR', 'artists': 'VARCHAR', "
    "'album_name': 'VARCHAR', 'track_name': 'VARCHAR', 'track_genre': 'VARCHAR', "
    "'duration_ms': 'INTEGER'}"
)
# approx_count_distinct's default (relativeSD 0.05) keeps 2^9 HLL++
# registers: standard error 1.04 / sqrt(512)
HLL_RSD = 1.04 / math.sqrt(512)


def _connect(stream_files: list[str], songs_csv: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        f"CREATE VIEW streams AS SELECT * FROM read_csv({list(stream_files)!r}, "
        f"header = true, columns = {_STREAMS})"
    )
    con.execute(
        f"CREATE VIEW songs AS SELECT * FROM read_csv('{songs_csv}', "
        f"header = true, columns = {_SONGS})"
    )
    con.execute(
        "CREATE VIEW merged AS SELECT s.user_id, s.track_id, s.listen_time, "
        "g.track_name, g.track_genre, g.duration_ms, g.artists "
        "FROM streams s LEFT JOIN songs g USING (track_id)"
    )
    return con


_GENRE_SQL = """
WITH base AS (
  SELECT *, CAST(listen_time AS DATE) AS date FROM merged WHERE track_genre IS NOT NULL
), agg AS (
  SELECT track_genre, date, count(track_id) AS listen_count,
         avg(duration_ms) AS avg_track_duration
  FROM base GROUP BY track_genre, date
), mode AS (
  SELECT track_genre, date, track_name FROM (
    SELECT track_genre, date, track_name,
           row_number() OVER (PARTITION BY track_genre, date
                              ORDER BY count(*) DESC, track_name ASC) AS rn
    FROM base WHERE track_name IS NOT NULL GROUP BY track_genre, date, track_name
  ) WHERE rn = 1
)
SELECT agg.*, mode.track_name AS most_popular_track
FROM agg LEFT JOIN mode USING (track_genre, date)
"""

_HOURLY_SQL = """
WITH base AS (SELECT *, hour(listen_time) AS hour FROM merged),
stats AS (
  SELECT hour, count(DISTINCT user_id) AS unique_listeners,
         CAST(count(DISTINCT track_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS track_diversity_index
  FROM base GROUP BY hour
), top AS (
  SELECT hour, list(artists ORDER BY rn) AS top_artists FROM (
    SELECT hour, artists,
           row_number() OVER (PARTITION BY hour ORDER BY count(*) DESC, artists ASC) AS rn
    FROM base WHERE artists IS NOT NULL GROUP BY hour, artists
  ) WHERE rn <= 5 GROUP BY hour
)
SELECT stats.hour, unique_listeners, top.top_artists, track_diversity_index
FROM stats LEFT JOIN top USING (hour)
"""

_WINDOW_SQL = """
SELECT epoch_us(date_trunc('hour', listen_time)) AS window_start, track_genre,
       count(track_id) AS listen_count, avg(duration_ms) AS avg_track_duration,
       count(DISTINCT user_id) AS unique_listeners
FROM merged WHERE track_genre IS NOT NULL
GROUP BY window_start, track_genre
"""


def _single_csv(out_dir: str) -> str:
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    if len(parts) != 1:
        raise ValueError(f"{out_dir}: expected one CSV part file, found {len(parts)}")
    return parts[0]


class BatchOracle:
    """Expected genre_kpis / hourly_kpis for one set of stream files."""

    def __init__(self, stream_files: list[str], songs_csv: str) -> None:
        con = _connect(stream_files, songs_csv)
        self.genre = sorted(con.execute(_GENRE_SQL).fetchall())
        self.hourly = sorted(
            (h, u, str(list(top)) if top is not None else None, d)
            for h, u, top, d in con.execute(_HOURLY_SQL).fetchall()
        )
        con.close()

    def check(self, genre_out: str, hourly_out: str) -> list[str]:
        """Compare the sunk CSVs cell by cell with the recomputation."""
        con = duckdb.connect()
        genre = sorted(
            con.execute(
                f"SELECT * FROM read_csv('{_single_csv(genre_out)}', header = true, columns = "
                "{'track_genre': 'VARCHAR', 'date': 'DATE', 'listen_count': 'BIGINT', "
                "'avg_track_duration': 'DOUBLE', 'most_popular_track': 'VARCHAR'})"
            ).fetchall()
        )
        hourly = sorted(
            con.execute(
                f"SELECT * FROM read_csv('{_single_csv(hourly_out)}', header = true, columns = "
                "{'hour': 'INTEGER', 'unique_listeners': 'BIGINT', 'top_artists': 'VARCHAR', "
                "'track_diversity_index': 'DOUBLE'})"
            ).fetchall()
        )
        con.close()
        return _diff("genre_kpis", genre, self.genre) + _diff("hourly_kpis", hourly, self.hourly)


def _diff(name: str, got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    if bad:
        return [f"{name}: {len(bad)} rows differ, first got={bad[0][0]!r} want={bad[0][1]!r}"]
    return []


class StreamOracle:
    """Expected windowed KPIs after each landed prefix of the files."""

    def __init__(self, stream_files: list[str], songs_csv: str) -> None:
        self.stream_files = stream_files
        self.songs_csv = songs_csv

    def expected(self, n_landed: int) -> dict[tuple, tuple]:
        con = _connect(self.stream_files[:n_landed], self.songs_csv)
        rows = con.execute(_WINDOW_SQL).fetchall()
        con.close()
        return {(ws, g): (c, a, u) for ws, g, c, a, u in rows}

    @staticmethod
    def read_target(target: str) -> dict[tuple, tuple]:
        t = pq.read_table(target)
        col = t.column("window_start")  # Spark writes INT96 → ns
        ws = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_pylist()
        cols = [t.column(c).to_pylist() for c in (
            "track_genre", "listen_count", "avg_track_duration", "unique_listeners")]
        out: dict[tuple, tuple] = {}
        for w, g, c, a, u in zip(ws, *cols):
            if (w, g) in out:
                raise ValueError(f"duplicate key {(w, g)} in upsert target")
            out[(w, g)] = (c, a, u)
        return out

    def check(self, got: dict[tuple, tuple], want: dict[tuple, tuple]) -> list[str]:
        """Count and average exact; the HLL distinct count within 5
        standard errors, plus 2 for register collisions at small counts
        (so a correct run fails this with negligible odds over the
        hundreds of windows a run checks)."""
        errs = []
        if got.keys() != want.keys():
            errs.append(
                f"windows: {len(got.keys() - want.keys())} unexpected, "
                f"{len(want.keys() - got.keys())} missing"
            )
        for key in got.keys() & want.keys():
            (gc, ga, gu), (wc, wa, wu) = got[key], want[key]
            if gc != wc or ga != wa:
                errs.append(f"window {key}: count/avg {(gc, ga)} != {(wc, wa)}")
            elif abs(gu - wu) > 5 * HLL_RSD * wu + 2:
                errs.append(f"window {key}: unique_listeners {gu} vs exact {wu}")
        return errs[:5]

"""The analytic core: ``compute_kpis`` re-expressed as one lazy plan.

Reference: ``dags/music_streaming_etl_dags.py:172-211``. The pandas
version eagerly reads three /tmp CSVs, runs two left merges, then two
group-by aggregations, writing two CSVs. Here the whole thing is a
single Catalyst-planned DAG:

    streams ⟕ broadcast(songs) ⟕ broadcast(users)   (shared, cached)
        ├─ genre branch : filter genre NOT NULL → fused agg+mode per (genre, date)
        └─ hourly branch: groupBy(hour)

Semantics matched bit-for-bit to pandas (SURVEY.md §2.4):
- null-genre rows dropped from genre_kpis (pandas groupby dropna);
- ``most_popular_track`` mode tie-break = lexicographically smallest;
- ``track_diversity_index`` denominator counts ALL rows (incl. null
  track_id);
- ``top_artists`` tie-break *defined* as count DESC, name ASC
  (pandas leaves it engine-internal — documented divergence).

Scale: the joined intermediate is consumed by both branches — cache()
avoids recomputing the joins. Both dims broadcast (no fact shuffle).
The genre branch is one wide shuffle on (genre, date, track_name)
with partial aggregation map-side, then a tiny one on (genre, date)
that re-combines the partials and picks the mode — no window, no
self-join. The hourly branch shuffles on its (low-cardinality) hour
key. At 100 TB the only state that grows is the distinct-count in the
hourly branch — swap ``exact_distinct=False`` to use HLL.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import derive_date, derive_hour
from ..operators.aggregates import (
    agg_topk_by_freq,
    agg_with_mode_fused,
    drop_null_group_keys,
)
from ..operators.joins import left_join_equi


@dataclass
class KpiResult:
    merged: DataFrame
    genre_kpis: DataFrame
    hourly_kpis: DataFrame


def enrich_streams(
    streams: DataFrame, songs: DataFrame, users: DataFrame
) -> DataFrame:
    """streams ⟕ songs on track_id ⟕ users on user_id (ref :178-179).

    Column pruning: only the columns the KPI branches consume survive
    the join — the reference drags all 21 song columns through both
    merges (``SELECT *`` at :55-63); Catalyst prunes ours to 4.
    """
    songs_needed = songs.select(
        "track_id", "track_name", "track_genre", "duration_ms", "artists"
    )
    users_needed = users.select("user_id", "user_country")
    return left_join_equi(
        left_join_equi(streams, songs_needed, "track_id"), users_needed, "user_id"
    )


def genre_kpis(merged: DataFrame) -> DataFrame:
    """Per-(track_genre, date) KPIs (ref :182-195), as one fused
    aggregate: partial counts and sums per (genre, date, track_name),
    re-combined per (genre, date) together with the mode."""
    base = drop_null_group_keys(
        merged.withColumn("date", derive_date("listen_time")), ["track_genre"]
    )
    return agg_with_mode_fused(
        base,
        ["track_genre", "date"],
        "track_name",
        partials=[
            F.count("track_id").alias("__cnt_track"),
            F.sum("duration_ms").alias("__sum_dur"),
            F.count("duration_ms").alias("__cnt_dur"),
        ],
        finals=[
            F.sum("__cnt_track").alias("listen_count"),
            (
                F.sum("__sum_dur").cast("double")
                / F.sum("__cnt_dur").cast("double")
            ).alias("avg_track_duration"),
        ],
        mode_alias="most_popular_track",
    ).select(
        "track_genre",
        "date",
        "listen_count",
        "avg_track_duration",
        "most_popular_track",
    )


def hourly_kpis(merged: DataFrame, exact_distinct: bool = True) -> DataFrame:
    """Per-hour-of-day KPIs (ref :199-207).

    ``exact_distinct=False`` is the 100 TB / streaming path
    (HLL ``approx_count_distinct`` instead of exact two-phase
    distinct)."""
    base = merged.withColumn("hour", derive_hour("listen_time"))
    # unique_listeners and track_diversity_index FUSE into one
    # aggregation: Catalyst plans the two distinct columns as a single
    # Expand + two-phase aggregate (2 exchanges over one scan) instead
    # of two independent shuffle chains joined at the end.
    if exact_distinct:
        cd_user = F.countDistinct("user_id")
        cd_track = F.countDistinct("track_id")
    else:
        cd_user = F.approx_count_distinct("user_id")
        cd_track = F.approx_count_distinct("track_id")
    stats = base.groupBy("hour").agg(
        cd_user.alias("unique_listeners"),
        (cd_track.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "track_diversity_index"
        ),
    )
    topk = agg_topk_by_freq(base, ["hour"], "artists", 5, "top_artists")
    return (
        stats.join(topk, ["hour"], "left")
        .select("hour", "unique_listeners", "top_artists", "track_diversity_index")
    )


def compute_kpis(
    streams: DataFrame,
    songs: DataFrame,
    users: DataFrame,
    cache: bool = True,
    exact_distinct: bool = True,
) -> KpiResult:
    """The full analytic core (ref :172-211) as one shared lazy plan."""
    merged = enrich_streams(streams, songs, users)
    if cache:
        merged = merged.cache()
    return KpiResult(
        merged=merged,
        genre_kpis=genre_kpis(merged),
        hourly_kpis=hourly_kpis(merged, exact_distinct=exact_distinct),
    )

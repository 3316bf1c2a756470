"""Data-quality validation operators (SURVEY.md §2.5, V1–V6).

The reference runs validation as two dedicated DAG tasks
(``dags/music_streaming_etl_dags.py:364-380``): SQL COUNT/CASE
aggregates pushed to Postgres (``:65-80``) and pandas checks on the
extracted frames (``:124-169, 214-242``), raising on violation.

Here a check is a set of aggregate columns plus a verdict over their
values — no collect of data rows, only a 1-row report crosses to the
driver. ``check_nonempty``, ``check_no_nulls`` and ``check_range``
return *pending* results: ``validate()`` groups them by DataFrame and
evaluates each frame's checks in ONE ``agg(...).collect()``, so a
suite of any size costs one scan per frame even on 100 TB inputs. A
pending result read on its own (``check_nonempty(df).passed``)
resolves by itself with one aggregate. The remaining checks (types,
referential, freshness, uniqueness, record count) run their action
when called.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .joins import anti_join_orphans


class ValidationError(ValueError):
    """Raised when a validation predicate fails (mirrors the
    reference's ``raise ValueError`` at :141-148,153-162,221-242)."""


class CheckResult:
    """One check's ``name``, ``passed`` and ``details``.

    A pending result holds the frame it checks, its aggregate columns
    and ``verdict(values) -> (passed, details)`` over their values; it
    resolves on the first read of ``passed``/``details`` unless
    ``validate()`` resolved it first, together with every other
    pending check on the same frame."""

    def __init__(
        self,
        name: str,
        passed: bool | None = None,
        details: dict | None = None,
        *,
        df: DataFrame | None = None,
        aggs: Sequence[Column] = (),
        verdict=None,
    ):
        self.name = name
        self._passed = passed
        self._details = {} if details is None else details
        self._pending = (df, list(aggs), verdict) if verdict is not None else None

    @property
    def passed(self) -> bool:
        _resolve([self])
        return self._passed

    @property
    def details(self) -> dict:
        _resolve([self])
        return self._details

    def __repr__(self) -> str:
        # never resolves: a repr must not launch a Spark job
        if self._pending is not None:
            return f"CheckResult({self.name!r}, pending)"
        return f"CheckResult({self.name!r}, {self._passed!r}, {self._details!r})"


def _resolve(results: Sequence[CheckResult]) -> None:
    """Resolve the pending results: one aggregate per distinct frame."""
    frames: dict[int, list[CheckResult]] = {}
    for r in results:
        if r._pending is not None:
            frames.setdefault(id(r._pending[0]), []).append(r)
    for group in frames.values():
        # values are read by position, so the columns need no aliases
        cols = [c for r in group for c in r._pending[1]]
        row = group[0]._pending[0].agg(*cols).collect()[0]
        i = 0
        for r in group:
            _, aggs, verdict = r._pending
            r._passed, r._details = verdict(row[i : i + len(aggs)])
            r._pending = None
            i += len(aggs)


def check_nonempty(df: DataFrame, name: str = "nonempty") -> CheckResult:
    """V1 — fail on zero rows (ref :152-154; SQL form :65-72)."""
    return CheckResult(
        name,
        df=df,
        aggs=[F.count(F.lit(1))],
        verdict=lambda v: (v[0] > 0, {"total_rows": v[0]}),
    )


def check_no_nulls(
    df: DataFrame, cols: Sequence[str], name: str = "no_nulls"
) -> CheckResult:
    """V2 — all listed columns must be fully non-null, in ONE pass
    (the reference's per-column ``COUNT(CASE WHEN col IS NULL…)``,
    ref :65-80 / ``isnull().sum()`` :156-162)."""

    def verdict(v):
        nulls = {c: n for c, n in zip(cols, v) if n > 0}
        return not nulls, {"null_counts": nulls}

    return CheckResult(
        name,
        df=df,
        aggs=[F.count(F.when(F.col(c).isNull(), 1)) for c in cols],
        verdict=verdict,
    )


def check_range(
    df: DataFrame, col: str, lo, hi, name: str = "range"
) -> CheckResult:
    """V3 — every non-null value within [lo, hi] (ref :231-232)."""
    return CheckResult(
        name,
        df=df,
        aggs=[F.count(F.when(~F.col(col).between(lo, hi), 1))],
        verdict=lambda v: (v[0] == 0, {"out_of_range": v[0]}),
    )


_INTEGRAL_GATE = r"^\s*[+-]?[0-9]+\s*$"
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"}


def uncastable(col, cast_type: str):
    """Type-violation predicate: non-null value whose ``try_cast`` is
    NULL. For integral targets the cast is gated behind a regex
    fast-fail: Spark implements a failed string→integral try_cast by
    catching a Java exception, so a column where EVERY row fails (the
    cast-as-assertion worst case — e.g. a JSON ``props`` column
    checked against bigint) pays an exception per row — measured
    67.2s for 10M rows vs 0.8s for the same count via ``rlike``.

    Grammar note (ADVICE r4): the gate follows the DUCKDB-oracle
    try_cast grammar, which is slightly STRICTER than Spark's — Spark
    trims every char ≤ 0x20 before casting (``try_cast('\\x0142' as
    bigint)`` = 42) while Java ``\\s`` (and DuckDB) reject
    control-char-padded integers, so the gated check counts those as
    violations exactly as the oracle does. For ordinary
    whitespace-trimmed ``[+-]?digits`` the gate is a superset of the
    castable grammar and the only gate-passing-but-uncastable strings
    are int64 overflows, which fall through to the real try_cast.
    """
    c = F.col(col) if isinstance(col, str) else col
    if cast_type.lower() in _INTEGRAL_TYPES:
        return c.isNotNull() & F.when(
            c.rlike(_INTEGRAL_GATE), c.try_cast(cast_type).isNull()
        ).otherwise(F.lit(True))
    return c.isNotNull() & c.try_cast(cast_type).isNull()


def check_types(df: DataFrame, casts: dict[str, str], name: str = "types") -> CheckResult:
    """V4 — cast-as-assertion (pandas ``astype`` raises on unparseable,
    ref :300-311): a value that try_casts to NULL while the source was
    non-null is a type violation. (``try_cast``, not ``cast`` — under
    ANSI mode, Spark 4's default, a plain cast throws mid-scan instead
    of letting the check count violations.)"""
    aggs = [
        F.count(F.when(uncastable(c, t), 1)).alias(c)
        for c, t in casts.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {c: row[c] for c in casts if row[c] > 0}
    return CheckResult(name, not bad, {"uncastable": bad})


def check_record_count(
    df: DataFrame, expected: int, name: str = "record_count"
) -> CheckResult:
    """V5 — expected-record-count verification (README.md:34)."""
    n = df.count()
    return CheckResult(name, n == expected, {"total_rows": n, "expected": expected})


def check_referential(
    fact: DataFrame, dim: DataFrame, key: str | list[str], name: str = "referential"
) -> CheckResult:
    """V6 — referential integrity via left-anti orphan count
    (claimed README.md:33, unimplemented in the reference)."""
    orphans = anti_join_orphans(fact, dim, key).count()
    return CheckResult(name, orphans == 0, {"orphans": orphans})


def check_freshness(
    df: DataFrame,
    ts_col: str,
    max_lag_hours: float,
    as_of=None,
    name: str = "freshness",
) -> CheckResult:
    """V7 — data freshness (claimed README.md:36, unimplemented in
    the reference, same class as V5/V6): the newest ``ts_col`` value
    must be within ``max_lag_hours`` of ``as_of`` (default: the
    current wall clock — pass a pinned timestamp for reproducible
    runs and tests). ONE max-aggregation, only the 1-row report
    reaches the driver; on 100 TB inputs this is a scan-bound
    map-side max with a single-row reduce.

    Fails CLOSED: an empty input has no max timestamp and is treated
    as stale (``passed=False``) — silence is the one freshness
    failure mode a pipeline must never reward.
    """
    as_of_col = (
        F.lit(as_of).cast("timestamp")
        if as_of is not None
        else F.current_timestamp()
    )
    # lag computed INSIDE the aggregate so both timestamps are
    # interpreted in the same session timezone (driver-side
    # ``datetime.timestamp()`` would re-interpret the naive value in
    # the OS zone instead).
    row = df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.max(F.col(ts_col)).alias("max_ts"),
        (
            F.unix_timestamp(as_of_col)
            - F.unix_timestamp(F.max(F.col(ts_col)))
        ).alias("lag_s"),
    ).collect()[0]
    if row["max_ts"] is None:
        return CheckResult(
            name, False, {"total_rows": row["total_rows"], "max_ts": None}
        )
    lag_s = row["lag_s"]
    if lag_s is None:
        # an unparseable as_of casts to NULL under try semantics —
        # fail CLOSED with the cause named rather than crash on a
        # None comparison (under ANSI the cast raises before this)
        return CheckResult(
            name,
            False,
            {
                "total_rows": row["total_rows"],
                "max_ts": row["max_ts"],
                "err": f"as_of {as_of!r} is not a valid timestamp",
            },
        )
    passed = lag_s <= max_lag_hours * 3600
    return CheckResult(
        name,
        passed,
        {
            "total_rows": row["total_rows"],
            "max_ts": row["max_ts"],
            "lag_seconds": lag_s,
            "max_lag_hours": max_lag_hours,
        },
    )


def check_unique(
    df: DataFrame, keys: Sequence[str], name: str = "unique"
) -> CheckResult:
    """Primary-key uniqueness in ONE aggregation: total rows vs
    distinct keys (and how many key groups collide) — never a
    self-join. NULL keys are counted separately rather than silently
    collapsing into one distinct group (a NULL PK is its own
    violation class). Scale: a two-level hash aggregate on the key —
    the same shuffle any groupBy costs, output one row."""
    grouped = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    row = grouped.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.count(F.when(F.col("__n") > 1, 1)).alias("dup_keys"),
        F.sum(F.when(F.col("__n") > 1, F.col("__n")).otherwise(0)).alias(
            "dup_rows"
        ),
    ).collect()[0]
    null_keys = df.filter(
        F.greatest(*[F.col(k).isNull() for k in keys])
        if len(keys) > 1
        else F.col(keys[0]).isNull()
    ).count()
    passed = row["dup_keys"] == 0 and null_keys == 0
    return CheckResult(
        name,
        passed,
        {
            "distinct_keys": row["n_keys"],
            "duplicate_keys": row["dup_keys"],
            "rows_in_duplicate_keys": int(row["dup_rows"] or 0),
            "null_key_rows": null_keys,
        },
    )


def check_no_nulls_pushdown(
    spark,
    url: str,
    table: str,
    cols: Sequence[str],
    properties: dict[str, str] | None = None,
    name: str = "no_nulls_pushdown",
    quote: str = '"',
) -> CheckResult:
    """V2, executed SOURCE-SIDE: the aggregate runs inside the source
    database via the JDBC ``query`` option and only the 1-row report
    crosses the wire — the Spark twin of the reference's
    ``USERS_VALIDATION_QUERY`` (``dags/music_streaming_etl_dags.py:
    65-80``: ``COUNT(CASE WHEN col IS NULL THEN 1 END)`` per column).
    Same CheckResult contract as :func:`check_no_nulls`, so the two are
    interchangeable in a ``validate()`` suite; use this one when the
    data lives in an RDBMS and pulling it across first would dwarf the
    check itself."""
    from ..sources.io import jdbc_query_reader

    # quote COLUMN identifiers — Spark's JDBC writer creates columns
    # quoted (case-preserved), so unquoted names case-fold and fail to
    # resolve. Table names it passes through unquoted, so ``table`` is
    # used verbatim (quote it yourself for a case-sensitive name).
    q = lambda ident: f"{quote}{ident}{quote}"  # noqa: E731
    null_counts = ", ".join(
        f"COUNT(CASE WHEN {q(c)} IS NULL THEN 1 END) AS nulls_{i}"
        for i, c in enumerate(cols)
    )
    query = f"SELECT COUNT(*) AS total_rows, {null_counts} FROM {table}"
    row = jdbc_query_reader(spark, url, query, properties).load().collect()[0]
    # dialects disagree on identifier casing (Derby uppercases) —
    # normalize through a lowercased dict
    fields = {k.lower(): v for k, v in row.asDict().items()}
    nulls = {
        c: int(fields[f"nulls_{i}"])
        for i, c in enumerate(cols)
        if fields[f"nulls_{i}"] and int(fields[f"nulls_{i}"]) > 0
    }
    return CheckResult(name, not nulls, {"null_counts": nulls})


def quarantine_split(
    df: DataFrame, valid_cond: Column
) -> tuple[DataFrame, DataFrame]:
    """Production alternative to fail-fast validation: route rows
    failing ``valid_cond`` to a quarantine frame instead of aborting
    the batch (the reference's MAXERROR 0 kills the whole COPY on one
    bad row; at 100 TB you quarantine and keep loading). Null
    condition results count as invalid. Returns (valid, quarantined).
    """
    cond = valid_cond.isNotNull() & valid_cond  # null predicate → invalid
    return df.filter(cond), df.filter(~cond)


def validate(results: Sequence[CheckResult], raise_on_fail: bool = True) -> bool:
    """Combine check results; raise ValidationError listing every
    failure (the reference fails the task on first violation — we
    report all of them at once). Pending results are resolved first,
    one aggregate per frame."""
    _resolve(results)
    failures = [r for r in results if not r.passed]
    if failures and raise_on_fail:
        msg = "; ".join(f"{r.name}: {r.details}" for r in failures)
        raise ValidationError(f"validation failed — {msg}")
    return not failures


def observed_quality_metrics(
    df: DataFrame,
    cols: Sequence[str],
    name: str = "quality",
) -> tuple[DataFrame, "Observation"]:
    """Zero-extra-pass validation via Spark's ``observe()`` API: the
    quality aggregates (row count + per-column null counts) ride ON
    the frame's next action — write it, stream it, aggregate it — and
    the metrics materialize as a side effect of that one job. At
    100 TB this is the difference between validating for free and
    paying a second full scan (every check_* above costs a scan of
    its own, even when ``validate()`` fuses a frame's checks into one).

    Returns ``(observed_df, observation)``; read
    ``observation.get`` AFTER an action has run on ``observed_df``.
    Pair with ``observation_result`` to turn the metric dict into the
    same CheckResult the rest of the suite composes.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("total_rows")] + [
        F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls_{c}")
        for c in cols
    ]
    return df.observe(obs, *metrics), obs


def observation_result(
    obs: "Observation", cols: Sequence[str], name: str = "quality"
) -> CheckResult:
    """CheckResult from a completed observation: non-empty and
    fully non-null on ``cols`` (V1+V2 semantics, zero extra scans)."""
    got = obs.get
    nulls = {c: got[f"nulls_{c}"] for c in cols if got[f"nulls_{c}"] > 0}
    passed = got["total_rows"] > 0 and not nulls
    return CheckResult(
        name, passed, {"total_rows": got["total_rows"], "null_counts": nulls}
    )

"""Registry query layer, measured in the traced ``kpi_batch`` run only.

``bench.py``'s headline keys read the fixed testdata tables, which are
not in a checkout, so no workload times them end to end. This pass still
gives the query-builder and plan/execute layers their per-layer
numbers: the three headline keys that read only lineitem, orders,
customer and events run over seeded tables (``gen.generate_tables``)
with ``bench.py``'s method — one untimed warm pass, then one timed
pass — split into build (``fn(spark, dir)``, py4j round trips
counted), plan and execute. Plan and execute use one QueryExecution:
plan forces its ``executedPlan`` (optimisation and physical planning),
execute runs that same plan with every row produced and dropped on the
executors (``toRdd().count()``), as the noop sink does. A noop write
would plan the query a second time inside its write command. Under AQE
the re-optimisation between query stages counts as execution. Each result
is checked against its ``oracle_sql()`` twin in DuckDB with
``scripts/selfcheck.py``'s cell-exact comparison.
"""

from __future__ import annotations

import os
import sys

import duckdb

import env

KEYS = ("genre_kpis", "hourly_kpis", "agg_topk_by_freq")
TABLES = ("lineitem", "orders", "customer", "events")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, tracer, sf_dir: str) -> list[list[str]]:
    """Trace each key once after a warm pass; returns one error list
    per key (empty when the rows match the oracle)."""
    from music_streaming_etl_spark.plans.registry import REGISTRY

    sys.path.insert(0, os.path.join(env.ROOT, "scripts"))
    from selfcheck import compare

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    results = []
    for key in KEYS:
        fn, sql = REGISTRY[key]
        _force(fn(spark, sf_dir))
        spark.catalog.clearCache()
        tracer.enabled = True
        with tracer.span("query", key=key):
            with tracer.span("query.build", key=key):
                df = fn(spark, sf_dir)
            qe = df._jdf.queryExecution()
            with tracer.span("spark.plan", key=key):
                qe.executedPlan()
            with tracer.span("spark.exec", key=key):
                qe.toRdd().count()
        tracer.enabled = False
        ok = compare(key, df.toPandas(), con.execute(sql).fetchdf())
        spark.catalog.clearCache()
        results.append([] if ok else [f"{key}: rows differ from oracle_sql"])
    con.close()
    return results

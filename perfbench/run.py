"""Layer-resolved benchmark for the music-streaming KPI engine.

    python3 perfbench/run.py --workload kpi_batch --seed 1 --seconds 10 --trace 0

Generates seeded, reference-shaped inputs inside the checkout, runs
the workload's closed loop for ``--seconds``, checks every operation
against a DuckDB recomputation, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace
1`` reports the per-layer metrics: spans around each layer's calls,
py4j round trips, jobs and stages per span, and shuffle/spill/GC/skew
folded from the run's Spark event log. In a traced run, traced and
untraced operations alternate, so the run also reports its own
tracing overhead. Metric definitions and the layer → end-to-end map
are in ``perfbench/METHOD.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import env

WORK = ".bench_work"
# names only: importing workloads.py imports the package, which belongs
# inside the timed set-up
WORKLOADS = ("kpi_batch", "kpi_stream")

END_TO_END = {
    "setup_s": "s",
    "cpu_p50_s": "s",
    "peak_rss_mb": "MiB",
}
PER_LAYER = {
    "registry.import_s": "s",
    "session.start_s": "s",
    "io.scan_s": "s",
    "validation.s": "s",
    "validation.jobs": "count",
    "kpis.build_s": "s",
    "io.sink_s": "s",
    "io.sink_bytes": "bytes",
    "pipeline.self_s": "s",
    "pipeline.cache_bytes": "bytes",
    "streaming.start_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.late_dropped_rows": "count",
    "upsert.s": "s",
    "upsert.bytes_written": "bytes",
    "upsert.target_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "py4j.calls": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "query.build_s": "s",
    "query.py4j_calls": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "trace.overhead_pct": "%",
}


def query_units() -> dict[str, str]:
    """Per-key registry query metrics (see queries.py)."""
    import queries

    return {
        f"query.{key}.{m}": unit
        for key in queries.KEYS
        for m, unit in (("build_s", "s"), ("py4j_calls", "count"), ("exec_s", "s"))
    }


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _layer_metrics(tracer, wl, events_by_group) -> dict[str, float]:
    """Median over traced operations of each layer's per-op figure."""
    import queries
    from spans import self_time, task_skew

    kids = tracer.children()
    by_name: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    for op in (s for s in tracer.spans if s["name"] == "op"):
        tree = tracer.subtree(op, kids)

        def total(name, key=None, tree=tree):
            spans = [s for s in tree if s["name"] == name]
            if key is None:
                return sum(s["end"] - s["start"] for s in spans)
            return sum(s.get(key, 0) for s in spans)

        prog = op.get("progress", [])
        dur = [p.get("durationMs", {}) for p in prog]
        state = [p.get("stateOperators") or [{}] for p in prog]
        last_state = state[-1][0] if state else {}
        ev = [events_by_group.get(g) for s in tree for g in s["groups"]]
        ev = [e for e in ev if e]
        tasks: dict = {}
        for e in ev:
            tasks.update(e["tasks"])
        upserts = [s for s in tree if s["name"] == "upsert"]
        vals = {
            "io.scan_s": total("io.scan"),
            "validation.s": total("validation"),
            "validation.jobs": total("validation", "jobs"),
            "kpis.build_s": total("kpis.build"),
            "io.sink_s": total("io.sink"),
            "io.sink_bytes": total("io.sink", "bytes"),
            "pipeline.self_s": sum(self_time(s, kids) for s in tree if s["name"] == "pipeline"),
            "pipeline.cache_bytes": max((s.get("cache_bytes", 0) for s in tree), default=0),
            "streaming.start_s": total("streaming.start"),
            "streaming.latest_offset_ms": sum(d.get("latestOffset", 0) for d in dur),
            "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
            "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
            "streaming.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
            "streaming.state_rows": last_state.get("numRowsTotal", 0),
            "streaming.state_bytes": last_state.get("memoryUsedBytes", 0),
            "streaming.late_dropped_rows": sum(
                s.get("numRowsDroppedByWatermark", 0) for ops in state for s in ops
            ),
            "upsert.s": total("upsert"),
            "upsert.bytes_written": upserts[-1]["bytes"] if upserts else 0,
            "upsert.target_rows": upserts[-1]["rows"] if upserts else 0,
            "spark.jobs": sum(s.get("jobs", 0) for s in tree),
            "spark.stages": sum(s.get("stages", 0) for s in tree),
            "py4j.calls": sum(s["py4j"] for s in tree),
            "spark.shuffle_bytes": sum(e["shuffle_bytes"] for e in ev),
            "spark.spill_bytes": sum(e["spill_bytes"] for e in ev),
            "spark.gc_s": sum(e["gc_s"] for e in ev),
            "spark.task_skew": task_skew(tasks),
        }
        for k, v in vals.items():
            by_name[k].append(v)
    out = {k: statistics.median(v) for k, v in by_name.items() if v}

    def over_run(name, field=None, key=None):
        spans = [s for s in tracer.spans if s["name"] == name and key in (None, s.get("key"))]
        return sum(s[field] if field else s["end"] - s["start"] for s in spans)

    out["registry.import_s"] = over_run("registry.import")
    out["session.start_s"] = over_run("session.start")
    # registry query layer (traced kpi_batch only; 0 where it does not run)
    out["query.build_s"] = over_run("query.build")
    out["query.py4j_calls"] = over_run("query.build", "py4j")
    out["spark.plan_s"] = over_run("spark.plan")
    out["spark.exec_s"] = over_run("spark.exec")
    for key in queries.KEYS:
        out[f"query.{key}.build_s"] = over_run("query.build", key=key)
        out[f"query.{key}.py4j_calls"] = over_run("query.build", "py4j", key)
        out[f"query.{key}.exec_s"] = over_run("spark.exec", key=key)
    traced, plain = wl.times[True], wl.times[False]
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(traced) / statistics.median(plain) - 1.0
    )
    return out


def main() -> int:
    args = _args()
    root = os.getcwd()
    work_dir = os.path.join(root, WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    env.prepare(work_dir)
    stamp = env.Stamp()
    tracer = None
    event_dir = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}")
        tracer.count_py4j()
        event_dir = os.path.join(work_dir, "eventlog")
    spark = env.setup(work_dir, event_dir, on_phase=tracer.span if tracer else None)
    setup_main = env.since_process_start()
    phases = {"setup": setup_main}

    def mark(name: str) -> None:
        phases[name] = env.since_process_start()

    from gen import generate
    from workloads import KpiBatch, KpiStream

    try:
        cls = {"kpi_batch": KpiBatch, "kpi_stream": KpiStream}[args.workload]
        inputs = generate(args.seed, os.path.join(work_dir, "inputs"), **cls.sizes)
        wl = cls(spark, inputs, work_dir, tracer)
        if tracer is not None:
            tracer.sc = spark.sparkContext
            wl.install(tracer)
            tracer.enabled = False
        mark("inputs")
        wl.warm()
        mark("warm")
        t_end = time.perf_counter() + args.seconds
        i = 0
        # a traced run alternates traced and untraced steps, and needs
        # at least one of each to report its overhead
        min_steps = max(wl.min_steps, 2 if tracer is not None else 1)
        rss = 0.0
        while not wl.errors and wl.more() and (i < min_steps or time.perf_counter() < t_end):
            traced = tracer is not None and i % 2 == 0
            if tracer is not None:
                tracer.enabled = traced
            wl.step(traced)
            if i == min_steps - 1:
                # after a fixed amount of work, so the peak does not
                # depend on how many steps fit in --seconds
                rss = env.peak_rss_mb(spark)
            i += 1
        if tracer is not None:
            tracer.enabled = False
        mark("measure")
        if tracer is not None and not wl.errors:
            wl.traced_extras()
        if tracer is not None:
            tracer.unwrap_all()
            tracer.collect_jobs()
    finally:
        env.stop(spark)
    mark("stop")

    from spans import fold_event_log

    result = {"correct": not wl.errors, "attempted": wl.attempted, "failed": len(wl.errors)}
    times = wl.times[False]
    if tracer is None:
        values = {
            "setup_s": setup_main,
            "cpu_p50_s": statistics.median(wl.cpu[False]) if wl.cpu[False] else 0.0,
            "peak_rss_mb": rss,
        }
        units = END_TO_END
        extra = {"op_times": times, "op_cpu": wl.cpu[False]}
    else:
        values = _layer_metrics(tracer, wl, fold_event_log(event_dir)) if not wl.errors else {}
        units = {**PER_LAYER, **query_units()}
        extra = {"op_times_traced": wl.times[True], "op_times_untraced": times}
        tracer.dump(os.path.join(root, WORK, "traces", f"{tracer.run_id}.json"), extra)
    mark("end")
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": inputs.meta,
        "errors": wl.errors[:5],
        "env": stamp.finish(),
        "phases_s": phases,
        "warm_times": wl.warm_times,
        "warm_cpu": wl.warm_cpu,
        **extra,
    }
    print(json.dumps(info))
    shutil.rmtree(work_dir, ignore_errors=True)
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

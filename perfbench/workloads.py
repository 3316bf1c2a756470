"""The benchmark's workloads: one closed-loop client in the Python
process, each operation timed (wall clock and CPU time) around calls
into the package's public functions and checked against the DuckDB
oracle (untimed).

- ``KpiBatch``: one ``run_pipeline`` per operation (extract → validate
  → ``compute_kpis`` → validate → single-file CSV sink) over 3 stream
  files, the reference sample's batch. Exercises ``sources.io``,
  ``operators.validation``, ``plans.kpis`` and ``plans.pipeline``;
  never starts a stream or touches ``sources.upsert``.
- ``KpiStream``: files land one at a time in a drop zone; each landing
  is followed by one ``start_kpi_stream`` ``availableNow`` drain that
  restarts from its checkpoint and upserts into a growing parquet
  target. One operation is one drain, timed from the landing (an
  atomic rename) to the upsert being committed. Exercises the state
  store, the checkpoint log, query restart and ``sources.upsert``;
  never runs ``run_pipeline`` or the CSV sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

from music_streaming_etl_spark.__main__ import SONGS_MIN
from music_streaming_etl_spark.plans import pipeline as pipeline_mod
from music_streaming_etl_spark.schemas import USERS
from music_streaming_etl_spark.sources import io as io_mod
from music_streaming_etl_spark.streaming import kpis as stream_mod

import env
import queries
from gen import generate_tables
from oracle import BatchOracle, StreamOracle


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Workload:
    """Shared loop state: per-operation wall times split by whether
    tracing was on, and the correctness tally."""

    # generator arguments (see gen.generate)
    sizes: dict = {}
    # untimed steps first: the first pays class loading, JIT and code
    # generation, and the next ones are still settling
    warm_steps = 1
    # steps measured per run at least, whatever --seconds says, so every
    # run measures the same operation positions after warm-up
    min_steps = 1

    def __init__(self, spark, inputs, work_dir: str, tracer) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir
        self.tracer = tracer
        self.times: dict[bool, list[float]] = {False: [], True: []}
        self.cpu: dict[bool, list[float]] = {False: [], True: []}
        self.attempted = 0
        self.errors: list[str] = []

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.errors.append("; ".join(errs))

    def install(self, tracer) -> None:
        """Wrap the layer functions this workload calls."""

    def warm(self) -> None:
        """Untimed steps; their checks still count."""
        for _ in range(self.warm_steps):
            self.step(False)
        self.warm_times = self.times[False]
        self.warm_cpu = self.cpu[False]
        self.times = {False: [], True: []}
        self.cpu = {False: [], True: []}

    def more(self) -> bool:
        """Whether inputs remain for another step."""
        return True

    def step(self, traced: bool) -> None:
        """One operation, timed."""
        raise NotImplementedError

    def traced_extras(self) -> None:
        """Layers a traced run measures outside the timed loop."""


class KpiBatch(Workload):
    sizes = {"n_files": 3, "hours_per_file": 24}
    warm_steps = 2
    min_steps = 2

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.oracle = BatchOracle(self.inputs.stream_files, self.inputs.songs_csv)
        self.n = 0

    def install(self, tr) -> None:
        def sink_after(sp, args, kwargs, out):
            sp["bytes"] = _du(args[1])
            # the joined intermediate is still cached while the sinks run
            infos = tr.sc._jsc.sc().getRDDStorageInfo()
            sp["cache_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)

        for mod in (io_mod, pipeline_mod):
            tr.wrap(mod, "scan_csv_multi", "io.scan")
        for name in ("check_nonempty", "check_no_nulls", "check_range", "validate"):
            tr.wrap(pipeline_mod, name, "validation")
        tr.wrap(pipeline_mod, "compute_kpis", "kpis.build")
        tr.wrap(pipeline_mod, "sink_csv", "io.sink", after=sink_after)
        tr.wrap(pipeline_mod, "run_pipeline", "pipeline")

    def step(self, traced: bool) -> None:
        self.n += 1
        out = os.path.join(self.work_dir, "out", str(self.n))
        genre_out, hourly_out = os.path.join(out, "genre"), os.path.join(out, "hourly")
        spark, inp = self.spark, self.inputs
        span = self.tracer.span("op") if traced else nullcontext({})
        try:
            with span:
                c0 = env.cpu_s(spark)
                t0 = time.perf_counter()
                users = io_mod.scan_csv_multi(spark, inp.users_csv, USERS)
                songs = io_mod.scan_csv_multi(spark, inp.songs_csv, SONGS_MIN)
                streams = pipeline_mod.extract_streams(spark, inp.stream_files)
                pipeline_mod.run_pipeline(
                    spark, streams, songs, users, genre_out=genre_out, hourly_out=hourly_out
                )
                dt = time.perf_counter() - t0
                cpu = env.cpu_s(spark) - c0
            errs = self.oracle.check(genre_out, hourly_out)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.record([f"pipeline raised {type(e).__name__}: {e}"])
            return
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.record(errs)
        if not errs:
            self.times[traced].append(dt)
            self.cpu[traced].append(cpu)

    def traced_extras(self) -> None:
        sf_dir = generate_tables(self.inputs.meta["seed"], os.path.join(self.work_dir, "tables"))
        for errs in queries.run(self.spark, self.tracer, sf_dir):
            self.record(errs)


class KpiStream(Workload):
    # one drop zone for the whole run, as the reference's hourly schedule
    # keeps one: every timed drain restarts from the checkpoint the
    # previous drain left, and none pays a fresh start
    sizes = {"n_files": 9, "hours_per_file": 1}
    warm_steps = 4
    min_steps = 5

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.oracle = StreamOracle(self.inputs.stream_files, self.inputs.songs_csv)
        d = os.path.join(self.work_dir, "stream")
        self.stage, self.drop = os.path.join(d, "stage"), os.path.join(d, "drop")
        self.target, self.ckpt = os.path.join(d, "target"), os.path.join(d, "ckpt")
        os.makedirs(self.stage)
        os.makedirs(self.drop)
        self.songs = io_mod.scan_csv_multi(self.spark, self.inputs.songs_csv, SONGS_MIN)
        self.landed = 0

    def more(self) -> bool:
        return self.landed < len(self.inputs.stream_files)

    def install(self, tr) -> None:
        def upsert_after(sp, args, kwargs, out):
            target = args[2]
            sp["bytes"] = _du(target)
            sp["rows"] = _parquet_rows(target)

        tr.wrap(stream_mod, "start_kpi_stream", "streaming.start")
        tr.wrap(stream_mod, "upsert_parquet", "upsert", after=upsert_after)

    def step(self, traced: bool) -> None:
        """Land the next file and drain it."""
        oracle, k = self.oracle, self.landed
        name = os.path.basename(self.inputs.stream_files[k])
        shutil.copyfile(self.inputs.stream_files[k], os.path.join(self.stage, name))
        self.landed += 1
        span = self.tracer.span("op") if traced else nullcontext({})
        try:
            with span as sp:
                c0 = env.cpu_s(self.spark)
                t0 = time.perf_counter()
                os.rename(os.path.join(self.stage, name), os.path.join(self.drop, name))
                q = stream_mod.start_kpi_stream(
                    self.spark, self.drop, self.songs, self.target, self.ckpt
                )
                q.awaitTermination()
                dt = time.perf_counter() - t0
                cpu = env.cpu_s(self.spark) - c0
            if traced:
                # the query's micro-batch jobs run under its run id
                sp["groups"].append(q.runId)
                sp["progress"] = [json.loads(p.json) for p in q.recentProgress]
            errs = oracle.check(oracle.read_target(self.target), oracle.expected(k + 1))
        except Exception as e:  # noqa: BLE001 - a failed drain is counted, not fatal
            self.record([f"drain {k} raised {type(e).__name__}: {e}"])
            return
        self.record(errs)
        if not errs:
            self.times[traced].append(dt)
            self.cpu[traced].append(cpu)


def _parquet_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


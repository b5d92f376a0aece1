"""`ticks`: an open loop of tick files through the three streaming
queries of the reference pipeline, sharing one session:

* bars: `pipeline.stream_ohlc_bars` then `signal_over_bars` (the Flink
  job), complete mode into a memory sink;
* atr: `state.atr_per_key` (`applyInPandasWithState`), append mode into
  a memory sink;
* upsert: the idempotent last-write-wins sink of `upsert.upsert_stream`
  (`connectors.upsert_batch_fn` over `upsert._merge_write`, keyed by
  `upsert.KEYS`, ordered by `upsert.ORDER_COL`) deployed as a
  long-running query like the other two. `upsert_stream` itself runs
  one availableNow trigger and returns; restarting it in a loop made
  the sink's cadence swing by 2x from run to run.

Phase 1 lands the sf0.1 `events` as backlog files and times until all
three queries have committed them; the run drains the backlog three
times, each with fresh queries (before, in and after the main cycle),
and reports the median. Phase 2 lands a tick file every
`TICK_INTERVAL_S` on a fixed schedule that does not slow when the
engine does. An event's freshness runs from its file's due time to the
commit of the batch that read it, in the slowest of the three sinks;
the file-to-batch map and the commit times come from the queries'
checkpoints. At the end the three results are checked against the
registry oracles of stream_signal_bars, stream_atr_per_key and
stream_upsert_idempotent, run by DuckDB over exactly the landed files.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle
from spans import (JobStats, SinkProbe, StagingProbe, TableProbe, Tracer,
                   staged_footprint)

#: Live tick schedule: four files a second, 1500 new ticks a second over
#: the 1500 keys plus the re-sends (gen.py). A fixed point well below the
#: rates the three queries sustain on 4 cores (README.md).
TICK_INTERVAL_S = 0.25
TICK_EVENTS = 375
#: Freshness counts files due after the first seconds of the live
#: phase: the first batches after the backlog run 1-2 s slower.
SETTLE_S = 5.0
BACKLOG_FILES = 10
WARMUP_FILES = 2
DRAIN_TIMEOUT_S = 120
SINKS = ("bars", "atr", "upsert")
#: Phases of a micro-batch in the order MicroBatchExecution runs them.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


def _read_batches(ckpt: str):
    """From a query checkpoint: source file -> batch that read it,
    batch -> commit time, batch -> offset-log time (batch planned)."""
    files: dict[str, int] = {}
    for log in glob.glob(f"{ckpt}/sources/0/*"):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                path = entry["path"].removeprefix("file://")
                files[path] = min(files.get(path, entry["batchId"]), entry["batchId"])

    def stamps(sub):
        return {int(os.path.basename(p)): os.stat(p).st_mtime
                for p in glob.glob(f"{ckpt}/{sub}/*")
                if os.path.basename(p).isdigit()}

    return files, stamps("commits"), stamps("offsets")


def _commit_times(ckpt: str) -> dict[str, float]:
    """Source file -> commit time of the batch that read it."""
    files, commits, _ = _read_batches(ckpt)
    return {f: commits[b] for f, b in files.items() if b in commits}


class Cycle:
    """The three queries over a fresh source directory: land a backlog,
    start them and wait until every sink committed it; then optionally
    land live ticks on schedule and wait for their commits."""

    def __init__(self, spark, root: str, engine) -> None:
        self.spark, self.root, self.engine = spark, root, engine
        self.tag = os.path.basename(root).replace("-", "_")
        self.src = f"{root}/src"
        self.ckpt = {s: f"{root}/ckpt-{s}" for s in SINKS}
        self.target = f"{root}/upsert-target"
        self.landed: dict[str, tuple[float, float, int]] = {}  # path -> due, landed, rows
        self.queries = {}
        self.build_s = 0.0
        os.makedirs(self.src)

    def _land(self, name: str, table, due: float) -> str:
        path = f"{self.src}/{name}.parquet"
        tmp = f"{self.src}/.{name}.parquet.tmp"  # hidden from the file source
        pq.write_table(table, tmp)
        os.rename(tmp, path)
        self.landed[path] = (due, time.time(), table.num_rows)
        return path

    def _start(self) -> None:
        pipeline, state, upsert, connectors = self.engine
        t0 = time.perf_counter()
        stream = (self.spark.readStream.schema(pipeline.EVENTS_DDL)
                  .format("parquet").load(self.src))
        writers = {
            "bars": pipeline.signal_over_bars(pipeline.stream_ohlc_bars(stream))
            .writeStream.format("memory").queryName(f"bars_{self.tag}")
            .outputMode("complete"),
            "atr": state.atr_per_key(stream)
            .writeStream.format("memory").queryName(f"atr_{self.tag}")
            .outputMode("append"),
            "upsert": stream.writeStream.foreachBatch(connectors.upsert_batch_fn(
                upsert.KEYS, upsert._merge_write(self.spark, self.target),
                order_col=upsert.ORDER_COL)),
        }
        self.build_s = (time.perf_counter() - t0) / len(writers)
        for sink, writer in writers.items():
            self.queries[sink] = (writer.option("checkpointLocation", self.ckpt[sink])
                                  .start())

    def _wait_committed(self, paths: list[str]) -> float:
        """Block until every sink committed every file in `paths`;
        return the latest of those commit times."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            commits = [_commit_times(self.ckpt[s]) for s in SINKS]
            pending = {s: sum(p not in c for p in paths)
                       for s, c in zip(SINKS, commits)}
            if not any(pending.values()):
                return max(c[p] for c in commits for p in paths)
            for sink, q in self.queries.items():
                if not q.isActive:
                    raise RuntimeError(f"{sink} query stopped: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"files not committed after "
                                   f"{DRAIN_TIMEOUT_S} s: {pending}")
            time.sleep(0.05)

    def backlog(self, tables) -> float:
        """Land `tables`, start the queries; return the drain time."""
        for i, table in enumerate(tables):
            self._land(f"backlog-{i:02d}", table, time.time())
        t0 = time.time()
        self._start()
        return self._wait_committed(list(self.landed)) - t0

    def live(self, tables) -> list[str]:
        """Land `tables` on the tick schedule; wait for their commits."""
        begin = time.time() + TICK_INTERVAL_S
        paths = []
        for i, table in enumerate(tables):
            due = begin + i * TICK_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            paths.append(self._land(f"tick-{i:05d}", table, due))
        self._wait_committed(paths)
        return paths

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def freshness(self, paths: list[str]) -> list[float]:
        commits = [_commit_times(self.ckpt[s]) for s in SINKS]
        return [max(c[p] for c in commits) - self.landed[p][0] for p in paths]

    def committed_batches(self) -> int:
        return sum(len(_read_batches(self.ckpt[s])[1]) for s in SINKS)

    def check(self, ctx, registry) -> None:
        """Each sink's result against its registry oracle over exactly
        the landed files."""
        from pyspark.sql import functions as F
        nan_to_null = [F.nanvl(c, F.lit(None).cast("double")).alias(c)
                       for c in ("tr", "atr_14")]
        results = {
            "stream_signal_bars": self.spark.table(f"bars_{self.tag}"),
            "stream_atr_per_key": self.spark.table(f"atr_{self.tag}").select(
                "user_id", "event_id", "ts", "close", *nan_to_null),
            "stream_upsert_idempotent": self.spark.read.parquet(self.target).select(
                "event_id", "ts", "user_id", "event_type", "value", "props"),
        }
        con = oracle.connect_events(self.src)
        try:
            for name, df in results.items():
                ctx.attempted += 1
                expected = con.execute(registry[name][1]).fetch_arrow_table()
                diff = oracle.compare(df.toArrow(), expected)
                if diff:
                    ctx.fail(name, f"oracle mismatch: {diff}")
        finally:
            con.close()


def _epoch(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _layers(cycle: Cycle, progress: dict[str, list[dict]], tracer: Tracer,
            spark, cores: int, wall: float, late_s: float) -> dict[str, float]:
    batches = {s: [p for p in reports if p["numInputRows"]]
               for s, reports in progress.items()}
    run_ids = {p["runId"] for reports in progress.values() for p in reports}
    # Batch spans with their phases laid out in execution order.
    phase_s = {k: [] for k in BATCH_PHASES}
    for sink, reports in batches.items():
        for p in reports:
            start = _epoch(p["timestamp"])
            dur = p["durationMs"]
            batch = tracer.add("stream.batch", start,
                               start + dur["triggerExecution"] / 1e3,
                               sink=sink, batch=p["batchId"])
            edge = start
            for phase in BATCH_PHASES:
                if phase in dur:
                    tracer.add(f"stream.{phase}", edge, edge + dur[phase] / 1e3,
                               parent=batch["id"])
                    edge += dur[phase] / 1e3
                    phase_s[phase].append(dur[phase] / 1e3)
    for w in tracer.named("sink.write"):
        mid = (w["start"] + w["end"]) / 2
        for b in tracer.named("stream.batch"):
            if b["sink"] == "upsert" and b["start"] <= mid <= b["end"]:
                w["parent"] = b["id"]
    selfs = tracer.self_times()
    spans = tracer.named("stream.batch")
    batch_wall = sum(s["end"] - s["start"] for s in spans)
    self_s = sum(selfs[s["id"]] for s in spans)

    def med(sink, *phases):
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in phases) / 1e3
            for p in batches[sink]) if batches[sink] else 0.0

    def slowest(*phases):
        return max(med(s, *phases) for s in SINKS)

    # Live files landed but not yet read when each batch was planned.
    backlog = 0
    for sink in SINKS:
        files, _, planned = _read_batches(cycle.ckpt[sink])
        live_files = {f: b for f, b in files.items() if "/tick-" in f}
        for b, t in planned.items():
            waiting = sum(1 for f, bb in live_files.items()
                          if bb >= b and cycle.landed[f][1] <= t)
            backlog = max(backlog, waiting)
    last_state = [batches[s][-1]["stateOperators"] for s in SINKS if batches[s]]
    n = sum(len(b) for b in batches.values())
    jobs = JobStats(spark).groups(*run_ids)
    writes = tracer.named("sink.write")
    upsert_rows = sum(p["numInputRows"] for p in batches["upsert"])
    live = [v for k, v in cycle.landed.items() if "/tick-" in k]
    return {
        "build.s": cycle.build_s,
        "build.share": len(SINKS) * cycle.build_s / wall,
        "plan.s": statistics.fmean(phase_s["queryPlanning"]),
        "exec.s": statistics.fmean(phase_s["addBatch"]),
        "exec.jobs": jobs["jobs"] / n,
        "exec.stages": jobs["stages"] / n,
        "exec.tasks": jobs["tasks"] / n,
        "exec.run_core_s": jobs["run_s"] / n,
        "exec.cpu_core_s": jobs["cpu_s"] / n,
        "exec.python_s": (jobs["run_s"] - jobs["cpu_s"]) / n,
        "exec.busy_ratio": jobs["run_s"] / (wall * cores),
        "exec.shuffle_read_bytes": jobs["shuffle_read"] / n,
        "exec.shuffle_write_bytes": jobs["shuffle_write"] / n,
        "exec.spill_bytes": jobs["spill"] / n,
        "stream.batches": n,
        "stream.rows_per_batch": statistics.fmean(
            p["numInputRows"] for b in batches.values() for p in b),
        "stream.batch_s": slowest("triggerExecution"),
        "stream.add_batch_s": slowest("addBatch"),
        "stream.offset_s": slowest("latestOffset", "getBatch"),
        "stream.commit_s": slowest("walCommit", "commitOffsets"),
        "stream.state_rows": sum(op["numRowsTotal"] for ops in last_state for op in ops),
        "stream.state_mem_bytes": sum(op["memoryUsedBytes"] for ops in last_state for op in ops),
        "stream.backlog_files_max": backlog,
        **{f"stream.{s}.batch_s": med(s, "triggerExecution") for s in SINKS},
        "sink.write_s": statistics.fmean(w["end"] - w["start"] for w in writes),
        "sink.target_rows": writes[-1]["target_rows"],
        "sink.write_amp": sum(w["target_rows"] for w in writes) / upsert_rows,
        "gen.files": len(live),
        "gen.events": sum(v[2] for v in live),
        "gen.late_max_s": late_s,
        "trace.self_share": self_s / batch_wall,
    }


def run(ctx):
    sf_dir = ctx.fixture(0.1)
    events = pq.read_table(f"{sf_dir}/events.parquet")
    n_keys = pc.max(events["user_id"]).as_py() + 1
    per_file = -(-events.num_rows // BACKLOG_FILES)
    backlog = [events.slice(i * per_file, per_file) for i in range(BACKLOG_FILES)]
    # Live ticks continue the backlog's event time.
    start_us = pc.max(events["ts"].cast("int64")).as_py() + 1_000_000
    n_live = max(1, round(ctx.seconds / TICK_INTERVAL_S))
    live, late_s = gen.tick_files(ctx.seed, n_live + WARMUP_FILES, TICK_EVENTS,
                                  TICK_INTERVAL_S, n_keys, start_us,
                                  events.num_rows)
    warmup, live = live[n_live:], live[:n_live]

    from big_data_share_market_spark.registry import all_queries
    from big_data_share_market_spark.session import get_spark
    from big_data_share_market_spark.sources import connectors
    from big_data_share_market_spark.streaming import pipeline, state, upsert
    registry = all_queries()
    engine = (pipeline, state, upsert, connectors)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-ticks", cpus=ctx.cores)
    session_s = time.perf_counter() - t0

    # Set-up: the three queries once over the backlog and two ticks.
    cycle = Cycle(spark, f"{ctx.run_root}/warmup", engine)
    cycle.backlog(backlog + warmup)
    cycle.stop()
    setup_s = time.perf_counter() - ctx.started

    def drain(name):
        c = Cycle(spark, f"{ctx.run_root}/{name}", engine)
        try:
            return c.backlog(backlog)
        finally:
            c.stop()

    tracer = Tracer() if ctx.trace else None
    probes = ([StagingProbe(tracer), TableProbe(tracer), SinkProbe(tracer)]
              if tracer else [])
    # Backlog drains before, in and after the main cycle; only the main
    # cycle is traced, so drift cancels in the overhead ratio.
    drains = [drain("drain-1")]
    for probe in probes:
        probe.install()
    main = Cycle(spark, f"{ctx.run_root}/main", engine)
    begin = time.time()
    drain_s = main.backlog(backlog)
    paths = main.live(live)
    wall = time.time() - begin
    progress = {s: [json.loads(p.json) for p in q.recentProgress]
                for s, q in main.queries.items()}
    main.stop()
    for probe in probes:
        probe.remove()
    drains.append(drain("drain-2"))
    ctx.attempted += main.committed_batches()
    main.check(ctx, registry)

    fresh = main.freshness(paths[round(SETTLE_S / TICK_INTERVAL_S):])
    p50, p90 = np.percentile(fresh, [50, 90])
    per_s = events.num_rows / statistics.median(drains + [drain_s])
    end_to_end = {"setup_s": setup_s, "latency_p50_s": p50,
                  "latency_p90_s": p90, "throughput_per_s": per_s}
    report = {"setup_s": (setup_s, "s"), "tick_freshness_p50_s": (p50, "s"),
              "tick_freshness_p90_s": (p90, "s"),
              "backfill_events_per_s": (per_s, "1/s"),
              "backfill_s": (statistics.median(drains + [drain_s]), "s"),
              "live_files": (len(paths), "count"),
              "tick_lateness_max_s": (late_s, "s"),
              "schedule_slip_max_s": (max(main.landed[p][1] - main.landed[p][0]
                                          for p in paths), "s"),
              "freshness_samples": (len(fresh), "count")}
    layers = {}
    if tracer:
        entries, mem = staged_footprint(spark)
        layers = _layers(main, progress, tracer, spark, ctx.cores, wall, late_s)
        layers.update({
            "session.start_s": session_s,
            "staging.build_s": sum(s["end"] - s["start"]
                                   for s in tracer.named("staging")),
            "staging.relations": entries,
            "staging.mem_bytes": mem,
            "tables.load_calls": len(tracer.named("tables.load")),
            "trace.overhead_ratio": drain_s / statistics.fmean(drains),
        })
        tracer.write(f"{ctx.cache}/traces/ticks-seed{ctx.seed}.jsonl")
    return end_to_end, layers, report

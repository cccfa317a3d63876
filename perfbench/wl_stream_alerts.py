"""``stream_alerts``: the streaming z-score alerts, open loop.

Pre-generated event files land in the replay directory on a fixed
schedule (``FILES_PER_S``), whether or not the query keeps up. The files
feed ``streaming.replay_events_stream``, then ``streaming_zscore_flags``,
then ``write_anomaly_alerts`` with a continuous (non-``availableNow``)
trigger. A file's latency is the commit time of the micro-batch that
consumed it minus the time the file was due, read from the query's own
checkpoint (see :func:`file_batches`); ``commits/<batch>`` is written
when the batch commits. The query runs on the package's defaults, with
its processing-time timeout, except for the state partitions
(``PARTITIONS_PER_CORE``).

``result_rel`` divides each steady micro-batch by the samples a
:class:`measure.HostProbe` took while it ran (the host's speed at that
moment; see README.md for why it is not a Spark reference query) and
takes the median.

The check compares the alert rows with the batch ``rolling_zscore``
flags over the same files: the same z-score contract, computed once.
"""

from __future__ import annotations

import dataclasses
import datetime
import itertools
import json
import os
import threading
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import common
import detectors
import gen
from amonaly_detection_in_time_series_data_spark.operators.anomaly import rolling_zscore
from amonaly_detection_in_time_series_data_spark.streaming import (
    replay_events_stream,
    streaming_zscore_flags,
    write_anomaly_alerts,
)
from measure import Engine, HostProbe, engine_metrics, median, percentile

N_SERIES = 200  # rows per file: one event per series per hour of event time
# The open-loop rate: 1,000 rows/s. Capacity runs (capacity.py) on 4
# cores measured a micro-batch at ~2.8 s plus ~0.06 ms a row (most of it
# per file), i.e. 16,000-18,000 rows/s. In an open loop a micro-batch
# takes its fixed cost / (1 - load): at half capacity ~5.8 s, and a run
# would time two. At this rate a steady micro-batch takes ~3-4 s.
# Few enough files that a steady micro-batch (3-6 s) reads fewer than 32:
# from 32 files on, Spark lists a batch's files with a job of its own
# (spark.sql.sources.parallelPartitionDiscovery.threshold), ~0.4 s more, so
# a batch size near 32 files would make the batch time jump with the host's
# speed.
FILES_PER_S = 5.0
MIN_FILES = 100  # enough for a p90 with 10 files beyond it
# Micro-batches with rows that are not timed: the first after the cold one
# finds only the first few files (the ramp), and the next still runs ~15%
# slower while the JIT warms up.
WARMUP_BATCHES = 2
# The schedule runs this much longer than --seconds, the time the
# warm-up batches (and the no-data batch before them) take on a loaded host.
RAMP_S = 12.0
# State partitions per core: session.py sizes shuffle partitions at 2-3x
# the cores of a real cluster; its 32 default is sized for local[32]
# testing, and a stateful query keeps all of them in every micro-batch.
PARTITIONS_PER_CORE = 2
# Files still in flight when the schedule ends need up to two micro-batches.
DRAIN_S = 45.0


class Generator(threading.Thread):
    """Lands staged files at ``start + i / rate``, independent of progress.
    A rename inside one file system is atomic, so the source never lists a
    half-written file."""

    def __init__(self, staged: list[str], dest: str, start: float, rate: float):
        super().__init__(daemon=True)
        self.staged, self.dest, self.start_at, self.rate = staged, dest, start, rate
        self.due: dict[str, float] = {}
        self.late_s: list[float] = []

    def run(self) -> None:
        for i, path in enumerate(self.staged):
            due = self.start_at + i / self.rate
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            name = os.path.basename(path)
            os.rename(path, os.path.join(self.dest, name))
            self.late_s.append(time.time() - due)
            self.due[name] = due


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> the micro-batch that read it. The file source's
    metadata log (compacted or not) gives the source offset that added a
    file; the query's offset log gives the source offset each micro-batch
    read up to. A no-data batch repeats the offset before it, so a file
    belongs to the first micro-batch that reached its offset."""
    added = {}
    log = os.path.join(checkpoint, "sources", "0")
    for entry in os.listdir(log):
        if entry.startswith("."):
            continue
        with open(os.path.join(log, entry)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    added[os.path.basename(rec["path"])] = int(rec["batchId"])
    first: dict[int, int] = {}
    offsets = os.path.join(checkpoint, "offsets")
    for n in sorted((n for n in os.listdir(offsets) if n.isdigit()), key=int):
        with open(os.path.join(offsets, n)) as f:
            lines = f.read().splitlines()
        if len(lines) > 2:  # version, batch metadata, then the source's offset
            first.setdefault(json.loads(lines[2])["logOffset"], int(n))
    return {name: first[off] for name, off in added.items() if off in first}


def commit_times(checkpoint: str) -> dict[int, float]:
    d = os.path.join(checkpoint, "commits")
    return {
        int(n): os.path.getmtime(os.path.join(d, n))
        for n in os.listdir(d)
        if n.isdigit()
    }


def _watched_dir() -> str:
    import tempfile

    tmp = tempfile.gettempdir()
    (name,) = [d for d in os.listdir(tmp) if d.startswith("events_stream_")]
    return os.path.join(tmp, name)


def wait_for(pred, timeout: float, poll: float = 0.01) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event as a dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def progress_layers(progress: list[dict]) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "streaming.batches": len(batches),
        "streaming.rows_in": sum(p["numInputRows"] for p in batches),
    }
    if not batches:
        return out

    def p50(key):
        return median([p["durationMs"].get(key, 0) for p in batches])

    for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution"):
        out[f"streaming.{key}_ms_p50"] = p50(key)
    out["sources.replay.getBatch_ms_p50"] = p50("getBatch")
    out["sources.replay.latestOffset_ms_p50"] = p50("latestOffset")
    trigger_s = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1000.0
    out["stream_rows_per_s"] = out["streaming.rows_in"] / trigger_s
    state = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if state:
        out["streaming.state_rows_total"] = state[-1]["numRowsTotal"]
        out["streaming.state_memory_bytes"] = state[-1]["memoryUsedBytes"]
        out["streaming.state_commit_ms_p50"] = median([s["commitTimeMs"] for s in state])
        # task time in the state function and the state writes it makes
        out["streaming.state_update_ms_p50"] = median([s["allUpdatesTimeMs"] for s in state])
    return out


def sink_layers(spark, out_path: str) -> dict:
    """Rows, files and bytes the parquet sink committed."""
    files = [
        os.path.join(r, f)
        for r, _, fs in os.walk(out_path)
        if "_spark_metadata" not in r
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "streaming.sink.files": len(files),
        "streaming.sink.bytes": sum(os.path.getsize(f) for f in files),
        "streaming.sink.rows": spark.read.parquet(out_path).count(),
    }


def check_alerts(spark, stream_dir: str, out_path: str) -> list[str]:
    """Alert rows == the batch rolling_zscore flags on the same input."""
    ev = spark.read.parquet(stream_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        r[0]
        for r in rolling_zscore(ev, "value", 24, ["user_id"], ["ts", "event_id"])
        .filter(F.col("is_anomaly") == 1)
        .select("event_id")
        .collect()
    }
    got = [r[0] for r in spark.read.parquet(out_path).select("event_id").collect()]
    problems = []
    if len(got) != len(set(got)):
        problems.append(f"{len(got) - len(set(got))} duplicate alert rows")
    if set(got) != want:
        problems.append(
            f"alerts differ from batch flags: {len(set(got) - want)} extra, {len(want - set(got))} missing"
        )
    return problems


@dataclasses.dataclass
class Stream:
    query: object
    listener: ProgressLog
    staged: list[str]  # files not landed yet, in landing order
    watched: str  # the directory the replay source watches
    out_path: str
    checkpoint: str
    setup_s: float
    first_s: float  # query start until its cold first micro-batch committed

    def committed(self, names) -> bool:
        batches, commits = file_batches(self.checkpoint), commit_times(self.checkpoint)
        return all(batches.get(n) in commits for n in names)


def start(ctx, n_files: int) -> Stream:
    """Generate ``n_files`` staged files plus the one the replay source
    starts from, set up the session, start the query and wait for its
    cold first micro-batch."""
    root = os.path.join(ctx.work, "in")
    stage = os.path.join(ctx.work, "stage")
    staged = []
    with ctx.generating():
        frames = gen.stream_files(ctx.seed, N_SERIES, n_files + 1)
        ctx.inputs["events"] = {
            **gen.properties(pd.concat(frames), n_files + 1),
            "digest": gen.digest(frames),
            "files_per_s": FILES_PER_S,
        }
        for i, df in enumerate(frames):
            path = os.path.join(stage, f"part-{i:05d}.parquet") if i else os.path.join(root, "events.parquet")
            gen.write(df, path)
            staged.append(path)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", str(PARTITIONS_PER_CORE * cores))
    setup_s = ctx.setup([staged[0]])
    listener = ProgressLog()
    ctx.spark.streams.addListener(listener)
    out_path = os.path.join(ctx.work, "alerts")
    ckpt = os.path.join(ctx.work, "checkpoint")
    t0 = time.time()
    with ctx.tracer.span("streaming.start"):
        events = replay_events_stream(ctx.spark, root, max_files_per_trigger=1000)
        query = write_anomaly_alerts(streaming_zscore_flags(events), out_path, ckpt, available_now=False)
    # the first micro-batch consumes the one file present at start
    first_commit = os.path.join(ckpt, "commits", "0")
    if not wait_for(lambda: os.path.exists(first_commit), 120):
        raise RuntimeError("stream_alerts: the first micro-batch never committed")
    return Stream(
        query, listener, staged[1:], _watched_dir(), out_path, ckpt, setup_s,
        os.path.getmtime(first_commit) - t0,
    )


def _started(progress: dict) -> float:
    """A micro-batch's trigger start, as a Unix time."""
    return datetime.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def _trigger_s(progress: dict) -> float:
    return progress["durationMs"]["triggerExecution"] / 1000.0


def run(ctx):
    n_files = max(MIN_FILES, round((RAMP_S + ctx.seconds) * FILES_PER_S))
    st = start(ctx, n_files)
    listener, span = st.listener, ctx.tracer.span
    engine = Engine(ctx.spark) if ctx.trace else None

    gen_thread = Generator(st.staged, st.watched, time.time() + 0.1, FILES_PER_S)
    host = HostProbe()
    host.start()
    try:
        with span("streaming.schedule"):
            gen_thread.start()
            gen_thread.join()
        end_of_schedule = max(gen_thread.due.values()) + 1.0 / FILES_PER_S
        with span("streaming.drain"):
            wait_for(lambda: st.committed(gen_thread.due), DRAIN_S, 0.05)
    finally:
        host.stop()
    ctx.ops.attempted += 1
    if st.query.exception() is not None or not st.query.isActive:
        ctx.ops.fail("stream", f"query died: {st.query.exception()}")
    st.query.stop()
    engine_delta = engine.delta() if engine else None

    batches, commits = file_batches(st.checkpoint), commit_times(st.checkpoint)
    latencies, backlog = [], 0
    for name, due in gen_thread.due.items():
        ctx.ops.attempted += 1
        commit = commits.get(batches.get(name))
        if commit is None:
            ctx.ops.fail(f"file {name}", "never committed")
            backlog += 1
            continue
        backlog += commit > end_of_schedule
        latencies.append(commit - due)
    # result_s is the service time of a steady micro-batch: one with rows
    # that started after the warm-up batches and before the schedule
    # ended (later ones hold only the schedule's tail)
    wait_for(lambda: len(listener.progress) >= len(commits), 10)  # the listener bus is asynchronous
    data = [p for p in listener.progress if p["batchId"] > 0 and p["numInputRows"] > 0]
    steady = [p for p in data[WARMUP_BATCHES:] if _started(p) < end_of_schedule]
    ctx.ops.attempted += 1
    if not steady:
        ctx.ops.fail("stream.steady", "no micro-batch with rows ran between the warm-up and the end of the schedule")
    timed = steady or data
    result_s = median([_trigger_s(p) for p in timed] or [st.first_s])
    result_rel, probe_s = host.relative([(_started(p), _trigger_s(p)) for p in timed] or [(0.0, result_s)])
    metrics = {
        "setup_s": st.setup_s,
        "first_result_s": st.first_s,
        "result_s": result_s,
        "result_rel": result_rel,
        "reference.numpy_sort_ms": probe_s * 1000,
    }
    ctx.artifact["result_samples_s"] = [_trigger_s(p) for p in steady]
    ctx.artifact["host_probe_s"] = host.samples
    ctx.artifact["latencies_s"] = latencies
    ctx.artifact["progress"] = listener.progress
    ctx.ops.check("check.alerts", check_alerts, ctx.spark, st.watched, st.out_path)
    if not ctx.trace:
        return metrics

    metrics.update(progress_layers(listener.progress))
    metrics.update(sink_layers(ctx.spark, st.out_path))
    p90 = percentile(latencies, 0.9)
    metrics.update({
        "latency_ms_p50": median(latencies) * 1000 if latencies else 0.0,
        "latency_ms_p90": p90 * 1000 if p90 is not None else 0.0,
        "backlog_files_end": backlog,
        "generator.late_ms_max": max(gen_thread.late_s) * 1000,
    })
    per_batch = max(metrics["streaming.batches"], 1)
    metrics.update({k: v / per_batch for k, v in engine_metrics(engine_delta).items()})
    metrics.update(common.traced_common(ctx))
    metrics.update(ctx.ops.run("trace.detectors", detectors.traced, ctx) or {})
    return metrics


# ---------------------------------------------------------------- capacity

BACKLOGS = (25, 50, 100, 200)  # files landed at once, one backlog per step


def capacity(ctx) -> dict:
    """What the query sustains, from draining fixed backlogs: each step
    lands a backlog at once and waits until every file is committed. The
    least-squares fit of the data batches' duration over their rows gives
    a micro-batch's fixed cost (intercept) and the cost of a row (slope).
    Past one row per that cost the query falls behind whatever its batch
    size, so the slope's inverse is the capacity in rows/s. The no-data
    batches the processing-time timeout runs whenever no file is new are
    reported too (Spark reports at most one every 10 s)."""
    st = start(ctx, sum(BACKLOGS))
    progress = st.listener.progress
    todo = iter(st.staged)
    for k in BACKLOGS:
        names = []
        for path in itertools.islice(todo, k):
            names.append(os.path.basename(path))
            os.rename(path, os.path.join(st.watched, names[-1]))
        if not wait_for(lambda: st.committed(names), DRAIN_S, 0.05):
            raise RuntimeError(f"a backlog of {k} files did not drain in {DRAIN_S:.0f} s")
    st.query.stop()
    wait_for(lambda: len(progress) >= len(commit_times(st.checkpoint)), 10)  # the listener bus is asynchronous
    later = [p for p in progress if p["batchId"] > 0]
    rows = [p["numInputRows"] for p in later if p["numInputRows"] > 0]
    secs = [_trigger_s(p) for p in later if p["numInputRows"] > 0]
    per_row_s, intercept_s = np.polyfit(rows, secs, 1)
    return {
        "no_data_s": [_trigger_s(p) for p in later if p["numInputRows"] == 0],
        "intercept_s": intercept_s,
        "per_row_ms": per_row_s * 1000,
        "capacity_rows_per_s": 1 / per_row_s,
        "offered_rows_per_s": FILES_PER_S * N_SERIES,
        "batches": [{"rows": r, "s": s} for r, s in zip(rows, secs)],
    }

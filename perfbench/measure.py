"""Measurement plumbing shared by the workloads.

Nothing here touches the package under test: the harness times the calls
into its public functions from outside, materialises results through the
``noop`` sink, and reads Spark's own status store and JVM MXBeans.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
import traceback

import numpy as np

# ---------------------------------------------------------------- stats


def median(values) -> float:
    return float(statistics.median(values))


MIN_BEYOND = 10  # samples a reported percentile needs beyond it
RSS_INTERVAL_S = 0.1
HOST_PROBE_INTERVAL_S = 0.1


def percentile(values, q: float) -> float | None:
    """The ``q`` quantile (0 < q < 1), or None unless at least
    ``MIN_BEYOND`` samples lie beyond it -- a tail figure read off fewer
    samples than that is one or two outliers, not a percentile."""
    n = len(values)
    pos = q * (n - 1)
    lo = int(pos)
    if n == 0 or n - 1 - lo < MIN_BEYOND:
        return None
    s = sorted(values)
    hi = min(lo + 1, n - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


# ---------------------------------------------------------------- operations


class Ops:
    """Counts attempted and failed operations; a failure is recorded as
    ``{"error": ...}`` and the run goes on."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []

    def run(self, name: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 -- recorded, not raised
            self.fail(name, f"{type(exc).__name__}: {exc}", traceback.format_exc(limit=4))
            return None

    def check(self, name: str, fn, *args) -> bool:
        """One output check: ``fn`` returns a list of problems; the check
        fails when it reports any or raises."""
        problems = self.run(name, fn, *args)
        if problems:
            self.fail(name, "; ".join(problems[:5]))
        return not problems

    def fail(self, name: str, error: str, detail: str | None = None) -> None:
        self.failed += 1
        rec = {"op": name, "error": error[:2000]}
        if detail:
            rec["trace"] = detail[-4000:]
        self.errors.append(rec)


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, run id). A layer's self
    time is its span minus the time covered by its children."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [{**s, "self": selfs[s["id"]]} for s in self.spans]


# ---------------------------------------------------------------- spark


def materialize(df) -> None:
    """Compute every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    total, it = 0, beans.iterator()
    while it.hasNext():
        total += it.next().getCollectionTime()
    return total


class Engine:
    """Engine-wide counters from the status store, as deltas between a
    mark and now: jobs, stages, tasks, task and GC seconds, shuffle write
    and spill bytes. ``stage_ops`` names the physical operators a stage
    ran, from the stage's operation graph."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.mark()

    def _stages(self):
        seq = self.store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        self._seen = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self._jobs = self.store.jobsList(None).size()
        self._gc = jvm_gc_ms(self.spark)

    def new_stages(self):
        return [s for s in self._stages() if (s.stageId(), s.attemptId()) not in self._seen]

    def stage_ops(self, stage_id: int) -> list[str]:
        names: list[str] = []

        def walk(c):
            names.append(c.name())
            ch = c.childClusters()
            for j in range(ch.size()):
                walk(ch.apply(j))

        walk(self.store.operationGraphForStage(stage_id).rootCluster())
        return names

    def delta(self) -> dict:
        stages = [s for s in self.new_stages() if s.status().toString() == "COMPLETE"]
        return {
            "jobs": self.store.jobsList(None).size() - self._jobs,
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "task_s": sum(s.executorRunTime() for s in stages) / 1000.0,
            "task_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "gc_s": (jvm_gc_ms(self.spark) - self._gc) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
            "input_rows": sum(s.inputRecords() for s in stages),
            "input_bytes": sum(s.inputBytes() for s in stages),
        }


def engine_metrics(delta: dict) -> dict:
    return {
        f"spark.{k}": delta[k]
        for k in (
            "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"
        )
    }


# ---------------------------------------------------------------- host


def cpu_ticks() -> tuple[int, int]:
    """(steal, wanted) CPU ticks of the whole host since boot, from
    /proc/stat: steal is time a vCPU could run but the hypervisor ran
    another guest; wanted is that plus the time it did run. A run's
    steal share shows whether a slow set of runs was the host's doing."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


# ---------------------------------------------------------------- memory


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class HostProbe:
    """Times a fixed numpy kernel (a sort of 150k doubles, ~2 ms) every
    ``HOST_PROBE_INTERVAL_S`` on a background thread: how fast the host
    runs a fixed piece of work at that moment, for ~2% of one core."""

    def __init__(self):
        self._data = np.random.default_rng(0).random(150_000)
        self.samples: list[tuple[float, float]] = []  # (time.time() at start, seconds)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(HOST_PROBE_INTERVAL_S):
            at, t = time.time(), time.perf_counter()
            np.sort(self._data)
            self.samples.append((at, time.perf_counter() - t))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def relative(self, spans: list[tuple[float, float]]) -> tuple[float, float]:
        """For (start, seconds) spans of work: the median over the spans
        of each one's seconds over the median probe sample taken while it
        ran, and the median of those probe medians. A span no sample fell
        in uses the median of all samples."""
        everywhere = median([d for _, d in self.samples])
        probes = [
            median([d for at, d in self.samples if lo <= at <= lo + s] or [everywhere])
            for lo, s in spans
        ]
        ratios = [s / p for (_, s), p in zip(spans, probes)]
        return median(ratios), median(probes)


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers, sampled
    from /proc on a background thread."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(self.jvm_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

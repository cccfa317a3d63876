"""Pieces every workload shares: the closed loop (with the reference
query timed beside it, and the tracing-overhead A/B of a traced run) and
the traced-run extras (session spans, host calibration)."""

from __future__ import annotations

import inspect
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from measure import Engine, engine_metrics, jvm_gc_ms, materialize, median

MIN_ITERATIONS = 3
# untimed iterations after the first: the JIT speeds the loop up by ~40%
# over about this many (a few more would flatten the rest of the slope,
# but the full measurement must fit its time budget on a loaded host)
WARMUP_ITERATIONS = 8
# untimed reference runs: its time falls over about this many as the JIT
# compiles it, and a trend in the reference would move result_rel
REFERENCE_WARMUP = 12
CALIBRATION_REPS = 3


def defaults(fn) -> dict:
    """A public function's keyword defaults, so the harness passes what the
    package passes instead of retyping it."""
    return {
        k: p.default
        for k, p in inspect.signature(fn).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


def reference(spark):
    """A zero-argument function running a fixed plan of the pipeline's
    shape: lag and a past-only rolling mean and std per key, on 80k
    generated rows, through the ``noop`` sink. It reads no file and calls
    no package code, and runs in a session of its own on the same
    SparkContext with its SQL settings pinned here, so a change to the
    package or to its session defaults does not change it. Timed next to
    the program, it measures how fast the host runs Spark right then."""
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    df = session.range(0, 80_000, 1, 4).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("t"),
        (F.xxhash64("id") % 1000).cast("double").alias("v"),
    )
    w = Window.partitionBy("k").orderBy("t")
    past = w.rowsBetween(-24, -1)
    plan = df.select(
        "k", "t", "v", F.lag("v", 1).over(w).alias("l"),
        F.avg("v").over(past).alias("m"), F.stddev("v").over(past).alias("s"),
    ).filter(F.col("s").isNotNull())
    return lambda: materialize(plan)


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def closed_loop(ctx, name: str, fn, ref=None):
    """One client, one action at a time: the first iteration in the
    fresh session, ``WARMUP_ITERATIONS`` untimed ones, then timed
    iterations for ``ctx.seconds`` (at least ``MIN_ITERATIONS``). Returns
    the loop's metrics and the last result.

    In an untraced run the zero-argument ``ref`` (see :func:`reference`)
    runs ``REFERENCE_WARMUP`` times after the first iteration, then once
    before the timed loop and after every timed iteration.
    ``result_rel`` is the median timed iteration divided by the median
    reference time: the host's speed, which on a shared host drifts by
    tens of percent within minutes, cancels out of it.

    In a traced run the timed iterations alternate untraced and traced,
    starting and ending untraced, so each traced iteration sits between
    two untraced ones and what is left of the warm-up trend cancels out
    of ``trace.overhead_s``. Traced iterations run inside an
    ``iteration`` span, the rest with spans off. The engine counters the
    timed loop moved are reported per iteration; the reference does not
    run, so they count the program's work alone."""
    enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
    ref = None if enabled else ref
    ref_s: list[float] = []
    try:
        t = time.perf_counter()
        last = ctx.ops.run(f"{name}.first", fn)
        first_s = time.perf_counter() - t
        for _ in range(REFERENCE_WARMUP if ref is not None else 0):
            _timed(ref)
        for _ in range(WARMUP_ITERATIONS):
            out = ctx.ops.run(f"{name}.warmup", fn)
            if out is not None:
                last = out
        if ref is not None:
            ref_s.append(_timed(ref))
        engine = Engine(ctx.spark) if enabled else None
        times: dict[bool, list[float]] = {False: [], True: []}
        k = 0  # timed iterations so far
        deadline = time.perf_counter() + ctx.seconds
        # a traced loop ends on an untraced iteration, i.e. after an odd number
        while time.perf_counter() < deadline or k < MIN_ITERATIONS or (enabled and k % 2 == 0):
            traced = enabled and k % 2 == 1
            k += 1
            ctx.tracer.enabled = traced
            with ctx.tracer.span("iteration"):
                t = time.perf_counter()
                out = ctx.ops.run(f"{name}.iteration", fn)
                elapsed = time.perf_counter() - t
            ctx.tracer.enabled = False
            if ref is not None:
                ref_s.append(_timed(ref))
            if out is not None:
                last = out
                times[traced].append(elapsed)
    finally:
        ctx.tracer.enabled = enabled
    ctx.artifact["result_samples_s"] = times[False]
    ctx.artifact["reference_samples_s"] = ref_s
    metrics = {"first_result_s": first_s, "result_s": median(times[False] or [first_s])}
    if ref_s and times[False]:
        metrics["reference.spark_query_s"] = median(ref_s)
        metrics["result_rel"] = metrics["result_s"] / metrics["reference.spark_query_s"]
    if engine is not None:
        metrics.update({key: v / k for key, v in engine_metrics(engine.delta()).items()})
        if times[True]:
            metrics["trace.overhead_s"] = median(times[True]) - metrics["result_s"]
    return metrics, last


def calibration_s(spark) -> float:
    """bench.py's pure-JVM host probe: generated data, no IO, no Python,
    a fixed plan; the median of (wall - GC) measures the host."""
    def probe():
        return (
            spark.range(0, 20_000_000, 1, 32)
            .select((F.col("id") % 9973).alias("g"), F.xxhash64("id").alias("h"))
            .groupBy("g")
            .agg(
                F.expr("bit_xor(h)").alias("s"),
                F.count("*").alias("n"),
                F.max("h").alias("mx"),
            )
        )

    out = []
    for _ in range(CALIBRATION_REPS):
        gc0 = jvm_gc_ms(spark)
        t = time.perf_counter()
        materialize(probe())
        out.append(time.perf_counter() - t - (jvm_gc_ms(spark) - gc0) / 1000.0)
    return median(out)


def traced_common(ctx) -> dict:
    out = {
        "session.get_spark_s": ctx.tracer.total("session.get_spark"),
        "session.warm_s": ctx.tracer.total("session.warm"),
    }
    with ctx.tracer.span("host.calibration"):
        out["host.calib_cpu_s"] = calibration_s(ctx.spark)
    return out

"""The detector-suite layer: ``plans.detector_suite.detector_suite`` and
``operators.timeseries.forecast_selector`` over one resampled grid, plus
their per-series numpy kernels called directly.

``detectors`` is not a workload of its own (a closed loop of it does not
fit the run budget, see README.md); :func:`traced` measures this layer
inside the ``stream_alerts`` traced run, on its own seeded input, and
checks the suite's scores against the kernels run on the same series.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from amonaly_detection_in_time_series_data_spark.operators.esd import gesd_numpy, seasonal_resid
from amonaly_detection_in_time_series_data_spark.operators.kalman import kalman_numpy
from amonaly_detection_in_time_series_data_spark.operators.spectral import sr_numpy
from amonaly_detection_in_time_series_data_spark.operators.timeseries import (
    forecast_selector,
    hw_numpy,
    resample_grid,
    theta_forecast,
    theta_numpy,
)
from amonaly_detection_in_time_series_data_spark.plans.detector_suite import detector_suite
from amonaly_detection_in_time_series_data_spark.sources.readers import load_table
from common import defaults
from measure import Engine, materialize, median

N_SERIES = 40
N_DAYS = 30
SAMPLE = list(range(4))  # series the kernels are run on directly
PREFIX_ROUNDS = 2  # materialisations per prefix, median taken
KERNEL_ROUNDS = 3  # timed passes per kernel, median taken
KEY = ["user_id"]


def grid_of(spark, src: str):
    ev = load_table(spark, src, "events")
    return ev, resample_grid(ev, KEY, "ts", ["value"], step="1 hour")


def iteration(spark, src: str):
    ev, grid = grid_of(spark, src)
    suite = detector_suite(ev, "ts", "value", KEY)
    sel = forecast_selector(grid.na.drop(subset=["value"]), "bucket_ts", "value", KEY)
    materialize(suite)
    materialize(sel)
    return suite, sel


# ---------------------------------------------------------------- checks


def sample_grids(events: pd.DataFrame) -> dict[int, np.ndarray]:
    """pandas resample of the sampled series: hourly mean, gaps forward-
    filled, grid from each series' first to last hour."""
    out = {}
    for uid in SAMPLE:
        s = events[events["user_id"] == uid]
        hourly = s.groupby(s["ts"].dt.floor("h"))["value"].mean()
        grid = pd.date_range(hourly.index.min(), hourly.index.max(), freq="h")
        out[uid] = hourly.reindex(grid).ffill().to_numpy(dtype="float64")
    return out


def kernels() -> dict:
    """The suite's and the selector's per-series kernels, each with the
    parameters its operator passes (read from the operators' defaults)."""
    ds, fs, th = defaults(detector_suite), defaults(forecast_selector), defaults(theta_forecast)
    hw = (fs["season_rows"], fs["alpha"], fs["beta"], fs["gamma"])
    return {
        "kalman_numpy": lambda y: kalman_numpy(y, snr=ds["kalman_snr"])["score"],
        "gesd": lambda y: gesd_numpy(
            seasonal_resid(y, ds["season_rows"]), max_outliers=int(math.floor(0.05 * len(y)))
        )[0],
        "sr_numpy": lambda y: sr_numpy(y)[1],
        "hw_numpy": lambda y: (hw_numpy(y, *hw, 1.0)[2][-1], hw_numpy(y, *hw, fs["phi"])[2][-1]),
        "theta_numpy": lambda y: theta_numpy(y, th["alpha"], th["min_points"])[2][-1],
    }


def kernel_outputs(y: np.ndarray) -> dict:
    k = kernels()
    hw, damped = k["hw_numpy"](y)
    return {
        "kf_score": k["kalman_numpy"](y),
        "esd_resid": seasonal_resid(y, defaults(detector_suite)["season_rows"]),
        "esd_flag": k["gesd"](y),
        "sr_score": k["sr_numpy"](y),
        "hw_mae": hw,
        "hw_damped_mae": damped,
        "theta_mae": k["theta_numpy"](y),
    }


def check_kernels(suite, sel, grids: dict) -> list[str]:
    got = (
        suite.filter(F.col("user_id").isin(SAMPLE))
        .select("user_id", "bucket_ts", "value", "kf_score", "esd_resid", "esd_flag", "sr_score")
        .toPandas().sort_values(["user_id", "bucket_ts"])
    )
    fin = sel.filter(F.col("user_id").isin(SAMPLE)).toPandas().set_index("user_id")
    problems = []
    for uid, y in grids.items():
        g = got[got["user_id"] == uid]
        if len(g) != len(y) or not np.allclose(g["value"].to_numpy(), y, rtol=1e-9):
            problems.append(f"series {uid}: grid differs ({len(g)} vs {len(y)} rows)")
            continue
        want = kernel_outputs(y)
        for c in ("kf_score", "esd_resid", "sr_score"):
            a, b = g[c].to_numpy(dtype=float), want[c]
            if not (np.isclose(a, b, rtol=1e-6, atol=1e-9) | (np.isnan(a) & np.isnan(b))).all():
                problems.append(f"series {uid}: {c} differs")
        if not (g["esd_flag"].to_numpy(dtype=bool) == want["esd_flag"]).all():
            problems.append(f"series {uid}: esd_flag differs")
        for c in ("hw_mae", "hw_damped_mae", "theta_mae"):
            if not np.isclose(fin.loc[uid, c], want[c], rtol=1e-9):
                problems.append(f"series {uid}: {c} {fin.loc[uid, c]} vs {want[c]}")
    return problems


# ---------------------------------------------------------------- traced layers


def kernel_us_per_row(grids: dict) -> dict:
    """Direct driver calls of each kernel on the sampled series."""
    rows = sum(len(y) for y in grids.values())
    out = {}
    for name, fn in kernels().items():
        times = []
        for _ in range(KERNEL_ROUNDS):
            t = time.perf_counter()
            for y in grids.values():
                fn(y)
            times.append(time.perf_counter() - t)
        out[f"kernel.{name}.us_per_row"] = median(times) / rows * 1e6
    return out


def traced_layers(ctx, src: str) -> dict:
    """Prefix timings of scan, grid, suite and selector; the suite's
    pandas group-map task time; grid rows and ensemble alarms."""
    spark, span = ctx.spark, ctx.tracer.span
    engine = Engine(spark)
    ev, grid = grid_of(spark, src)
    with span("plans.detector_suite.call") as s:
        suite = detector_suite(ev, "ts", "value", KEY)
    out = {"plans.detector_suite.call_s": s["end"] - s["start"]}
    sel = forecast_selector(grid.na.drop(subset=["value"]), "bucket_ts", "value", KEY)

    def timed(name, df):
        times = []
        for _ in range(PREFIX_ROUNDS):
            with span(name) as s:
                materialize(df)
            times.append(s["end"] - s["start"])
        return median(times)

    scan_s = timed("prefix.scan", ev)
    grid_s = timed("prefix.resample_grid", grid)
    obs = Observation("grid_rows")
    materialize(grid.observe(obs, F.count(F.lit(1)).alias("rows")))
    engine.mark()
    suite_s = timed("prefix.detector_suite", suite)
    stages = engine.new_stages()
    obs_alarm = Observation("alarms")
    materialize(suite.observe(obs_alarm, F.sum(F.col("ensemble_alarm").cast("int")).alias("alarms")))
    sel_s = timed("prefix.forecast_selector", sel)
    # the pandas group-map stage(s) of the suite, found by operator name
    py_ms = sum(
        st.executorRunTime() for st in stages
        if "FlatMapGroupsInPandas" in engine.stage_ops(st.stageId())
    )
    out.update({
        "operators.timeseries.resample_grid.self_s": grid_s - scan_s,
        "operators.timeseries.resample_grid.rows_out": obs.get["rows"],
        "plans.detector_suite.self_s": suite_s - grid_s,
        "plans.detector_suite.python_task_s": py_ms / 1000.0 / PREFIX_ROUNDS,
        "plans.detector_suite.rows_alarm": obs_alarm.get["alarms"],
        "operators.timeseries.forecast_selector.self_s": sel_s - grid_s,
    })
    return out


# ---------------------------------------------------------------- traced entry


def traced(ctx) -> dict:
    events = gen.detector_events(ctx.seed, N_SERIES, N_DAYS)
    src = os.path.join(ctx.work, "detectors")
    gen.write(events, os.path.join(src, "events.parquet"))
    ctx.inputs["detector_events"] = {**gen.properties(events), "digest": gen.digest(events)}
    grids = sample_grids(events)
    with ctx.tracer.span("detectors.first"):
        suite, sel = iteration(ctx.spark, src)
    ctx.ops.check("check.kernels", check_kernels, suite, sel, grids)
    out = traced_layers(ctx, src)
    out.update(kernel_us_per_row(grids))
    return out

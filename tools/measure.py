"""One measurement harness, on bench.py's timing protocol.

Usage:
    python tools/measure.py sweep SF_DIR [query ...]
    python tools/measure.py audit SF_DIR
    python tools/measure.py ab CHECKOUT_A CHECKOUT_B SF_DIR [query ...]

- ``sweep`` times every ``queries()`` entry (or the named ones) with
  bench.py's protocol (warm-up, then per query: fingerprint, plan time,
  5 noop-sink reps, median of wall - JVM GC) and both calibration
  probes. Its JSON object has bench.py's per-query maps plus
  ``value``/``calibration_s``/``calibration_io_s``, so
  ``tools/bench_compare.py`` reads two sweeps. A decade ladder is two
  sweeps at two sf dirs, or at two ``SPARK_GRAFT_CPUS``.
- ``audit`` plans every ``queries()`` entry (no action runs) and counts
  exchanges, scans, windows, joins and Python nodes (a cached plan once,
  however many scans read it), flagging the
  scale-killers: ``BatchEvalPython``, ``CartesianProduct``, a Python-RDD
  local table, and a window fed by a single-partition exchange.
- ``ab`` times the queries (default: bench.py's HEADLINE) in 10
  interleaved pairs of fresh JVMs, the first side alternating, so host
  drift hits both sides alike. Each child imports the package and
  ``__spark_entry__`` from its checkout and the protocol from this
  file's tree, so a checkout of an older commit needs no new code. A
  conf A/B is two checkouts that differ in ``session.py``.

Progress goes to stderr; stdout carries only the JSON object.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from statistics import median

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import (  # noqa: E402
    HEADLINE,
    calibrate,
    plan_fingerprint,
    time_queries,
    warm,
)

PAIRS = 10

_INDENT = re.compile(r"^[\s:+\-*(]*(\(\d+\)\s*)?")

_PYTHON_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "BatchEvalPython",
)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _depth(line: str) -> int:
    """Tree depth of a plan line = width of its indent/connector prefix."""
    m = _INDENT.match(line)
    return len(m.group(0)) if m else 0


def single_partition_windows(plan: str) -> int:
    """Count Window nodes whose OWN subtree's nearest Exchange is
    SinglePartition (the window's data really is funneled to one task),
    ignoring unrelated single-partition exchanges elsewhere in the plan
    (a global sort, a scalar aggregate on a sibling branch)."""
    lines = plan.splitlines()
    hits = 0
    for i, line in enumerate(lines):
        if "Window [" not in line and "WindowGroupLimit" not in line:
            continue
        d = _depth(line)
        for nxt in lines[i + 1 :]:
            if _depth(nxt) <= d and nxt.strip():
                break  # left the Window's subtree
            if "Exchange" in nxt:
                hits += "Exchange SinglePartition" in nxt
                break  # nearest exchange below decides
    return hits


def distinct_cached(plan: str) -> str:
    """The plan text with each cached plan printed once.

    A persisted frame's whole plan is printed under its
    ``InMemoryRelation`` below EVERY ``InMemoryTableScan`` that reads it,
    though it runs once (the relation line's own attribute ids differ per
    scan, the cached subtree does not). Repeats of a subtree already seen
    are cut, relation line included."""
    lines = plan.splitlines()
    seen: set[tuple] = set()
    kept: list[str] = []
    i = 0
    while i < len(lines):
        if "InMemoryRelation" not in lines[i]:
            kept.append(lines[i])
            i += 1
            continue
        d = _depth(lines[i])
        j = i + 1
        while j < len(lines) and (_depth(lines[j]) > d or not lines[j].strip()):
            j += 1
        body = tuple((_depth(x) - d, x[_depth(x):]) for x in lines[i + 1 : j])
        if body in seen:
            i = j
        else:  # read on into it: it may print other cached plans again
            seen.add(body)
            kept.append(lines[i])
            i += 1
    return "\n".join(kept)


def audit_plan(plan: str) -> dict:
    """Flags and node counts of one physical plan's text, each cached
    plan counted once (:func:`distinct_cached`).

    ``python_rdd`` counts ``applySchemaToPythonRDD`` scans (a per-action
    Python-worker round trip, flagged); ``jvm_rdd`` counts the other
    ``Scan ExistingRDD`` nodes (checkpoint-pinned JVM rows, benign)."""
    plan = distinct_cached(plan)
    python_rdd = plan.count("applySchemaToPythonRDD")
    sp_windows = single_partition_windows(plan)
    flags = [f for f in ("BatchEvalPython", "CartesianProduct") if f in plan]
    if python_rdd:
        flags.append("python-rdd-scan")
    if sp_windows:
        flags.append(f"single-partition-window:{sp_windows}")
    return {
        "flags": flags,
        "exchanges": sum(
            plan.count(f"Exchange {kind}")
            for kind in (
                "hashpartitioning",
                "rangepartitioning",
                "SinglePartition",
                "RoundRobinPartitioning",
            )
        ),
        "single_part_exchanges": plan.count("Exchange SinglePartition"),
        "filescans": plan.count("FileScan") or plan.count("Scan parquet"),
        "windows": plan.count("Window ["),
        "single_partition_windows": sp_windows,
        "joins": plan.count("Join"),
        "python": sum(plan.count(node) for node in _PYTHON_NODES),
        "python_rdd": python_rdd,
        "jvm_rdd": plan.count("Scan ExistingRDD") - python_rdd,
    }


def _query_fns(entrymod, names: list[str]) -> dict:
    return {n: getattr(entrymod, f"q_{n}") for n in names}


def sweep(sf_dir: str, names: list[str]) -> dict:
    import __spark_entry__ as entrymod
    from amonaly_detection_in_time_series_data_spark.session import get_spark

    spark = get_spark(app_name="measure-sweep")
    fns = _query_fns(entrymod, names or list(entrymod.queries()))
    warm(spark, sf_dir)
    calib = calibrate(spark, sf_dir)
    timed: dict[str, dict] = {}
    for name, fn in fns.items():
        one = time_queries(spark, sf_dir, {name: fn})
        for key, per_query in one.items():
            timed.setdefault(key, {}).update(per_query)
        _log(f"{name:28s} {one['queries_detail'][name]}")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    return {
        "metric": "sweep_query_wall_seconds",
        "value": round(sum(timed["queries"].values()), 3),
        "unit": "sec",
        **timed,
        **calib,
        "sf": float(sf) if sf else sf_dir,
    }


def audit(sf_dir: str) -> dict:
    import __spark_entry__ as entrymod
    from amonaly_detection_in_time_series_data_spark.session import get_spark

    spark = get_spark(app_name="measure-audit")
    out: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            out[name] = audit_plan(df._jdf.queryExecution().executedPlan().toString())
            out[name]["plan"] = plan_fingerprint(df)
        except Exception as e:  # noqa: BLE001 - one query must not end the audit
            out[name] = {"error": f"{type(e).__name__}: {e}"[:2000]}
        _log(f"{name:28s} {out[name]}")
    return out


def sample(checkout: str, sf_dir: str, names: list[str]) -> dict:
    """One A/B sample: runs in a fresh process whose package and
    ``__spark_entry__`` come from ``checkout``."""
    sys.path.insert(0, checkout)
    import __spark_entry__ as entrymod
    from amonaly_detection_in_time_series_data_spark import session

    for mod in (entrymod, session):
        if not os.path.abspath(mod.__file__).startswith(checkout + os.sep):
            raise RuntimeError(f"{mod.__name__} imported from {mod.__file__}")
    spark = session.get_spark(app_name="measure-ab")
    warm(spark, sf_dir)
    return time_queries(spark, sf_dir, _query_fns(entrymod, names))


_CHILD = """
import importlib.util, json
spec = importlib.util.spec_from_file_location("measure", {path!r})
measure = importlib.util.module_from_spec(spec)
spec.loader.exec_module(measure)
print("RESULT " + json.dumps(measure.sample({checkout!r}, {sf_dir!r}, {names!r})))
"""


def _run_sample(checkout: str, sf_dir: str, names: list[str]) -> dict:
    code = _CHILD.format(
        path=os.path.abspath(__file__), checkout=checkout, sf_dir=sf_dir,
        names=names,
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=checkout, capture_output=True,
        text=True,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            got = json.loads(line[len("RESULT "):])
            missing = [n for n in names if n not in got["queries"]]
            if missing:
                raise RuntimeError(
                    f"{checkout}: {[got['queries_detail'][n] for n in missing]}"
                )
            return got
    raise RuntimeError(f"{checkout}: sample failed\n{p.stderr[-3000:]}")


def ab(checkout_a: str, checkout_b: str, sf_dir: str, names: list[str]) -> dict:
    names = names or HEADLINE
    sides = {"a": os.path.abspath(checkout_a), "b": os.path.abspath(checkout_b)}
    samples: dict[str, list[dict]] = {"a": [], "b": []}
    plans: dict[str, dict] = {}
    for i in range(PAIRS):
        for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
            got = _run_sample(sides[side], sf_dir, names)
            per_query = dict(got["queries"])
            per_query["total"] = round(sum(per_query.values()), 3)
            samples[side].append(per_query)
            plans[side] = got["plans"]
            _log(f"pair {i} {side}: {per_query}")

    summary = {}
    for q in [*names, "total"]:
        a = [s[q] for s in samples["a"]]
        b = [s[q] for s in samples["b"]]
        summary[q] = {
            "a": round(median(a), 3),
            "b": round(median(b), 3),
            "b_over_a": round(median(b) / median(a), 3),
            "b_faster_pairs": sum(y < x for x, y in zip(a, b)),
        }
        if q != "total":
            summary[q]["same_plan"] = plans["a"][q] == plans["b"][q]
    return {
        "a": sides["a"],
        "b": sides["b"],
        "sf_dir": sf_dir,
        "pairs": PAIRS,
        "summary": summary,
        "samples": samples,
    }


def main(argv: list[str]) -> None:
    arity = {"sweep": (1, None), "audit": (1, 1), "ab": (3, None)}
    cmd, args = (argv[0], argv[1:]) if argv else (None, [])
    lo, hi = arity.get(cmd, (1, 0))
    if not lo <= len(args) <= (hi or len(args)):
        sys.exit(__doc__.split("\n\n")[1])
    if cmd == "sweep":
        out = sweep(args[0], args[1:])
    elif cmd == "audit":
        out = audit(args[0])
    else:
        out = ab(args[0], args[1], args[2], args[3:])
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])

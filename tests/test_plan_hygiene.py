"""Repo-wide plan hygiene: EVERY declared query's physical plan is
swept for the two structural scale-killers —

- ``BatchEvalPython`` (row-at-a-time Python UDF: serializes rows one by
  one through the Python worker; the repo's contract is Arrow-batched
  pandas exchanges only), and
- ``CartesianProduct`` (a non-broadcast cross join: quadratic shuffle
  at any scale; every deliberate crossJoin in the repo broadcasts a
  tiny side, which compiles to BroadcastNestedLoopJoin instead).

The per-operator plan assertions elsewhere pin what individual plans
SHOULD contain; this sweep pins what no plan may EVER contain, so a
future operator cannot quietly regress the discipline. Runs at the
smallest SF — only the plan is inspected; nothing large executes.

A source sweep pins the same for the package code: no ``iterrows``
anywhere, and one stateful-streaming runner — the only
``applyInPandasWithState`` / ``transformWithStateInPandas`` call is
in ``streaming.rolling._keyed_fold``, which arms no Spark timeout and
takes no typed state schema. Its batch counterpart: the only
``applyInPandas`` calls are the per-series runner
``operators.series.per_series`` and the operators whose output has
another shape, and ``simpleString()`` (the type half of an output DDL)
is called in ``functions.sqltext`` alone. Another pins that the detector
battery's shared arithmetic has one source: the robust-alarm constant,
the OLS residual standard error, the integer-unit snap and the STOMP
sliding-dot update each appear once in the package. One lists the
package's eager ``localCheckpoint`` pins by enclosing function, so a new
pin shows up as an edit of that list. A last one pins that the package
patches the standard library's ``zipimport`` in one function, installed
only in PySpark worker processes.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

import __spark_entry__ as entrymod
import amonaly_detection_in_time_series_data_spark as pkg

QUERY_NAMES = list(entrymod.queries())
PKG_DIR = pathlib.Path(pkg.__file__).parent
STATEFUL_CALLS = {"applyInPandasWithState", "transformWithStateInPandas"}


@pytest.fixture(scope="module")
def built_plans(spark, sf_dir):
    """Build each query once, return its physical-plan string.

    Built eagerly in one fixture so iterative queries (KMeans fits,
    training curves) run their driver-side fits once, not per-test.
    """
    qs = entrymod.queries()
    plans = {}
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
    return plans


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_row_at_a_time_python_udf(built_plans, name):
    assert "BatchEvalPython" not in built_plans[name], (
        f"{name}: row-at-a-time Python UDF in the plan"
    )


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_no_unbroadcast_cartesian_product(built_plans, name):
    assert "CartesianProduct" not in built_plans[name], (
        f"{name}: non-broadcast cartesian product in the plan"
    )


def _attribute_calls(tree):
    """(attribute name, enclosing function name) of every ``x.attr(...)``
    call in a module's syntax tree."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            out.append((node.func.attr, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_no_iterrows_and_one_stateful_runner():
    found = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()
        for attr, func in _attribute_calls(ast.parse(path.read_text())):
            if attr == "iterrows" or attr in STATEFUL_CALLS:
                found.append((rel, attr, func))
    assert found == [
        ("streaming/rolling.py", "applyInPandasWithState", "_keyed_fold")
    ]


def test_stateful_runner_arms_no_spark_timeout_and_no_typed_state():
    """Idle-key expiry lives in ``_keyed_fold``'s state function, against
    the batch clock: the package arms no Spark timeout (each one runs
    no-data micro-batches and keeps an availableNow query alive), and
    no twin declares a typed state schema, since a bucket's state is
    one pickled book."""
    timeouts, schemas = [], []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name in ("ProcessingTimeTimeout", "EventTimeTimeout"):
                timeouts.append((rel, name))
            if isinstance(node, ast.keyword) and node.arg == "state_schema":
                schemas.append(rel)
            if isinstance(node, ast.arg) and node.arg == "state_schema":
                schemas.append(rel)
    assert timeouts == [] and schemas == []


#: the grouped-map Arrow stages: the per-series runner, and the
#: operators whose output is not "a series' first n rows + columns"
#: (future rows, one row per segment / reference / tile, a join key)
GROUPED_MAP_SITES = {
    ("operators/series.py", "per_series"),
    ("operators/timeseries.py", "holt_winters"),
    ("operators/changepoint.py", "pelt_changepoints"),
    ("operators/matrixprofile.py", "matrix_profile_chunked"),
    ("operators/anomaly.py", "throttle_alerts"),
}


def test_one_per_series_runner_and_one_ddl_builder():
    """Every per-series detector composes through ``per_series``; the
    grouped-map calls outside it are the named exceptions. Output DDL
    is written by ``sqltext`` alone, so every field name is quoted."""
    grouped, types = [], []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()
        for attr, func in _attribute_calls(ast.parse(path.read_text())):
            if attr == "applyInPandas":
                grouped.append((rel, func))
            elif attr == "simpleString":
                types.append(rel)
    assert sorted(grouped) == sorted(GROUPED_MAP_SITES)
    assert types == ["functions/sqltext.py"]


#: formulas the detectors share, each written once (the battery's as
#: SQL text, the matrix profile's as numpy)
ONE_SOURCE = {
    # the integer robust alarm 0.6745 * dev / mad > 3.5 cross-multiplied
    "robust alarm": re.compile(r"\b26980\b"),
    # OLS residual standard error sqrt(SSE / (n - 2)); the streaming
    # twin's Python-int replay (math.sqrt) is the fold, not SQL text
    "OLS stderr": re.compile(r"(?<!math\.)\bsqrt\((?:(?!sqrt\().)*?/ \(\{?n\}? - 2\)\)"),
    # integer-unit snap round(x * scale) cast to BIGINT
    "unit snap": re.compile(
        r"round\((?:(?!round\().)*?\* \{?scale\}?\)\s*(?:as bigint|\.cast\(\s*\"bigint\")"
    ),
    # the STOMP sliding-dot update QT_i[j] = QT_{i-1}[j-1] - ... + ...
    "STOMP update": re.compile(r"qt\[1:\] = \(? ?qt\[:-1\] -"),
}


def test_battery_formulas_have_one_source():
    hits = {name: [] for name in ONE_SOURCE}
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()
        text = " ".join(path.read_text().split())
        for name, pattern in ONE_SOURCE.items():
            hits[name] += [rel] * len(pattern.findall(text))
    assert hits == {
        "robust alarm": ["operators/anomaly.py"],
        "OLS stderr": ["operators/anomaly.py"],
        "unit snap": ["functions/sqltext.py"],
        "STOMP update": ["operators/matrixprofile.py"],
    }


#: the package's eager ``localCheckpoint`` pins, by enclosing function:
#: the graph iterations cut their lineage each round, and the
#: incremental stores materialize a result before overwriting the files
#: its lineage reads
PIN_SITES = [
    ("operators/graph.py", "connected_components"),
    ("operators/graph.py", "connected_components"),
    ("operators/graph.py", "pagerank"),
    ("operators/graph.py", "pagerank"),
    ("operators/graph.py", "pagerank"),
    ("operators/ingest.py", "incremental_neardup_batch"),
    ("operators/ingest.py", "similarity_index_rebuild_df"),
    ("operators/ingest.py", "similarity_index_update"),
    ("operators/maintenance.py", "file_stats_index_update"),
    ("operators/similarity.py", "gram_df_index_update"),
]


def test_local_checkpoint_sites():
    """Each pin runs a Spark job where it is called; none sits in a
    function that only builds a plan."""
    sites = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()
        for attr, func in _attribute_calls(ast.parse(path.read_text())):
            if attr == "localCheckpoint":
                sites.append((rel, func))
    assert sorted(sites) == PIN_SITES


#: names of the standard-library import machinery the package patches
ZIP_NAMES = {"zipimport", "invalidate_caches"}
WORKER_CHECK = "_is_running_on_worker"


def _zip_patch_sites():
    """(file, top-level function) of every syntax node that names
    ``zipimport``/``invalidate_caches``, and (file, enclosing ``if``
    tests) of every call of the function holding them."""
    named, calls = set(), []
    for path in sorted(PKG_DIR.rglob("*.py")):
        rel = path.relative_to(PKG_DIR).as_posix()

        def visit(node, top, tests):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                top = top or node.name
            names = {
                getattr(node, "id", None), getattr(node, "attr", None),
                getattr(node, "name", None),
            }
            if names & ZIP_NAMES:
                named.add((rel, top))
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                calls.append((rel, node.func.id, tests))
            if isinstance(node, ast.If):
                tests = tests + [ast.unparse(node.test)]
            for child in ast.iter_child_nodes(node):
                visit(child, top, tests)

        visit(ast.parse(path.read_text()), None, [])
    return named, calls


def test_one_guarded_stdlib_zip_patch():
    """The package patches ``zipimport`` in one function, and installs
    it only under the PySpark worker check: every other process keeps
    the standard library."""
    named, calls = _zip_patch_sites()
    assert named == {("__init__.py", "_stat_checked_zip_invalidation")}
    installs = [
        (rel, tests) for rel, func, tests in calls
        if func == "_stat_checked_zip_invalidation"
    ]
    assert len(installs) == 1, installs
    (rel, tests), = installs
    assert rel == "__init__.py" and any(WORKER_CHECK in t for t in tests), tests


class TestComposedTimeseriesLineage:
    """The deployment shape for the detector side: features -> battery
    -> flags composed in ONE lazy lineage must pay the (user_id, ts)
    window exchange ONCE — the architectural claim (SURVEY §3.1 "thread
    boundaries become shuffles, and the same key shares them") asserted
    on the actual physical plan."""

    def test_feature_battery_chain_shares_one_window_exchange(
        self, spark, sf_dir
    ):
        from amonaly_detection_in_time_series_data_spark.operators.anomaly import (
            ewma_deviation,
            page_hinkley,
            rolling_zscore,
        )
        from amonaly_detection_in_time_series_data_spark.operators.features import (
            add_lag_features,
            add_rolling_features,
        )
        from amonaly_detection_in_time_series_data_spark.sources.readers import load_table

        ev = load_table(spark, sf_dir, "events")
        keys, order = ["user_id"], ["ts", "event_id"]
        d = add_lag_features(ev, "value", [1, 2, 3], keys, order)
        d = add_rolling_features(d, "value", [3, 12], ["mean", "std"], keys, order)
        d = rolling_zscore(d, "value", 24, keys, order, threshold=3.0)
        d = page_hinkley(d, "value", keys, order, unit_digits=2)
        d = ewma_deviation(d, "value", 8, keys, order, alpha=0.5)
        plan = d._jdf.queryExecution().executedPlan().toString()
        # Catalyst stacks frame-incompatible window groups as separate
        # Window operators, but they all ride ONE hash exchange and ONE
        # sort — the data is shuffled and ordered exactly once for the
        # whole feature+detector chain. That (not operator count) is
        # the architectural claim.
        import re

        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert len(re.findall(r"\bSort \[", plan)) == 1, plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

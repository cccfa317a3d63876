"""The repo benchmark: one workload, one run, one JSON result line.

Usage, from the root of a checkout (the package is imported from there):

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
prints the per-layer metrics and writes the span file. Inputs are generated
from ``--seed`` under ``.perfbench_work/`` in the checkout (removed at
exit); artifacts (input properties, errors, samples, spans) go to
``.perfbench_out/``. Nothing is read or written outside the checkout:
Spark's local dirs, the JVM's and Python's temp dirs all point into the
work directory. See perfbench/README.md for what each workload and
metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here, less input generation

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from measure import Ops, RssSampler, Tracer, cpu_ticks, materialize  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "stream_alerts")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(work: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Context:
    """What a workload gets: its arguments, the work directory, the span
    tracer, the operation counters, and a Spark session set up and torn
    down here so every workload pays the same setup."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
        self.tracer = Tracer(self.run_id, self.trace)
        self.ops = Ops()
        self.inputs: dict = {}
        self.artifact: dict = {}
        self.spark = None
        self.rss = None
        self.gen_s = 0.0

    @contextlib.contextmanager
    def generating(self):
        """Input generation is the benchmark's work, not the program's:
        ``setup_s`` leaves it out."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.gen_s += time.perf_counter() - t

    def setup(self, paths: list[str]) -> float:
        """Session built, inputs listed, noop sink and a Python worker
        warm. Returns seconds since process start, less the time spent
        generating inputs."""
        from amonaly_detection_in_time_series_data_spark.session import get_spark

        span = self.tracer.span
        with span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench")
        self.rss = RssSampler(self.spark.sparkContext._gateway.proc.pid)
        self.rss.start()
        with span("sources.list"):
            for p in paths:
                self.spark.read.parquet(p).inputFiles()
        with span("session.warm"):
            materialize(self.spark.range(1))
            materialize(
                self.spark.range(2).groupBy("id").applyInPandas(lambda pdf: pdf, "id long")
            )
        return time.perf_counter() - T_START - self.gen_s

    def teardown(self) -> None:
        if self.rss is not None:
            self.rss.stop()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _result(ctx: Context, metrics: dict, spec: dict, trace: bool) -> dict:
    """The result line: the end-to-end metrics, or with ``trace`` the
    per-layer ones. Every measured name must be declared in BENCHMARK.json."""
    extra = set(metrics) - {m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]}
    if extra:
        raise RuntimeError(f"undeclared metrics: {sorted(extra)}")
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        # a layer the workload does not exercise did no work in it
        value = metrics.get(m["name"], 0 if trace else None)
        if value is None:
            raise RuntimeError(f"workload did not measure {m['name']}")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return {
        "correct": ctx.ops.failed == 0,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": out,
    }


@contextlib.contextmanager
def opened(args):
    """A Context for one run, isolated inside the checkout, torn down and
    its work directory removed on the way out."""
    sys.path.insert(0, ROOT)
    # the package under test must come from the checkout; without it there
    # is nothing to measure, and the run fails before printing a result
    importlib.import_module("amonaly_detection_in_time_series_data_spark.session")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    ctx = Context(args, work)
    try:
        yield ctx
    finally:
        ctx.teardown()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    with opened(args) as ctx:
        workload = importlib.import_module(f"wl_{args.workload}")
        ticks = cpu_ticks()
        metrics = workload.run(ctx)
    steal, wanted = (b - a for a, b in zip(ticks, cpu_ticks()))
    metrics["host.steal_share"] = steal / max(wanted, 1)
    metrics["peak_rss_mb"] = ctx.rss.peak_mb
    metrics["error_rate"] = ctx.ops.failed / max(ctx.ops.attempted, 1)
    result = _result(ctx, metrics, spec, bool(args.trace))

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{ctx.run_id}-trace{args.trace}"
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": ctx.inputs,
        "errors": ctx.ops.errors,
        "metrics": metrics,
        **ctx.artifact,
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, stem + "-spans.json"), "w") as f:
            json.dump(ctx.tracer.dump(), f)
    for e in ctx.ops.errors:
        print(f"perfbench: failed {e['op']}: {e['error']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-parity with the pandas reference and
for scale-out behavior:

- ``spark.sql.session.timeZone=UTC`` — the reference's pandas timestamps
  are tz-naive (src/preprocessing.py:34 in the reference); pinning UTC
  makes Spark's timestamp arithmetic reproduce them exactly and makes
  results independent of cluster-node locale.
- AQE on — runtime coalescing of shuffle partitions, skew-join splitting.
  The events table keys windows by ``user_id``; AQE handles residual skew.
- Arrow on — all pandas interchange (tests, pandas UDFs) is vectorized.
- ``spark.sql.shuffle.partitions`` defaults to 32 for local[32] testing;
  on a real cluster this should be ~2-3x total cores (or left to AQE with
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` high).
- DataFrame debugging off (``spark.python.sql.dataFrameDebugging.enabled``).
  With it on, PySpark wraps every ``F.*``/``Column`` call to record its
  Python call site in the JVM, six py4j round trips per call: building
  ``plans.pipeline.anomaly_pipeline`` made 1,442 round trips with it and
  612 without (sf0.001, 4-core host), and on small inputs plan building
  is a large share of a query's wall time. Errors still raise with the
  same class and message; what is lost is the Python file/line fragment
  in an error's query context. PySpark reads the setting once per
  process, from the first active session, so re-enable it through
  ``extra_conf`` on the process's first session when debugging a plan.
- Checkpoint files through ``FileSystem``, not ``FileContext``
  (``spark.sql.streaming.checkpointFileManagerClass``). Without Hadoop's
  native library, ``RawLocalFileSystem`` forks a ``readlink`` process
  for every link-status lookup, and Spark's default manager renames
  each checkpoint file into place through ``FileContext``, which looks
  up the temp file, the target and both ``.crc`` sidecars: ~160
  ``readlink`` forks per micro-batch of ``stream_alerts``' stateful
  alert stream (8 state partitions), ~130 of them in the state commits,
  the rest in the driver's offset, commit, source and sink logs.
  Spark's ``FileSystemBasedCheckpointFileManager`` (its own fallback
  when ``FileContext`` is unavailable) writes the same temp file and
  renames it with ``FileSystem.rename``, which forks nothing: the same
  files, checksums and ``.crc`` sidecars. (Creating a file still forks
  one ``chmod`` with either manager, ~46 a micro-batch.) On a local
  disk both managers check-then-rename. On HDFS the ``FileContext``
  manager's rename is atomic without overwrite, which also guards
  against a second concurrent writer; an HDFS deployment can restore
  it through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalesce floor (default 1m) over-coalesces small-but-CPU-dense
    # post-shuffle stages: a few MB of compressed shuffle bytes expand to
    # 100k+ rows x a wide window/detector expression tree, and the 1m
    # floor packs them onto 1-2 tasks while the rest of the cluster
    # idles (r14: the six-detector battery's final stage ran 2 tasks,
    # max-task 1.03 s). parallelismFirst (default on) already targets
    # defaultParallelism; lowering the floor just stops it being
    # defeated at the low end. NOT a local[32] constant: at scale the
    # data path's partitions sit at/above the 64m advisory so the floor
    # is never binding there — it binds exactly on the small stats/dim
    # subtrees where extra parallelism is free on any cluster size.
    # Measured (r14 interleaved 3-arm A/B at sf0.1): 128k cut the
    # window-family queries 43-56% and the 8-query total 28%; 32k
    # over-splits the explode-heavy text shuffles (minhash +26%), so
    # 128k is the default; override it through get_spark's extra_conf.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # pandas-written parquet carries TIMESTAMP(NANOS) which Spark cannot
    # read natively; read as int64 ns and convert in sources.readers.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Window group-limit pushes top-k rank filters into partial aggregation.
    "spark.sql.window.group.limit.threshold": "1000",
    # Keep planning quiet and deterministic in tests.
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # No Python call-site capture around every Column call (module doc).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Let AQE coalesce the final shuffle of a persisted plan. Spark keeps
    # it at spark.sql.shuffle.partitions otherwise, and every later read
    # of the cached frame runs that many tasks: triangle_counts' two
    # persisted edge frames made q_minhash_pairs_md5 run 942 tasks per
    # action instead of 198 (sf0.01, 4-core host).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Checkpoint renames without a readlink fork per file (module doc).
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def get_spark(
    app_name: str = "amonaly-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` falls back to ``$SPARK_GRAFT_CPUS`` (local[N]) then local[*].
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local mode runs driver == executor, and Spark's default driver heap
    # is 1 GiB — for 32 concurrent tasks that is ~32 MB of heap per task,
    # so any array-heavy operator (tokenized long documents, sort
    # buffers) spends more time collecting than computing: the r9 bench
    # ladder measured GC at 45% of wall on the 200k-token rung, growing
    # superlinearly — the signature of a fixed heap being outgrown, not
    # of an operator quadratic (re-measured at 8g: the same rung's GC
    # share drops to ~10%). Size the heap like a real executor (8-32 GiB
    # is the normal cluster range). Only effective for the process's
    # FIRST session (the JVM reads it at launch); later getOrCreate
    # calls reuse the running JVM.
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "8g"
    )
    # Throughput collector for batch work: an interleaved A/B on the
    # headline queries (SCALING §14) measured ParallelGC == G1 on
    # wall, while the allocation-heavy longdoc ladder's GC share at the
    # 200k rung dropped 12.8% -> 3.7% of wall. Pauses don't matter in a
    # batch engine; on a real cluster mirror this in
    # spark.executor.extraJavaOptions.
    conf.setdefault(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

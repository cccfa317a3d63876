"""Source readers with the reference's ingest semantics.

Reference behavior reproduced (see SURVEY.md §2.1):

- S1  CSV scan with ``;`` delimiter and header row
      (reference: src/data_loader.py:8-26).
- S2  missing file -> EMPTY DataFrame, not an exception
      (reference: src/data_loader.py:10-12,24-26).
- P1  column-name whitespace normalization
      (reference: src/data_loader.py:28-33).
- O3 support: positional dedup ("keep first occurrence in file order")
      requires a stable arrival id stamped at scan time; pandas has the
      row index for free (reference: src/preprocessing.py:79-81), Spark
      does not, so :func:`stamp_arrival_order` adds one.

Scale notes: CSV is read with an explicit raw-string schema (matching the
reference's load-as-object -> coerce flow) so malformed cells never abort
a 100 TB scan; parquet reads go through the native vectorized reader and
carry pushed filters/pruned columns (verified via .explain in tests).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqltext import ident

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_columns(df: DataFrame) -> DataFrame:
    """P1: strip whitespace from every column name.

    Reference: src/data_loader.py:28-33 (``df.columns.str.strip()``).
    Pure metadata operation — no job, no shuffle; a frame whose names are
    already clean comes back as it is.
    """
    names = df.columns
    stripped = [c.strip() for c in names]
    return df if stripped == names else df.toDF(*stripped)


_DTYPE_CATEGORIES = {
    "numeric": (T.NumericType,),
    "string": (T.StringType,),
    "timestamp": (T.TimestampType, T.TimestampNTZType, T.DateType),
    "boolean": (T.BooleanType,),
    "binary": (T.BinaryType,),
    "array": (T.ArrayType,),
}


def select_dtypes(df: DataFrame, include=("numeric",)) -> DataFrame:
    """P2: type-based projection — the ``select_dtypes(include=[np.number])``
    step of the reference pipeline (reference: main.py:112).

    ``include``: category names from ``numeric | string | timestamp |
    boolean | binary | array``, and/or ``pyspark.sql.types.DataType``
    subclasses. Pure metadata projection — prunes columns at the scan.
    """
    wanted: list[type] = []
    for item in include:
        if isinstance(item, str):
            wanted.extend(_DTYPE_CATEGORIES[item])
        else:
            wanted.append(item)
    cols = [f.name for f in df.schema.fields if isinstance(f.dataType, tuple(wanted))]
    return df.select(*cols)


def _parquet_footer(
    spark: SparkSession, path: str
) -> tuple[set[str], T.StructType | None]:
    """One parquet file's TIMESTAMP(NANOS) columns and its Spark read
    schema, both from one ``pyarrow`` footer read.

    The schema is what ``spark.read.parquet`` would infer: a ns timestamp
    column is ``LongType`` (what ``nanosAsLong`` reads it as), the other
    columns map as ``from_arrow_schema`` maps them, with tz-naive
    timestamps as ``TimestampNTZType`` when the session infers NTZ. It is
    None where the footer does not settle Spark's mapping: INT96
    timestamps (Spark reads them as timestamps, arrow as ns), ns
    timestamps nested in a list/struct/map, and arrow types Spark does
    not convert. Both are empty when the footer cannot be read, e.g. for
    a directory.
    """
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        parquet = pq.read_metadata(path).schema
        arrow = parquet.to_arrow_schema()
    except (ImportError, OSError, ValueError):  # no pyarrow, no file, no footer
        return set(), None

    def is_ns(t) -> bool:
        return pa.types.is_timestamp(t) and t.unit == "ns"

    def leaves(t):
        if pa.types.is_nested(t):
            for i in range(t.num_fields):
                yield from leaves(t.field(i).type)
        else:
            yield t

    ns = {f.name for f in arrow if is_ns(f.type)}
    int96 = any(parquet.column(i).physical_type == "INT96" for i in range(len(parquet)))
    nested_ns = any(is_ns(t) for f in arrow if f.name not in ns for t in leaves(f.type))
    if int96 or nested_ns:
        return ns, None
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        return ns, from_arrow_schema(
            pa.schema([f.with_type(pa.int64()) if f.name in ns else f for f in arrow]),
            prefer_timestamp_ntz=ntz.lower() == "true",
        )
    except TypeError:  # an arrow type Spark does not convert
        return ns, None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table.

    pandas-written timestamps are ns precision, which Spark reads as int64
    under ``spark.sql.legacy.parquet.nanosAsLong``; we convert those to
    TimestampType by integer-dividing to µs (truncation — matching how
    DuckDB/Spark both narrow ns). Session timezone is pinned UTC so the
    values equal the tz-naive pandas reference's.

    The read schema comes from the file's parquet footer
    (:func:`_parquet_footer`, ~1 ms) and is handed to ``spark.read.schema``,
    so building the DataFrame runs no Spark job; ``spark.read.parquet``
    alone runs a schema-inference job on every call (the call took 64 ms
    with it and 22 ms without in perfbench's traced ``pipeline`` run on a
    4-core host). Where the footer does not settle the schema (a
    directory, an unreadable footer, the types :func:`_parquet_footer`
    lists), Spark infers it as before.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols, schema = _parquet_footer(spark, path)
    if ns_cols:
        # Must hold on ANY session we're handed (e.g. a harness-built one),
        # not just our own session.py factory: without it the vectorized
        # reader rejects TIMESTAMP(NANOS) at analysis (PARQUET_TYPE_ILLEGAL).
        # Runtime-settable on PySpark 4.x.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # conf removed/immutable -> fall through; read may still work
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    fields = (schema if schema is not None else df.schema).fields
    select = []
    for f in fields:
        c = ident(f.name)
        if f.name in ns_cols and isinstance(f.dataType, T.LongType):
            c = f"timestamp_micros({c} div 1000)"
        elif isinstance(f.dataType, T.TimestampNTZType):
            c = f"cast({c} as timestamp)"
        name = ident(f.name.strip())
        select.append(c if c == name else f"{c} AS {name}")
    # the conversions and the P1 name strip (normalize_columns) in ONE
    # projection, and none where nothing changes
    return df if select == [ident(f.name) for f in fields] else df.selectExpr(*select)


def load_evolving_table(
    spark: SparkSession,
    path: str,
    target_schema: T.StructType | None = None,
) -> DataFrame:
    """Read a parquet directory whose files were written over time with
    SCHEMA DRIFT (columns added release-over-release) and present one
    stable schema.

    ``mergeSchema=true`` unions the per-file schemas (files missing a
    column yield nulls for it). ``target_schema`` then enforces the
    canonical contract map-side: listed columns are cast to the
    declared type, columns absent from every file materialize as typed
    nulls, and unlisted stragglers are dropped — so downstream
    pipelines compile against ONE schema regardless of which vintage of
    files a partition holds.

    Scale: schema merging reads file FOOTERS only (and Spark samples
    them); the enforcement projection is map-only, rides the scan, and
    keeps column pruning intact (unselected columns are never read).
    Incompatible per-file types (e.g. the same column as int and
    string) fail loudly at merge — that is corruption, not drift.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if target_schema is not None:
        cols = []
        for f in target_schema.fields:
            if f.name in df.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        df = df.select(*cols)
    return df


def load_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ";",
    schema: T.StructType | None = None,
    empty_schema: T.StructType | None = None,
) -> DataFrame:
    """S1 + S2: delimited CSV scan; missing path -> empty DataFrame.

    Reference: src/data_loader.py:8-26 (``pd.read_csv(..., delimiter=';',
    low_memory=False)`` with a try/except returning ``pd.DataFrame()``).

    Columns are read as raw strings by default (two-phase parse: the typed
    coercion is an explicit operator, functions.cleaning), mirroring the
    reference's object-dtype load followed by ``to_numeric``/``to_datetime``.
    """
    if not os.path.exists(path):
        return spark.createDataFrame([], empty_schema or schema or T.StructType([]))
    reader = (
        spark.read.option("sep", delimiter)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        df = reader.schema(schema).csv(path)
    else:
        df = reader.csv(path)  # all-string schema when inferSchema is off
    return normalize_columns(df)


def _planned_partitions(plan, adaptive: bool) -> int | None:
    """The partition count a physical plan will run with, read from the
    plan alone (no ``execute()``: that runs a plan's scalar subqueries on
    the driver), or None where only running it would tell.

    Walks down the chain of single-child nodes, which keep their child's
    partitioning: a file scan's splits are planned on the driver, an
    exchange declares its count, except that under AQE an exchange the
    caller did not size is re-sized at run time.
    """
    while True:
        name = plan.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            if adaptive and plan.shuffleOrigin().toString() != "REPARTITION_BY_NUM":
                return None
            return plan.numPartitions()
        if name == "FileSourceScanExec":
            try:
                return plan.inputRDD().getNumPartitions()
            except IllegalArgumentException:  # its filters need a subquery's result
                return None
        n = plan.outputPartitioning().numPartitions()
        children = plan.children()
        if children.size() != 1 or n == 1 or name == "CoalesceExec":
            return n or None
        plan = children.apply(0)


def spread_small(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition an under-split scan across the cluster.

    A few-MB parquet file arrives as 1-2 input splits, so CPU-dense
    per-row work (shingling, hashing, vector math) would run on 1-2
    cores while the rest idle; the tiny shuffle buys full parallelism.
    Only safe where downstream results don't depend on row order
    within a partition (aggregates of min/max/int, per-row maps, joins).

    The repartition is GUARDED on the input's partition count: when the
    input already arrives with >= the target partitions — the normal
    case for any data-sized table at cluster scale, where a 100 TB scan
    shows up in thousands of splits — it is returned unchanged, so no
    full-table round-robin shuffle (and no accidental COALESCE to
    ``defaultParallelism``) is ever planned. The count is read from the
    physical plan without running anything (:func:`_planned_partitions`;
    for an AQE plan, from its plan before any stage runs). Where the plan
    alone does not tell — e.g. a shuffle AQE may coalesce, a join or a
    union — the input is repartitioned.
    """
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    adaptive = plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
    n = _planned_partitions(plan.initialPlan() if adaptive else plan, adaptive)
    if n is not None and n >= target:
        return df
    return df.repartition(target)


def stamp_arrival_order(df: DataFrame, col_name: str = "arrival_id") -> DataFrame:
    """Stamp a per-row orderable arrival id for positional dedup (O3).

    The id is a struct ``(file, pos)``: ``input_file_name()`` plus
    ``monotonically_increasing_id()``. Ordering/min-ing by it reproduces
    "file order" with the file name as the primary key, so the id does
    NOT depend on Spark's partition listing order across files (which
    sorts splits by size, not name). The remaining assumption is
    intra-file: ``pos`` follows file offset only when each file arrives
    as a single split — guaranteed when file size <=
    ``spark.sql.files.maxPartitionBytes`` (raise it for big single
    files, as a pandas-parity positional read implies whole-file
    semantics anyway). Multi-split files with no natural arrival key
    cannot be positionally ordered faithfully by ANY distributed scan;
    prefer a real key (e.g. ``event_id``) when one exists — the declared
    testdata queries do.

    .. note:: BREAKING CHANGE (round 2): ``col_name`` was previously a
       plain ``bigint`` (``monotonically_increasing_id`` alone, which
       silently depended on partition listing order). It is now a
       ``struct<file: string, pos: bigint>``. Struct ordering works
       with every in-repo consumer (``row_number``/``min_by``
       ordering); external consumers doing arithmetic or numeric
       comparisons on the column must switch to field access
       (``arrival_id.pos``) or ordering comparisons. File-name
       lexicographic order equals arrival order only for
       zero-padded/sorted listings.
    """
    return df.withColumn(
        col_name,
        F.struct(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("pos"),
        ),
    )


TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | list[str] = TESTDATA_TABLES,
    prefix: str = "",
) -> dict[str, DataFrame]:
    """Register each table as a temp view so the engine has a direct
    ``spark.sql`` surface (``SELECT ... FROM lineitem JOIN orders ...``)
    next to the operator API — the same views the DuckDB oracle gets.

    Views go through :func:`load_table`, so the ns-timestamp conversion
    and header normalization hold (a bare ``spark.read.parquet`` on
    these files throws PARQUET_TYPE_ILLEGAL). Views are lazy — nothing
    scans until queried, and Catalyst prunes/pushes through them like
    any subquery. Missing tables are skipped (per-SF directories vary).

    Returns ``{name: DataFrame}`` for the registered tables.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(f"{prefix}{name}")
        out[name] = df
    return out


def local_rows_df(
    spark: SparkSession,
    rows: Sequence,
    schema: T.StructType | str,
    max_literal_rows: int = 2048,
) -> DataFrame:
    """Bounded driver-local rows as a pure-JVM constant plan.

    ``spark.createDataFrame(list)`` parallelizes the rows through a
    PYTHON RDD: the plan carries ``Scan ExistingRDD
    (applySchemaToPythonRDD)`` split into ``defaultParallelism`` slices,
    so EVERY action re-runs that many tasks, each paying a Python-worker
    round trip just to re-emit the same constant rows — measured ~1.0 s
    per action at 32 slots for a 126-row table (r14), and the cost rides
    every broadcast rebuild of the table. For the bounded-small
    driver-computed tables the operators broadcast (bucket plans,
    candidate lists, name maps) this builds ONE literal
    ``inline(array(struct(...)))`` expression over a OneRowRelation
    instead: execution is a single trivial JVM task, no Python workers,
    same values and column types.

    Nested arrays/structs and None are supported; every leaf is cast to
    the exact schema type, so values match ``createDataFrame``'s
    coercion for the types the engine uses (numerics, strings, booleans,
    timestamps — naive ``datetime`` under the pinned UTC session).
    Falls back to ``createDataFrame`` past ``max_literal_rows``
    (a giant constant expression tree trades task overhead for planning
    overhead) and for empty input (empty LocalRelation, zero tasks).
    """

    def _mk(value, dtype: T.DataType):
        if value is None:
            return F.lit(None).cast(dtype)
        if isinstance(dtype, T.StructType):
            # dict rows map by field name; sequence rows must match the
            # schema arity exactly — createDataFrame raises on both kinds
            # of mismatch, so fail loudly instead of silently truncating
            if isinstance(value, dict):
                missing = [f.name for f in dtype.fields if f.name not in value]
                if missing:
                    raise ValueError(
                        f"local_rows_df: dict row missing fields {missing}"
                    )
                vals = [value[f.name] for f in dtype.fields]
            else:
                vals = list(value)
            if len(vals) != len(dtype.fields):
                raise ValueError(
                    f"local_rows_df: row arity {len(vals)} != schema arity "
                    f"{len(dtype.fields)}"
                )
            return F.struct(
                *[
                    _mk(v, f.dataType).alias(f.name)
                    for v, f in zip(vals, dtype.fields)
                ]
            )
        if isinstance(dtype, T.ArrayType):
            elems = list(value)
            if not elems:
                return F.array().cast(dtype)
            if not isinstance(
                dtype.elementType, (T.ArrayType, T.StructType, T.MapType)
            ) and all(e is not None for e in elems):
                # flat atomic array: ONE py4j lit call instead of one
                # per element (matters for e.g. 64-dim centroid rows)
                return F.lit(elems).cast(dtype)
            return F.array(*[_mk(v, dtype.elementType) for v in elems])
        return F.lit(value).cast(dtype)

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not rows or len(rows) > max_literal_rows:
        return spark.createDataFrame(rows, schema)
    row_exprs = [_mk(r, schema) for r in rows]
    return spark.sql("SELECT 1").select(F.inline(F.array(*row_exprs)))

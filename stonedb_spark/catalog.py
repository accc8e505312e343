"""Table catalog: load the driver-provided parquet fixtures as temp views.

Mirrors the reference's table layer (TianmuTable,
storage/tianmu/core/tianmu_table.h:65): a flat relational catalog of
columnar tables whose metadata stays resident.  Packs/DPNs
(storage/tianmu/data/dpn.h:35-72) map to Parquet row groups +
statistics, which Spark's scan already prunes on.

What is kept at each level, and what invalidates it:

* Process — the schema Spark inferred for each table (``_SCHEMAS``),
  keyed by the table's absolute path and the session's value of every
  SQL conf Spark's Parquet schema inference reads (``SCHEMA_CONFS``),
  and stamped with a fingerprint of the table's files (name, size,
  mtime_ns).  A later session that finds the same fingerprint reads
  with ``spark.read.schema(cached).parquet(path)``, which runs no Spark
  job; a changed fingerprint or conf value means a fresh inference.
  Paths that cannot be fingerprinted locally are always inferred.
  Tables are read (and, on a miss, inferred) concurrently, one thread
  per table; the views are registered the same way.
* Session — the frames read per directory and which directory's frames
  the session's temp views currently point at (``_SessionCatalog``,
  held on the SparkSession object, so it dies with the session).  A
  session's first call for a directory applies ``ensure_sql_confs``,
  reads the frames and registers the views; later calls for the same
  directory return the frames without a py4j round trip.  Loading
  another directory, or an engine path that creates, replaces or drops
  temp views (``invalidate``: temp tables, views,
  ``dialect.run_script``), makes the next call re-register the views
  from the frames the session already holds.
* Call — nothing.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every SQL conf Spark 4.1's Parquet schema inference reads
# (ParquetToSparkSchemaConverter's constructors, the variant conf it reads
# through SQLConf.get, and ParquetUtils.inferSchema): a schema inferred
# under one set of values is reused only under the same values.
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# (absolute path, SCHEMA_CONFS values) -> (file fingerprint, schema).
# One entry per path and conf set: a changed fingerprint replaces it.
_SCHEMAS: dict[tuple[str, tuple], tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _fingerprint(path: str) -> tuple | None:
    """(relative name, size, mtime_ns) of every file under ``path``;
    None when the path is not a local file or directory."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _concurrently(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]``, one thread per item; each thread gets
    its own copy of the caller's job group and other local properties.

    One copy per thread, not one shared by all: each SQL execution sets
    and clears ``spark.sql.execution.root.id`` in its thread's
    properties object, so threads sharing one can see the key vanish
    mid-query (NumberFormatException: Cannot parse null string)."""
    from pyspark.util import inheritable_thread_target

    items = list(items)
    if len(items) < 2:
        return [fn(x) for x in items]

    def task(x):
        wrap = inheritable_thread_target(spark)  # copies the properties now
        # without pinned threads it hands back the session: nothing to inherit
        return partial(fn if wrap is spark else wrap(fn), x)

    tasks = [task(x) for x in items]
    with ThreadPoolExecutor(len(tasks)) as pool:
        return list(pool.map(lambda t: t(), tasks))


def read_parquet_tables(spark: SparkSession, paths: dict[str, str]) -> dict[str, DataFrame]:
    """``spark.read.parquet`` for each ``name -> path``, concurrently,
    with the schema taken from the process-level cache where the files
    are unchanged.

    A hit only supplies the schema to the same read, so the frame is
    the one a plain read gives, without the schema-inference job."""
    # None for a conf left at its default (or unknown to this Spark)
    confs = tuple(spark.conf.get(k, None) for k in SCHEMA_CONFS)

    def read(name: str) -> DataFrame:
        path = paths[name]
        key = (os.path.abspath(path), confs)
        fp = _fingerprint(path)  # before the read: a concurrent write re-infers next time
        hit = _SCHEMAS.get(key)
        if fp is not None and hit is not None and hit[0] == fp:
            return spark.read.schema(hit[1]).parquet(path)
        df = spark.read.parquet(path)
        if fp is not None:
            _SCHEMAS[key] = (fp, df.schema)
        return df

    return dict(zip(paths, _concurrently(spark, read, paths)))


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP.

    The fixture's physical type has varied across driver generations:
    timestamp[ns] (which Spark reads as ``long`` under
    ``spark.sql.legacy.parquet.nanosAsLong``) and timestamp[us] (which
    Spark reads as TIMESTAMP_NTZ when NTZ inference is on, or TIMESTAMP
    otherwise).  Every downstream query assumes one stable type, so we
    branch on the dtype actually read rather than the fixture we first
    saw — the analog of a storage engine tolerating on-disk format
    versions (reference format versioning: storage/tianmu/core/
    tianmu_table.h:65 tables carry per-pack type metadata).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # ns since epoch → µs timestamps.  Integer div, NOT `/`:
        # ns-since-epoch (~1.7e18) exceeds double's 2^53 integer range,
        # so float division is off by up to ±1 µs on individual values.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # wall-clock µs → TIMESTAMP under the UTC session zone; values
        # are identical to what DuckDB reads from the same file.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class _SessionCatalog:
    """One session's frames per directory and its view binding.

    ``bound`` is the (directory, epoch) the temp views were last
    registered for; ``invalidate`` bumps ``epoch`` so the next call
    re-binds, including when it lands while a binding is in progress."""

    __slots__ = ("frames", "bound", "epoch", "lock")

    def __init__(self) -> None:
        self.frames: dict[str, dict[str, DataFrame]] = {}
        self.bound: tuple[str, int] | None = None
        self.epoch = 0
        self.lock = threading.Lock()


_STATE_LOCK = threading.Lock()


def _session_catalog(spark: SparkSession) -> _SessionCatalog:
    state = getattr(spark, "_stonedb_catalog", None)
    if state is None:
        with _STATE_LOCK:
            state = getattr(spark, "_stonedb_catalog", None)
            if state is None:
                state = spark._stonedb_catalog = _SessionCatalog()
    return state


def invalidate(spark: SparkSession) -> None:
    """Mark the session's view binding stale.  Call after creating,
    replacing or dropping a temp view, so the next catalog call points
    the fixture names at the catalog's frames again."""
    state = getattr(spark, "_stonedb_catalog", None)
    if state is not None:
        with _STATE_LOCK:
            state.epoch += 1


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every fixture table and register it as a temp view.

    Reads are lazy; registering all ten costs only metadata, and only on
    a session's first call per directory or after ``invalidate``.
    Column pruning + predicate pushdown reach the parquet scan because
    the views are plain file scans (verify with
    ``df.explain('formatted')`` — PushedFilters/ReadSchema lines).
    """
    state = _session_catalog(spark)
    if state.bound == (sf_dir, state.epoch):
        return state.frames[sf_dir]
    from stonedb_spark.session import ensure_sql_confs

    with state.lock:
        epoch = state.epoch
        if state.bound == (sf_dir, epoch):
            return state.frames[sf_dir]
        dfs = state.frames.get(sf_dir)
        if dfs is None:
            # the session may be the driver's own (not built by get_spark)
            # — apply the runtime SQL confs the fixtures/queries depend on
            ensure_sql_confs(spark)
            paths = {
                name: table_path(sf_dir, name)
                for name in TABLES
                if os.path.exists(table_path(sf_dir, name))
            }
            dfs = read_parquet_tables(spark, paths)
            if "events" in dfs:
                dfs["events"] = _normalize_event_ts(dfs["events"])
            state.frames[sf_dir] = dfs
        # temp views are session-global name→plan bindings; point them
        # at this sf_dir's frames
        _concurrently(spark, lambda name: dfs[name].createOrReplaceTempView(name), dfs)
        state.bound = (sf_dir, epoch)
    return dfs


def sql(
    spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR, args=None
) -> DataFrame:
    """Run a SQL string over the registered catalog — the reference's
    user surface (SQL text over named tables, hook at
    storage/tianmu/sql/ha_my_tianmu.h:28).  A reference user's query
    text runs here unchanged wherever MySQL 5.7 and Spark SQL agree;
    dialect gaps (DATE_FORMAT codes, WEEK modes, DIV, …) are covered by
    stonedb_spark.functions.mysql shims from the DataFrame side.

    ``args`` binds parameter markers the way MySQL PREPARE/EXECUTE does
    (``?`` positional with a list, ``:name`` with a dict) — values are
    bound as typed literals by Spark's parameterized-SQL path, never
    string-spliced, so injection is structurally impossible."""
    load_tables(spark, sf_dir)
    if args is not None:
        return spark.sql(query, args=args)
    return spark.sql(query)


def mysql(
    spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """Run MySQL-dialect query TEXT over the registered catalog: the
    statement is rewritten by the round-7 dialect front-end
    (stonedb_spark.dialect.rewrite_expr — backticks, LIMIT x,y, DIV,
    GROUP_CONCAT, DATE_FORMAT %-codes, string aliases, ||/&&, …) and
    executed as a normal Catalyst plan.  For whole MTR scripts
    (DDL+DML+SELECT) use dialect.run_script instead."""
    from stonedb_spark.dialect import rewrite_expr

    load_tables(spark, sf_dir)
    return spark.sql(rewrite_expr(query, "spark"))

"""TEMPORARY tables — session-scoped, data-bearing scratch tables.

Reference surface: mysql-test/suite/tianmu/t/temporary.test — CREATE
TEMPORARY TABLE holds real rows, is visible only to the creating
session, SHADOWS a permanent table of the same name until dropped, and
vanishes at session end.

Spark-first mapping: a temp table is a parquet directory under a
per-session scratch root plus a temp-view binding (temp views are
already session-scoped in Spark).  Shadowing falls out of
createOrReplaceTempView: we capture the prior binding's DataFrame
before replacing it and re-register it on drop, restoring the
permanent table.  INSERT appends parquet files and re-registers so the
file index is re-listed (plain parquet has no commit log; on Delta
this would be a transactional append).

Scale note: the table body lives in the distributed store and is read
through the normal scan path — pushdown/pruning apply; nothing is held
on the driver beyond the path registry.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from stonedb_spark.catalog import invalidate
from stonedb_spark.sources.views import NotATableError, ViewExistsError


class _Entry:
    __slots__ = ("path", "shadowed")

    def __init__(self, path: str, shadowed: DataFrame | None):
        self.path = path
        self.shadowed = shadowed


# session id -> {name: _Entry}; scratch roots for end-of-session cleanup
_TEMP: dict[int, dict[str, _Entry]] = {}
_ROOTS: dict[int, str] = {}


def _of(spark: SparkSession) -> dict[str, _Entry]:
    return _TEMP.setdefault(id(spark), {})


def _root(spark: SparkSession) -> str:
    return _ROOTS.setdefault(id(spark), tempfile.mkdtemp(prefix="stonedb_tmp_"))


def create_temp_table(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """CREATE TEMPORARY TABLE name AS SELECT ... (materialized).

    A second TEMPORARY table of the same name errors (MySQL 1050); a
    permanent table of the same name is silently shadowed until drop.
    """
    tables = _of(spark)
    if name in tables:
        raise ViewExistsError(f"Temporary table '{name}' already exists")
    shadowed = spark.table(name) if spark.catalog.tableExists(name) else None
    path = os.path.join(_root(spark), name)
    df.write.mode("overwrite").parquet(path)
    reg = spark.read.parquet(path)
    reg.createOrReplaceTempView(name)
    invalidate(spark)
    tables[name] = _Entry(path, shadowed)
    return reg


def insert_temp_table(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """INSERT INTO a temporary table (parquet append + re-list)."""
    tables = _of(spark)
    if name not in tables:
        raise NotATableError(f"Unknown temporary table '{name}'")
    df.write.mode("append").parquet(tables[name].path)
    reg = spark.read.parquet(tables[name].path)
    reg.createOrReplaceTempView(name)
    invalidate(spark)
    return reg


def drop_temp_table(spark: SparkSession, name: str) -> None:
    """DROP the temp table; un-shadow the permanent binding if any."""
    tables = _of(spark)
    entry = tables.pop(name, None)
    if entry is None:
        raise NotATableError(f"Unknown temporary table '{name}'")
    if entry.shadowed is not None:
        entry.shadowed.createOrReplaceTempView(name)
    else:
        spark.catalog.dropTempView(name)
    invalidate(spark)
    shutil.rmtree(entry.path, ignore_errors=True)


def is_temp_table(spark: SparkSession, name: str) -> bool:
    return name in _of(spark)


def end_session(spark: SparkSession) -> None:
    """Session teardown: drop every temp table (MySQL drops them on
    disconnect) and remove the scratch root."""
    for name in list(_of(spark)):
        drop_temp_table(spark, name)
    root = _ROOTS.pop(id(spark), None)
    if root:
        shutil.rmtree(root, ignore_errors=True)
    _TEMP.pop(id(spark), None)

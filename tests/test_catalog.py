"""Catalog caching: a later session loads the tables without Spark jobs,
the schema cache re-infers when a table's files or the inference confs
change, catalog queries see the fixture tables again after engine paths
re-bind their names, and a stopped session's catalog state is released."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import threading
import uuid

from stonedb_spark import catalog
from stonedb_spark.dialect import run_script
from stonedb_spark.sources.temptable import create_temp_table, drop_temp_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_during(spark, fn):
    """(fn's result, number of Spark jobs it submitted), counted by job
    group through the status tracker."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_session_loads_without_jobs(spark, sf_dir):
    catalog.load_tables(spark, sf_dir)  # this process has inferred the schemas
    second = spark.newSession()
    frames, jobs = _jobs_during(second, lambda: catalog.load_tables(second, sf_dir))
    assert frames and jobs == 0
    # the counter does see the inference job of a plain read
    _, plain_jobs = _jobs_during(
        second, lambda: second.read.parquet(catalog.table_path(sf_dir, "nation"))
    )
    assert plain_jobs >= 1
    for name, df in frames.items():
        plain = second.read.parquet(catalog.table_path(sf_dir, name))
        if name == "events":
            plain = catalog._normalize_event_ts(plain)  # noqa: SLF001
        assert df.schema == plain.schema, name  # StructType == checks nullability
        assert second.table(name).schema == plain.schema, name
    assert second.sql("SELECT COUNT(*) AS n FROM nation").first()["n"] == 25


def test_schema_cache_reinfers_on_new_file_and_conf(spark, sf_dir, tmp_path):
    table = tmp_path / "nation_copy"
    table.mkdir()
    shutil.copy(catalog.table_path(sf_dir, "nation"), table / "part-0.parquet")
    session = spark.newSession()  # conf flips stay out of the shared session
    read = lambda: catalog.read_parquet_tables(session, {"t": str(table)})["t"]  # noqa: E731

    _, first = _jobs_during(session, read)
    df, again = _jobs_during(session, read)
    assert first >= 1 and again == 0
    assert df.count() == 25

    shutil.copy(catalog.table_path(sf_dir, "nation"), table / "part-1.parquet")
    df, added = _jobs_during(session, read)
    assert added >= 1
    assert df.count() == 50
    _, cached = _jobs_during(session, read)
    assert cached == 0

    flipped = session.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true"
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", str(flipped).lower())
    _, conf_changed = _jobs_during(session, read)
    assert conf_changed >= 1


def _orders_count(spark, sf_dir) -> int:
    return catalog.sql(spark, "SELECT COUNT(*) AS n FROM orders", sf_dir).first()["n"]


def test_catalog_rebinds_after_script_and_temp_table(spark, sf_dir, oracle):
    expected = oracle.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    assert _orders_count(spark, sf_dir) == expected

    # the script's CREATE TABLE drops the catalog's `orders` view first
    out = run_script(
        spark,
        "CREATE TABLE orders (a int);\nINSERT INTO orders VALUES (1),(2);\n"
        "SELECT COUNT(*) AS n FROM orders;\nDROP TABLE orders;",
    )
    assert out.first()["n"] == 2
    assert _orders_count(spark, sf_dir) == expected

    create_temp_table(spark, "orders", spark.range(3).toDF("a"))
    try:
        assert spark.sql("SELECT COUNT(*) AS n FROM orders").first()["n"] == 3
    finally:
        drop_temp_table(spark, "orders")
    assert _orders_count(spark, sf_dir) == expected


def test_concurrent_invalidation_is_never_lost(spark, sf_dir):
    """Threads (more than cores) shadow `nation` and invalidate while
    others bind; once all are done, the catalog's `nation` is back."""
    session = spark.newSession()
    small = session.range(3).toDF("n_nationkey")
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(6):
                small.createOrReplaceTempView("nation")
                catalog.invalidate(session)
                catalog.load_tables(session, sf_dir)
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    n = catalog.sql(session, "SELECT COUNT(*) AS n FROM nation", sf_dir).first()["n"]
    assert n == 25


def test_stopped_session_state_is_released(sf_dir):
    """After stop() and get_spark(), nothing the catalog keeps holds the
    stopped session (own interpreter: stopping the shared test session
    would break the tests after this one)."""
    script = textwrap.dedent(
        f"""
        import gc, sys, weakref
        sys.path.insert(0, {REPO!r})
        from stonedb_spark import catalog, get_spark
        spark = get_spark("catalog-release")
        catalog.sql(spark, "SELECT 1 FROM nation", {sf_dir!r}).collect()
        ref = weakref.ref(spark)
        spark.stop()
        del spark
        spark = get_spark("catalog-release")
        assert catalog.sql(spark, "SELECT * FROM nation", {sf_dir!r}).count() == 25
        gc.collect()
        print("RELEASED" if ref() is None else "LEAKED")
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "RELEASED", proc.stdout

"""User-facing view DDL: named logical views over the catalog.

Reference surface: CREATE [OR REPLACE] VIEW / DROP VIEW / the
INFORMATION_SCHEMA.VIEWS definition lookup exercised by
mysql-test/suite/tianmu/t/create_view.test:1-45.  A view is a named,
persisted *query definition* — never materialized — so the Spark-first
mapping is a stored SQL text registered as a temp view of its analyzed
plan.  Catalyst inlines the view plan into every consumer, which means
filter pushdown / column pruning go straight through the view to the
parquet scan exactly as if the user had written the subquery inline
(verify: `spark.table(v).filter(...).explain()` shows PushedFilters on
the base relation).  At 100 TB a view therefore costs nothing at rest
and nothing at plan time beyond parse+analyze.

MySQL error parity (by errno analog):
  * 1050 ER_TABLE_EXISTS_ERROR  -> ViewExistsError (CREATE without OR
    REPLACE over an existing view)
  * 1051 ER_BAD_TABLE_ERROR     -> NotAViewError / NotATableError
    (DROP VIEW on a table, DROP TABLE on a view)
  * 1146 ER_NO_SUCH_TABLE       -> Spark's own TABLE_OR_VIEW_NOT_FOUND
    surfaces unchanged on SELECT from an undefined view.

One semantic note: MySQL re-resolves a view's base tables at every
reference; a Spark temp view captures the analyzed plan at creation.
Over file-backed relations the two agree (the plan points at the file
index, which is re-listed per query).  Our copy-on-write DML replaces
base temp views with new frames, so `refresh_views` re-analyzes every
definition in creation order — call it after DML to regain MySQL's
reference-time resolution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from stonedb_spark.catalog import invalidate


class ViewError(Exception):
    """Base class for view-DDL errors (MySQL errno analog in .errno)."""

    errno: int = 0


class ViewExistsError(ViewError):
    """CREATE VIEW over an existing view without OR REPLACE (MySQL 1050)."""

    errno = 1050


class NotAViewError(ViewError):
    """DROP VIEW targeting something that is not a view (MySQL 1051)."""

    errno = 1051


class NotATableError(ViewError):
    """DROP TABLE targeting a view (MySQL 1051)."""

    errno = 1051


# Per-session ordered registry: view name -> SQL definition text.
# Ordered so refresh_views can re-analyze view-over-view chains in
# dependency (creation) order.
_VIEWS: dict[int, dict[str, str]] = {}


def _views_of(spark: SparkSession) -> dict[str, str]:
    return _VIEWS.setdefault(id(spark), {})


def create_view(
    spark: SparkSession, name: str, sql_text: str, *, or_replace: bool = False
) -> DataFrame:
    """CREATE [OR REPLACE] VIEW name AS sql_text.

    Registers the analyzed plan as a temp view and stores the definition
    text (the INFORMATION_SCHEMA.VIEWS row).  Returns the view's frame.
    """
    views = _views_of(spark)
    if name in views and not or_replace:
        raise ViewExistsError(f"Table '{name}' already exists")
    if name not in views and spark.catalog.tableExists(name):
        # The name is bound to a BASE table (catalog temp view / managed
        # table), not one of ours: MySQL raises 1050 for CREATE VIEW over
        # any existing table, and CREATE OR REPLACE VIEW may replace only
        # a view, never a table — silently hijacking the base relation's
        # name would also make a later drop_view unbind the table.
        raise ViewExistsError(f"Table '{name}' already exists")
    df = spark.sql(sql_text)  # analyze now: a broken definition fails here
    df.createOrReplaceTempView(name)
    invalidate(spark)
    # Re-insert at the END of the ordered registry: refresh_views replays
    # definitions in insertion order, and an OR REPLACE that changes the
    # definition to reference a later-created view must re-analyze AFTER
    # its new dependency, not at the original creation position.
    views.pop(name, None)
    views[name] = sql_text
    return df


def drop_view(spark: SparkSession, name: str) -> None:
    views = _views_of(spark)
    if name not in views:
        raise NotAViewError(f"Unknown view '{name}'")
    del views[name]
    spark.catalog.dropTempView(name)
    invalidate(spark)


def drop_table_guard(spark: SparkSession, name: str) -> None:
    """The DROP TABLE side of MySQL 1051: refuse to drop a view.

    Callers that implement DROP TABLE should route through this guard;
    create_view.test:40-41 requires `DROP TABLE v1` to fail.
    """
    if name in _views_of(spark):
        raise NotATableError(f"'{name}' is a view; use DROP VIEW")
    if not spark.catalog.dropTempView(name):
        # MySQL 1051 ER_BAD_TABLE_ERROR: DROP TABLE on a nonexistent
        # name raises; dropTempView returns False without raising.
        raise NotATableError(f"Unknown table '{name}'")
    invalidate(spark)


def view_definition(spark: SparkSession, name: str) -> str | None:
    """INFORMATION_SCHEMA.VIEWS VIEW_DEFINITION analog."""
    return _views_of(spark).get(name)


def list_views(spark: SparkSession) -> dict[str, str]:
    return dict(_views_of(spark))


def refresh_views(spark: SparkSession) -> None:
    """Re-analyze every view definition in creation order.

    Restores MySQL's reference-time base-table resolution after a base
    temp view has been re-pointed (our DML is copy-on-write).
    """
    for name, text in _views_of(spark).items():
        spark.sql(text).createOrReplaceTempView(name)
    invalidate(spark)

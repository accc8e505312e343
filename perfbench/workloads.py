"""The benchmark's workloads, driven through the engine's public entry
points: ``catalog.load_tables``/``sql``/``mysql``, the registered query
builders, ``sources.csvload``/``cdc``/``ddl`` and ``dialect.run_script``.

A workload turns a seed into inputs (``generate``), readies a session
(``open``), runs one untimed round that is checked against an oracle
(``warmup``), and hands each client a stream of operations.  Every
operation's answer is checked after the timed region (``Op.check``).
"""

from __future__ import annotations

import csv
import itertools
import json
import os
import shutil
import threading
from dataclasses import dataclass
from decimal import Decimal
from typing import Callable, Iterator

import numpy as np

import datagen
import metrics
import stats

TPCH_QUERIES = tuple(f"tpch_q{i}" for i in range(1, 23))

# A run's work is fixed by --seconds, not by how fast the engine goes:
# every client runs units(seconds) units of its operations.  The same
# arguments then always measure the same operations, and a slower layer
# shows as more time and CPU per operation rather than as a different
# operation count.  A unit takes 5-15 s on a 4-vCPU host.
UNIT_SECONDS = 8.0


def units(seconds: float) -> int:
    """Units every client runs in a timed region of ``seconds``."""
    return max(1, round(seconds / UNIT_SECONDS))


@dataclass
class Op:
    """One operation: ``run`` is timed, ``check`` runs after the timed
    region on ``run``'s result and returns mismatch descriptions."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


@dataclass
class Result:
    columns: list[str]
    rows: list

    def frame(self):
        import pandas as pd

        return pd.DataFrame([tuple(r) for r in self.rows], columns=self.columns)


class Ctx:
    """What an operation needs: the session, the tracer, scratch space,
    and the plan statistics gathered once per operation kind."""

    def __init__(self, spark, tracer, work_dir: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.plan_stats: dict[str, dict[str, float]] = {}

    def collect(self, kind: str, build: Callable, name: str = "queries.build") -> Result:
        with self.tracer.span(name):
            df = build()
        if self.tracer.enabled:
            with self.tracer.span("plan.prepare"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with self.tracer.span("exec.collect"):
            rows = df.collect()
        if self.tracer.enabled and kind not in self.plan_stats:
            # after execution, so adaptive plans show their final shape
            with self.tracer.span("plans.inspect"):
                self.plan_stats[kind] = plan_stats(df)
        return Result(df.columns, rows)


def plan_stats(df) -> dict[str, float]:
    from stonedb_spark.plans import inspect

    return {
        "exchanges": inspect.shuffle_exchange_count(df),
        "codegen_stages": inspect.codegen_stage_count(df),
        "bnlj": float(inspect.has_nested_loop_join(df)),
    }


def duckdb_over(sf_dir: str):
    import duckdb

    from stonedb_spark.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = datagen.parquet_glob(sf_dir, name)
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def compare(result: Result, expected) -> list[str]:
    from stonedb_spark.testing import compare_frames

    return compare_frames(result.frame(), expected)


class Role:
    """What one client does.  Clients that share a role object share its
    inputs and warm-up; each client gets its own operation stream."""

    # operations per unit (see UNIT_SECONDS)
    unit = 1

    def prepare(self, root: str, seed: int, sf_dir: str) -> None:
        self.seed = seed
        self.sf_dir = sf_dir

    def warmup(self, ctx: Ctx) -> list[str]:
        raise NotImplementedError

    def stream(self, ctx: Ctx, client: int) -> Iterator[Op]:
        raise NotImplementedError

    def extra(self, ctx: Ctx, records: list) -> dict[str, tuple[float, str, int]]:
        """Role-specific end-to-end numbers: name -> (value, unit, n)."""
        return {}


@dataclass
class Workload:
    """A dataset and one role per closed-loop client."""

    name: str
    roles: list[Role]
    sf: float
    copies: int = 1
    files: int = 1
    doc_sf: float | None = None

    @property
    def clients(self) -> int:
        return len(self.roles)

    def distinct_roles(self) -> list[Role]:
        out: list[Role] = []
        for r in self.roles:
            if all(r is not o for o in out):
                out.append(r)
        return out

    def generate(self, root: str, seed: int) -> None:
        self.sf_dir = datagen.dataset(
            root, seed, self.sf, self.copies, self.files, self.doc_sf
        )
        for role in self.distinct_roles():
            role.prepare(root, seed, self.sf_dir)

    def warmup(self, ctx: Ctx) -> list[str]:
        """Every role's warm-up at once, one thread each."""
        from concurrent.futures import ThreadPoolExecutor

        roles = self.distinct_roles()
        with ThreadPoolExecutor(len(roles)) as pool:
            futures = [pool.submit(r.warmup, ctx) for r in roles]
            return [p for f in futures for p in f.result()]


class QueryBattery(Role):
    """Registered query builders run in passes; the order of each pass is
    a seed-drawn permutation."""

    def __init__(self, queries: tuple[str, ...]) -> None:
        self.queries = queries
        self.unit = len(queries)
        self.expected: dict[str, object] = {}

    def _op(self, ctx: Ctx, name: str) -> Op:
        from stonedb_spark.queries import _REGISTRY

        q = _REGISTRY[name]
        return Op(
            kind=name,
            run=lambda: ctx.collect(name, lambda: q.build(ctx.spark, self.sf_dir)),
            check=lambda res: compare(res, self.expected[name]),
        )

    def warmup(self, ctx: Ctx) -> list[str]:
        """Every query once, checked against its DuckDB oracle.  The
        queries run on one thread per core: the first run of a query is
        dominated by driver-side planning and code generation, which
        overlap across threads."""
        from concurrent.futures import ThreadPoolExecutor

        from stonedb_spark.queries import _REGISTRY

        con = duckdb_over(self.sf_dir)
        for name in self.queries:
            self.expected[name] = con.execute(_REGISTRY[name].oracle).df()
        con.close()

        def one(name: str) -> list[str]:
            op = self._op(ctx, name)
            return [f"{name}: {p}" for p in op.check(op.run())]

        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            return [p for ps in pool.map(one, self.queries) for p in ps]

    def stream(self, ctx: Ctx, client: int) -> Iterator[Op]:
        for n_pass in itertools.count():
            rng = np.random.default_rng([self.seed, client, n_pass])
            for i in rng.permutation(len(self.queries)):
                yield self._op(ctx, self.queries[i])


# --------------------------------------------------------------------------
# request clients: parameterized point/range requests and MySQL text
# request kinds in the proportions they are sent: each client sends
# blocks of these five, every block in a seed-drawn order
SERVE_BLOCK = ("pk", "pk", "cpk", "range", "mysql")
SERVE_BLOCKS_PER_UNIT = 7

_PK_SQL = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority FROM orders WHERE o_orderkey = {p}"
)
_CPK_SQL = (
    "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
    "FROM lineitem WHERE l_orderkey = {ok} AND l_linenumber = {ln}"
)
_RANGE_SQL = (
    "SELECT COUNT(*) AS n, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue, "
    "MAX(l_quantity) AS max_qty FROM lineitem "
    "WHERE l_shipdate >= CAST({lo} AS TIMESTAMP) AND l_shipdate < CAST({hi} AS TIMESTAMP)"
)
_MYSQL_TEXT = (
    "SELECT `o_orderpriority` AS prio, COUNT(*) AS n, MAX(`o_custkey` DIV 7) AS kdiv, "
    "DATE_FORMAT(MIN(`o_orderdate`), '%Y-%m') AS first_month, MAX(`o_totalprice`) AS top "
    "FROM `orders` WHERE `o_custkey` BETWEEN {a} AND {b} "
    "GROUP BY `o_orderpriority` ORDER BY `o_orderpriority` LIMIT 1, 3"
)
_MYSQL_ORACLE = (
    "SELECT o_orderpriority AS prio, COUNT(*) AS n, MAX(o_custkey // 7) AS kdiv, "
    "strftime(MIN(o_orderdate), '%Y-%m') AS first_month, MAX(o_totalprice) AS top "
    "FROM orders WHERE o_custkey BETWEEN {a} AND {b} "
    "GROUP BY 1 ORDER BY 1 LIMIT 3 OFFSET 1"
)


class Requests(Role):
    """Point and range requests through ``catalog.sql`` with bound
    parameters, and MySQL-dialect text through ``catalog.mysql``; each
    request is one of the SERVE_BLOCK kinds, keys and ranges drawn from
    the seed.  Answers are checked against DuckDB after the timed region."""

    unit = SERVE_BLOCKS_PER_UNIT * len(SERVE_BLOCK)

    def __init__(self, sf: float) -> None:
        self.n_orders = int(round(datagen.ROWS_PER_SF["orders"] * sf))
        self.n_cust = int(round(datagen.ROWS_PER_SF["customer"] * sf))
        self._con = None
        self._con_lock = threading.Lock()

    def _oracle(self, sql: str, params=None):
        with self._con_lock:
            if self._con is None:
                self._con = duckdb_over(self.sf_dir)
            return self._con.execute(sql, params).df()

    def _request(self, ctx: Ctx, rng: np.random.Generator, kind: str) -> Op:
        from stonedb_spark import catalog

        sf_dir = self.sf_dir
        if kind == "pk":
            key = int(rng.integers(0, self.n_orders))
            sql, args = _PK_SQL.format(p="?"), [key]
            oracle = (_PK_SQL.format(p="$1"), [key])
        elif kind == "cpk":
            ok, ln = int(rng.integers(0, self.n_orders)), int(rng.integers(1, 8))
            sql, args = _CPK_SQL.format(ok=":ok", ln=":ln"), {"ok": ok, "ln": ln}
            oracle = (_CPK_SQL.format(ok="$ok", ln="$ln"), {"ok": ok, "ln": ln})
        elif kind == "range":
            day = np.datetime64("1995-01-01") + int(rng.integers(0, 2490))
            lo, hi = str(day), str(day + 7)
            sql, args = _RANGE_SQL.format(lo=":lo", hi=":hi"), {"lo": lo, "hi": hi}
            oracle = (_RANGE_SQL.format(lo="$lo", hi="$hi"), {"lo": lo, "hi": hi})
        else:
            a = int(rng.integers(0, self.n_cust - 200))
            text = _MYSQL_TEXT.format(a=a, b=a + 200)
            oracle = (_MYSQL_ORACLE.format(a=a, b=a + 200), None)

            def run():
                return ctx.collect(
                    kind, lambda: catalog.mysql(ctx.spark, text, sf_dir), "catalog.mysql"
                )

            return Op(kind, run, lambda res: compare(res, self._oracle(*oracle)))

        def run():
            return ctx.collect(
                kind, lambda: catalog.sql(ctx.spark, sql, sf_dir, args=args), "catalog.sql"
            )

        return Op(kind, run, lambda res: compare(res, self._oracle(*oracle)))

    def warmup(self, ctx: Ctx) -> list[str]:
        # two of every kind, so each request shape is planned and compiled
        rng = np.random.default_rng([self.seed, 99])
        problems: list[str] = []
        for kind in sorted(set(SERVE_BLOCK)) * 2:
            op = self._request(ctx, rng, kind)
            problems += [f"{kind}: {p}" for p in op.check(op.run())]
        return problems

    def stream(self, ctx: Ctx, client: int) -> Iterator[Op]:
        rng = np.random.default_rng([self.seed, client])
        while True:
            for i in rng.permutation(len(SERVE_BLOCK)):
                yield self._request(ctx, rng, SERVE_BLOCK[i])


# --------------------------------------------------------------------------
# ingest writer: CSV batches, read-your-write, upsert + compaction, scripts
HTAP_BATCH_ROWS = 10_000
HTAP_BATCHES = 16
HTAP_UPSERT_ROWS = 500
HTAP_SCRIPT_ROWS = 200
# five batch loads to one upsert and one script: the median operation
# is a batch load, the tail is the upsert/compaction and the script
HTAP_CYCLE = ("batch", "batch", "batch", "upsert", "batch", "batch", "script")


def _htap_schema(with_change: bool = False):
    from pyspark.sql import types as T

    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("cust", T.LongType()),
        T.StructField("amount", T.DecimalType(12, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("note", T.StringType()),
    ]
    if with_change:
        fields.append(T.StructField("_change", T.StringType()))
    return T.StructType(fields)


def _cents_str(c: int) -> str:
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


def _write_csv(path: str, rows) -> int:
    with open(path, "w", newline="") as f:
        csv.writer(f, lineterminator="\n").writerows(rows)
    return os.path.getsize(path)


def htap_script(rng: np.random.Generator, n_rows: int) -> tuple[str, int, int]:
    """A MySQL script (CREATE/INSERT/UPDATE/DELETE/SELECT) and the count
    and cent sum its final SELECT must return."""
    vals = rng.integers(100, 100_000, n_rows)
    tags = rng.choice(["a", "b", "c"], n_rows)
    stmts = ["CREATE TABLE rt_script (id INT, v DECIMAL(10,2), tag VARCHAR(8));"]
    for lo in range(0, n_rows, 50):
        tuples = ", ".join(
            f"({i}, {_cents_str(int(vals[i]))}, '{tags[i]}')"
            for i in range(lo, min(lo + 50, n_rows))
        )
        stmts.append(f"INSERT INTO rt_script VALUES {tuples};")
    stmts.append("UPDATE rt_script SET v = v + 1 WHERE tag = 'a';")
    stmts.append("DELETE FROM rt_script WHERE id % 5 = 0;")
    stmts.append("SELECT COUNT(*) AS n, SUM(v) AS s FROM rt_script;")
    stmts.append("DROP TABLE rt_script;")
    cents = [int(v) + (100 if t == "a" else 0) for v, t in zip(vals, tags)]
    kept = [c for i, c in enumerate(cents) if i % 5 != 0]
    return "\n".join(stmts) + "\n", len(kept), sum(kept)


class Ingest(Role):
    """A writer: seed-generated CSV batches appended to a table the
    benchmark owns, each followed by a read of the new totals; every
    cycle also upserts through the CDC path, compacts, and runs a
    MySQL script."""

    unit = len(HTAP_CYCLE)

    def prepare(self, root: str, seed: int, sf_dir: str) -> None:
        super().prepare(root, seed, sf_dir)
        self.in_dir = os.path.join(root, f"htap-s{seed}")
        manifest = os.path.join(self.in_dir, "manifest.json")
        if not os.path.exists(manifest):
            shutil.rmtree(self.in_dir, ignore_errors=True)
            os.makedirs(self.in_dir)
            with open(manifest + ".tmp", "w") as f:
                json.dump(self._generate_inputs(seed), f)
            os.replace(manifest + ".tmp", manifest)
        with open(manifest) as f:
            self.m = json.load(f)

    def _generate_inputs(self, seed: int) -> dict:
        rng = np.random.default_rng([seed, 7])
        n_total = HTAP_BATCHES * HTAP_BATCH_ROWS
        amounts = rng.integers(-50_000, 2_000_000, n_total)
        custs = rng.integers(0, 15_000, n_total)
        days = np.datetime64("2024-01-01") + rng.integers(0, 366, n_total)
        notes = rng.choice(datagen.WORDS, n_total)
        batches = []
        for b in range(HTAP_BATCHES):
            lo, hi = b * HTAP_BATCH_ROWS, (b + 1) * HTAP_BATCH_ROWS
            rows = (
                (i, int(custs[i]), _cents_str(int(amounts[i])), str(days[i]), notes[i])
                for i in range(lo, hi)
            )
            name = f"batch{b:03d}.csv"
            size = _write_csv(os.path.join(self.in_dir, name), rows)
            batches.append(
                {"file": name, "rows": HTAP_BATCH_ROWS, "cents": int(amounts[lo:hi].sum()), "bytes": size}
            )
        # upsert j runs after 5j + 3 batches: it rewrites the amounts of
        # ids already loaded by then
        upserts, scripts = [], []
        current = amounts.copy()
        for j in range(HTAP_BATCHES // 5 + 1):
            loaded = min(5 * j + 3, HTAP_BATCHES) * HTAP_BATCH_ROWS
            ids = rng.choice(loaded, HTAP_UPSERT_ROWS, replace=False)
            new = rng.integers(-50_000, 2_000_000, HTAP_UPSERT_ROWS)
            delta = int(new.sum() - current[ids].sum())
            current[ids] = new
            rows = (
                (int(i), int(custs[i]), _cents_str(int(v)), str(days[i]), notes[i], "update")
                for i, v in zip(ids, new)
            )
            name = f"upsert{j:03d}.csv"
            _write_csv(os.path.join(self.in_dir, name), rows)
            upserts.append({"file": name, "delta_cents": delta})
            text, n, cents = htap_script(rng, HTAP_SCRIPT_ROWS)
            scripts.append({"text": text, "rows": n, "cents": cents})
        return {"batches": batches, "upserts": upserts, "scripts": scripts}

    # -- operations --------------------------------------------------------
    def _read_totals(self, ctx: Ctx, table: str) -> Result:
        from pyspark.sql import functions as F

        return ctx.collect(
            "read_totals",
            lambda: ctx.spark.read.parquet(table).agg(
                F.count(F.lit(1)).alias("n"), F.sum("amount").alias("cents")
            ),
            "sources.read",
        )

    def _batch(self, ctx: Ctx, state: dict, b: int) -> Op:
        from stonedb_spark.sources import csvload

        meta = self.m["batches"][b]
        table = state["table"]

        def run():
            with ctx.tracer.span("sources.load"):
                good, _bad = csvload.load_data_infile(
                    ctx.spark, os.path.join(self.in_dir, meta["file"]), _htap_schema()
                )
            with ctx.tracer.span("sources.append"):
                csvload.append_load(good, table)
            return self._read_totals(ctx, table)

        state["n"] += meta["rows"]
        state["cents"] += meta["cents"]
        return Op("batch", run, self._totals_check(state["n"], state["cents"]))

    def _upsert(self, ctx: Ctx, state: dict, j: int) -> Op:
        from stonedb_spark.sources import cdc, csvload, ddl

        meta = self.m["upserts"][j]
        table = state["table"]

        def run():
            with ctx.tracer.span("sources.upsert"):
                changes, _bad = csvload.load_data_infile(
                    ctx.spark, os.path.join(self.in_dir, meta["file"]), _htap_schema(True)
                )
                merged = cdc.apply_changes(ctx.spark.read.parquet(table), changes, "id")
                staging = table + ".__upsert__"
                merged.write.mode("overwrite").parquet(staging)
                shutil.rmtree(table)
                os.replace(staging, table)
            state["files_before"].append(_parquet_files(table))
            with ctx.tracer.span("sources.compact"):
                state["files_after"].append(ddl.compact_table(ctx.spark, table))
            return self._read_totals(ctx, table)

        state["cents"] += meta["delta_cents"]
        return Op("upsert", run, self._totals_check(state["n"], state["cents"]))

    def _script(self, ctx: Ctx, j: int) -> Op:
        from stonedb_spark import dialect

        meta = self.m["scripts"][j]

        def run():
            return ctx.collect(
                "script", lambda: dialect.run_script(ctx.spark, meta["text"]), "dialect.script"
            )

        return Op("script", run, self._totals_check(meta["rows"], meta["cents"]))

    @staticmethod
    def _totals_check(n: int, cents: int):
        def check(res: Result) -> list[str]:
            got = tuple(res.rows[0]) if len(res.rows) == 1 else None
            want = (n, Decimal(cents) / 100)
            return [] if got == want else [f"totals {got} != {want}"]

        return check

    def _ops(self, ctx: Ctx, state: dict) -> Iterator[Op]:
        b = j = 0
        for step in itertools.count():
            kind = HTAP_CYCLE[step % len(HTAP_CYCLE)]
            if kind == "batch":
                if b == HTAP_BATCHES:
                    return
                yield self._batch(ctx, state, b)
                b += 1
            elif kind == "upsert":
                yield self._upsert(ctx, state, j)
            else:
                yield self._script(ctx, j)
                j += 1

    def _state(self, ctx: Ctx, name: str) -> dict:
        table = os.path.join(ctx.work_dir, "htap", name)
        shutil.rmtree(table, ignore_errors=True)
        return {"table": table, "n": 0, "cents": 0, "files_before": [], "files_after": []}

    def warmup(self, ctx: Ctx) -> list[str]:
        problems = []
        state = self._state(ctx, "warmup")
        for _, op in zip(range(len(HTAP_CYCLE)), self._ops(ctx, state)):
            problems += [f"{op.kind}: {p}" for p in op.check(op.run())]
        shutil.rmtree(state["table"], ignore_errors=True)
        return problems

    def stream(self, ctx: Ctx, client: int) -> Iterator[Op]:
        self.state = self._state(ctx, "measured")
        return self._ops(ctx, self.state)

    def extra(self, ctx: Ctx, records: list) -> dict[str, tuple[float, str, int]]:
        from stonedb_spark.sources import ddl

        batches = [r for r in records if r.op.kind == "batch" and r.ok]
        if not batches:
            return {}
        busy = sum(r.end - r.start for r in batches)
        rows = len(batches) * HTAP_BATCH_ROWS
        csv_bytes = sum(self.m["batches"][i]["bytes"] for i in range(len(batches)))
        table = self.state["table"]
        ddl.compact_table(ctx.spark, table)
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
        )
        fb, fa = self.state["files_before"], self.state["files_after"]
        return {
            "ingest_rows_s": (rows / busy, "rows/s", len(batches)),
            "freshness_p50_s": (
                stats.percentile([r.end - r.start for r in batches], 50), "s", len(batches)
            ),
            "bytes_per_user_byte": (stored / csv_bytes, "ratio", 1),
            "files_before_compact": (sum(fb) / len(fb) if fb else 0.0, "count", len(fb)),
            "files_after_compact": (sum(fa) / len(fa) if fa else 0.0, "count", len(fa)),
        }


def _parquet_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def tpch_scale() -> Workload:
    """TPC-H, one client.  sf0.02 replicated 2x by the key-shift rule:
    lineitem has 240k rows in 4 files, so every scan runs 4 tasks."""
    return Workload(
        "tpch_scale", [QueryBattery(TPCH_QUERIES)], sf=0.02, copies=2, files=4, doc_sf=0
    )


def serve_mixed() -> Workload:
    """Four clients over sf0.1: two request clients, the ingest writer,
    and the pipeline operators over a sf0.02 corpus."""
    requests = Requests(0.1)
    return Workload(
        "serve_mixed",
        [requests, requests, Ingest(), QueryBattery(metrics.LLM_OPERATORS)],
        sf=0.1,
        doc_sf=0.02,
    )


WORKLOADS = {"tpch_scale": tpch_scale, "serve_mixed": serve_mixed}

#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 8 --trace 0

Inputs come from ``--seed`` (see datagen.py) and are cached under
``perfbench/.data``.  The run sets the session up several times, runs an
untimed warm-up whose answers are checked against DuckDB, measures for
``--seconds`` seconds, checks every measured answer, and prints a report
followed by one JSON result line.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around every
layer call and Spark's per-operation counters, and reports per-layer
metrics.
Each run leaves its full record in ``perfbench/.out``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
OUT_DIR = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402

# The run-time figures are scaled to a host of fixed speed.  The 4-vCPU
# virtual machine the benchmark was built on changed speed by up to 2x
# within minutes (other guests on its host), mostly without showing as
# steal, and CPU time and wall time changed with it.  host_speed() is
# timed after the set-ups and after the timed region; a time measured
# while the probe's median took p CPU seconds is divided by
# p / REFERENCE_PROBE_CPU_S (a rate multiplied by it).  The reference
# is about the probe's time on that machine when calm.
REFERENCE_PROBE_CPU_S = 0.45

# set-up is measured this many times per run, each a session restart in
# the running driver JVM; setup_s is their median.  A set-up from the
# launch of a fresh JVM takes ~13 s on a 4-vCPU host, too long to repeat
# within the benchmark's time budget: the run's one cold start is
# reported as cold_start_s instead.
SETUPS = 3
PROBE_SQL = "SELECT COUNT(*) AS n FROM lineitem"
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}


@dataclass
class Record:
    op: object
    trace_id: str
    start: float
    end: float = 0.0
    result: object = None
    error: str | None = None
    problems: list = field(default_factory=list)
    counters: dict | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


def pin_env(work: str) -> dict:
    """Size the engine to this host and keep every file it writes inside
    the run's work directory.  Must run before stonedb_spark is imported:
    the session module reads these variables at import time."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(2, mem_kb // (4 * 1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        # no hsperfdata file under the system temp directory
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": cpus, "driver_mem": f"{driver_gb}g"}


def cpu_times() -> list[int]:
    """The host's aggregate jiffies from /proc/stat: user nice system
    idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_cpu_ticks(root: int) -> int:
    """CPU time (user + system, in clock ticks) of ``root`` and every
    process below it (the driver JVM, the Python worker daemon and its
    workers), including what they took from children they have reaped."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended meanwhile
            continue
        # fields[0] is stat field 3 (state): ppid is field 4, utime,
        # stime, cutime and cstime fields 14-17
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total


def host_speed(reps: int = 7) -> list[float]:
    """CPU seconds each of ``reps`` runs of a fixed piece of
    engine-independent work (numpy sorts on every CPU) took: how fast
    the host runs at this moment.  CPU time, so steal does not count."""
    import numpy as np

    n = len(os.sched_getaffinity(0))
    data = [np.random.default_rng(i).random(1 << 20) for i in range(n)]

    def work(a) -> None:
        for _ in range(8):
            np.sort(a)

    cpus = []
    with ThreadPoolExecutor(n) as pool:
        list(pool.map(work, data))
        for _ in range(reps):
            c = time.process_time()
            list(pool.map(work, data))
            cpus.append(time.process_time() - c)
    return cpus


def git_head() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "n/a"


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(line for line in f if line.startswith("VmHWM:")).split()[1]
    return int(kb) / 1024.0


class Engine:
    """The driver session and what a set-up makes ready."""

    def __init__(self, workload, tracer, work: str) -> None:
        self.workload = workload
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.ctx = None

    def setup(self, label: str) -> float:
        """Start the session (launching the driver JVM if none runs),
        load the tables and answer a first query; returns the seconds."""
        from stonedb_spark import catalog, session
        from workloads import Ctx

        t0 = time.perf_counter()
        with self.tracer.span("setup", trace=label):
            with self.tracer.span("session.start"):
                self.spark = session.get_spark("perfbench", SPARK_CONF)
            self.spark.sparkContext.setLogLevel("ERROR")
            sf_dir = self.workload.sf_dir
            catalog.load_tables(self.spark, sf_dir)
            self.ctx = Ctx(self.spark, self.tracer, self.work)
            self.ctx.collect(
                "probe", lambda: catalog.sql(self.spark, PROBE_SQL, sf_dir), "catalog.sql"
            )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the driver JVM, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        self.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def run_client(role, ctx, counters, client: int, n_ops: int) -> list[Record]:
    """Closed loop over the first ``n_ops`` operations of the client's
    stream: next operation only after the previous one ends."""
    tracer = ctx.tracer
    records: list[Record] = []
    for n, op in enumerate(itertools.islice(role.stream(ctx, client), n_ops)):
        rec = Record(op, f"c{client}-{n}", time.perf_counter())
        if tracer.enabled:
            ctx.spark.sparkContext.setJobGroup(rec.trace_id, op.kind)
        try:
            with tracer.span(f"op.{op.kind}", trace=rec.trace_id):
                rec.result = op.run()
        except Exception as e:  # a failed operation is counted, the run goes on
            rec.error = f"{type(e).__name__}: {e}"[:400]
        rec.end = time.perf_counter()
        if tracer.enabled:
            t = time.perf_counter()
            rec.counters = counters.collect(rec.trace_id)
            tracer.overhead_s += time.perf_counter() - t
        records.append(rec)
    return records


def measure(workload, ctx, seconds: float) -> tuple[list[Record], float, float, list[int]]:
    """Run every client's closed loop for the fixed work of ``seconds``
    (see workloads.units); returns the records, the wall time, the CPU
    seconds this process and its descendants spent, and the host's CPU
    jiffies, all over the timed region."""
    from tracing import SparkCounters
    from workloads import units

    counters = SparkCounters(ctx.spark) if ctx.tracer.enabled else None
    n_units = units(seconds)
    host0, own0 = cpu_times(), tree_cpu_ticks(os.getpid())
    t0 = time.perf_counter()
    with ThreadPoolExecutor(workload.clients) as pool:
        futures = [
            pool.submit(run_client, role, ctx, counters, c, role.unit * n_units)
            for c, role in enumerate(workload.roles)
        ]
        records = [r for f in futures for r in f.result()]
    wall = max(r.end for r in records) - t0
    own_s = (tree_cpu_ticks(os.getpid()) - own0) / os.sysconf("SC_CLK_TCK")
    return records, wall, own_s, [b - a for a, b in zip(host0, cpu_times())]


def check(records: list[Record]) -> None:
    for rec in records:
        if rec.error is not None:
            continue
        try:
            rec.problems = rec.op.check(rec.result)
        except Exception as e:  # a check that cannot run is a wrong answer
            rec.problems = [f"check failed: {type(e).__name__}: {e}"[:400]]


def end_to_end(records, run_s, cpu_s, setup_samples, rss, slow) -> dict[str, tuple[float, str, int]]:
    """``slow``: the host's slowness against the reference (see
    REFERENCE_PROBE_CPU_S), which the gated times are scaled by."""
    lat = [r.end - r.start for r in records]
    failed = sum(not r.ok for r in records)
    return {
        "cpu_ms_per_op": (1000 * cpu_s / len(records) / slow, "ms", len(records)),
        "latency_p50_s": (stats.percentile(lat, 50), "s", len(lat)),
        "latency_p90_s": (stats.percentile(lat, 90), "s", len(lat)),
        "throughput_ops_s": (len(records) / run_s * slow, "1/s", len(records)),
        "setup_s": (statistics.median(setup_samples) / slow, "s", len(setup_samples)),
        "peak_rss_mb": (rss, "MB", 1),
        "error_rate": (failed / len(records), "ratio", len(records)),
    }


def per_layer(tracer, records, ctx, run_s, extra) -> dict[str, float]:
    from tracing import self_times

    spans = tracer.spans
    selfs = self_times(spans)
    measured = {r.trace_id for r in records}
    n_ops = len(records)
    m: dict[str, float] = {}

    setups = {s.sid for s in spans if s.name == "setup" and s.trace.startswith("restart")}

    def durations(name: str, setup: bool = False) -> list[float]:
        """Span durations in the measured operations, or in the set-up
        restarts (direct children of a set-up span only)."""
        return [
            s.end - s.start
            for s in spans
            if s.name == name and (s.parent in setups if setup else s.trace in measured)
        ]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    m["session.start_s"] = statistics.median(durations("session.start", setup=True))
    m["catalog.load_tables_s"] = statistics.median(
        durations("catalog.load_tables", setup=True)
    )
    by_id = {s.sid: s for s in spans}
    # the rewrite a MySQL-text request pays (run_script also rewrites,
    # statement by statement; that time is in dialect.script_s)
    m["dialect.rewrite_ms"] = 1000 * mean([
        s.end - s.start
        for s in spans
        if s.name == "dialect.rewrite" and s.trace in measured
        and by_id[s.parent].name == "catalog.mysql"
    ])
    m["dialect.script_s"] = mean(durations("dialect.script"))
    m["queries.build_s"] = mean(durations("queries.build"))
    m["plan.prepare_s"] = mean(durations("plan.prepare"))
    for key in ("exchanges", "codegen_stages", "bnlj"):
        vals = [ctx.plan_stats[r.op.kind][key] for r in records if r.op.kind in ctx.plan_stats]
        m[f"plan.{key}"] = mean(vals)
    m["exec.s"] = sum(durations("exec.collect")) / n_ops

    def total(key: str) -> float:
        return sum(r.counters[key] for r in records if r.counters)

    jobs = total("jobs")
    m["exec.task_run_s"] = total("task_run_ms") / 1e3 / n_ops
    m["exec.task_cpu_s"] = total("task_cpu_ns") / 1e9 / n_ops
    m["exec.shuffle_bytes"] = total("shuffle_write_bytes") / n_ops
    m["exec.spill_bytes"] = (total("spill_memory_bytes") + total("spill_disk_bytes")) / n_ops
    m["exec.jobs"] = jobs / n_ops
    m["exec.stages"] = total("stages") / n_ops
    m["exec.tasks"] = total("tasks") / n_ops
    m["exec.first_task_wait_s"] = total("first_task_wait_ms") / 1e3 / jobs if jobs else 0.0
    m["exec.failed_tasks"] = total("failed_tasks")
    result_rows = sum(len(r.result.rows) for r in records if r.result is not None)
    m["scan.rows_per_result_row"] = total("input_records") / max(result_rows, 1)
    for name in ("load", "append", "upsert", "compact"):
        m[f"sources.{name}_s"] = mean(durations(f"sources.{name}"))
    for name in (
        "files_before_compact",
        "files_after_compact",
        "ingest_rows_s",
        "freshness_p50_s",
        "bytes_per_user_byte",
    ):
        m[f"sources.{name}"] = extra[name][0] if name in extra else 0.0
    for q in metrics.LLM_OPERATORS:
        m[f"operators.{q}_s"] = mean([r.end - r.start for r in records if r.op.kind == q])
    for layer in metrics.LAYERS:
        own = [s for s in spans if s.trace in measured and s.layer == layer]
        m[f"{layer}.self_ms_per_op"] = 1000 * sum(selfs[s.sid] for s in own) / n_ops
        m[f"{layer}.calls_per_op"] = len(own) / n_ops
    m["trace.overhead_ms_per_op"] = 1000 * tracer.overhead_s / n_ops
    m["trace.throughput_ops_s"] = n_ops / run_s
    return m


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "stonedb_spark")):
        print(f"perfbench: no stonedb_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    stamp = pin_env(work)
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, stamp: dict) -> int:
    import pyspark

    from tracing import Tracer, instrument
    from workloads import WORKLOADS

    stamp.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        loadavg_start=list(os.getloadavg()),
        cpu_start=cpu_times(),
        pyspark=pyspark.__version__,
        python=platform.python_version(),
        git_head=git_head(),
    )
    # the query modules the workloads use; all_queries() would also load
    # the MySQL-test replay battery, which needs the reference test tree
    import stonedb_spark.queries.graph  # noqa: F401
    import stonedb_spark.queries.pipeline  # noqa: F401
    import stonedb_spark.queries.tpch  # noqa: F401

    workload = WORKLOADS[args.workload]()
    t = time.perf_counter()
    os.makedirs(DATA_DIR, exist_ok=True)
    workload.generate(DATA_DIR, args.seed)
    gen_s = time.perf_counter() - t

    tracer = Tracer(enabled=bool(args.trace))
    restore = instrument(tracer) if tracer.enabled else (lambda: None)
    engine = Engine(workload, tracer, work)
    try:
        engine.setup("cold")
        cold_setup_s = time.perf_counter() - T_PROCESS - gen_s
        setup_samples = []
        for i in range(SETUPS):
            engine.stop()
            setup_samples.append(engine.setup(f"restart{i}"))
        ctx = engine.ctx
        stamp["java"] = ctx.spark._jvm.System.getProperty("java.version")  # noqa: SLF001

        phases = stamp["phases_s"] = {"gen": gen_s, "cold_setup": cold_setup_s}
        probe = host_speed()
        t = time.perf_counter()
        with tracer.span("warmup", trace="warmup"):
            warm_problems = workload.warmup(ctx)
        phases["warmup"] = time.perf_counter() - t
        records, wall, cpu_s, host_cpu = measure(workload, ctx, args.seconds)
        probe += host_speed()
        stamp["host_probe_cpu_s"] = probe
        slow = stamp["host_slowness"] = statistics.median(probe) / REFERENCE_PROBE_CPU_S
        phases["measure"] = wall
        # the wall time other guests took the vCPUs away (steal, averaged
        # over the CPUs) is not the engine's: throughput leaves it out
        stolen_s = host_cpu[7] / os.sysconf("SC_CLK_TCK") / os.cpu_count()
        stamp["measure_stolen_s"] = stolen_s
        run_s = wall - stolen_s
        stamp["measure_steal_pct"] = 100 * host_cpu[7] / max(sum(host_cpu), 1)
        # this run's CPU seconds beside the whole host's (user, nice,
        # system, irq, softirq): the gap is other work on the host
        stamp["measure_cpu_s"] = {
            "own": cpu_s,
            "host": sum(host_cpu[i] for i in (0, 1, 2, 5, 6)) / os.sysconf("SC_CLK_TCK"),
        }
        t = time.perf_counter()
        check(records)
        extra = {}
        for role in workload.distinct_roles():
            extra.update(role.extra(ctx, records))
        phases["check"] = time.perf_counter() - t
        jvm_pid = ctx.spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        stamp["peak_rss_mb"] = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(jvm_pid)}
        rss = sum(stamp["peak_rss_mb"].values())
        e2e = end_to_end(records, run_s, cpu_s, setup_samples, rss, slow)
        # process start through the warm-up round, without input
        # generation or the set-up restarts
        e2e["cold_start_s"] = (cold_setup_s + phases["warmup"], "s", 1)
        e2e.update(extra)
        # scaled like throughput_ops_s, so the two compare
        layers = per_layer(tracer, records, ctx, run_s / slow, extra) if tracer.enabled else {}
    finally:
        restore()
        engine.shutdown()
    stamp["loadavg_end"] = list(os.getloadavg())
    # share of the host's CPU time taken by other guests (steal) during
    # the run: a contended host shows here, not in loadavg
    delta = [b - a for a, b in zip(stamp.pop("cpu_start"), cpu_times())]
    stamp["cpu_steal_pct"] = 100 * delta[7] / max(sum(delta), 1)
    stamp["wall_s"] = time.perf_counter() - T_PROCESS

    failed = sum(not r.ok for r in records)
    report(args, stamp, gen_s, cold_setup_s, setup_samples, warm_problems, records, e2e, layers)
    save(args, stamp, e2e, layers, records, tracer)
    if args.trace:
        out = {k: {"value": layers[k], "unit": u} for k, (u, _b, _m) in metrics.PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k][0], "unit": u} for k, (u, _b) in metrics.END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0 and not warm_problems,
                "attempted": len(records),
                "failed": failed,
                "metrics": out,
            }
        )
    )
    return 0


def report(args, stamp, gen_s, cold_setup_s, setup_samples, warm_problems, records, e2e, layers):
    print(f"# perfbench {json.dumps(stamp)}")
    print(f"# input generation {gen_s:.3f} s (not part of setup_s)")
    print(f"# cold setup {cold_setup_s:.3f} s from process start; restarts "
          + ", ".join(f"{s:.3f}" for s in setup_samples) + " s")
    slow = stamp["host_slowness"]
    print(f"# host slowness {slow:.4f} against the reference; unscaled: cpu_ms_per_op "
          f"{e2e['cpu_ms_per_op'][0] * slow:.6g} ms, throughput_ops_s "
          f"{e2e['throughput_ops_s'][0] / slow:.6g} 1/s, setup_s {e2e['setup_s'][0] * slow:.6g} s")
    print(f"# warm-up oracle check: {len(warm_problems)} problem(s)")
    for p in warm_problems[:10]:
        print(f"#   {p}")
    for r in [r for r in records if not r.ok][:10]:
        print(f"#   failed {r.op.kind} {r.trace_id}: {r.error or r.problems[:2]}")
    print(f"# {len(records)} operations")
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r.op.kind, []).append(r.end - r.start)
    for kind, lat in sorted(kinds.items()):
        print(f"#   {kind}: n={len(lat)} p50={stats.percentile(lat, 50):.4f} s")
    for name, (value, unit, n) in e2e.items():
        print(f"# metric {args.workload} {name} = {value:.6g} {unit} (n={n})")
    for name, value in layers.items():
        unit, _better, moves = metrics.PER_LAYER[name]
        targets = ", ".join(f"{e2e} on {on}" for e2e, on in moves)
        print(f"# layer {name} = {value:.6g} {unit} -> {targets}")
    if args.trace:
        overhead(args, layers)


def _out_path(args, trace: int) -> str:
    return os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{trace}.json")


def overhead(args, layers) -> None:
    """Tracing overhead: this traced run against the untraced run of the
    same workload and seed, when one was made in this checkout."""
    try:
        with open(_out_path(args, 0)) as f:
            base = json.load(f)["end_to_end"]["throughput_ops_s"][0]
    except (OSError, KeyError, ValueError):
        print("# tracing overhead: no untraced run with this seed to compare")
        return
    traced = layers["trace.throughput_ops_s"]
    print(f"# tracing overhead: throughput {traced:.4g} traced vs {base:.4g} untraced "
          f"({100 * (traced - base) / base:+.1f}% when traced)")


def save(args, stamp, e2e, layers, records, tracer) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    doc = {
        "stamp": stamp,
        "end_to_end": e2e,
        "per_layer": layers,
        "operations": [
            {"kind": r.op.kind, "trace": r.trace_id, "s": r.end - r.start, "ok": r.ok}
            for r in records
        ],
        "spans": [
            {"id": s.sid, "name": s.name, "trace": s.trace, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in tracer.spans
        ],
    }
    with open(_out_path(args, args.trace), "w") as f:
        json.dump(doc, f)


if __name__ == "__main__":
    sys.exit(main())

"""Metric definitions: the end-to-end metrics every run reports, the
per-layer metrics a traced run reports, and for each per-layer metric
the end-to-end metric and workload it is expected to move.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests keep the two in step.
"""

from __future__ import annotations

# name -> (unit, better).  The machine-read result of an untraced run.
# cpu_ms_per_op is the CPU time of the benchmark process and everything
# it starts (driver JVM, Python workers); throughput_ops_s is wall clock
# less the time other guests took the vCPUs away (steal), and catches
# what costs time but no CPU (lost parallelism, waits).
END_TO_END = {
    "cpu_ms_per_op": ("ms", "lower"),
    "throughput_ops_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# Reported per workload by every untraced run, with units and sample
# counts, but left out of the machine-read result: the latency
# percentiles of a run of a few dozen operations of unequal kinds spread
# more from seed to seed than throughput does; cold_start_s (process
# start through the warm-up round, which also computes the DuckDB oracle
# answers) is one sample per run, while setup_s is the median of several
# session restarts; error_rate is 0 on correct code (the result line
# carries it as attempted/failed); the ingest figures exist on
# serve_mixed only (a traced run carries them as sources.* per-layer
# metrics).
REPORT_ONLY = {
    "cold_start_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "error_rate": "ratio",
    "ingest_rows_s": "rows/s",
    "freshness_p50_s": "s",
    "bytes_per_user_byte": "ratio",
}

LLM_OPERATORS = (
    "dedup_minhash_lsh",
    "dedup_clusters",
    "knn_ivf_probe",
    "knn_pq_adc",
    "text_tfidf_topk",
    "text_line_dedup",
    "graph_pagerank",
)

_ALL = "all"
_T, _S = "tpch_scale", "serve_mixed"
# name -> (unit, better, [(end-to-end metric it should move, on workload)])
# serve_mixed runs the ingest writer and the pipeline operators as two of
# its four clients; their operations sit in its latency tail.
PER_LAYER = {
    "session.start_s": ("s", "lower", [("setup_s", _ALL)]),
    "catalog.load_tables_s": ("s", "lower", [("setup_s", _ALL), ("latency_p50_s", _S)]),
    "dialect.rewrite_ms": ("ms", "lower", [("latency_p50_s", _S)]),
    "dialect.script_s": ("s", "lower", [("latency_p90_s", _S)]),
    "queries.build_s": ("s", "lower", [("latency_p90_s", _S), ("throughput_ops_s", _T)]),
    "plan.prepare_s": ("s", "lower", [("latency_p50_s", _S)]),
    "plan.exchanges": ("count", "lower", [("throughput_ops_s", _T)]),
    "plan.codegen_stages": ("count", "lower", [("throughput_ops_s", _T)]),
    "plan.bnlj": ("count", "lower", [("throughput_ops_s", _T)]),
    "exec.s": ("s", "lower", [("throughput_ops_s", _T)]),
    "exec.task_run_s": ("s", "lower", [("throughput_ops_s", _T)]),
    "exec.task_cpu_s": ("s", "lower", [("throughput_ops_s", _T)]),
    "exec.shuffle_bytes": ("bytes", "lower", [("throughput_ops_s", _T)]),
    "exec.spill_bytes": ("bytes", "lower", [("throughput_ops_s", _T)]),
    "exec.jobs": ("count", "lower", [("latency_p90_s", _S)]),
    "exec.stages": ("count", "lower", [("latency_p90_s", _S)]),
    "exec.tasks": ("count", "lower", [("latency_p90_s", _S)]),
    "exec.first_task_wait_s": ("s", "lower", [("latency_p90_s", _S)]),
    "exec.failed_tasks": ("count", "lower", [("error_rate", _ALL)]),
    "scan.rows_per_result_row": (
        "ratio", "lower", [("latency_p50_s", _S), ("latency_p50_s", _T)]
    ),
    "sources.load_s": ("s", "lower", [("ingest_rows_s", _S)]),
    "sources.append_s": ("s", "lower", [("ingest_rows_s", _S)]),
    "sources.upsert_s": ("s", "lower", [("freshness_p50_s", _S), ("latency_p90_s", _S)]),
    "sources.compact_s": ("s", "lower", [("latency_p90_s", _S)]),
    "sources.files_before_compact": ("count", "lower", [("freshness_p50_s", _S)]),
    "sources.files_after_compact": ("count", "lower", [("freshness_p50_s", _S)]),
    "sources.ingest_rows_s": ("rows/s", "higher", [("ingest_rows_s", _S)]),
    "sources.freshness_p50_s": ("s", "lower", [("freshness_p50_s", _S)]),
    "sources.bytes_per_user_byte": ("ratio", "lower", [("bytes_per_user_byte", _S)]),
    **{
        f"operators.{q}_s": ("s", "lower", [("latency_p90_s", _S)])
        for q in LLM_OPERATORS
    },
    "trace.overhead_ms_per_op": ("ms", "lower", [("throughput_ops_s", _ALL)]),
    "trace.throughput_ops_s": ("1/s", "higher", [("throughput_ops_s", _ALL)]),
}

# Self time and call count of every layer, per measured operation.
LAYERS = ("catalog", "dialect", "queries", "plan", "exec", "sources", "operators", "plans")
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_ms_per_op"] = ("ms", "lower", [("latency_p50_s", _ALL)])
    PER_LAYER[f"{_layer}.calls_per_op"] = ("count", "lower", [("latency_p50_s", _ALL)])

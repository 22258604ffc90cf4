"""Per-layer metrics of a traced run, and the list of every metric with its
unit (BENCHMARK.json names the same ones).

Aggregation rules, so that a number does not depend on how many passes a
run managed:
  warm sum   per operation, the median over its warm executions; summed
             over operations (as warm_pass_s is)
  cold sum   summed over the first execution of each operation (as
             cold_pass_s is)
A layer a workload does not call reads 0.
"""

from __future__ import annotations

import statistics

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.user_functions": "count",
    "session.jvm_peak_rss_mib": "MiB",
    "engine.register_s": "s",
    "engine.read_calls": "count",
    "engine.read_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_py4j_calls": "count",
    "dialect.translate_ms": "ms",
    "dialect.translate_first_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.scan_rows": "rows",
    "exec.exchanges": "count",
    "exec.broadcasts": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_rows": "rows",
    "exec.codegen_classes": "count",
    "exec.codegen_compile_ms": "ms",
    "pipeline.candidate_pairs": "pairs",
    "pipeline.result_pairs": "pairs",
    "pipeline.pair_yield": "ratio",
    "pipeline.pair_shuffle_bytes": "bytes",
    "policies.insert_s": "s",
    "policies.files_written": "count",
    "policies.bytes_written": "bytes",
    "policies.final_rows_scanned_per_row": "ratio",
    "policies.optimize_bytes_rewritten": "bytes",
    "policies.mutation_files_rewritten": "count",
    "policies.ingest_rows_per_s": "rows/s",
    "policies.final_read_s": "s",
    "policies.optimize_s": "s",
    "policies.mutation_s": "s",
    "policies.stored_mib": "MiB",
}


def _warm_sum(execs, value, keep=lambda e: True) -> float:
    per_op: dict[str, list[float]] = {}
    for e in execs:
        if not e.cold and e.error is None and keep(e):
            v = value(e)
            if v is not None:
                per_op.setdefault(e.op, []).append(v)
    return float(sum(statistics.median(v) for v in per_op.values()))


def _cold_sum(execs, value) -> float:
    return float(sum(value(e) or 0 for e in execs if e.cold and e.error is None))


def per_layer(execs, setup: dict, counters, workload_metrics: dict) -> dict[str, float]:
    def count(k):
        return lambda e: e.counts.get(k)

    queries = lambda e: e.layer == "queries"  # noqa: E731
    pairs = lambda e: "candidate_pairs" in e.counts  # noqa: E731
    warm_translate = [t for e in execs if not e.cold for t in e.counts.get("translate_ms", [])]
    m = {
        "session.start_s": setup["session_s"],
        "session.user_functions": setup.get("user_functions", 0),
        "session.jvm_peak_rss_mib": setup.get("jvm_peak_rss_mib") or 0.0,
        "engine.register_s": setup["register_s"],
        "engine.read_calls": _cold_sum(execs, count("read_calls")),
        "engine.read_ms": _cold_sum(execs, count("read_ms")),
        "queries.build_ms": _warm_sum(execs, lambda e: 1000 * e.build_s, queries),
        "queries.build_py4j_calls": _warm_sum(execs, count("py4j_calls"), queries),
        "dialect.translate_ms": statistics.median(warm_translate) if warm_translate else 0.0,
        "dialect.translate_first_ms": 1000 * counters.translate_s[0] if counters.translate_s else 0.0,
        "catalyst.analysis_ms": _warm_sum(execs, count("analysis_ms")),
        "catalyst.optimization_ms": _warm_sum(execs, count("optimization_ms")),
        "catalyst.planning_ms": _warm_sum(execs, count("planning_ms")),
        "exec.s": _warm_sum(execs, lambda e: e.exec_s),
        "exec.codegen_classes": _cold_sum(execs, count("codegen_classes")),
        "exec.codegen_compile_ms": _cold_sum(execs, count("codegen_ms")),
        "pipeline.candidate_pairs": _warm_sum(execs, count("candidate_pairs"), pairs),
        "pipeline.result_pairs": _warm_sum(execs, lambda e: len(e.result), pairs),
        "pipeline.pair_shuffle_bytes": _warm_sum(execs, count("pair_shuffle_bytes"), pairs),
    }
    for k in ("jobs", "tasks", "scan_rows", "exchanges", "broadcasts", "shuffle_bytes",
              "spill_bytes", "python_rows"):
        m[f"exec.{k}"] = _warm_sum(execs, count(k))
    cand = m["pipeline.candidate_pairs"]
    m["pipeline.pair_yield"] = m["pipeline.result_pairs"] / cand if cand else 0.0
    for k in PER_LAYER_UNITS:
        if k.startswith("policies."):
            m[k] = workload_metrics.get(k, 0.0)
    return {k: float(m[k]) for k in PER_LAYER_UNITS}

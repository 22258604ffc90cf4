"""One benchmark process: set up Spark, run one workload, check its outputs.

Started by run.py, which times set-up from process start to the READY line
this process prints. Writes its result as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import Tracer, run_passes, summarize  # noqa: E402


class Ctx:
    """What a workload may use: the seed, the session, the Engine (set once
    the tables are registered), its work directory and the data dirs."""

    def __init__(self, args, spark):
        self.seed = args.seed
        self.spark = spark
        self.engine = None
        self.work_dir = args.work_dir
        self._data = json.loads(args.data_dirs)

    def data(self, name: str) -> str:
        return self._data[name]


def workload_factory(name: str):
    from workloads import dialect, ingest, registry

    return {
        "olap_star": registry.olap_star,
        "pipeline_dedup": registry.pipeline_dedup,
        "ch_dialect": dialect.ch_dialect,
        "mergetree_ingest": ingest.mergetree_ingest,
    }[name]


def session_confs(work_dir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mib() -> float | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        return None
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--data-dirs", required=True)
    ap.add_argument("--result")
    ap.add_argument("--slow-op")
    args = ap.parse_args()

    # -- set-up: session, UDFs, tables -----------------------------------
    from clickhouse_23_3_19_32_lts_spark.engine import Engine
    from clickhouse_23_3_19_32_lts_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_confs=session_confs(args.work_dir))
    t1 = time.perf_counter()
    ctx = Ctx(args, spark)
    wl = workload_factory(args.workload)(ctx)
    ctx.engine = Engine(spark, wl.data_dir)
    t2 = time.perf_counter()
    setup = {"import_s": t0 - T_START, "session_s": t1 - t0, "register_s": t2 - t1,
             "tables": ctx.engine.tables()}
    print("PERFBENCH_READY " + json.dumps(setup), flush=True)
    # nothing reads standard output after READY: send the rest to the log
    os.dup2(sys.stderr.fileno(), sys.stdout.fileno())
    tracer = Tracer(bool(args.trace))
    counters = None
    runner = None
    if args.trace:
        from layers import Counters, TracedRunner

        rows = spark.sql("SHOW USER FUNCTIONS").collect()
        setup["user_functions"] = len(rows)
        counters = Counters(tracer)
        counters.install(spark)
        runner = TracedRunner(spark, tracer, counters)

    wl.prepare(ctx)
    with tracer.span(args.workload):
        execs = run_passes(
            wl.make_pass, args.seconds, wl.min_passes, wl.min_warm, runner=runner,
            slow_op=args.slow_op, between_passes=getattr(wl, "reset", None),
        )
    setup["jvm_peak_rss_mib"] = jvm_peak_rss_mib()
    if counters is not None:
        counters.remove()
    stop_spark(spark)

    # -- checks, after all timed work -------------------------------------
    with tracer.span("check"):
        statuses = wl.check(execs)
    summary = summarize(execs)
    failed = [(e, p) for e, (s, p) in zip(execs, statuses) if s == "failed"]
    incorrect = [(e, p) for e, (s, p) in zip(execs, statuses) if s == "incorrect"]
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup": setup,
        "summary": summary,
        "attempted": len(execs),
        "failed": len(failed),
        "correct": not incorrect,
        "failures": _describe(failed),
        "incorrect": _describe(incorrect),
        "passes": max(e.pass_no for e in execs) + 1,
        "workload_metrics": getattr(wl, "extra_metrics", lambda _e: {})(execs),
    }
    if args.trace:
        from metrics import per_layer

        result["per_layer"] = per_layer(execs, setup, counters, result["workload_metrics"])
        result["self_times_s"] = tracer.self_times()
        result["spans"] = tracer.spans
    with open(args.result, "w") as fh:
        json.dump(result, fh, default=str)
    return 0


def _describe(items) -> list[dict]:
    """One entry per distinct (operation, first problem), with a count."""
    seen: dict[tuple, dict] = {}
    for e, problems in items:
        key = (e.op, problems[0] if problems else "")
        d = seen.setdefault(key, {"op": e.op, "problems": problems[:3], "count": 0})
        d["count"] += 1
    return list(seen.values())


if __name__ == "__main__":
    sys.exit(main())

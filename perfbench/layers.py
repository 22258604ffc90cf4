"""Per-layer counters, read from outside the program.

Two sources:
  - wrappers around the program's public entry points (``engine.
    read_parquet_table``, ``dialect.translate``) and around the py4j
    client, installed only in a traced run;
  - Spark's own counters through py4j: the ``QueryPlanningTracker`` and the
    final (adaptive) plan's SQLMetrics of the execution that ran, the
    status tracker's jobs and tasks, and ``CodegenMetrics``.
"""

from __future__ import annotations

import os
import time

from harness import Execution, Op, Tracer

_JOIN_NODES = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


class Counters:
    """Wraps the program's entry points and the py4j client with counting
    shims. ``install`` replaces module attributes; ``remove`` puts the
    originals back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.py4j_calls = 0
        self.read_calls = 0
        self.read_s = 0.0
        self.translate_s: list[float] = []
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr, new):
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        from clickhouse_23_3_19_32_lts_spark import dialect, engine

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*a, **k):
            self.py4j_calls += 1
            return send(*a, **k)

        self._patch(client, "send_command", counting_send)

        read = engine.read_parquet_table

        def traced_read(spark_, path):
            t0 = time.perf_counter()
            with self.tracer.span("engine.read", path=os.path.basename(path)):
                try:
                    return read(spark_, path)
                finally:
                    self.read_calls += 1
                    self.read_s += time.perf_counter() - t0

        self._patch(engine, "read_parquet_table", traced_read)

        translate = dialect.translate

        def traced_translate(*a, **k):
            t0 = time.perf_counter()
            with self.tracer.span("dialect.translate"):
                try:
                    return translate(*a, **k)
                finally:
                    self.translate_s.append(time.perf_counter() - t0)

        self._patch(dialect, "translate", traced_translate)

    def remove(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def codegen(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since JVM start. The count is exact;
    the time sums the histogram's reservoir, exact below 1028 samples."""
    h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(h.getCount()), float(sum(h.getSnapshot().getValues()))


def phases(qe) -> dict[str, tuple[float, float]]:
    """Catalyst phase -> (start, end) in epoch seconds."""
    out = {}
    ph = qe.tracker().phases()
    it = ph.keySet().iterator()
    while it.hasNext():
        k = it.next()
        p = ph.get(k).get()
        out[str(k)] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
    return out


def plan_nodes(plan) -> list[dict]:
    """Flatten the executed plan, descending through adaptive wrappers and
    query stages. Each node: name, class, metric values, and the indexes
    of its ancestors.
    A reused exchange is listed once, where it was built."""
    out: list[dict] = []

    def walk(p, ancestors):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan(), ancestors)
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan(), ancestors)
            return
        if cls == "ReusedExchangeExec":
            return
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[str(kv._1())] = int(kv._2().value())
        node = {"name": str(p.nodeName()), "cls": cls, "metrics": metrics,
                "ancestors": ancestors}
        out.append(node)
        ch = p.children().iterator()
        while ch.hasNext():
            walk(ch.next(), ancestors + [len(out) - 1])

    walk(plan, [])
    return out


def plan_counts(nodes: list[dict], pairs: bool) -> dict:
    """Execution counters from the final plan's SQLMetrics. For a pair
    query (``pairs``), the candidate pairs are the rows out of the widest
    join, and the pair exchanges are the shuffles above it."""
    c = {"scan_rows": 0, "exchanges": 0, "broadcasts": 0, "shuffle_bytes": 0,
         "spill_bytes": 0, "python_rows": 0}
    for n in nodes:
        m = n["metrics"]
        if n["name"].startswith("Scan"):
            c["scan_rows"] += m.get("numOutputRows", 0)
        if n["cls"] == "ShuffleExchangeExec":
            c["exchanges"] += 1
            c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if n["cls"] == "BroadcastExchangeExec":
            c["broadcasts"] += 1
        c["spill_bytes"] += m.get("spillSize", 0)
        if any(k in n["cls"] for k in _PYTHON_NODES):
            c["python_rows"] += m.get("numOutputRows", 0)
    if pairs:
        joins = [i for i, n in enumerate(nodes) if n["name"] in _JOIN_NODES]
        if joins:
            widest = max(joins, key=lambda i: nodes[i]["metrics"].get("numOutputRows", 0))
            c["candidate_pairs"] = nodes[widest]["metrics"].get("numOutputRows", 0)
            c["pair_shuffle_bytes"] = sum(
                nodes[a]["metrics"].get("shuffleBytesWritten", 0)
                for a in nodes[widest]["ancestors"]
                if nodes[a]["cls"] == "ShuffleExchangeExec"
            )
    return c


def jobs_tasks(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numCompletedTasks if si else 0
    return len(jobs), tasks


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """Data files under a table directory: path -> (size, mtime_ns)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


class TracedRunner:
    """Runs one operation with spans and per-layer counts. The end-to-end
    numbers never come from this runner: only from untraced runs."""

    def __init__(self, spark, tracer: Tracer, counters: Counters):
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.n = 0

    def __call__(self, op: Op, ex: Execution) -> None:
        sc = self.spark.sparkContext
        self.n += 1
        group = f"perfbench-{self.n}"
        sc.setJobGroup(group, op.name)
        cg0 = codegen(self.spark)
        c = self.counters
        r0, rs0, tr0 = c.read_calls, c.read_s, len(c.translate_s)
        fs_dir = getattr(op.tag, "fs_dir", None)
        before = dir_files(fs_dir) if fs_dir else None
        with self.tracer.span(op.name, cold=ex.cold) as op_span:
            t0 = time.perf_counter()
            with self.tracer.span("build"):
                p0 = c.py4j_calls
                plan = op.build()
                ex.counts["py4j_calls"] = c.py4j_calls - p0
            t1 = time.perf_counter()
            with self.tracer.span("execute"):
                ex.result = op.execute(plan)
            t2 = time.perf_counter()
            ex.build_s, ex.exec_s = t1 - t0, t2 - t1
            # only a plan whose own execution produced the result: a write
            # (insert, optimize) runs under a query execution of its own
            executed = hasattr(plan, "_jdf") and hasattr(ex.result, "columns")
            qe = plan._jdf.queryExecution() if executed else None
            if qe is not None:
                for name, (a, b) in phases(qe).items():
                    self.tracer.add(name, a, b, op_span["id"])
                    ex.counts[f"{name}_ms"] = 1000 * (b - a)
                ex.counts.update(
                    plan_counts(plan_nodes(qe.executedPlan()), pairs=_is_pairs(ex.result))
                )
        ex.counts["jobs"], ex.counts["tasks"] = jobs_tasks(self.spark, group)
        cg1 = codegen(self.spark)
        ex.counts["codegen_classes"] = cg1[0] - cg0[0]
        ex.counts["codegen_ms"] = cg1[1] - cg0[1]
        ex.counts["read_calls"] = c.read_calls - r0
        ex.counts["read_ms"] = 1000 * (c.read_s - rs0)
        ex.counts["translate_ms"] = [1000 * s for s in c.translate_s[tr0:]]
        if before is not None:
            after = dir_files(fs_dir)
            new = [p for p, v in after.items() if before.get(p) != v]
            ex.counts["files_written"] = len(new)
            ex.counts["bytes_written"] = sum(after[p][0] for p in new)
        op_span["counts"].update(
            {k: v for k, v in ex.counts.items() if isinstance(v, (int, float))}
        )


def _is_pairs(result) -> bool:
    cols = getattr(result, "columns", ())
    return "id_a" in cols and "id_b" in cols

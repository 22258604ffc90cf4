"""perfbench: four workloads over the query, dialect, pipeline and MergeTree
write paths. One command per run:

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:
  1. checks the fixture tables against data/SHA256SUMS;
  2. starts a fresh worker process and times it from start until its Spark
     session is up and the package's UDFs and the tables are registered
     (setup_s); the worker then runs the workload: a first-touch pass, then
     whole passes until --seconds have elapsed, then the output checks;
  3. writes the whole record (like-for-like fields, per-operation times,
     failures) to perfbench/results/ and prints one JSON line last:
     {"correct", "attempted", "failed", "metrics"}. --trace 0 prints the
     end-to-end metrics, --trace 1 the per-layer metrics (and writes spans).
Exit status is 0 when the run finished and its result line was printed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import select
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "clickhouse_23_3_19_32_lts_spark"
WORKLOADS = ("olap_star", "pipeline_dedup", "ch_dialect", "mergetree_ingest")
E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_geomean_ms": "ms",
}
WORKER_TIMEOUT_S = 150
# pipeline_dedup reads the first PIPELINE_DOCS sf0.1 documents: the pair
# self-joins grow with the square of the corpus, and the full 5,000 would
# make one pass take ~20 s
PIPELINE_DOCS = 1500


class BenchError(Exception):
    pass


def machine() -> dict:
    """Parallelism and driver heap, derived from this machine: every core
    the process may use, and a fifth of physical memory (1-8 GiB)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    heap_gib = max(1, min(8, mem_kib // (5 * 1024 * 1024)))
    return {"nproc": cpus, "driver_mem": f"{heap_gib}g", "mem_total_gib": round(mem_kib / 2**20, 1)}


def verify_fixtures(data_root: str) -> None:
    sums = os.path.join(data_root, "SHA256SUMS")
    if not os.path.exists(sums):
        raise BenchError(f"missing {sums}")
    with open(sums) as fh:
        for line in fh:
            digest, rel = line.split()
            path = os.path.join(data_root, rel)
            try:
                with open(path, "rb") as f:
                    got = hashlib.sha256(f.read()).hexdigest()
            except OSError as e:
                raise BenchError(f"fixture {rel}: {e}") from e
            if got != digest:
                raise BenchError(f"fixture {rel} does not match SHA256SUMS")


def data_dirs(work_root: str) -> dict[str, str]:
    """Data directories by name; builds the derived pipeline directory once
    per checkout (documents cut to PIPELINE_DOCS, the rest copied)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sf01 = os.path.join(BENCH, "data", "sf0.1")
    pipe = os.path.join(work_root, f"data-pipeline-{PIPELINE_DOCS}")
    if not os.path.isdir(pipe):
        tmp = f"{pipe}.tmp{os.getpid()}"
        os.makedirs(tmp)
        docs = pq.read_table(os.path.join(sf01, "documents.parquet"))
        pq.write_table(docs.filter(pc.less(docs["doc_id"], PIPELINE_DOCS)),
                       os.path.join(tmp, "documents.parquet"))
        for t in ("embeddings", "events"):
            shutil.copyfile(os.path.join(sf01, f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
        try:
            os.rename(tmp, pipe)
        except OSError:  # another run finished it first
            shutil.rmtree(tmp, ignore_errors=True)
    return {"sf0.1": sf01, "sf0.01": os.path.join(BENCH, "data", "sf0.01"), "pipeline": pipe}


def versions(env: dict) -> dict:
    out = {"python": platform.python_version()}
    try:
        import pyspark

        out["spark"] = pyspark.__version__
    except ImportError:
        out["spark"] = None
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30, env=env)
        out["java"] = next(ln for ln in (r.stderr or r.stdout).splitlines()
                           if not ln.startswith("Picked up"))
    except (OSError, subprocess.SubprocessError, StopIteration):
        out["java"] = None
    return out


def source_identity() -> dict:
    """The git commit when the checkout is a repository, and always a digest
    of the package sources (a plain checkout has no commit)."""
    commit = None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        commit = r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        _dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


class Worker:
    """A worker process in its own process group, so that the JVM and the
    Python UDF workers under it can be stopped together."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log = open(log_path, "ab")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            argv, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=self.log,
            start_new_session=True,
        )

    def wait_ready(self, deadline: float) -> tuple[float, dict]:
        """Seconds from start to the READY line, and what it reported."""
        buf = b""
        fd = self.proc.stdout.fileno()
        while b"\n" not in buf:
            left = deadline - time.perf_counter()
            if left <= 0:
                raise BenchError("worker set-up timed out")
            if select.select([fd], [], [], left)[0]:
                chunk = os.read(fd, 65536)
                if not chunk:
                    raise BenchError("worker exited before its session was up (see the log)")
                buf += chunk
                if not buf.startswith(b"PERFBENCH_READY "[: len(buf)]):
                    raise BenchError(f"unexpected worker output {buf[:200]!r}")
        return time.perf_counter() - self.t0, json.loads(buf.split(b"\n")[0][16:])

    def finish(self, timeout: float) -> int:
        """Exit status, or -1 when the worker overran ``timeout``. The
        worker's process group is stopped however this returns."""
        try:
            return self.proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            return -1
        finally:
            self.stop()

    def stop(self) -> None:
        """Terminate what is left of the process group and wait for it."""
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not self._group_alive():
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + 10
            while self._group_alive() and time.monotonic() < end:
                time.sleep(0.05)
        self.proc.stdout.close()
        self.log.close()

    def _group_alive(self) -> bool:
        """Any live (not zombie) process left in the worker's group."""
        self.proc.poll()  # reap the worker itself
        pgid = self.proc.pid
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
        return False


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise BenchError(f"package {PACKAGE} not found under {ROOT}")
    verify_fixtures(os.path.join(BENCH, "data"))
    work_root = os.path.join(BENCH, ".work")
    os.makedirs(work_root, exist_ok=True)
    dirs = data_dirs(work_root)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    results = os.path.join(BENCH, "results")
    os.makedirs(results, exist_ok=True)

    m = machine()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(m["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": m["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM of the run (launcher, driver): temp files inside the
        # checkout, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    })
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    log = os.path.join(results, base + ".log")
    result_path = os.path.join(work, "result.json")
    argv = [sys.executable, os.path.join(BENCH, "worker.py"), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", work, "--data-dirs", json.dumps(dirs), "--result", result_path]
    if args.slow_op:
        argv += ["--slow-op", args.slow_op]

    deadline = time.perf_counter() + WORKER_TIMEOUT_S
    try:
        w = Worker(argv, env, log)
        try:
            setup_s, _report = w.wait_ready(deadline)
        except BaseException:
            w.stop()
            raise
        code = w.finish(deadline - time.perf_counter())
        if code != 0 or not os.path.exists(result_path):
            raise BenchError(f"worker failed (exit {code}); see {log}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["setup"]["total_s"] = setup_s
    s = res["summary"]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": s["cold_pass_s"],
        "warm_pass_s": s["warm_pass_s"],
        "warm_geomean_ms": s["warm_geomean_ms"],
    }
    res["end_to_end"] = e2e
    res["record"] = {
        "seed": args.seed, "seconds": args.seconds, "workload": args.workload,
        **m, **versions(env), **source_identity(),
        "scale": {"olap_star": "sf0.1", "pipeline_dedup": f"sf0.1, first {PIPELINE_DOCS} documents",
                  "ch_dialect": "sf0.01", "mergetree_ingest": "sf0.1"}[args.workload],
    }
    spans = res.pop("spans", None)
    if spans is not None:
        with open(os.path.join(results, base + ".spans.json"), "w") as fh:
            json.dump(spans, fh)
    with open(os.path.join(results, base + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, default=str)
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slow-op", help="run this operation twice per execution (2x slowdown)")
    args = ap.parse_args()
    # a terminated run still stops its worker (run() cleans up on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res = run(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if res["incorrect"]:
        print("perfbench: incorrect results: " + json.dumps(res["incorrect"])[:2000], file=sys.stderr)
    if res["failures"]:
        print("perfbench: failed operations: " + json.dumps(res["failures"])[:2000], file=sys.stderr)
    if args.trace:
        from metrics import PER_LAYER_UNITS

        metrics = {k: {"value": res["per_layer"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

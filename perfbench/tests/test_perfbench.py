"""Tests that the benchmark's checkers have teeth. No Spark: expected
results come from DuckDB on the vendored fixtures, and "program" results
are those expected results, intact or damaged.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

from compare import compare_sets  # noqa: E402
from harness import Execution, Op, Tracer, run_passes, summarize  # noqa: E402
from workloads import dialect, ingest, registry  # noqa: E402

SF001 = os.path.join(BENCH, "data", "sf0.01")
SF01 = os.path.join(BENCH, "data", "sf0.1")


def drop_row(df: pd.DataFrame) -> pd.DataFrame:
    return df.drop(index=df.index[len(df) // 2]).reset_index(drop=True)


def perturb(df: pd.DataFrame) -> pd.DataFrame:
    """Move one numeric cell (or else one string cell) beyond tolerance."""
    out = df.copy()
    i = out.index[len(out) // 2]
    for c in out.columns:
        if pd.api.types.is_numeric_dtype(out[c]) and not pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype("float64")
            out.at[i, c] = out.at[i, c] * 1.01 + 1
            return out
    c = out.columns[0]
    out[c] = out[c].astype(object)
    out.at[i, c] = f"{out.at[i, c]}~"
    return out


def ex(op: str, result, tag=None, pass_no: int = 0) -> Execution:
    return Execution(op=op, pass_no=pass_no, cold=pass_no == 0, result=result, tag=tag)


def statuses(wl, execs):
    return [s for s, _p in wl.check(execs)]


# -- olap_star / pipeline_dedup: the registry's oracles -----------------------

REGISTRY_CASES = [
    ("olap_star", ["q01_pricing_summary", "q03_shipping_priority", "q_limit_by",
                   "q_events_tumble", "q_asof_join"]),
    ("pipeline_dedup", ["q_dedup_minhash_lsh", "q_ngram_jaccard", "q_embedding_near_dup",
                        "q_text_metrics"]),
]


@pytest.mark.parametrize("name,queries", REGISTRY_CASES)
def test_registry_check_rejects_damaged_results(name, queries):
    wl = registry.RegistryWorkload(name, queries, SF001)
    want = wl.expected(queries)
    for q in queries:
        assert len(want[q]) >= 2, q
        got = statuses(wl, [ex(q, want[q]), ex(q, drop_row(want[q])), ex(q, perturb(want[q]))])
        assert got == ["ok", "incorrect", "incorrect"], q


def test_assertion_query_counts_as_failed():
    wl = registry.RegistryWorkload("pipeline_dedup", ["q_ann_ivf"], SF001)
    ok = pd.DataFrame({"probe_id": [0, 1, 2, 3, 4], "recall_ok": [True] * 5})
    bad = ok.assign(recall_ok=[True, False, True, True, True])
    assert statuses(wl, [ex("q_ann_ivf", ok), ex("q_ann_ivf", bad)]) == ["ok", "failed"]
    assert statuses(wl, [ex("q_ann_ivf", drop_row(ok))]) == ["incorrect"]


def test_raised_operation_counts_as_failed():
    wl = registry.RegistryWorkload("olap_star", ["q06_revenue_change"], SF001)
    e = ex("q06_revenue_change", None)
    e.error = "RuntimeError: boom"
    assert statuses(wl, [e]) == ["failed"]


# -- ch_dialect: DuckDB twins written in the benchmark -------------------------

@pytest.mark.parametrize("seed", [1, 7])
def test_dialect_check_rejects_damaged_results(seed):
    wl = dialect.DialectWorkload(SF001)
    wl.params = dialect.params(seed)
    wl.stmts = dialect.statements(wl.params)
    want = wl.expected()
    for name, df in want.items():
        if name == "ch_topk":
            continue
        assert len(df) >= 2, name
        got = statuses(wl, [ex(name, df), ex(name, drop_row(df)), ex(name, perturb(df))])
        assert got == ["ok", "incorrect", "incorrect"], name


def test_dialect_topk_check():
    wl = dialect.DialectWorkload(SF001)
    wl.params = dict(dialect.params(1), k=3)
    wl.stmts = dialect.statements(wl.params)
    w = wl.expected()["ch_topk"].sort_values(["c", "event_type"], ascending=False)
    top, c = list(w["event_type"]), list(w["c"])
    assert len(top) >= 4
    cases = {"ok": top[:3], "short": top[:2], "duplicate": [top[0], top[0], top[1]]}
    if c[0] > c[2]:
        cases["order"] = [top[2], top[1], top[0]]
    if c[2] > c[-1]:
        cases["left_out"] = [top[0], top[1], top[-1]]
    got = dict(zip(cases, statuses(wl, [ex("ch_topk", pd.DataFrame({"t": [v]}))
                                        for v in cases.values()])))
    assert got.pop("ok") == "ok"
    assert set(got.values()) == {"incorrect"} and len(got) >= 4


# -- mergetree_ingest: expected FINAL state and three properties --------------

@pytest.fixture(scope="module")
def ingest_wl(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("ingest"))
    wl = ingest.IngestWorkload(SF01, work)
    wl.mut = ingest.generate(SF01, wl.batch_dir, seed=3)
    wl.paths = {t: os.path.join(wl.table_dir, t) for t in ("rmt", "smt")}
    os.makedirs(wl.table_dir)
    return wl


def _write_state(wl, rmt: pd.DataFrame, smt: pd.DataFrame) -> None:
    con = duckdb.connect()
    for t, df, part in (("rmt", rmt, "ship_year"), ("smt", smt, "wk")):
        path = wl.paths[t]
        shutil.rmtree(path, ignore_errors=True)
        con.register("df", df)
        con.execute(f"COPY df TO '{path}' (FORMAT PARQUET, PARTITION_BY ({part}))")
        con.unregister("df")
    con.close()


def _ingest_execs(wl):
    con = duckdb.connect()
    last = ingest.BATCHES - 1
    execs = []
    for b in range(ingest.BATCHES):
        for t in ("rmt", "smt"):
            want = con.sql(wl._agg_sql(t, wl._state_sql(t, b, False))).df()
            execs.append(ex(f"final_{t}", want, ingest.Step(t, b)))
    for t in ("rmt", "smt"):
        want = con.sql(wl._agg_sql(t, wl._state_sql(t, last, False))).df()
        execs.append(ex(f"final_{t}", want, ingest.Step(t, last, optimized=True)))
    execs.append(ex("delete_rmt", None, ingest.Step("rmt", -1)))
    execs.append(ex("update_smt", None, ingest.Step("smt", -1)))
    for t in ("rmt", "smt"):
        want = con.sql(wl._agg_sql(t, wl._state_sql(t, last, True))).df()
        execs.append(ex(f"final_{t}", want, ingest.Step(t, last, mutated=True, optimized=True)))
    end = {t: con.sql(wl._state_sql(t, last, True)).df() for t in ("rmt", "smt")}
    con.close()
    return execs, end


def test_ingest_check_accepts_the_expected_state(ingest_wl):
    execs, end = _ingest_execs(ingest_wl)
    _write_state(ingest_wl, end["rmt"], end["smt"])
    assert set(statuses(ingest_wl, execs)) == {"ok"}


def test_ingest_final_check_rejects_damaged_results(ingest_wl):
    execs, end = _ingest_execs(ingest_wl)
    _write_state(ingest_wl, end["rmt"], end["smt"])
    for i, e in enumerate(execs):
        if not e.op.startswith("final_"):
            continue
        for damage in (drop_row, perturb):
            damaged = list(execs)
            damaged[i] = ex(e.op, damage(e.result), e.tag)
            assert statuses(ingest_wl, damaged)[i] == "incorrect", (e.op, e.tag, damage)


def test_ingest_flags_final_changed_by_optimize(ingest_wl):
    execs, end = _ingest_execs(ingest_wl)
    _write_state(ingest_wl, end["rmt"], end["smt"])
    pre = next(i for i, e in enumerate(execs)
               if e.tag.table == "rmt" and e.tag.batch == ingest.BATCHES - 1
               and e.op.startswith("final_") and not e.tag.optimized)
    execs[pre] = ex(execs[pre].op, perturb(execs[pre].result), execs[pre].tag)
    report = ingest_wl.check(execs)
    post = next(i for i, e in enumerate(execs)
                if e.tag.table == "rmt" and e.tag.optimized and not e.tag.mutated)
    assert report[post][0] == "incorrect"
    assert any("changed by optimize" in p for p in report[post][1])


@pytest.mark.parametrize("damage", ["duplicate_key", "delete_survivor", "drop", "perturb"])
def test_ingest_end_state_properties(ingest_wl, damage):
    execs, end = _ingest_execs(ingest_wl)
    rmt, smt = end["rmt"], end["smt"]
    if damage == "duplicate_key":
        smt = pd.concat([smt, smt.iloc[[0]]], ignore_index=True)
    elif damage == "delete_survivor":
        row = rmt[rmt["ship_year"] == ingest_wl.mut["del_year"]].iloc[[0]].copy()
        row["l_discount"] = ingest_wl.mut["del_disc"]
        row["l_orderkey"] = -1
        rmt = pd.concat([rmt, row], ignore_index=True)
    elif damage == "drop":
        rmt = drop_row(rmt)
    else:
        smt = perturb(smt)
    _write_state(ingest_wl, rmt, smt)
    got = statuses(ingest_wl, execs)
    assert got[-3] == "incorrect"  # the last mutation carries the end-state problems
    assert got.count("incorrect") == 1


# -- the comparison flags an injected 2x slowdown ------------------------------

def _stub_pass(_n):
    def op(name, s):
        return Op(name, build=lambda: None, execute=lambda _p: time.sleep(s))

    return [op("a", 0.004), op("b", 0.006), op("c", 0.008)]


def _record(slow_op=None) -> dict:
    execs = run_passes(_stub_pass, seconds=0.0, min_passes=6, slow_op=slow_op)
    s = summarize(execs)
    return {"summary": s, "end_to_end": {
        "setup_s": 1.0, "cold_pass_s": s["cold_pass_s"], "warm_pass_s": s["warm_pass_s"],
        "warm_geomean_ms": s["warm_geomean_ms"]}}


def test_compare_flags_an_injected_2x_slowdown():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        e2e = json.load(fh)["end_to_end"]
    base = [_record() for _ in range(3)]
    same = compare_sets(base, [_record() for _ in range(3)], e2e)
    assert not [f for f in same["flagged"] if f in ("a", "b", "c")]
    slow = compare_sets(base, [_record(slow_op="c") for _ in range(3)], e2e)
    assert "c" in slow["flagged"] and "a" not in slow["flagged"] and "b" not in slow["flagged"]
    assert slow["ops"]["c"]["ratio"] > 1.8
    assert "warm_pass_s" in slow["flagged"]


def test_errors_are_recorded_not_retried():
    calls = []

    def make(_n):
        def boom(_p):
            calls.append(1)
            raise ValueError("bad input")

        return [Op("x", build=lambda: None, execute=boom)]

    execs = run_passes(make, seconds=0.0, min_passes=2)
    assert len(calls) == 2 and all(e.error == "ValueError: bad input" for e in execs)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.add("op", 0.0, 10.0, None)
    tr.add("a", 1.0, 4.0, 1)
    tr.add("b", 3.0, 6.0, 1)  # overlaps a: covered 1..6
    st = tr.self_times()
    assert st["op"] == pytest.approx(5.0)
    assert st["a"] == pytest.approx(3.0)

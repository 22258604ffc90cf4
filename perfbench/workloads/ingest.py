"""mergetree_ingest: the write path through ``policies.PolicyTable``.

Two tables, both partitioned and ordered:
  rmt  ReplacingMergeTree over lineitem rows, key (l_orderkey, l_linenumber),
       version column, partitioned by ship year;
  smt  SummingMergeTree over events, key (user_id, event_type, wk), sums
       value_cents and cnt, partitioned by week.

One pass (round), from empty tables: per batch, insert into both tables and
run a FINAL aggregate on each; then optimize() both and FINAL again; then a
partition-pruned delete_where on rmt and update_where on smt, and FINAL
again. The next round starts from empty tables (the reset is untimed).

Batches come from a seeded generator over sf0.1 lineitem/events, written
as parquet before timing starts; the insert operation reads its batch file.
DuckDB computes the expected FINAL state from the same batch files.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass

import numpy as np

from harness import Op
from layers import dir_files

BATCHES = 3  # batch 0 is the base load, then BATCHES - 1 update batches
RMT_BASE, RMT_NEW, RMT_REVERSION = 40_000, 4_000, 4_000
SMT_BASE, SMT_BATCH = 20_000, 5_000
RMT_KEYS = ["l_orderkey", "l_linenumber"]
SMT_KEYS = ["user_id", "event_type", "wk"]


@dataclass
class Step:
    """What a FINAL operation's result must equal: the state after batch
    ``batch`` (0-based), optionally after optimize and the mutations."""

    table: str
    batch: int
    mutated: bool = False
    optimized: bool = False
    fs_dir: str | None = None


def generate(src_dir: str, out_dir: str, seed: int) -> dict:
    """Write the insert batches; return the mutation parameters.

    rmt: sf0.1 lineitem has 600,000 rows but 456,861 distinct
    (l_orderkey, l_linenumber): the first row of each key (file order) is
    the pool. Batch 0 takes RMT_BASE pool rows; each later batch adds
    RMT_NEW unseen keys and re-versions RMT_REVERSION inserted keys with a
    new quantity, price and discount in the same ship year. Versions grow
    with the batch, so the latest batch wins and no two rows of a key tie.
    smt: raw events (cnt = 1) in batches of random rows; keys repeat
    within and across batches, which is what the summing policy merges.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    li = pq.read_table(
        os.path.join(src_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_shipdate"],
    )
    keys = li.select(["l_orderkey", "l_linenumber"]).to_pandas()
    first = np.flatnonzero(~keys.duplicated().to_numpy())
    pool = li.take(pa.array(first))
    order = rng.permutation(pool.num_rows)
    ship = pc.cast(pool["l_shipdate"], pa.timestamp("us"))
    pool = pool.set_column(
        pool.schema.get_field_index("l_shipdate"), "l_shipdate", pc.cast(ship, pa.date32())
    ).append_column("ship_year", pc.cast(pc.year(ship), pa.int32()))

    os.makedirs(out_dir, exist_ok=True)
    taken = list(order[:RMT_BASE])
    cursor = RMT_BASE
    for b in range(BATCHES):
        if b == 0:
            t = pool.take(pa.array(taken))
        else:
            new = list(order[cursor:cursor + RMT_NEW])
            cursor += RMT_NEW
            old_idx = rng.choice(len(taken), RMT_REVERSION, replace=False)
            old = pool.take(pa.array([taken[i] for i in old_idx]))
            qty = rng.integers(1, 51, RMT_REVERSION).astype("float64")
            price = np.round(qty * rng.uniform(900.0, 2000.0, RMT_REVERSION), 2)
            disc = rng.integers(0, 11, RMT_REVERSION) / 100.0
            for name, vals in (("l_quantity", qty), ("l_extendedprice", price),
                               ("l_discount", disc)):
                old = old.set_column(old.schema.get_field_index(name), name, pa.array(vals))
            t = pa.concat_tables([pool.take(pa.array(new)), old])
            taken += new
        t = t.append_column(
            "version", pa.array(b * 1_000_000 + np.arange(t.num_rows), pa.int64())
        )
        pq.write_table(t, os.path.join(out_dir, f"rmt_{b}.parquet"))

    ev = pq.read_table(
        os.path.join(src_dir, "events.parquet"), columns=["user_id", "event_type", "value", "ts"]
    )
    ts = pc.cast(ev["ts"], pa.timestamp("us"))
    day = pc.cast(pc.day(ts), pa.int32())
    ev = pa.table({
        "user_id": ev["user_id"],
        "event_type": ev["event_type"],
        "wk": pc.add(pc.divide(pc.subtract(day, 1), 7), 1),
        "value_cents": pc.cast(pc.round(pc.multiply(ev["value"], 100)), pa.int64()),
        "cnt": pa.array(np.ones(ev.num_rows, dtype="int64")),
    })
    ev_order = rng.permutation(ev.num_rows)
    start = 0
    for b in range(BATCHES):
        n = SMT_BASE if b == 0 else SMT_BATCH
        pq.write_table(ev.take(pa.array(ev_order[start:start + n])),
                       os.path.join(out_dir, f"smt_{b}.parquet"))
        start += n
    return {
        # whole years and whole weeks only, so every seed mutates about as
        # many rows (2001 and week 5 are short)
        "del_year": int(rng.integers(1995, 2001)),
        "del_disc": float(rng.choice([0.05, 0.06, 0.07])),
        "upd_wk": int(rng.integers(1, 5)),
        "upd_type": str(rng.choice(["click", "view", "purchase", "error", "signup"])),
    }


class IngestWorkload:
    name = "mergetree_ingest"
    # every operation runs once per round: three warm samples each
    min_passes = 4
    min_warm = 0

    def __init__(self, src_dir: str, work_dir: str):
        self.data_dir = src_dir
        self.batch_dir = os.path.join(work_dir, "batches")
        self.table_dir = os.path.join(work_dir, "tables")

    def prepare(self, ctx) -> None:
        from clickhouse_23_3_19_32_lts_spark.policies import PolicyTable
        from pyspark.sql import functions as F

        self.F = F
        self.spark = ctx.spark
        self.mut = generate(self.data_dir, self.batch_dir, ctx.seed)
        self.batch_rows = {
            (t, b): _parquet_rows(os.path.join(self.batch_dir, f"{t}_{b}.parquet"))
            for t in ("rmt", "smt") for b in range(BATCHES)
        }
        self.paths = {t: os.path.join(self.table_dir, t) for t in ("rmt", "smt")}
        self.tables = {
            "rmt": PolicyTable(
                self.spark, self.paths["rmt"], order_by=RMT_KEYS,
                partition_by=["ship_year"], policy="replacing", keys=RMT_KEYS,
                version="version",
            ),
            "smt": PolicyTable(
                self.spark, self.paths["smt"], order_by=["user_id", "event_type"],
                partition_by=["wk"], policy="summing", keys=SMT_KEYS,
                sum_cols=["value_cents", "cnt"],
            ),
        }
        self.reset(-1)

    def reset(self, _pass_no: int) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
        os.makedirs(self.table_dir)

    def final_df(self, t: str):
        F = self.F
        df = self.tables[t].final()
        if t == "rmt":
            return df.groupBy("ship_year").agg(
                F.count("*").alias("n"), F.sum("l_quantity").alias("qty"),
                F.sum("l_extendedprice").alias("price"),
            )
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value_cents").alias("value_cents"),
            F.sum("cnt").alias("cnt"),
        )

    def make_pass(self, pass_no: int) -> list[Op]:
        F = self.F
        ops: list[Op] = []

        def final(name, t, step):
            return Op(name, build=lambda: self.final_df(t),
                      execute=lambda df: df.toPandas(), layer="policies", tag=step)

        def action(name, t, fn, step=None):
            return Op(name, build=lambda: None, execute=lambda _p: fn(),
                      layer="policies", tag=step or Step(t, -1, fs_dir=self.paths[t]))

        for b in range(BATCHES):
            for t in ("rmt", "smt"):
                path = os.path.join(self.batch_dir, f"{t}_{b}.parquet")
                ops.append(Op(
                    f"insert_{t}_{b}",
                    build=lambda path=path: self.spark.read.parquet(path),
                    execute=lambda df, t=t: self.tables[t].insert(df),
                    layer="policies", tag=Step(t, b, fs_dir=self.paths[t]),
                ))
            for t in ("rmt", "smt"):
                ops.append(final(f"final_{t}_{b}", t, Step(t, b)))
        last = BATCHES - 1
        for t in ("rmt", "smt"):
            ops.append(action(f"optimize_{t}", t, self.tables[t].optimize))
        for t in ("rmt", "smt"):
            ops.append(final(f"final_{t}_optimized", t, Step(t, last, optimized=True)))
        m = self.mut
        ops.append(action(
            "delete_rmt", "rmt",
            lambda: self.tables["rmt"].delete_where(
                (F.col("ship_year") == m["del_year"]) & (F.col("l_discount") >= m["del_disc"]),
                partition_predicate=F.col("ship_year") == m["del_year"],
            ),
        ))
        ops.append(action(
            "update_smt", "smt",
            lambda: self.tables["smt"].update_where(
                (F.col("wk") == m["upd_wk"]) & (F.col("event_type") == m["upd_type"]),
                {"value_cents": F.col("value_cents") * 2},
                partition_predicate=F.col("wk") == m["upd_wk"],
            ),
        ))
        for t in ("rmt", "smt"):
            ops.append(final(f"final_{t}_mutated", t,
                             Step(t, last, mutated=True, optimized=True)))
        return ops

    # -- checks (after timing; DuckDB reads the batch files and the table
    # directories directly, not through the program) --------------------
    def _state_sql(self, t: str, batch: int, mutated: bool) -> str:
        files = ", ".join(
            f"'{os.path.join(self.batch_dir, f'{t}_{b}.parquet')}'" for b in range(batch + 1)
        )
        m = self.mut
        if t == "rmt":
            sql = (
                f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER (PARTITION BY "
                f"l_orderkey, l_linenumber ORDER BY version DESC) AS rn "
                f"FROM read_parquet([{files}])) WHERE rn = 1"
            )
            if mutated:
                sql += (f" AND NOT (ship_year = {m['del_year']} "
                        f"AND l_discount >= {m['del_disc']})")
            return sql
        upd = (f"(wk = {m['upd_wk']} AND event_type = '{m['upd_type']}')"
               if mutated else "FALSE")
        return (
            f"SELECT user_id, event_type, wk, "
            f"CASE WHEN {upd} THEN 2 * sum(value_cents) ELSE sum(value_cents) END "
            f"AS value_cents, sum(cnt) AS cnt FROM read_parquet([{files}]) "
            f"GROUP BY user_id, event_type, wk"
        )

    def _agg_sql(self, t: str, state: str) -> str:
        if t == "rmt":
            return (f"SELECT ship_year, count(*) AS n, sum(l_quantity) AS qty, "
                    f"sum(l_extendedprice) AS price FROM ({state}) GROUP BY 1")
        return (f"SELECT event_type, count(*) AS n, sum(value_cents) AS value_cents, "
                f"sum(cnt) AS cnt FROM ({state}) GROUP BY 1")

    def check(self, execs) -> list[tuple[str, list[str]]]:
        import duckdb

        from checks import check_no_match, check_unique_keys, compare_frames

        con = duckdb.connect()
        try:
            want = {}
            for t in ("rmt", "smt"):
                for b in range(BATCHES):
                    for mutated in (False, True):
                        want[(t, b, mutated)] = con.sql(
                            self._agg_sql(t, self._state_sql(t, b, mutated))).df()
            # the last round's tables, read from disk
            raw = {
                t: con.sql(f"SELECT * FROM read_parquet('{self.paths[t]}/**/*.parquet', "
                           f"hive_partitioning = true)").df()
                for t in ("rmt", "smt")
            }
            end_state = {
                t: con.sql(self._state_sql(t, BATCHES - 1, True)).df() for t in ("rmt", "smt")
            }
        finally:
            con.close()
        out = []
        pre_optimize: dict = {}
        for e in execs:
            if e.error is not None:
                out.append(("failed", [e.error]))
                continue
            step = e.tag
            problems: list[str] = []
            if e.op.startswith("final_"):
                problems = compare_frames(e.result, want[(step.table, step.batch, step.mutated)])
                key = (e.pass_no, step.table)
                if step.batch == BATCHES - 1 and not step.optimized:
                    pre_optimize[key] = e.result
                elif step.optimized and not step.mutated and key in pre_optimize:
                    problems += [f"FINAL changed by optimize(): {p}"
                                 for p in compare_frames(e.result, pre_optimize[key])]
            out.append(("incorrect", problems) if problems else ("ok", []))
        # end-state properties, charged to the last round's mutations
        end_problems = (
            check_unique_keys(raw["rmt"], RMT_KEYS)
            + check_unique_keys(raw["smt"], SMT_KEYS)
            + check_no_match(raw["rmt"], lambda df: (df["ship_year"] == self.mut["del_year"])
                             & (df["l_discount"] >= self.mut["del_disc"]))
            + [f"rmt end state: {p}" for p in compare_frames(
                raw["rmt"][list(end_state["rmt"].columns)], end_state["rmt"])]
            + [f"smt end state: {p}" for p in compare_frames(
                raw["smt"][list(end_state["smt"].columns)], end_state["smt"])]
        )
        if end_problems:
            last = max(i for i, e in enumerate(execs) if e.op in ("delete_rmt", "update_smt"))
            out[last] = ("incorrect", out[last][1] + end_problems)
        return out


    def extra_metrics(self, execs) -> dict[str, float]:
        """The write path's own numbers: insert throughput, FINAL read,
        optimize and mutation times (warm medians), and what the last
        round left on disk. Traced runs add file counts."""
        warm = [e for e in execs if not e.cold and e.error is None]
        last = [e for e in execs if e.pass_no == max(x.pass_no for x in execs)]

        def med(prefixes):
            per_op: dict[str, list[float]] = {}
            for e in warm:
                if e.op.startswith(prefixes):
                    per_op.setdefault(e.op, []).append(e.seconds)
            return sum(statistics.median(v) for v in per_op.values())

        inserts = [e for e in warm if e.op.startswith("insert_")]
        finals = [e for e in warm if e.op.startswith("final_")]
        scanned = sum(e.counts.get("scan_rows", 0) for e in finals)
        final_rows = sum(int(e.result["n"].sum()) for e in finals)
        return {
            "policies.insert_s": med(("insert_",)),
            "policies.ingest_rows_per_s": sum(
                self.batch_rows[(e.tag.table, e.tag.batch)] for e in inserts
            ) / max(sum(e.seconds for e in inserts), 1e-9),
            "policies.final_read_s": statistics.median(e.seconds for e in finals),
            "policies.optimize_s": med(("optimize_",)),
            "policies.mutation_s": med(("delete_", "update_")),
            "policies.stored_mib": sum(
                v[0] for t in self.paths for v in dir_files(self.paths[t]).values()
            ) / 2**20,
            "policies.files_written": sum(
                e.counts.get("files_written", 0) for e in last if e.op.startswith("insert_")),
            "policies.bytes_written": sum(
                e.counts.get("bytes_written", 0) for e in last if e.op.startswith("insert_")),
            "policies.final_rows_scanned_per_row": scanned / final_rows if final_rows else 0.0,
            "policies.optimize_bytes_rewritten": sum(
                e.counts.get("bytes_written", 0) for e in last if e.op.startswith("optimize_")),
            "policies.mutation_files_rewritten": sum(
                e.counts.get("files_written", 0) for e in last
                if e.op.startswith(("delete_", "update_"))),
        }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def mergetree_ingest(ctx) -> IngestWorkload:
    return IngestWorkload(ctx.data("sf0.1"), ctx.work_dir)

"""Time ch_dialect's ASOF statement beside ``operators.asof_join`` on the
same left slice, and check that both give DuckDB's ASOF JOIN answer.

    python3 perfbench/asof_side_by_side.py [--seed 1] [--events 200] [--repeat 5]

The dialect lowers ASOF JOIN to a LATERAL top-1 subquery; the operator is
the union+window plan. Prints one JSON line with each side's median warm
time over --repeat executions (after one cold execution each).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--events", type=int, default=None)
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import functions as F

    from checks import compare_frames
    from clickhouse_23_3_19_32_lts_spark.engine import Engine
    from clickhouse_23_3_19_32_lts_spark.operators.asof_join import asof_join
    from clickhouse_23_3_19_32_lts_spark.session import get_spark
    from workloads import dialect

    if args.events:
        dialect.ASOF_EVENTS = args.events
    p = dialect.params(args.seed)
    ch, duck = dialect.statements(p)["ch_asof_join"]
    data = os.path.join(BENCH, "data", "sf0.01")
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    want = con.sql(duck).df()
    con.close()

    spark = get_spark(app_name="perfbench-asof", extra_confs={"spark.ui.showConsoleProgress": "false"})
    eng = Engine(spark, data)
    a0, a1 = p["asof0"], p["asof0"] + dialect.ASOF_EVENTS

    def via_operator():
        left = eng.table("events").filter((F.col("event_id") >= a0) & (F.col("event_id") < a1))
        right = eng.table("orders").select(
            F.col("o_custkey").alias("user_id"), "o_orderkey",
            (F.date_add(F.col("o_orderdate"), 10000).cast("timestamp")
             + F.make_interval(secs=F.col("o_orderkey") % 86400)).alias("odt"),
        )
        out = asof_join(left.select("event_id", "user_id", "ts"), right, on=("ts", "odt"),
                        by=["user_id"], strictness="<=", how="inner")
        return out.select("event_id", "user_id", "o_orderkey")

    sides = {"dialect_lateral": lambda: eng.ch_sql(ch), "operator_union_window": via_operator}
    out = {"events": dialect.ASOF_EVENTS, "seed": args.seed, "rows": len(want)}
    for name, build in sides.items():
        times = []
        for _ in range(args.repeat + 1):
            t0 = time.perf_counter()
            got = build().toPandas()
            times.append(time.perf_counter() - t0)
        problems = compare_frames(got, want)
        out[name] = {"cold_s": times[0], "warm_median_s": statistics.median(times[1:]),
                     "correct": not problems, "problems": problems}
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

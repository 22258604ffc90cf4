"""ch_dialect: 17 ClickHouse-dialect SQL strings through ``Engine.ch_sql`` at
sf0.01, cycled in a closed loop until at least 100 warm samples exist.

The data is small, so per-statement fixed cost dominates: translation,
Catalyst analysis and planning, job launch. Each statement has a DuckDB
twin written here; DuckDB's native ASOF JOIN serves the ASOF one. The seed
draws the literals (date ranges, thresholds, LIMIT n, the ASOF slice);
every draw keeps the amount of work of a statement about the same.
"""

from __future__ import annotations

import random

from harness import Op

# Left side of the ASOF statement: this many consecutive events. The
# dialect lowers ASOF JOIN to a LATERAL top-1 subquery that Spark plans as
# a nested-loop join over every right row, so its cost grows with the
# slice; this size makes it the slowest statement without stretching a run.
ASOF_EVENTS = 200


def params(seed: int) -> dict:
    r = random.Random(seed)
    return {
        "y": r.choice([1996, 1997, 1998, 1999]),
        "mo": r.randint(1, 9),
        "k": r.choice([2, 3, 4]),
        "v": r.choice([50, 100, 150, 200]),
        "v2": r.choice([300, 350, 400]),
        "n": r.choice([1, 2, 3]),
        "d": r.randint(1, 27),
        "u0": r.randrange(0, 100),
        "qa": r.choice([10, 15, 20]),
        "price": r.choice([150000, 200000, 250000]),
        "asof0": r.randrange(0, 10000 - ASOF_EVENTS + 1, 100),
        "h": r.choice([2, 3]),
    }


def statements(p: dict) -> dict[str, tuple[str, str]]:
    """name -> (ClickHouse SQL, DuckDB SQL). 17 statements: with whole
    cycles, six warm cycles give the 100 warm samples (16 would need seven).
    The topK statement's DuckDB text gives the value counts its own check
    reads."""
    y, y1, mo, d = p["y"], p["y"] + 1, p["mo"], p["d"]
    yr = f"'{y}-01-01'"
    yr1 = f"'{y1}-01-01'"
    day0 = f"2024-01-{d:02d} 00:00:00"
    day1 = f"2024-01-{d + 1:02d} 00:00:00"
    day2 = f"2024-01-{d + 2:02d} 00:00:00"
    a0, a1 = p["asof0"], p["asof0"] + ASOF_EVENTS
    qa, qb = p["qa"], p["qa"] + 20
    return {
        "ch_quantiles": (
            f"SELECT l_returnflag, quantiles(0.5, 0.9)(l_extendedprice) AS q FROM lineitem "
            f"WHERE l_shipdate >= toDate({yr}) AND l_shipdate < toDate({yr1}) "
            f"GROUP BY l_returnflag ORDER BY l_returnflag",
            f"SELECT l_returnflag, [quantile_cont(l_extendedprice, 0.5), "
            f"quantile_cont(l_extendedprice, 0.9)] AS q FROM lineitem "
            f"WHERE l_shipdate >= DATE {yr} AND l_shipdate < DATE {yr1} GROUP BY 1",
        ),
        "ch_topk": (
            f"SELECT topK({p['k']})(event_type) AS t FROM events WHERE value > {p['v']}",
            f"SELECT event_type, count(*) AS c FROM events WHERE value > {p['v']} GROUP BY 1",
        ),
        "ch_if_combinators": (
            f"SELECT o_orderpriority, countIf(o_orderstatus = 'F') AS f, "
            f"sumIf(o_totalprice, o_orderstatus = 'O') AS so, "
            f"avgIf(o_totalprice, o_totalprice > {p['price']}) AS a FROM orders "
            f"GROUP BY o_orderpriority ORDER BY o_orderpriority",
            f"SELECT o_orderpriority, count(*) FILTER (WHERE o_orderstatus = 'F') AS f, "
            f"sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS so, "
            f"avg(o_totalprice) FILTER (WHERE o_totalprice > {p['price']}) AS a "
            f"FROM orders GROUP BY 1",
        ),
        "ch_uniq_exact": (
            f"SELECT event_type, uniqExact(user_id) AS u FROM events "
            f"WHERE ts >= toDateTime('{day0}') AND ts < toDateTime('{day2}') "
            f"GROUP BY event_type ORDER BY event_type",
            f"SELECT event_type, count(DISTINCT user_id) AS u FROM events "
            f"WHERE ts >= TIMESTAMP '{day0}' AND ts < TIMESTAMP '{day2}' GROUP BY 1",
        ),
        "ch_arg_max": (
            f"SELECT user_id, argMax(event_type, ts) AS last_type, max(ts) AS last_ts "
            f"FROM events WHERE user_id >= {p['u0']} AND user_id < {p['u0'] + 40} "
            f"GROUP BY user_id ORDER BY user_id",
            f"SELECT user_id, arg_max(event_type, ts) AS last_type, max(ts) AS last_ts "
            f"FROM events WHERE user_id >= {p['u0']} AND user_id < {p['u0'] + 40} GROUP BY 1",
        ),
        "ch_multi_if": (
            f"SELECT multiIf(l_quantity < {qa}, 'small', l_quantity < {qb}, 'mid', 'large') "
            f"AS bucket, count() AS n, sum(l_extendedprice) AS s FROM lineitem "
            f"GROUP BY bucket ORDER BY bucket",
            f"SELECT CASE WHEN l_quantity < {qa} THEN 'small' WHEN l_quantity < {qb} "
            f"THEN 'mid' ELSE 'large' END AS bucket, count(*) AS n, "
            f"sum(l_extendedprice) AS s FROM lineitem GROUP BY 1",
        ),
        "ch_start_of_month": (
            f"SELECT toStartOfMonth(o_orderdate) AS m, count() AS n, sum(o_totalprice) AS s "
            f"FROM orders WHERE o_orderdate >= toDate({yr}) AND o_orderdate < toDate({yr1}) "
            f"GROUP BY m ORDER BY m",
            f"SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m, count(*) AS n, "
            f"sum(o_totalprice) AS s FROM orders "
            f"WHERE o_orderdate >= DATE {yr} AND o_orderdate < DATE {yr1} GROUP BY 1",
        ),
        "ch_start_of_hour": (
            f"SELECT toStartOfHour(ts) AS h, count() AS n, sum(value) AS v FROM events "
            f"WHERE ts >= toDateTime('{day0}') AND ts < toDateTime('{day1}') "
            f"GROUP BY h ORDER BY h",
            f"SELECT date_trunc('hour', ts) AS h, count(*) AS n, sum(value) AS v FROM events "
            f"WHERE ts >= TIMESTAMP '{day0}' AND ts < TIMESTAMP '{day1}' GROUP BY 1",
        ),
        "ch_limit_by": (
            f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey < 600 "
            f"ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT {p['n']} BY o_custkey",
            f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_custkey < 600 "
            f"QUALIFY row_number() OVER (PARTITION BY o_custkey "
            f"ORDER BY o_totalprice DESC, o_orderkey) <= {p['n']}",
        ),
        "ch_with_totals": (
            f"SELECT l_returnflag, l_linestatus, count() AS n, sum(l_quantity) AS q "
            f"FROM lineitem WHERE l_shipdate < toDate('{y}-07-01') "
            f"GROUP BY l_returnflag, l_linestatus WITH TOTALS "
            f"ORDER BY l_returnflag, l_linestatus",
            f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
            f"FROM lineitem WHERE l_shipdate < DATE '{y}-07-01' "
            f"GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), ())",
        ),
        "ch_array_join": (
            f"SELECT tag, count() AS n, sum(value) AS v FROM events "
            f"ARRAY JOIN [event_type, 'all'] AS tag WHERE value > {p['v2']} "
            f"GROUP BY tag ORDER BY tag",
            f"SELECT tag, count(*) AS n, sum(value) AS v FROM (SELECT "
            f"unnest([event_type, 'all']) AS tag, value FROM events "
            f"WHERE value > {p['v2']}) GROUP BY 1",
        ),
        "ch_with_fill": (
            f"SELECT toDate(o_orderdate) AS d, count() AS n FROM orders "
            f"WHERE o_orderdate >= toDate('{y}-{mo:02d}-01') "
            f"AND o_orderdate < toDate('{y}-{mo:02d}-20') AND o_totalprice > 300000 "
            f"GROUP BY d ORDER BY d WITH FILL STEP 1",
            f"WITH c AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n FROM orders "
            f"WHERE o_orderdate >= DATE '{y}-{mo:02d}-01' "
            f"AND o_orderdate < DATE '{y}-{mo:02d}-20' AND o_totalprice > 300000 GROUP BY 1), "
            f"g AS (SELECT CAST(unnest(generate_series(min(d), max(d), INTERVAL 1 DAY)) "
            f"AS DATE) AS d FROM c) "
            f"SELECT g.d AS d, coalesce(c.n, 0) AS n FROM g LEFT JOIN c USING (d)",
        ),
        "ch_star_join": (
            f"SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            f"JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE o_orderdate >= toDate({yr}) AND o_orderdate < toDate({yr1}) "
            f"GROUP BY n_name ORDER BY revenue DESC LIMIT 5",
            f"SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            f"JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE o_orderdate >= DATE {yr} AND o_orderdate < DATE {yr1} "
            f"GROUP BY n_name ORDER BY revenue DESC LIMIT 5",
        ),
        # right-side times are made unique per customer (orderkey seconds
        # past midnight), so exactly one row is the closest match
        "ch_asof_join": (
            f"SELECT e.event_id AS event_id, e.user_id AS user_id, o.o_orderkey AS o_orderkey "
            f"FROM (SELECT event_id, user_id, ts FROM events "
            f"WHERE event_id >= {a0} AND event_id < {a1}) AS e "
            f"ASOF JOIN (SELECT o_custkey, o_orderkey, "
            f"addSeconds(addDays(o_orderdate, 10000), o_orderkey % 86400) AS odt "
            f"FROM orders) AS o ON e.user_id = o.o_custkey AND e.ts >= o.odt "
            f"ORDER BY event_id",
            f"SELECT e.event_id AS event_id, e.user_id AS user_id, o.o_orderkey AS o_orderkey "
            f"FROM (SELECT event_id, user_id, ts FROM events "
            f"WHERE event_id >= {a0} AND event_id < {a1}) AS e "
            f"ASOF JOIN (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) "
            f"+ INTERVAL 10000 DAY + to_seconds(o_orderkey % 86400) AS odt FROM orders) AS o "
            f"ON e.user_id = o.o_custkey AND e.ts >= o.odt",
        ),
        "ch_to_yyyymm": (
            f"SELECT toYYYYMM(o_orderdate) AS ym, uniqExact(o_custkey) AS u, "
            f"max(o_totalprice) AS mx FROM orders WHERE o_orderdate >= toDate({yr}) "
            f"AND o_orderdate < toDate('{y}-07-01') GROUP BY ym ORDER BY ym",
            f"SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym, "
            f"count(DISTINCT o_custkey) AS u, max(o_totalprice) AS mx FROM orders "
            f"WHERE o_orderdate >= DATE {yr} AND o_orderdate < DATE '{y}-07-01' GROUP BY 1",
        ),
        "ch_having": (
            f"SELECT o_custkey, count() AS n, sum(o_totalprice) AS s FROM orders "
            f"WHERE o_orderdate >= toDate({yr}) GROUP BY o_custkey HAVING n >= {p['h']} "
            f"ORDER BY s DESC, o_custkey LIMIT 20",
            f"SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS s FROM orders "
            f"WHERE o_orderdate >= DATE {yr} GROUP BY o_custkey HAVING n >= {p['h']} "
            f"ORDER BY s DESC, o_custkey LIMIT 20",
        ),
        "ch_in_subquery": (
            f"SELECT c_mktsegment, count() AS n, avg(c_acctbal) AS bal FROM customer "
            f"WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {p['price']}) "
            f"GROUP BY c_mktsegment ORDER BY c_mktsegment",
            f"SELECT c_mktsegment, count(*) AS n, avg(c_acctbal) AS bal FROM customer "
            f"WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {p['price']}) "
            f"GROUP BY 1",
        ),
    }


TABLES = ("lineitem", "orders", "customer", "nation", "events")


class DialectWorkload:
    name = "ch_dialect"
    min_passes = 2
    min_warm = 100

    def __init__(self, data_dir: str):
        self.data_dir = data_dir

    def prepare(self, ctx) -> None:
        self.engine = ctx.engine
        self.params = params(ctx.seed)
        self.stmts = statements(self.params)
        self.rng = random.Random(ctx.seed + 1)

    def make_pass(self, pass_no: int) -> list[Op]:
        order = sorted(self.stmts)
        self.rng.shuffle(order)
        return [self._op(n) for n in order]

    def _op(self, name: str) -> Op:
        sql = self.stmts[name][0]
        return Op(
            name=name,
            build=lambda: self.engine.ch_sql(sql),
            execute=lambda df: df.toPandas(),
            layer="dialect",
        )

    def expected(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
            return {n: con.sql(duck).df() for n, (_ch, duck) in self.stmts.items()}
        finally:
            con.close()

    def check(self, execs) -> list[tuple[str, list[str]]]:
        from checks import check_topk, compare_frames

        want = self.expected()
        out = []
        for e in execs:
            if e.error is not None:
                out.append(("failed", [e.error]))
                continue
            if e.op == "ch_topk":
                w = want[e.op]
                counts = dict(zip(w["event_type"], w["c"]))
                got = list(e.result["t"].iloc[0]) if len(e.result) == 1 else []
                problems = check_topk(got, counts, self.params["k"])
                if len(e.result) != 1:
                    problems.append(f"{len(e.result)} rows, expected 1")
            else:
                problems = compare_frames(e.result, want[e.op])
            out.append(("incorrect", problems) if problems else ("ok", []))
        return out


def ch_dialect(ctx) -> DialectWorkload:
    return DialectWorkload(ctx.data("sf0.01"))

"""olap_star and pipeline_dedup: builders from the program's query registry,
executed to pandas, checked against the registry's DuckDB oracles.

olap_star       18 headline star-join / aggregation / window / events queries
pipeline_dedup  8 training-data operators (dedup sketches, pair self-joins,
                ANN, text metrics)

Both run one first-touch pass, then at least two whole warm passes, each
in a seeded order.
"""

from __future__ import annotations

import os
import random

from harness import Op

OLAP = [
    "q01_pricing_summary", "q03_shipping_priority", "q05_regional_revenue",
    "q06_revenue_change", "q09_product_profit", "q10_returned_items",
    "q13_customer_distribution", "q18_large_volume_customers",
    "ssb_q1_1", "ssb_q2_1", "ssb_q3_1", "ssb_q4_1",
    "q_window_order_rank", "q_limit_by", "q_count_distinct",
    "q_events_tumble", "q_events_json", "q_asof_join",
]

# q_embedding_near_dup_exact is left out: it is the brute-force reference
# for q_embedding_near_dup and covers no further layer.
PIPELINE = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash",
    "q_ngram_jaccard", "q_embedding_near_dup", "q_ann_topk", "q_ann_ivf",
    "q_text_metrics",
]

# Self-verifying operators: the result is an assertion column, and a row
# reading false means the operation failed (not that the harness computed
# a wrong answer). q_ann_ivf asserts recall@10 >= 0.8 per probe.
ASSERTIONS = {"q_ann_ivf": "recall_ok"}

TABLES = {
    "olap_star": ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"),
    "pipeline_dedup": ("documents", "embeddings", "events"),
}


class RegistryWorkload:
    # one cold pass, then at least two warm passes: a warm median of one
    # sample let run-to-run noise reach 10% on warm_pass_s
    min_passes = 3
    min_warm = 0

    def __init__(self, name: str, names: list[str], data_dir: str):
        self.name = name
        self.names = names
        self.data_dir = data_dir
        self.tables = TABLES[name]

    def prepare(self, ctx) -> None:
        from clickhouse_23_3_19_32_lts_spark.queries import all_queries

        self.queries = all_queries()
        self.rng = random.Random(ctx.seed)
        self.spark = ctx.spark

    def make_pass(self, pass_no: int) -> list[Op]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [self._op(n) for n in order]

    def _op(self, name: str) -> Op:
        fn = self.queries[name]
        return Op(
            name=name,
            build=lambda: fn(self.spark, self.data_dir),
            execute=lambda df: df.toPandas(),
            layer="queries",
        )

    def expected(self, names) -> dict:
        """Oracle results, computed by DuckDB on the same parquet files."""
        import duckdb
        from clickhouse_23_3_19_32_lts_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in self.tables:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            return {n: con.sql(oracles[n]).df() for n in names}
        finally:
            con.close()

    def check(self, execs) -> list[tuple[str, list[str]]]:
        from checks import compare_frames

        want = self.expected(sorted({e.op for e in execs}))
        out = []
        for e in execs:
            if e.error is not None:
                out.append(("failed", [e.error]))
                continue
            col = ASSERTIONS.get(e.op)
            if col is not None and not bool(e.result[col].all()):
                bad = e.result.loc[~e.result[col].astype(bool)].to_dict("records")
                out.append(("failed", [f"assertion {col} false for {bad}"]))
                continue
            problems = compare_frames(e.result, want[e.op])
            out.append(("incorrect", problems) if problems else ("ok", []))
        return out


def olap_star(ctx) -> RegistryWorkload:
    return RegistryWorkload("olap_star", OLAP, ctx.data("sf0.1"))


def pipeline_dedup(ctx) -> RegistryWorkload:
    return RegistryWorkload("pipeline_dedup", PIPELINE, ctx.data("pipeline"))

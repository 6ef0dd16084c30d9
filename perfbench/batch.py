"""The two batch mixes: registry queries over the fixture tables.

An operation is one registry query: build the DataFrame with
``REGISTRY[name].fn`` (which may itself fire Spark jobs), force
Catalyst's analysis, optimization and physical planning, then execute
that same physical plan and discard its rows
(``queryExecution().toRdd().count()``). A ``noop`` write or a
``collect`` would wrap the query in a new QueryExecution and plan it a
second time inside the execution step, so every timed pass, cold or
warm, executes the forced plan and nothing else. Each step is timed on
its own; the operation's latency is their sum. Caches and persisted
RDDs the query leaves behind are counted, then released, outside the
timed window.

Correctness is checked in a separate, untimed verification pass: each
query is built again and collected, and its column names and rows must
equal the query's registry oracle, run by DuckDB over the same parquet
files, as an order-insensitive multiset of canonically rendered values
(the comparison of the engine's oracle tests, ``tests/_compare.py``).
"""

from __future__ import annotations

import os
import random
import time

import duckdb
from tests._compare import rows_to_multiset

from fixture import generate

# Relational path: scans, joins and aggregates, no Python workers, no
# iteration, no state.
TPCH_QUERIES = (
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q12_priority_shipping",
    "q21_sole_fault_supplier",
)
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# LLM-data operators: iterative rounds (k-means, label propagation),
# persisted intermediates, and jobs fired while the DataFrame is built
# (dedup_cluster_representatives). An odd count keeps the median
# latency inside one operator's samples.
CORPUS_QUERIES = (
    "dedup_exact",
    "text_quality_score",
    "text_chunk_tokens",
    "similarity_topk_bruteforce",
    "embedding_kmeans_assign",
    "graph_connected_components",
    "dedup_cluster_representatives",
)
CORPUS_TABLES = ("documents", "embeddings", "lineitem")


class BatchMix:
    """A fixed list of registry queries over one fixture scale."""

    def __init__(self, name: str, queries: tuple[str, ...], tables: tuple[str, ...],
                 scale: float):
        self.name = name
        self.queries = queries
        self.tables = tables
        self.scale = scale
        self.data_dir = ""
        self.oracle: dict[str, list[tuple]] = {}
        self.oracle_cols: dict[str, list[str]] = {}

    def prepare(self, h) -> None:
        """Write the fixture tables and run every oracle once (untimed)."""
        from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded  # noqa: PLC0415
        from kafkastreamer_spark.tables import TABLES  # noqa: PLC0415

        _ensure_loaded()
        self.registry = REGISTRY
        self.data_dir = os.path.join(h.work, "data")
        h.record["fixture_rows"] = generate(self.data_dir, self.scale)
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in self.queries:
                res = con.execute(REGISTRY[q].oracle)
                cols = [d[0] for d in res.description]
                self.oracle[q] = rows_to_multiset(cols, res.fetchall())
                self.oracle_cols[q] = sorted(cols)
        finally:
            con.close()

    def stage(self, h) -> dict[str, float]:
        """Load and scan each input table once, then warm up."""
        from kafkastreamer_spark.tables import load_table  # noqa: PLC0415

        spark = h.spark
        t0 = time.perf_counter()
        for t in self.tables:
            load_table(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        spark.range(0, 1000, 1, h.cores).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        return {"scan_s": t1 - t0, "warmup_s": t2 - t1}

    def run_pass(self, h, idx: int, rng: random.Random | None) -> dict:
        """Run every query once: in the listed order without ``rng``
        (the cold pass), else in an order drawn from it."""
        order = list(self.queries)
        if rng is not None:
            rng.shuffle(order)
        ops, failed = [], []
        layer = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "rdds_left": 0}
        for q in order:
            try:
                h.group(f"p{idx}:build")
                t0 = time.perf_counter()
                df = self.registry[q].fn(h.spark, self.data_dir)
                t1 = time.perf_counter()
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                t2 = time.perf_counter()
                h.group(f"p{idx}:exec")
                qe.toRdd().count()
                t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted result
                failed.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                h.release()
                continue
            ops.append((q, (t3 - t0) * 1e3))
            layer["build_s"] += t1 - t0
            layer["plan_s"] += t2 - t1
            layer["exec_s"] += t3 - t2
            layer["rdds_left"] += h.release()
        return {"ops": ops, "failed": failed, "pass_s": sum(ms for _, ms in ops) / 1e3,
                "layer": layer}

    def verify(self, h) -> dict:
        """The untimed verification pass: collect every query and compare
        it with its oracle. Returns the checked and the failed queries."""
        checked, failed = [], []
        h.group("verify")
        for q in self.queries:
            try:
                df = self.registry[q].fn(h.spark, self.data_dir)
                cols, rows = list(df.columns), df.collect()
            except Exception as exc:  # noqa: BLE001 - a failed query is a counted result
                failed.append(f"verify {q}: {type(exc).__name__}: {exc}"[:300])
                h.release()
                continue
            h.release()
            got = rows_to_multiset(cols, rows)
            if sorted(cols) != self.oracle_cols[q]:
                failed.append(f"verify {q}: columns {sorted(cols)} differ from the "
                              f"oracle's {self.oracle_cols[q]}")
            elif got != self.oracle[q]:
                failed.append(f"verify {q}: result differs from its oracle "
                              f"({len(got)} vs {len(self.oracle[q])} rows)")
            else:
                checked.append(q)
        return {"ops": checked, "failed": failed}

"""report_reads — read-only analytics: Spark execution and corpus operators.

Set-up writes the seeded report tables into the run's work root, then runs
every query of the fixed mix once and compares it with its registry oracle
in DuckDB (the canonical comparison of ``tools/check_correctness.py``). That
pass is also the warm-up and holds each query's first, slowest execution;
it runs the queries on ``_ORACLE_THREADS`` threads, because first executions
are mostly single-threaded driver work (planning, code generation, JIT).
Each timed op is one query of the mix, materialised through the noop sink;
the seed permutes the order of the named list and the loop cycles through
it, stopping only at the end of a whole pass (``pass_len``), so every run
times every query equally often. No commit, lock or HTTP request happens.
"""

from __future__ import annotations

import importlib.util
import os
from concurrent.futures import ThreadPoolExecutor
import random
import re

from perfbench import gen
from perfbench.workloads.base import Workload

#: The fixed, name-listed mix. Never derived from registry order.
MIX = (
    "fact_staff_daily", "fact_staff_daily_sql", "fact_status_pivot",
    "tpch_q1_pricing", "tpch_q3_topk", "tpch_q9_profit",
    "tpch_q18_large_orders", "tpch_q21_waiting_orders", "join_fanout",
    "rollup_agg", "minhash_lsh_pairs", "text_stats", "repetition_stats",
)
_ORACLE_THREADS = 4
#: Mix members whose work is the corpus operators of ``llm_ops``.
CORPUS_OPS = ("minhash_lsh_pairs", "text_stats", "repetition_stats")


def mix_order(seed: int) -> list[str]:
    order = list(MIX)
    random.Random(f"report:{seed}").shuffle(order)
    return order


def _canon_module(repo: str):
    """``tools/check_correctness.py``'s comparison helpers, loaded by path
    (the tools directory is not a package)."""
    path = os.path.join(repo, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_bench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class ReportReads(Workload):
    name = "report_reads"
    pass_len = len(MIX)

    def setup(self) -> None:
        from callio_etl_spark.registry import REGISTRY, all_oracles

        self.data = f"{self.work}/report_data"
        counts = gen.write_report_tables(self.data, self.seed)
        oracles = all_oracles()
        self.fns = {q: REGISTRY[q].fn for q in MIX}
        # rows each query reads: the tables its oracle SQL names
        self.rows_read = {
            q: sum(n for t, n in counts.items()
                   if re.search(rf"\b{t}\b", oracles[q], re.IGNORECASE))
            for q in MIX
        }
        self.order = mix_order(self.seed)
        self.i = 0
        with self.tracer.span("setup.oracle_pass"):
            self._oracle_pass(oracles)

    def _run(self, q: str) -> None:
        with self.tracer.span(f"queries.{q}"):
            self.fns[q](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def _oracle_pass(self, oracles: dict[str, str]) -> None:
        import duckdb

        repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        cc = _canon_module(repo)
        def collect(q):
            sdf = self.fns[q](self.spark, self.data)
            return sdf.columns, [tuple(r) for r in sdf.collect()]

        with ThreadPoolExecutor(_ORACLE_THREADS) as pool:
            results = dict(zip(self.order, pool.map(collect, self.order)))
        con = duckdb.connect()
        try:
            for t in gen.REPORT_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for q in self.order:
                sc, sr = cc.frame_rows(*results[q])
                cur = con.execute(oracles[q])
                dc, dr = cc.frame_rows([d[0] for d in cur.description], cur.fetchall())
                if sc != dc or len(sr) != len(dr) or not all(
                    cc.values_close(x, y) for a, b in zip(sr, dr) for x, y in zip(a, b)
                ):
                    self.mismatch(f"{q}: differs from its oracle "
                                  f"({len(sr)} vs {len(dr)} rows)")
                elif not sr:
                    self.mismatch(f"{q}: empty result on the generated tables")
        finally:
            con.close()

    def op(self, rec: dict) -> None:
        q = self.order[self.i % len(self.order)]
        self.i += 1
        rec["query"] = q
        self._run(q)
        rec["rows"] = self.rows_read[q]

    def verify(self) -> None:
        pass  # the oracle pass ran once in set-up, over the same tables

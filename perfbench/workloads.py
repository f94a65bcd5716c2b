"""Workload definitions: seeded inputs, the ops of one pass, and the output
check of every op.

A registry op is one registered query: *build* is the query call
``fn(spark, dir)`` (which may run eager Spark work on the driver) and
*execute* is ``toPandas()`` on the returned DataFrame, which materializes
every result row.  The CLI op is one run of
``hadoopmapreduce_spark.__main__.main`` over the JSON-lines logs.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import sys
import time
from dataclasses import dataclass

import gen_clicklogs
import gen_tables

# Registry queries of each registry workload, in pass order.
ANALYTIC_OPS = (
    "q3_shipping_priority",
    "agg_pricing_summary",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_suppliers_kept_waiting",
    "agg_rollup",
    "window_topk_per_group",
)
LLM_OPS = (
    "knn_cosine_topk",
    "minhash_lsh_dedup",
    "ann_pq_topk",
)
TABLES_SF = 0.02  # scale factor of the generated star schema
CLICK_IMPRESSIONS = 20_000


@dataclass
class OpResult:
    build_s: float
    exec_s: float
    output: object


@dataclass
class Check:
    ok: bool
    detail: str = ""


class Workload:
    """Base: subclasses implement the hooks.  ``nominal_pass_s`` is the
    warm pass time on the 4-core reference box; a run makes
    ``seconds // nominal_pass_s`` passes (at least one)."""

    def __init__(self, name: str, ops: tuple[str, ...], nominal_pass_s: float):
        self.name = name
        self.ops = ops
        self.nominal_pass_s = nominal_pass_s
        self.rows_per_pass = 0

    def prepare(self, data_dir: str, seed: int) -> None:
        raise NotImplementedError

    def run_op(self, ctx, op: str) -> OpResult:
        raise NotImplementedError

    def check(self, op: str, output) -> Check:
        raise NotImplementedError

    def after_op(self) -> None:
        pass

    def after_pass(self) -> None:
        pass

    def count_rows(self) -> None:
        """Set ``rows_per_pass`` once the first pass has run."""

    def close(self) -> None:
        pass


class RegistryWorkload(Workload):
    def __init__(self, name: str, ops: tuple[str, ...], nominal_pass_s: float, sf: float):
        super().__init__(name, ops, nominal_pass_s)
        self.sf = sf
        self.data_dir = ""
        self.table_rows: dict[str, int] = {}
        self.tables_read: dict[str, set[str]] = {}  # op -> tables it loads
        self._verdicts: dict[tuple[str, str], Check] = {}
        self._duckdb = None

    def prepare(self, data_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(data_dir, "tables")
        self.table_rows = gen_tables.generate(self.data_dir, seed, self.sf)

    def run_op(self, ctx, op: str) -> OpResult:
        from hadoopmapreduce_spark.registry import QUERIES

        ctx.loaded_tables = set()
        with ctx.job_group("build"), ctx.tracer.span("operators.build", op=op):
            t0 = time.perf_counter()
            df = QUERIES[op](ctx.spark, self.data_dir)
            t1 = time.perf_counter()
        if ctx.tracer.enabled:
            ctx.record_plan(df)
        with ctx.job_group("exec"), ctx.tracer.span("spark.exec", op=op):
            t2 = time.perf_counter()
            pdf = df.toPandas()
            t3 = time.perf_counter()
        self.tables_read.setdefault(op, set(ctx.loaded_tables))
        return OpResult(t1 - t0, t3 - t2, pdf)

    def count_rows(self) -> None:
        self.rows_per_pass = sum(
            self.table_rows.get(t, 0)
            for op in self.ops for t in self.tables_read.get(op, ())
        )

    def after_op(self) -> None:
        from hadoopmapreduce_spark.functions.ranks import release_rank_caches

        release_rank_caches()

    def after_pass(self) -> None:
        from hadoopmapreduce_spark.operators.graph import release_graph_caches

        release_graph_caches()

    def check(self, op: str, output) -> Check:
        """DuckDB twin via ``oracle.compare``; a result identical to one
        already judged (order-insensitive digest) reuses that verdict."""
        key = (op, _digest(output))
        if key not in self._verdicts:
            self._verdicts[key] = self._compare(op, output)
        return self._verdicts[key]

    def _compare(self, op: str, pdf) -> Check:
        from hadoopmapreduce_spark.oracle import compare, duckdb_connect
        from hadoopmapreduce_spark.registry import ORACLES

        if op not in ORACLES:
            return Check(False, "no DuckDB oracle registered")
        if self._duckdb is None:
            self._duckdb = duckdb_connect(self.data_dir)
        rep = compare(op, _Collected(pdf), self._duckdb, ORACLES[op])
        return Check(rep.ok, rep.detail[:300])

    def recall(self, op: str, pdf) -> float | None:
        """Share of the rows of ``op``'s DuckDB twin, keyed on their
        non-float columns, that the op also returned; None when the column
        sets differ."""
        from hadoopmapreduce_spark.registry import ORACLES

        want = self._duckdb.execute(ORACLES[op]).df()
        if sorted(pdf.columns) != sorted(want.columns) or not len(want):
            return None
        keys = [c for c in sorted(want.columns) if want[c].dtype.kind != "f"]
        have = set(pdf[keys].astype(str).itertuples(index=False, name=None))
        found = sum(r in have for r in want[keys].astype(str).itertuples(index=False, name=None))
        return found / len(want)

    def close(self) -> None:
        if self._duckdb is not None:
            self._duckdb.close()


class ClickthruWorkload(Workload):
    """One op per pass: the reference pipeline through the CLI."""

    def __init__(self, n_impressions: int):
        super().__init__("clickthru_jsonl", ("clickthru_cli",), 3.5)
        self.n_impressions = n_impressions
        self.expected: list[str] = []
        self.dirs: dict[str, str] = {}

    def prepare(self, data_dir: str, seed: int) -> None:
        logs = os.path.join(data_dir, "logs")
        res = gen_clicklogs.generate(logs, seed, self.n_impressions)
        self.expected = res["expected"]
        self.rows_per_pass = res["lines"]
        self.dirs = {k: os.path.join(logs, k) for k in ("impressions", "clicks")}
        self.dirs["combined"] = os.path.join(data_dir, "combined")
        self.dirs["out"] = os.path.join(data_dir, "ctr_out")

    def run_op(self, ctx, op: str) -> OpResult:
        from hadoopmapreduce_spark.__main__ import main

        argv = [self.dirs[k] for k in ("impressions", "clicks", "combined", "out")]
        with ctx.job_group("cli"), ctx.tracer.span("spark.exec", op=op), \
                ctx.tracer.span("cli.main", op=op), \
                contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            code = main(argv)
            t1 = time.perf_counter()
        if code != 0:
            raise RuntimeError(f"CLI exited with {code}")
        return OpResult(0.0, t1 - t0, None)

    def check(self, op: str, output) -> Check:
        got = []
        for path in sorted(glob.glob(os.path.join(self.dirs["out"], "part-*"))):
            with open(path) as fh:
                got.extend(fh.read().splitlines())
        got.sort()
        if got == self.expected:
            return Check(True)
        missing = sorted(set(self.expected) - set(got))[:3]
        extra = sorted(set(got) - set(self.expected))[:3]
        return Check(False, f"{len(got)} lines vs {len(self.expected)} expected; "
                            f"missing {missing} extra {extra}")


class _Collected:
    """Adapter so ``oracle.compare`` reads an already-collected result."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf



def _digest(pdf) -> str:
    """Order-insensitive digest of a result frame (columns + sorted rows)."""
    h = hashlib.sha1(repr(sorted(pdf.columns)).encode())
    cols = sorted(pdf.columns)
    for row in sorted(repr(r) for r in pdf[cols].itertuples(index=False, name=None)):
        h.update(row.encode())
    return h.hexdigest()


def make(name: str) -> Workload:
    if name == "clickthru_jsonl":
        return ClickthruWorkload(CLICK_IMPRESSIONS)
    if name == "analytic_sf":
        return RegistryWorkload(name, ANALYTIC_OPS, 7.0, TABLES_SF)
    if name == "llm_dedup_search":
        return RegistryWorkload(name, LLM_OPS, 8.0, TABLES_SF)
    raise KeyError(name)


WORKLOADS = ("clickthru_jsonl", "analytic_sf", "llm_dedup_search")

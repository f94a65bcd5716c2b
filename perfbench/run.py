"""The repository benchmark: one closed-loop client running one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from ``--seed`` under ``.perfbench_work/``
(removed on exit), starts the engine (``session.get_spark``,
``registry.load_all``, one warm-up op; together ``setup_s``), runs each
other op once untimed, then runs passes over the
workload's ops one after another for about ``--seconds`` seconds (a fixed
number of passes: ``--seconds`` over the workload's nominal pass time), checking
every op's output outside its timing.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import workloads
from tracing import (ProcMonitor, Tracer, descendants, group_counts, log, plan_counts,
                     proc_table, self_time_by_name)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"
DEADLINE_S = 120  # a run this late aborts (non-zero exit); stopping Spark takes < 60 s
# dedup_recall: pair recall of minhash_lsh_dedup against its exact-Jaccard
# DuckDB twin; ann_recall: recall of ann_pq_topk against knn_cosine_topk
DEDUP_OP = "minhash_lsh_dedup"
ANN_OPS = ("ann_pq_topk", "knn_cosine_topk")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rows_per_s": "rows/s", "ok_frac": "ratio", "peak_rss_mb": "MB",
    "dedup_recall": "ratio", "ann_recall": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "spark.exec_s": "s", "spark.exec_jobs": "count", "spark.exec_stages": "count",
    "spark.exec_tasks": "count",
    "plans.exchanges": "count", "plans.broadcasts": "count", "plans.scans": "count",
    "plans.python_nodes": "count",
    "sources.jsonlines.scan_s": "s", "sources.jsonlines.corrupt_frac": "ratio",
    "sinks.write_s": "s",
    "cli.jobs": "count", "cli.stages": "count", "cli.tasks": "count",
    "proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s", "proc.cpu_util": "ratio",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Process-environment settings read by the package and by Spark; the
    package itself is not edited."""
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    for d in (tmp, scratch):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": scratch,
        "SPARK_LOCAL_DIRS": scratch,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # no hsperfdata files in the system /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# per-layer count names each job-group phase adds to; the CLI's jobs are
# both the CLI's and the execute layer's
COUNT_PREFIXES = {"build": ("operators.build_",), "exec": ("spark.exec_",),
                  "cli": ("spark.exec_", "cli.")}


class Context:
    """What an op needs: the session, the tracer, job-group naming and, in
    a traced pass, the per-pass counters."""

    def __init__(self, spark, tracer: Tracer, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.run_id = run_id
        self.where = "setup"
        self.loaded_tables: set[str] = set()
        self.counts: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    @contextmanager
    def job_group(self, phase: str):
        group = f"{self.run_id}-{self.where}-{phase}"
        self.sc.setJobGroup(group, group)
        yield
        if self.tracer.enabled:
            counts = dict(zip(("jobs", "stages", "tasks"), group_counts(self.sc, group)))
            for prefix in COUNT_PREFIXES[phase]:
                for k, v in counts.items():
                    self.add(prefix + k, v)

    def record_plan(self, df) -> None:
        from hadoopmapreduce_spark.plans import physical_plan

        with self.tracer.span("plans.explain"):
            for k, v in plan_counts(physical_plan(df)).items():
                self.add(f"plans.{k}", v)


def wrap_load_table(ctx: Context) -> None:
    """Route every ``catalog.load_table`` call, including names bound by
    ``from ... import load_table`` in operator modules, through a wrapper
    that records the table and, when tracing, a span."""
    from hadoopmapreduce_spark import catalog

    orig = catalog.load_table

    def load_table(spark, sf_dir, name):
        ctx.loaded_tables.add(name)
        if ctx.tracer.enabled:
            ctx.add("catalog.load_table_calls", 1)
        with ctx.tracer.span("catalog.load_table", table=name):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("hadoopmapreduce_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, load_table)


class Runner:
    def __init__(self, wl: workloads.Workload, tracer: Tracer, mon: ProcMonitor):
        self.wl = wl
        self.tracer = tracer
        self.mon = mon
        self.ctx: Context | None = None
        self.attempted = 0
        self.failed = 0
        self.latencies: list[float] = []
        self.outputs: dict[str, object] = {}  # last result of each recall op

    def op(self, op: str, label: str) -> float:
        """Run, time and check one op; returns its latency (0 on failure)."""
        ctx = self.ctx
        ctx.where = label
        self.attempted += 1
        try:
            with self.tracer.span("op", op=op, where=label):
                res = self.wl.run_op(ctx, op)
            with self.tracer.span("check", op=op):
                verdict = self.wl.check(op, res.output)
        except Exception as exc:  # an op that raises is a failed op, not a crash
            self.failed += 1
            log(f"FAILED {op} ({label}): {type(exc).__name__}: {exc}")
            return 0.0
        finally:
            self.wl.after_op()
        if not verdict.ok:
            self.failed += 1
            log(f"MISMATCH {op} ({label}): {verdict.detail}")
        log(f"op {op} ({label}): build {res.build_s:.3f} s, exec {res.exec_s:.3f} s")
        if op == DEDUP_OP or op in ANN_OPS:
            self.outputs[op] = res.output
        return res.build_s + res.exec_s

    def one_pass(self, label: str, record: bool, trace: bool, first: int = 0) -> dict:
        """One pass over the workload's ops from index ``first``.  With
        ``trace`` every op runs twice, untraced and traced, the order
        alternating from op to op, so the two pass times see the same
        warm-up state."""
        self.ctx.counts = {}
        cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        first_span = len(self.tracer.spans)
        plain = traced = 0.0
        for i, op in enumerate(self.wl.ops):
            if i < first:
                continue
            for t in ((False, True) if i % 2 == 0 else (True, False)) if trace else (False,):
                # collect the previous op's garbage, untimed, so no op pays
                # for another's JVM or Python collections
                gc.collect()
                self.ctx.sc._jvm.System.gc()
                if t:
                    cpu0 = self.mon.cpu_by_kind()
                    self.tracer.enabled = True
                lat = self.op(op, f"{label}-o{i}{'-traced' if t else ''}")
                if t:
                    self.tracer.enabled = False
                    for k, v in self.mon.cpu_by_kind().items():
                        cpu[k] += v - cpu0[k]
                    traced += lat
                else:
                    plain += lat
                    if record:
                        self.latencies.append(lat)
        t0 = time.perf_counter()
        self.wl.after_pass()
        release = time.perf_counter() - t0
        return {"pass_s": plain + release, "traced_pass_s": traced + release,
                "spans": self.tracer.spans[first_span:], "counts": dict(self.ctx.counts),
                "cpu": cpu}

    def recalls(self) -> dict:
        """Recall of the approximate ops' last results; a workload without
        them returns exact results and reports 1."""
        out = {"dedup_recall": None, "ann_recall": None}
        if DEDUP_OP in self.outputs:
            out["dedup_recall"] = self.wl.recall(DEDUP_OP, self.outputs[DEDUP_OP])
        approx, exact = (self.outputs.get(op) for op in ANN_OPS)
        if approx is not None and exact is not None and len(exact):
            # share of the exact top-k (query, neighbor) pairs that the
            # approximate search also returned
            pairs = set(zip(approx["query_id"], approx["neighbor_id"]))
            out["ann_recall"] = sum(
                p in pairs for p in zip(exact["query_id"], exact["neighbor_id"])) / len(exact)
        return {k: 1.0 if v is None else v for k, v in out.items()}


def measure(wl: workloads.Workload, seconds: int, trace: bool, run_id: str) -> tuple:
    tracer = Tracer(trace, run_id)
    with ProcMonitor() as mon:
        runner = Runner(wl, tracer, mon)
        spark = None
        try:
            t0 = time.perf_counter()
            with tracer.span("setup"):
                with tracer.span("session.start"):
                    from hadoopmapreduce_spark.session import get_spark

                    spark = get_spark("perfbench")
                with tracer.span("registry.load"):
                    from hadoopmapreduce_spark import registry

                    registry.load_all()
            setup_s = time.perf_counter() - t0
            setup_spans = list(tracer.spans)
            runner.ctx = Context(spark, tracer, run_id)
            wrap_load_table(runner.ctx)
            tracer.enabled = False
            # one warm-up op pays the JVM and codegen warm-up; its latency
            # (not its output check) ends setup_s
            setup_s += runner.op(wl.ops[0], "warmup-o0")
            # the other ops' first calls compile their own plans: run each
            # once more, untimed and outside setup_s, so that stays out of
            # the op timings
            runner.one_pass("warmup", record=False, trace=False, first=1)

            # a fixed pass count, so that a slower machine reads slower rather
            # than running fewer, less warmed-up passes
            passes = []
            for n in range(max(1, int(seconds // wl.nominal_pass_s))):
                passes.append(runner.one_pass(f"p{n}", record=True, trace=trace))
                log(f"pass {n}: {passes[-1]['pass_s']:.3f} s")
            wl.count_rows()
            recalls = runner.recalls()
            probes = layer_probes(wl, runner.ctx) if trace else {}
            peak_mb = mon.peak_kb / 1024
        finally:
            if spark is not None:
                stop_spark(spark)
            wl.close()
    return runner, passes, setup_s, setup_spans, probes, recalls, peak_mb, tracer


def layer_probes(wl: workloads.Workload, ctx: Context) -> dict:
    """Source, sink and plan figures of the CTR pipeline, taken by calling
    the public source/operator/sink functions the CLI is built from."""
    if not isinstance(wl, workloads.ClickthruWorkload):
        return {}
    from pyspark.sql import functions as F

    from hadoopmapreduce_spark.operators.clickthru import IMPRESSION_SCHEMA, run_clickthru
    from hadoopmapreduce_spark.plans import physical_plan
    from hadoopmapreduce_spark.sources.jsonlines import read_jsonlines_observed
    from hadoopmapreduce_spark.sources.sinks import write_textkv

    tracer, out = ctx.tracer, {}
    tracer.enabled = True
    rows = corrupt = 0
    t = time.perf_counter()
    with tracer.span("sources.jsonlines.scan"):
        for k in ("impressions", "clicks"):
            df, obs = read_jsonlines_observed(ctx.spark, wl.dirs[k], IMPRESSION_SCHEMA)
            df.count()
            got = obs.get
            rows, corrupt = rows + got["n_rows"], corrupt + got["n_corrupt"]
    out["sources.jsonlines.scan_s"] = time.perf_counter() - t
    out["sources.jsonlines.corrupt_frac"] = corrupt / max(rows, 1)
    result = run_clickthru(ctx.spark, wl.dirs["impressions"], wl.dirs["clicks"])
    with tracer.span("plans.explain"):
        out.update({f"plans.{k}": v for k, v in plan_counts(physical_plan(result)).items()})
    t = time.perf_counter()
    with tracer.span("sinks.write"):
        write_textkv(result.withColumn("ctr_text", F.col("ctr").cast("string")),
                     ["referrer", "ad_id"], "ctr_text",
                     os.path.join(os.path.dirname(wl.dirs["out"]), "sink_probe"))
    out["sinks.write_s"] = time.perf_counter() - t
    tracer.enabled = False
    return out


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception as exc:  # the JVM is being torn down either way
            log(f"gateway shutdown: {exc}")
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while descendants(proc_table(), os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(proc_table(), os.getpid()):
        os.kill(pid, signal.SIGKILL)


def cpu_steal_s() -> float:
    """Machine-wide CPU steal time so far (``/proc/stat``), in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least ten
    samples beyond it.  With fewer than 21 samples that statistic lies below
    the median, and the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n > 20 else n - 1
    return xs[k], 100.0 * k / max(n - 1, 1), n


def end_to_end(wl, runner: Runner, passes: list, setup_s: float, recalls: dict,
               peak_mb: float) -> dict:
    pass_s = statistics.median(p["pass_s"] for p in passes)
    lat = [x for x in runner.latencies if x > 0] or [0.0]
    tail_s, pct, n = tail(lat)
    print(f"op_tail_s is p{pct:.1f} of {n} op samples; {len(passes)} passes")
    return {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "rows_per_s": wl.rows_per_pass / pass_s,
        "ok_frac": 1 - runner.failed / runner.attempted,
        "peak_rss_mb": peak_mb,
        **recalls,
    }


def per_layer(passes: list, setup_spans: list, probes: dict) -> dict:
    """Median over the traced passes of each layer's self time and counts."""
    setup_self = self_time_by_name(setup_spans)
    rows = []
    for p in passes:
        by = self_time_by_name(p["spans"])
        c = p["counts"]
        cpu = p["cpu"]
        row = {k: c.get(k, 0) for k, unit in PER_LAYER.items() if unit == "count"}
        row.update({
            "catalog.load_table_s": by.get("catalog.load_table", 0.0),
            "operators.build_s": by.get("operators.build", 0.0),
            "spark.exec_s": by.get("spark.exec", 0.0) + by.get("cli.main", 0.0),
            "proc.jvm_cpu_s": cpu["jvm"],
            "proc.pyworker_cpu_s": cpu["pyworker"],
            "proc.cpu_util": sum(cpu.values()) / (p["traced_pass_s"] * nproc()),
            "trace.pass_s": p["traced_pass_s"],
            "trace.overhead_s": p["traced_pass_s"] - p["pass_s"],
        })
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["session.start_s"] = setup_self.get("session.start", 0.0)
    out["registry.load_s"] = setup_self.get("registry.load", 0.0)
    out.update({"sources.jsonlines.scan_s": 0.0, "sources.jsonlines.corrupt_frac": 0.0,
                "sinks.write_s": 0.0})
    out.update(probes)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoopmapreduce_spark", "__init__.py")):
        log(f"hadoopmapreduce_spark package not found under {ROOT}")
        return 2

    def _overrun(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(DEADLINE_S)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    try:
        isolate(work)
        wl = workloads.make(args.workload)
        wl.prepare(os.path.join(work, "data"), args.seed)
        steal0 = cpu_steal_s()
        runner, passes, setup_s, setup_spans, probes, recalls, peak_mb, tracer = measure(
            wl, args.seconds, bool(args.trace), run_id)
        # time the hypervisor gave this machine's CPUs to other guests: a run
        # with a high share reads slow for reasons outside the program
        print(f"cpu steal during the run: {cpu_steal_s() - steal0:.1f} cpu-s")
        if args.trace:
            values, units = per_layer(passes, setup_spans, probes), PER_LAYER
            tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.jsonl"))
        else:
            values, units = end_to_end(wl, runner, passes, setup_s, recalls, peak_mb), END_TO_END
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Benchmark of the engine's catalog pipelines, end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl_read --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload etl_read --seed 1 --seconds 8 --trace 1 --cores 1

One process, one Spark session on ``local[<cores>]`` (default: every CPU
this process may run on). Inputs are the committed sf0.01 fixture under
``perfbench/data``, with every table's rows permuted by ``--seed``; the
seed also shuffles the pipeline order of each pass. After one warm-up
pass, passes run until ``--seconds`` are used up. Each pipeline runs from
source read until its complete result is on the driver (``toArrow``).
Every execution, warm-up included, is compared with the catalog's DuckDB
oracle over the same inputs once the timed passes are over.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (U T T U ...) and reports the per-layer
metrics of the traced ones, plus the tracing overhead; its spans are
written to ``.perfbench/spans/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
report (samples, per-pass host evidence, failures by pipeline).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

import procfs
import stats
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ssis_to_pyspark_agent_spark"
FIXTURE = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
OUT_DIR = os.path.join(ROOT, ".perfbench")
# C1 only. With the default tiered JIT, C2 compilation had not settled
# after the warm-up pass: pass times kept falling for five more passes,
# compiler threads used about half of a pass's CPU, and single-pass
# times varied about 20% from run to run. With C1 the passes after the
# warm-up are flat, so pass_s and cpu_s measure the engine, not the JIT.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)
    if args.seconds < 1 or args.cores < 1:
        ap.error("--seconds and --cores must be >= 1")
    return args


def prepare_inputs(seed: int, dst: str) -> None:
    """Copy the fixture to ``dst`` with each table's rows permuted by
    ``seed``. Results must not depend on row order, so every seed has the
    same oracle answers but a different physical layout."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dst)
    for t in TABLES:
        table = pq.read_table(os.path.join(FIXTURE, f"{t}.parquet"))
        pq.write_table(table.take(rng.permutation(table.num_rows)),
                       os.path.join(dst, f"{t}.parquet"))


def load_compare():
    """The catalog gate's comparison (``tools/compare.py``), used as is."""
    path = os.path.join(ROOT, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("perfbench_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _no_span(_name, **_attrs):
    return contextlib.nullcontext()


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.scratch_dirs = [os.path.join(run_dir, d)
                             for d in ("tmp", "warehouse", "derby", "local")]
        self.rng = random.Random(args.seed)
        self.executions: list[dict] = []
        self.passes: list[dict] = []
        self.tracer = None
        self.spark = None

    # -- set-up ------------------------------------------------------------------

    def isolate(self) -> None:
        """Keep every file the run writes under its own directory, and let
        Python workers import the program from this checkout."""
        for d in self.scratch_dirs:
            os.makedirs(d, exist_ok=True)
        tmp, _warehouse, _derby, local = self.scratch_dirs
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # a quarter of the host's memory, at most the 8g the session defaults to
        heap_mb = int(min(procfs.mem_total_mb() / 4, 8192))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        sys.path.insert(0, ROOT)

    def start_session(self):
        from ssis_to_pyspark_agent_spark.session import get_spark

        tmp, warehouse, derby, local = self.scratch_dirs
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        java_opts = (f"{JIT_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                     f"-Dderby.system.home={derby} -Dderby.stream.error.file={derby}/derby.log")
        return get_spark(
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{self.args.cores}]",
            shuffle_partitions=self.args.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": warehouse,
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": java_opts,
                # one traced pass must fit in the status store
                "spark.ui.retainedJobs": "10000",
                "spark.ui.retainedStages": "20000",
            },
        )

    def stop_session(self) -> None:
        """Stop Spark, then the JVM and the Python workers under it, and
        wait until they have ended."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        started = procfs.descendant_procs()
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        procfs.wait_ended(started + procfs.descendant_procs(), timeout=30)

    def heap_live_mb(self) -> float:
        """Driver heap in use right after a full GC: what the run retains."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    # -- passes ------------------------------------------------------------------

    def release(self) -> int:
        """Drop the pipeline's caches; count (and drop) persisted RDDs that
        outlive them."""
        self.spark.catalog.clearCache()
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        n = rdds.size()
        for key in list(rdds.keySet()):
            rdds.get(key).unpersist(True)
        return n

    def execute(self, query: str, phase: str, pass_no: int, span) -> None:
        t0 = time.perf_counter()
        table, error = None, None
        with span("pipeline", query=query):
            try:
                with span("plans.build"):
                    df = self.queries[query](self.spark, self.data_dir)
                with span("plans.action"):
                    table = df.toArrow()
            except Exception as exc:  # noqa: BLE001 - a failing pipeline is a result
                error = f"{type(exc).__name__}: {exc}"[:500]
                traceback.print_exc(file=sys.stderr)
            seconds = time.perf_counter() - t0
            with span("bench.release"):
                leaked = self.release()
        self.executions.append({"query": query, "phase": phase, "pass": pass_no,
                                "seconds": seconds, "table": table, "error": error,
                                "leaked_persists": leaked})

    def run_pass(self, phase: str, pass_no: int, traced: bool) -> dict:
        order = list(self.workload.pipelines)
        self.rng.shuffle(order)
        tracer = self.tracer if traced else None
        if tracer:
            tracer.install()
        self.spark.sparkContext._jvm.System.gc()
        persists0 = tracer.persists if tracer else 0
        n_exec = len(self.executions)
        host0, load0 = procfs.host_cpu(), procfs.loadavg()
        cpu0 = procfs.tree_cpu_seconds()
        t0 = time.perf_counter()
        with (tracer.span("pass", phase=phase, number=pass_no) if tracer
              else contextlib.nullcontext()) as pass_span:
            for q in order:
                self.execute(q, phase, pass_no, tracer.span if tracer else _no_span)
        wall = time.perf_counter() - t0
        cpu = procfs.tree_cpu_seconds() - cpu0
        shares = procfs.host_shares(host0, procfs.host_cpu())
        if tracer:
            tracer.uninstall()
        leaked = sum(e["leaked_persists"] for e in self.executions[n_exec:])
        rec = {
            "phase": phase, "pass": pass_no, "traced": traced, "order": order,
            "wall_s": wall, "cpu_s": cpu, "cpu_per_wall": cpu / wall,
            "steal_share": shares.steal_share, "iowait_share": shares.iowait_share,
            "cpu_util": shares.cpu_util, "loadavg": max(load0, procfs.loadavg()),
            "leaked_persists": leaked,
            "scratch_mb": sum(procfs.tree_bytes(d) for d in self.scratch_dirs) / 2**20,
        }
        if tracer:
            layer = tracer.pass_metrics(
                pass_span, tracer.persists - persists0, leaked)
            rec["streaming_queries"], rec["streaming_batches"] = tracer.stream_counts()
            rec["layers"] = layer
        self.passes.append(rec)
        print(f"# {phase} pass {pass_no}{' traced' if traced else ''}: "
              f"{wall:.2f}s wall, {cpu:.2f}s cpu, steal {shares.steal_share:.3f}",
              file=sys.stderr, flush=True)
        return rec

    # -- checking ----------------------------------------------------------------

    def check(self) -> dict[str, list[str]]:
        """Compare every execution with its oracle; failures by pipeline."""
        import duckdb

        from ssis_to_pyspark_agent_spark.queries import ORACLES

        compare = load_compare()
        con = duckdb.connect()
        con.execute("SET temp_directory='{}'".format(
            os.path.join(self.run_dir, "tmp", "duckdb").replace("'", "''")))
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        truth: dict = {}
        failures: dict[str, list[str]] = {}
        for e in self.executions:
            q = e["query"]
            if e["error"] is not None:
                failures.setdefault(q, []).append(f"{e['phase']} pass {e['pass']}: {e['error']}")
                continue
            if q not in truth:
                truth[q] = con.execute(ORACLES[q]).df() if q in ORACLES else None
            if truth[q] is None:
                failures.setdefault(q, []).append("no oracle")
                continue
            problems = compare(q, e["table"].to_pandas(), truth[q])
            if problems:
                failures.setdefault(q, []).append(
                    f"{e['phase']} pass {e['pass']}: " + "; ".join(problems))
        con.close()
        return failures

    # -- the run -------------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        args = self.args
        self.isolate()
        prepare_inputs(args.seed, self.data_dir)
        t0 = time.perf_counter()
        from ssis_to_pyspark_agent_spark.queries import QUERIES

        self.queries = QUERIES
        self.spark = self.start_session()
        start_s = time.perf_counter() - t0
        self.java_pid = self.spark.sparkContext._gateway.proc.pid
        run_id = f"{self.workload.name}-s{args.seed}-{os.getpid()}"
        if args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark, run_id)

        t0 = time.perf_counter()
        self.run_pass("warmup", 0, traced=False)
        warmup_s = time.perf_counter() - t0
        setup_s = procfs.process_age_seconds()

        # A traced run alternates U T T U U T T U ..., at least one U T T U
        # block: pass times still fall from pass to pass, and the balanced
        # order keeps that trend out of the traced-minus-untraced overhead.
        t0 = time.perf_counter()
        n = 0
        while True:
            traced = bool(args.trace) and n % 4 in (1, 2)
            rec = self.run_pass("timed", n + 1, traced)
            n += 1
            used = time.perf_counter() - t0
            enough = n >= (4 if args.trace else 1)
            if enough and used + rec["wall_s"] > args.seconds:
                break
        measured_s = time.perf_counter() - t0

        rss_mb = procfs.peak_rss_mb(self.java_pid)
        live_mb = self.heap_live_mb()
        self.stop_session()
        if self.tracer:
            os.makedirs(os.path.join(OUT_DIR, "spans"), exist_ok=True)
            self.tracer.dump(os.path.join(OUT_DIR, "spans", f"{run_id}.jsonl"))

        failures = self.check()
        timed = [p for p in self.passes if p["phase"] == "timed"]
        attempted = len(self.executions)
        failed = sum(len(v) for v in failures.values())
        report = {
            "workload": self.workload.name, "seed": args.seed, "cores": args.cores,
            "trace": args.trace, "why": self.workload.why,
            "pipelines": list(self.workload.pipelines),
            "start_s": start_s, "warmup_s": warmup_s, "setup_s": setup_s,
            "measured_s": measured_s, "jvm_rss_peak_mb": rss_mb,
            "jvm_heap_live_mb": live_mb,
            "attempted": attempted, "failed": failed,
            "failed_ratio": failed / attempted, "failures": failures,
            "passes": self.passes,
            "pipeline_s": {q: stats.summary([e["seconds"] for e in self.executions
                                             if e["query"] == q and e["phase"] == "timed"])
                           for q in self.workload.pipelines},
        }
        untraced = [p for p in timed if not p["traced"]]
        if args.trace:
            metrics = self.layer_metrics(timed, untraced, start_s, warmup_s, rss_mb, live_mb)
            units = {}
        else:
            metrics = {
                "pass_s": stats.median([p["wall_s"] for p in untraced]),
                "cpu_s": stats.median([p["cpu_s"] for p in untraced]),
                "setup_s": setup_s,
            }
            units = {"pass_s": "s", "cpu_s": "s", "setup_s": "s"}
            report["samples"] = {"pass_s": stats.summary([p["wall_s"] for p in untraced]),
                                 "cpu_s": stats.summary([p["cpu_s"] for p in untraced])}
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                        for k, v in metrics.items()},
        }
        return report, result

    def layer_metrics(self, timed, untraced, start_s, warmup_s, rss_mb,
                      live_mb) -> dict[str, float]:
        from layers import layer_metric_names

        traced = [p for p in timed if p["traced"]]
        med = lambda key: stats.median([p[key] for p in traced])  # noqa: E731
        per_pass = {k: stats.median([p["layers"][k] for p in traced])
                    for k in traced[0]["layers"]}
        scratch = [p["scratch_mb"] for p in timed]
        per_pass.update({
            "streaming.queries": med("streaming_queries"),
            "streaming.batches": med("streaming_batches"),
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "jvm.rss_peak_mb": rss_mb,
            "jvm.heap_live_mb": live_mb,
            "host.steal_share": med("steal_share"),
            "host.iowait_share": med("iowait_share"),
            "host.cpu_util": med("cpu_util"),
            "host.loadavg": med("loadavg"),
            "host.cpu_per_wall": med("cpu_per_wall"),
            "scratch.growth_mb": scratch[-1] - scratch[0],
            "trace.overhead_s": med("wall_s") - stats.median([p["wall_s"] for p in untraced]),
        })
        return {k: per_pass[k] for k in layer_metric_names()}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("cpu_util"):
        return "ratio"
    if name in ("host.loadavg", "host.cpu_per_wall"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [p for p in (os.path.join(ROOT, PKG, "__init__.py"),
                           os.path.join(ROOT, "tools", "compare.py"), FIXTURE)
               if not os.path.exists(p)]
    if missing:
        print(f"perfbench: program or inputs missing: {missing}", file=sys.stderr)
        return 2
    run_dir = os.path.join(OUT_DIR, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    bench = Bench(args, run_dir)
    try:
        report, result = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(OUT_DIR, "reports"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}-c{args.cores}.json"
    with open(os.path.join(OUT_DIR, "reports", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

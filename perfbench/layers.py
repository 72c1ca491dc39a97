"""The traced run: spans around the calls into each of the program's layers,
job groups that tie Spark jobs to those spans, and the per-pass layer
metrics read back from Spark's in-process status store.

Nothing here edits the program. ``Tracer.install`` replaces entry points
at run time (the operator registry's functions, the expression
compiler, the pipeline runner, the streaming helpers, DataFrame.persist)
with timing wrappers, and ``Tracer.uninstall`` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from collections import Counter, defaultdict

from spans import Span, innermost_at, self_times, union_length

PKG = "ssis_to_pyspark_agent_spark"

# Operator modules reported one by one. Ops of sources_sinks are split by
# name into the ``sources`` (source.*) and ``sinks`` (sink.*) layers.
OPERATOR_MODULES = (
    "agg", "clustering", "dedup", "joins", "joins_advanced", "maintenance",
    "multimodal", "reshape", "routing", "rowlevel", "scd", "script",
    "setops", "similarity", "sort", "streaming_ops", "text",
)
IO_LAYERS = ("sources", "sinks")
STREAMING_FUNCS = (
    "stream_events", "windowed_agg", "dedup_within_watermark",
    "stream_stream_join", "run_stream_to_memory", "stateful_counter",
)
PLAN_SPANS = ("plans.build", "plans.run", "plans.control")
GROUP_PREFIX = "perfbench"
MB = 1024.0 * 1024.0


def op_layer(op_name: str, module: str) -> str:
    """Layer a registered operator belongs to."""
    if op_name.startswith("source."):
        return "sources"
    if op_name.startswith("sink."):
        return "sinks"
    short = module.rsplit(".", 1)[-1]
    return f"operators.{short}" if short in OPERATOR_MODULES else "operators.other"


def layer_metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = [
        "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
        "driver.gap_s",
        "plans.build_s", "plans.self_s", "plans.action_s", "plans.pipelines",
        "plans.persists", "plans.leaked_persists",
        "expr.compiles", "expr.compile_s",
    ]
    for m in OPERATOR_MODULES:
        names += [f"operators.{m}.calls", f"operators.{m}.self_s", f"operators.{m}.jobs"]
    for io in IO_LAYERS:
        names += [f"{io}.calls", f"{io}.self_s", f"{io}.jobs"]
    names += [
        "streaming.queries", "streaming.batches", "streaming.run_s",
        "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_write_mb",
        "spark.shuffle_read_mb", "spark.input_mb", "spark.output_mb",
        "spark.spill_mb", "spark.gc_s",
        "session.start_s", "session.warmup_s", "jvm.rss_peak_mb", "jvm.heap_live_mb",
        "host.steal_share", "host.iowait_share", "host.cpu_util",
        "host.loadavg", "host.cpu_per_wall", "scratch.growth_mb",
        "trace.pass_s", "trace.overhead_s", "trace.unaccounted_s",
    ]
    return names


class Tracer:
    """Records spans on the driver thread and sets a Spark job group per
    span, so each job can be charged to the innermost span that fired it."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.persists = 0  # DataFrame.persist/cache calls while installed
        self.stream_queries: list = []

    # -- spans ----------------------------------------------------------------

    def group_of(self, span: Span) -> str:
        return f"{GROUP_PREFIX}:{self.run_id}:{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), None,
                 parent.id if parent else None, self.run_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group_of(s), name, False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group_of(top), top.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, fn, name: str, **attrs):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name, **attrs):
                return fn(*a, **kw)

        return wrapper

    # -- install / uninstall ------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        ops = importlib.import_module(f"{PKG}.operators")
        for name, fn in list(ops._REGISTRY.items()):
            layer = op_layer(name, fn.__module__)
            self._patches.append((ops._REGISTRY, name, fn))
            ops._REGISTRY[name] = self._wrap(fn, layer, op=name)

        expr = importlib.import_module(f"{PKG}.functions.expr")
        cls = expr.ExpressionCompiler
        self._patch(cls, "compile_typed", self._wrap(cls.compile_typed, "expr.compile"))

        runner = importlib.import_module(f"{PKG}.plans.runner")
        self._patch(runner.Runner, "run", self._wrap(runner.Runner.run, "plans.run"))
        control = importlib.import_module(f"{PKG}.plans.control")
        if hasattr(control, "run_task_graph"):
            self._patch(control, "run_task_graph",
                        self._wrap(control.run_task_graph, "plans.control"))

        stream_pkg = importlib.import_module(f"{PKG}.streaming")
        stream_mod = importlib.import_module(f"{PKG}.streaming.runner")
        for fname in STREAMING_FUNCS:
            for owner in (stream_mod, stream_pkg):
                if hasattr(owner, fname):
                    self._patch(owner, fname,
                                self._wrap(getattr(owner, fname), "streaming"))

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer = self
        for meth in ("persist", "cache"):
            orig = getattr(DataFrame, meth)

            def counted(*a, _orig=orig, **kw):
                tracer.persists += 1
                return _orig(*a, **kw)

            self._patch(DataFrame, meth, functools.wraps(orig)(counted))

        orig_start = DataStreamWriter.start

        @functools.wraps(orig_start)
        def start(*a, **kw):
            q = orig_start(*a, **kw)
            tracer.stream_queries.append(q)
            return q

        self._patch(DataStreamWriter, "start", start)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    # -- reading Spark's status store ----------------------------------------------

    def _status_json(self):
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        return jobs, stages

    def pass_metrics(self, pass_span: Span, persists: int, leaked: int) -> dict[str, float]:
        """Per-layer metrics of one traced pass (its spans must be closed)."""
        spans = [s for s in self.spans if s.id >= pass_span.id]
        by_id = {s.id: s for s in spans}
        lo, hi = pass_span.start, pass_span.end
        jobs_all, stages_all = self._status_json()
        jobs = [j for j in jobs_all
                if j.get("submissionTime") and lo - 0.002 <= j["submissionTime"] / 1000.0 <= hi + 0.002]
        prefix = f"{GROUP_PREFIX}:{self.run_id}:"
        job_layer: Counter = Counter()
        stage_ids = set()
        intervals = []
        for j in jobs:
            sub = j["submissionTime"] / 1000.0
            end = (j.get("completionTime") or j["submissionTime"]) / 1000.0
            intervals.append((sub, end))
            stage_ids.update(j.get("stageIds") or ())
            grp = j.get("jobGroup") or ""
            owner = None
            if grp.startswith(prefix):
                owner = by_id.get(int(grp[len(prefix):]))
            if owner is None:  # e.g. streaming micro-batches, run under the query's own group
                owner = innermost_at(spans, sub)
            job_layer[owner.name if owner else "unattributed"] += 1
        stages = [s for s in stages_all
                  if s["stageId"] in stage_ids and s.get("status") in ("COMPLETE", "FAILED")]

        selfs = self_times(spans)
        calls: Counter = Counter()
        self_s: defaultdict = defaultdict(float)
        dur: defaultdict = defaultdict(float)
        for s in spans:
            calls[s.name] += 1
            self_s[s.name] += selfs[s.id]
            dur[s.name] += s.duration
        wall = pass_span.duration
        job_wall = union_length(intervals, lo, hi)
        stream_spans = [(s.start, s.end) for s in spans if s.name == "streaming"]

        m = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numTasks"] for s in stages)),
            "spark.job_wall_s": job_wall,
            "driver.gap_s": wall - job_wall,
            "plans.build_s": dur["plans.build"],
            "plans.self_s": sum(self_s[n] for n in PLAN_SPANS),
            "plans.action_s": dur["plans.action"],
            "plans.pipelines": float(calls["plans.run"]),
            "plans.persists": float(persists),
            "plans.leaked_persists": float(leaked),
            "expr.compiles": float(calls["expr.compile"]),
            "expr.compile_s": self_s["expr.compile"],
            "streaming.run_s": union_length(stream_spans, lo, hi),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / MB,
            "spark.output_mb": sum(s["outputBytes"] for s in stages) / MB,
            "spark.spill_mb": sum(s["memoryBytesSpilled"] for s in stages) / MB,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "trace.pass_s": wall,
            "trace.unaccounted_s": wall - sum(selfs.values()),
        }
        for layer in [f"operators.{x}" for x in OPERATOR_MODULES] + list(IO_LAYERS):
            m[f"{layer}.calls"] = float(calls[layer])
            m[f"{layer}.self_s"] = self_s[layer]
            m[f"{layer}.jobs"] = float(job_layer[layer])
        return m

    def stream_counts(self) -> tuple[int, int]:
        """Streaming queries started since the last call, and their
        micro-batches."""
        qs, self.stream_queries = self.stream_queries, []
        return len(qs), sum(len(q.recentProgress) for q in qs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_dict()) + "\n")

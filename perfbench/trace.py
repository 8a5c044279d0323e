"""In-memory span tracing of the engine's layers, from outside the engine.

``Tracer.install`` replaces the public functions of each layer module with
wrappers that record a span (name, start, end, parent, op id) and restores
them on ``uninstall``.  Each name is patched where callers look it up:
``parquery_spark.aggregate`` imports ``build_aggregation_plan`` and
``get_small_query_session`` by name, so those are patched in both modules.
A handful of private helpers of ``relations`` are wrapped only to count
cache misses and evictions; a helper that no longer exists is skipped and
listed in ``missing_hooks``.

Self time of a span is its duration minus its children's.  The root span of
every op is ``bench:op``; its self time is the op time no layer span covers
(``trace.unattributed_ms``), so per-layer self times and the unattributed
rest add up to the op wall time exactly.
"""

from __future__ import annotations

import functools
import importlib
import json
import logging
import time
from collections import defaultdict

#: (module, attribute, span name) — public functions of each layer
LAYER_HOOKS = [
    ("parquery_spark.aggregate", "aggregate_pq", "aggregate:aggregate_pq"),
    ("parquery_spark.aggregate", "build_aggregation_plan", "plans.aggregation:build_aggregation_plan"),
    ("parquery_spark.plans.aggregation", "build_aggregation_plan", "plans.aggregation:build_aggregation_plan"),
    ("parquery_spark.aggregate", "get_small_query_session", "session:get_small_query_session"),
    ("parquery_spark.aggregate", "get_spark", "session:get_spark"),
    ("parquery_spark.tool", "normalize_measure_cols", "tool:normalize_measure_cols"),
    ("parquery_spark.tool", "normalize_data_filter", "tool:normalize_data_filter"),
    ("parquery_spark.tool", "get_result_columns", "tool:get_result_columns"),
    ("parquery_spark.fs", "exists", "fs:exists"),
    ("parquery_spark.fs", "stat", "fs:stat"),
    ("parquery_spark.fs", "getsize", "fs:getsize"),
    ("parquery_spark.fs", "canonical", "fs:canonical"),
    ("parquery_spark.relations", "get_relation_view", "relations:get_relation_view"),
    ("parquery_spark.relations", "get_relation", "relations:get_relation"),
    ("parquery_spark.relations", "cached_sql", "relations:cached_sql"),
    ("parquery_spark.relations", "schema_names", "relations:schema_names"),
    ("parquery_spark.relations", "expand_globs", "relations:expand_globs"),
    ("parquery_spark.transport", "serialize_pa_table_base64", "transport:serialize_pa_table_base64"),
    ("parquery_spark.transport", "serialize_pa_table_bytes", "transport:serialize_pa_table_bytes"),
    ("parquery_spark.write", "df_to_parquet", "write:df_to_parquet"),
    # private helpers, wrapped only to count misses and evictions
    ("parquery_spark.relations", "_read", "relations:_read"),
    ("parquery_spark.relations", "_evict", "relations:_evict"),
    ("parquery_spark.relations", "_parse_schema_names", "relations:_parse_schema_names"),
]

#: (class path, method, span name) — Spark's own entry points
CLASS_HOOKS = [
    ("pyspark.sql.classic.dataframe.DataFrame", "toArrow", "spark:toArrow"),
    ("pyspark.sql.classic.dataframe.DataFrame", "collect", "spark:collect"),
    ("pyspark.sql.session.SparkSession", "sql", "spark:sql"),
]

#: fs probes counted in fs.calls_per_query
FS_COUNTED = {"fs:exists", "fs:stat", "fs:getsize", "fs:canonical"}

#: span name -> position of the call argument the metrics need
_KEEP_ARG = {
    "spark:toArrow": 0,  # the DataFrame
    "spark:collect": 0,
}
#: span names whose return value the metrics need (the IPC bytes)
_KEEP_RESULT = {"transport:serialize_pa_table_bytes"}


def layer_of(name: str) -> str:
    return name.split(":", 1)[0]


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "arg", "result")

    def __init__(self, name, parent, op):
        self.name, self.parent, self.op = name, parent, op
        self.start = self.end = 0
        self.arg = self.result = None


class _RetryCounter(logging.Handler):
    def __init__(self):
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record):
        if "retrying" in record.getMessage():
            self.count += 1


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.overhead_ns: dict[int, int] = defaultdict(int)
        self.missing_hooks: list[str] = []
        self._saved: list[tuple[object, str, object]] = []
        self.retries = _RetryCounter()

    @property
    def installed(self) -> bool:
        return bool(self._saved)

    # -- recording ----------------------------------------------------------

    def wrap(self, name: str, fn):
        keep_arg = _KEEP_ARG.get(name)
        keep_result = name in _KEEP_RESULT

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter_ns()
            span = Span(name, self.stack[-1] if self.stack else -1, self.op)
            if keep_arg is not None and len(args) > keep_arg:
                span.arg = args[keep_arg]
            self.stack.append(len(self.spans))
            self.spans.append(span)
            span.start = time.perf_counter_ns()
            try:
                out = fn(*args, **kwargs)
                if keep_result:
                    span.result = out
                return out
            finally:
                span.end = time.perf_counter_ns()
                self.stack.pop()
                if self.op is not None:
                    self.overhead_ns[self.op] += (span.start - t0) + (time.perf_counter_ns() - span.end)

        return traced

    def run_op(self, op_id: int, fn):
        """Run ``fn`` as op ``op_id`` under a ``bench:op`` root span."""
        self.op = op_id
        try:
            return self.wrap("bench:op", fn)()
        finally:
            self.op = None

    # -- patching -----------------------------------------------------------

    def install(self) -> None:
        for mod_name, attr, name in LAYER_HOOKS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is None:
                self.missing_hooks.append(f"{mod_name}.{attr}")
                continue
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self.wrap(name, fn))
        for cls_path, attr, name in CLASS_HOOKS:
            mod_name, cls_name = cls_path.rsplit(".", 1)
            cls = getattr(importlib.import_module(mod_name), cls_name)
            fn = cls.__dict__[attr]
            self._saved.append((cls, attr, fn))
            setattr(cls, attr, self.wrap(name, fn))
        logging.getLogger("parquery_spark.aggregate").addHandler(self.retries)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        logging.getLogger("parquery_spark.aggregate").removeHandler(self.retries)

    # -- analysis -----------------------------------------------------------

    def self_times_ns(self) -> list[int]:
        """Self time of every span: duration minus direct children's."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                own[s.parent] -= s.end - s.start
        return own

    def op_spans(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.op is not None:
                out[s.op].append(i)
        return out

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (times in ns)."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op,
                }) + "\n")


# -- Spark-side probes ------------------------------------------------------

_PHASES = ("analysis", "optimization", "planning")


class SparkProbe:
    """Per-op counters read from the JVM after each traced op: jobs and
    tasks by job group, Catalyst phase times of newly built plans, codegen
    compiles, SQL execution time and the executed plan's SQL metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.arrays = jvm.java.util.Arrays
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen_plans: list = []  # DataFrames whose phases were counted (kept alive)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def begin(self, op_id: int) -> dict:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return {
            "group": group,
            "compiles": int(self.codegen.getCount()),
            "compile_ms": self._compile_ms_sum(),
            "executions": int(self.store.executionsCount()),
        }

    def _compile_ms_sum(self) -> int:
        """Sum of the compile-time histogram's samples, in one JVM call."""
        text = self.arrays.toString(self.codegen.getSnapshot().getValues())
        return sum(int(v) for v in text.strip("[]").split(",") if v.strip())

    def end(self, mark: dict, frames: list) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(mark["group"])
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        count = int(self.codegen.getCount())
        compiles = count - mark["compiles"]
        # the histogram keeps every sample until it holds 1028; past that
        # the new samples are estimated from its mean
        if count <= 1028:
            compile_ms = float(self._compile_ms_sum() - mark["compile_ms"])
        else:
            compile_ms = compiles * float(self.codegen.getSnapshot().getMean())
        out = {
            "jobs": len(jobs), "tasks": tasks, "compiles": compiles, "compile_ms": compile_ms,
            "exec_ms": self._exec_ms(mark["executions"]),
            "analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0,
            "scan_bytes": 0, "scan_rows": 0, "files_read": 0, "shuffle_bytes": 0, "spill_bytes": 0,
        }
        for df in frames:
            if not any(df is seen for seen in self.seen_plans):
                self.seen_plans.append(df)
                phases = df._jdf.queryExecution().tracker().phases()
                for ph in _PHASES:
                    o = phases.get(ph)
                    if o.isDefined():
                        out[f"{ph}_ms"] += float(o.get().durationMs())
            for node, metrics in _walk(df._jdf.queryExecution().executedPlan()):
                if node == "FileSourceScanExec":
                    out["scan_bytes"] += metrics.get("filesSize", 0)
                    out["scan_rows"] += metrics.get("numOutputRows", 0)
                    out["files_read"] += metrics.get("numFiles", 0)
                out["shuffle_bytes"] += metrics.get("shuffleBytesWritten", 0)
                out["spill_bytes"] += metrics.get("spillSize", 0)
        return out

    def _exec_ms(self, before: int) -> float:
        lst = self.store.executionsList(before, 1 << 20)
        total = 0.0
        for i in range(lst.size()):
            ex = lst.apply(i)
            done = ex.completionTime()
            if done.isDefined():
                total += done.get().getTime() - ex.submissionTime()
        return total

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise OSError("VmHWM missing")


def _walk(plan):
    """(node class name, {metric: value}) for every node of an executed
    plan, descending into adaptive plans and query stages."""
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        yield name, metrics
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())


# -- per-layer metrics ------------------------------------------------------

#: every per-layer metric, in report order: (name, unit)
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"),
    ("session.self_ms", "ms"),
    ("tool.normalize_ms", "ms"),
    ("plans.aggregation.build_ms", "ms"),
    ("fs.calls_per_query", "count"),
    ("fs.ms_per_query", "ms"),
    ("relations.hot_hit_ratio", "ratio"),
    ("relations.evictions_per_query", "count"),
    ("relations.get_relation_view_ms", "ms"),
    ("relations.plan_cache_hit_ratio", "ratio"),
    ("relations.schema_cache_hit_ratio", "ratio"),
    ("relations.schema_names_ms", "ms"),
    ("relations.self_ms", "ms"),
    ("aggregate.small_route_share", "ratio"),
    ("aggregate.retries", "count"),
    ("aggregate.to_arrow_ms", "ms"),
    ("aggregate.self_ms", "ms"),
    ("spark.analysis_ms", "ms"),
    ("spark.optimization_ms", "ms"),
    ("spark.planning_ms", "ms"),
    ("spark.codegen_compiles_per_query", "count"),
    ("spark.codegen_compile_ms", "ms"),
    ("spark.jobs_per_query", "count"),
    ("spark.tasks_per_query", "count"),
    ("spark.exec_ms", "ms"),
    ("spark.scan_bytes_per_query", "B"),
    ("spark.scan_rows_per_query", "count"),
    ("spark.files_read_per_query", "count"),
    ("spark.shuffle_bytes_per_query", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.self_ms", "ms"),
    ("transport.serialize_ms", "ms"),
    ("transport.ipc_bytes_per_query", "B"),
    ("write.df_to_parquet_ms", "ms"),
    ("write.bytes_per_row", "B"),
    ("queries.build_ms", "ms"),
    ("queries.build_jobs", "count"),
    ("queries.collect_ms", "ms"),
    ("queries.self_ms", "ms"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.unattributed_ms", "ms"),
    ("trace.unattributed_share", "ratio"),
]

_SPARK_PER_QUERY = {
    "spark.analysis_ms": "analysis_ms",
    "spark.optimization_ms": "optimization_ms",
    "spark.planning_ms": "planning_ms",
    "spark.codegen_compiles_per_query": "compiles",
    "spark.codegen_compile_ms": "compile_ms",
    "spark.jobs_per_query": "jobs",
    "spark.tasks_per_query": "tasks",
    "spark.exec_ms": "exec_ms",
    "spark.scan_bytes_per_query": "scan_bytes",
    "spark.scan_rows_per_query": "scan_rows",
    "spark.files_read_per_query": "files_read",
    "spark.shuffle_bytes_per_query": "shuffle_bytes",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer: Tracer, ops: list[dict], extra: dict) -> dict[str, float]:
    """Per-layer metrics over the traced ops.

    ``ops``: one dict per traced op with ``id``, ``kind`` (query, registry
    or write) and ``spark`` (the :class:`SparkProbe` counters, query ops
    only; registry ops also carry ``build_jobs``).  ``extra``: ``start_s``,
    ``jvm_peak_rss_mb``, ``write_bytes``, ``write_rows``."""
    spans = tracer.spans
    own = tracer.self_times_ns()
    by_op = tracer.op_spans()
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent >= 0:
            children[s.parent].append(i)

    def has_child(i: int, name: str) -> bool:
        return any(spans[c].name == name for c in children[i])

    queries = [o for o in ops if o["kind"] in ("query", "registry")]
    registry = [o for o in ops if o["kind"] == "registry"]
    writes = [o for o in ops if o["kind"] == "write"]
    nq, nr, nw = len(queries), len(registry), len(writes)
    query_ids = {o["id"] for o in queries}

    self_ns: dict[str, int] = defaultdict(int)
    named: dict[str, list[int]] = defaultdict(list)
    wall_ns = 0
    fs_calls = 0
    for op_id, idxs in by_op.items():
        for i in idxs:
            s = spans[i]
            self_ns[layer_of(s.name)] += own[i]
            named[s.name].append(i)
            if s.name == "bench:op":
                wall_ns += s.end - s.start
            if op_id in query_ids and s.name in FS_COUNTED and (
                s.parent < 0 or layer_of(spans[s.parent].name) != "fs"
            ):
                fs_calls += 1

    def total_ms(name: str) -> float:
        return sum(spans[i].end - spans[i].start for i in named[name]) / 1e6

    def per_query_self(layer: str) -> float:
        return _ratio(self_ns[layer] / 1e6, nq)

    relations_calls = named["relations:get_relation"]
    misses = sum(1 for i in relations_calls if has_child(i, "relations:_read"))
    plan_calls = named["relations:cached_sql"]
    plan_misses = sum(1 for i in plan_calls if has_child(i, "spark:sql"))
    schema_calls = named["relations:schema_names"]
    schema_misses = sum(1 for i in schema_calls if has_child(i, "relations:_parse_schema_names"))
    agg_calls = named["aggregate:aggregate_pq"]
    small = sum(1 for i in agg_calls if has_child(i, "session:get_small_query_session"))
    ipc_bytes = sum(len(spans[i].result or b"") for i in named["transport:serialize_pa_table_bytes"])
    collect_ms = sum(
        spans[i].end - spans[i].start
        for i in named["spark:collect"]
        if spans[i].parent >= 0 and spans[spans[i].parent].name == "bench:op"
    ) / 1e6
    build_ms = sum(
        spans[i].end - spans[i].start for name, idxs in named.items() if name.startswith("queries:") for i in idxs
    ) / 1e6
    overhead_ns = sum(tracer.overhead_ns.values())

    out = {
        "session.start_s": extra["start_s"],
        "session.jvm_peak_rss_mb": extra["jvm_peak_rss_mb"],
        "session.self_ms": per_query_self("session"),
        "tool.normalize_ms": per_query_self("tool"),
        "plans.aggregation.build_ms": per_query_self("plans.aggregation"),
        "fs.calls_per_query": _ratio(fs_calls, nq),
        "fs.ms_per_query": per_query_self("fs"),
        "relations.hot_hit_ratio": _ratio(len(relations_calls) - misses, len(relations_calls)),
        "relations.evictions_per_query": _ratio(len(named["relations:_evict"]), nq),
        "relations.get_relation_view_ms": _ratio(total_ms("relations:get_relation_view"), nq),
        "relations.plan_cache_hit_ratio": _ratio(len(plan_calls) - plan_misses, len(plan_calls)),
        "relations.schema_cache_hit_ratio": _ratio(len(schema_calls) - schema_misses, len(schema_calls)),
        "relations.schema_names_ms": _ratio(total_ms("relations:schema_names"), nq),
        "relations.self_ms": per_query_self("relations"),
        "aggregate.small_route_share": _ratio(small, len(agg_calls)),
        "aggregate.retries": float(tracer.retries.count),
        "aggregate.to_arrow_ms": _ratio(total_ms("spark:toArrow"), nq),
        "aggregate.self_ms": per_query_self("aggregate"),
        "spark.spill_bytes": float(sum(o["spark"]["spill_bytes"] for o in queries)),
        "spark.self_ms": per_query_self("spark"),
        "transport.serialize_ms": per_query_self("transport"),
        "transport.ipc_bytes_per_query": _ratio(ipc_bytes, nq),
        "write.df_to_parquet_ms": _ratio(total_ms("write:df_to_parquet"), nw),
        "write.bytes_per_row": _ratio(extra["write_bytes"], extra["write_rows"]),
        "queries.build_ms": _ratio(build_ms, nr),
        "queries.build_jobs": _ratio(sum(o.get("build_jobs", 0) for o in registry), nr),
        "queries.collect_ms": _ratio(collect_ms, nr),
        "queries.self_ms": _ratio(self_ns["queries"] / 1e6, nr),
        "trace.overhead_ratio": _ratio(wall_ns, wall_ns - overhead_ns),
        "trace.unattributed_ms": _ratio(self_ns["bench"] / 1e6, len(by_op)),
        "trace.unattributed_share": _ratio(self_ns["bench"], wall_ns),
    }
    for metric, key in _SPARK_PER_QUERY.items():
        out[metric] = _ratio(sum(o["spark"][key] for o in queries), nq)
    return {name: float(out[name]) for name, _ in PER_LAYER}

"""The workloads: set-up, warm-up, the timed closed loop and the checks.

One client in one process issues each op only after the previous one has
returned (closed loop).  A query op runs from the spec to base64 Arrow IPC
bytes: ``aggregate_pq`` then ``serialize_pa_table_base64``, the engine's
worker-to-caller envelope.  A registry op calls a registered query function
and collects its rows.  A write op publishes a pandas frame with
``df_to_parquet``; every run makes ``WRITE_OPS`` of them after set-up.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import fixtures, oracle, specs, stats
from perfbench.trace import PER_LAYER, SparkProbe, Tracer, layer_metrics

#: write ops timed per run, after set-up and one untimed write
WRITE_OPS = 7
#: a timed loop whose ops keep failing stops after this many times
#: ``--seconds`` of wall time
_MAX_WALL_FACTOR = 4
#: driver heap for local mode, sized for a shared 15 GiB host
HEAP = "3g"
#: registered-query corpus shipped with the benchmark (see corpus/SOURCE.md)
CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus", "sf0.01")
CORPUS_TABLES = ["documents", "lineitem", "orders"]

END_TO_END = [
    ("setup_s", "s"),
    ("query_p50_ms", "ms"),
    ("query_tail_ms", "ms"),
    ("queries_per_s", "1/s"),
    ("write_p50_ms", "ms"),
    ("write_mb_s", "MB/s"),
    ("bytes_stored_per_user_byte", "ratio"),
    ("batch_s", "s"),
]


def speed_probe_ms() -> float:
    """Median of three timings of a fixed pure-Python loop: recorded at the
    start and end of every run, so a host whose speed drifts shows in its
    results."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        total = 0
        for i in range(300_000):
            total += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def configure_environment(root: str, run_dir: str, cpus: int) -> dict:
    """Point every scratch location of Spark, the JVM and Python at the
    run's private directory and fix the engine's settings.  Must run before
    the first SparkSession starts."""
    for key in [k for k in os.environ if k.startswith("PARQUERY_SPARK_")]:
        del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    jtmp = os.path.join(run_dir, "jvm-tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    settings = {
        "PARQUERY_SPARK_MASTER": f"local[{cpus}]",
        "PARQUERY_SPARK_MEMORY": HEAP,
        "PARQUERY_SPARK_CONF_spark__sql__warehouse__dir": os.path.join(run_dir, "warehouse"),
        "PARQUERY_SPARK_CONF_spark__ui__showConsoleProgress": "false",
        "PARQUERY_SPARK_CONF_spark__driver__extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(settings)
    import tempfile

    tempfile.tempdir = tmp
    return settings


def _digest(table) -> str:
    """Content digest of a result table, independent of row order."""
    import pyarrow as pa

    names = sorted(table.column_names)
    table = table.select(names)
    if table.num_rows:
        table = table.sort_by([(n, "ascending") for n in names])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha1(sink.getvalue().to_pybytes()).hexdigest()


class Workload:
    """One run of one workload.  Subclasses supply the inputs, the warm-up,
    the timed loop and the correctness check."""

    name = ""
    #: consecutive timed ops that make one batch (``batch_s``)
    batch = 1

    def __init__(self, root: str, seed: int, seconds: float, trace: bool, t_process: float):
        self.root, self.seed, self.seconds = root, seed, seconds
        self.t_process = t_process
        self.work = os.path.join(root, ".perfbench_work")
        self.run_dir = os.path.join(self.work, "runs", f"{self.name}-{os.getpid()}")
        self.cpus = len(os.sched_getaffinity(0))
        self.info: dict = {"workload": self.name, "seed": seed, "trace": int(trace)}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.records: list[dict] = []  # timed query ops, in order
        self.write_records: list[dict] = []
        self.results: dict = {}  # check key -> {digest: result}
        self.tracer = Tracer() if trace else None
        self.probe: SparkProbe | None = None  # set while tracing
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def prepare(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.info["environment"] = configure_environment(self.root, self.run_dir, self.cpus)
        t0 = time.perf_counter()
        self.info["inputs"] = self.prepare_inputs()
        self.warm_path = os.path.join(self.run_dir, "warmup.parquet")
        fixtures.write_table(fixtures.warmup_table(self.seed), self.warm_path)
        self.info["inputs"]["prepare_s"] = time.perf_counter() - t0

    def prepare_inputs(self) -> dict:
        raise NotImplementedError

    def set_up(self) -> None:
        """The cold set-up, ``setup_s``: from process start to the end of the
        first op (engine imports, JVM launch, ``get_spark``, the small-query
        session and one warm-up ``aggregate_pq``), input generation
        excluded.  A JVM starts cold once per process, so a run has one
        sample."""
        from parquery_spark import aggregate
        from parquery_spark.session import get_small_query_session, get_spark

        self.spark = get_spark()
        get_small_query_session(self.spark)
        aggregate.aggregate_pq(self.warm_path, ["l_returnflag"], [["l_quantity", "sum"]])
        self.setup_s = time.perf_counter() - self.t_process - self.info["inputs"]["prepare_s"]
        self.info["setup"] = {"cold_s": self.setup_s}
        import duckdb
        import pyarrow
        import pyspark

        self.info["host"].update({
            "nproc": os.cpu_count(),
            "cpus": self.cpus,
            "heap": HEAP,
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
        })

    def tear_down(self) -> None:
        """Stop Spark, wait for the JVM to exit, remove the run directory."""
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            if proc is not None:
                # the JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- ops ----------------------------------------------------------------

    def _timed(self, op_id: int, fn):
        """(seconds, result, Spark counters) of ``fn``; counters only while
        tracing, read after the op's clock stops."""
        if not self.tracing:
            t0 = time.perf_counter_ns()
            out = fn()
            return (time.perf_counter_ns() - t0) / 1e9, out, {}
        mark = self.probe.begin(op_id) if self.probe else None
        t0 = time.perf_counter_ns()
        out = self.tracer.run_op(op_id, fn)
        took = (time.perf_counter_ns() - t0) / 1e9
        if mark is None:
            return took, out, {}
        frames = [
            s.arg for s in self.tracer.spans
            if s.op == op_id and s.name in ("spark:toArrow", "spark:collect") and s.arg is not None
        ]
        return took, out, self.probe.end(mark, frames)

    def _fail(self, what, tb: str) -> dict:
        self.failed += 1
        self.errors.append(f"{what}: {tb.strip().splitlines()[-1]}")
        print(f"perfbench: op failed: {what}\n{tb}", file=sys.stderr)
        return {"ok": False}

    def write_op(self, op_id: int, index: int, path: str) -> dict:
        from parquery_spark import write

        table = fixtures.write_frame_table(self.seed, index)
        frame = table.to_pandas()
        self.attempted += 1
        try:
            took, _, _ = self._timed(op_id, lambda: write.df_to_parquet(frame, path))
        except Exception:
            return self._fail({"kind": "write", "index": index}, traceback.format_exc())
        return {"id": op_id, "kind": "write", "ok": True, "s": took, "user_bytes": table.nbytes,
                "stored_bytes": os.path.getsize(path), "rows": table.num_rows}

    # -- the run ------------------------------------------------------------

    def warm_up(self) -> None:
        raise NotImplementedError

    def loop(self) -> None:
        """The timed closed loop."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.installed

    def writes(self) -> None:
        """``WRITE_OPS`` timed writes, after one untimed write that warms the
        write path."""
        out_dir = os.path.join(self.run_dir, "written")
        os.makedirs(out_dir)
        self.write_op(-1, 0, os.path.join(out_dir, "frame-0.parquet"))
        if self.tracer is not None:
            self.tracer.install()
        try:
            for k in range(1, WRITE_OPS + 1):
                rec = self.write_op(-1 - k, k, os.path.join(out_dir, f"frame-{k}.parquet"))
                if rec["ok"]:
                    self.write_records.append(rec)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()

    def timed(self) -> None:
        if self.tracer is not None:
            self.probe = SparkProbe(self.spark)
            self.tracer.install()
        try:
            self.loop()
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
        self.info["ops"] = {"timed_query_ops": len(self.records), "timed_s": sum(r["s"] for r in self.records)}

    def run(self) -> dict:
        phases = self.info["phase_s"] = {}
        speed = self.info["host"] = {"speed_probe_ms": {"start": speed_probe_ms()}}
        for phase in (self.prepare, self.set_up, self.writes, self.warm_up, self.timed, self.check):
            t0 = time.perf_counter()
            phase()
            phases[phase.__name__] = time.perf_counter() - t0
        speed["speed_probe_ms"]["end"] = speed_probe_ms()
        return self.layer_metrics() if self.tracer is not None else self.metrics()

    # -- results ------------------------------------------------------------

    def metrics(self) -> dict:
        queries = self.records
        writes = self.write_records
        if not queries or not writes:
            raise RuntimeError("no completed query or write ops to report")
        q_ms = [r["s"] * 1e3 for r in queries]
        p = stats.tail_percentile(len(q_ms))
        n = self.batch
        batches = [sum(r["s"] for r in queries[i:i + n]) for i in range(0, len(queries) - n + 1, n)]
        user = sum(r["user_bytes"] for r in writes)
        self.info["ops"].update({
            "write_ops": len(writes),
            "batch_ops": n,
            "batches": len(batches),
            "tail_percentile": p,
            "tail_samples_beyond": stats.beyond(q_ms, p),
        })
        values = {
            "setup_s": self.setup_s,
            "query_p50_ms": stats.percentile(q_ms, 50),
            "query_tail_ms": stats.percentile(q_ms, p),
            "queries_per_s": len(q_ms) / sum(r["s"] for r in queries),
            "write_p50_ms": stats.percentile([r["s"] * 1e3 for r in writes], 50),
            "write_mb_s": user / 1e6 / sum(r["s"] for r in writes),
            "bytes_stored_per_user_byte": sum(r["stored_bytes"] for r in writes) / user,
            "batch_s": statistics.median(batches),
        }
        return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}

    def layer_metrics(self) -> dict:
        writes = self.write_records
        extra = {
            "start_s": self.info["setup"]["cold_s"],
            "jvm_peak_rss_mb": self.probe.jvm_peak_rss_mb(),
            "write_bytes": sum(r["stored_bytes"] for r in writes),
            "write_rows": sum(r["rows"] for r in writes),
        }
        values = layer_metrics(self.tracer, self.records + writes, extra)
        trace_dir = os.path.join(self.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        self.tracer.dump(os.path.join(trace_dir, f"{self.name}-seed{self.seed}.jsonl"))
        self.info["missing_hooks"] = self.tracer.missing_hooks
        return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}


class Dashboard(Workload):
    """Hot, repeated ``aggregate_pq`` shapes over files that fit the engine's
    hot-relation cache."""

    name = "dashboard"
    batch = len(specs.CYCLE)  # one cycle of the op schedule: a dashboard page

    def prepare_inputs(self) -> dict:
        self.paths, info = fixtures.ensure_dashboard(os.path.join(self.work, "fixtures", "dashboard"), self.seed)
        return info

    def query_op(self, op_id: int, op: dict) -> dict:
        from parquery_spark import aggregate, transport

        path = self.paths[op["file"]]

        def call():
            table = aggregate.aggregate_pq(
                path, op["groupby"], op["measures"], data_filter=op["filters"], aggregate=op["aggregate"]
            )
            return table, transport.serialize_pa_table_base64(table)

        self.attempted += 1
        try:
            took, (table, _), counters = self._timed(op_id, call)
        except Exception:
            return self._fail(op, traceback.format_exc())
        key = specs.spec_key(op)
        self.results.setdefault(key, {}).setdefault(_digest(table), (op, table))
        return {"id": op_id, "kind": "query", "ok": True, "s": took, "key": key, "spark": counters}

    def warm_up(self) -> None:
        """Fill the hot-relation cache with every file, run each panel and
        drill-down once, as a long-running dashboard has them warm, then one
        untimed cycle of the op stream."""
        fill = {"groupby": ["l_linestatus"], "measures": [["l_discount", "sum"]], "filters": [], "aggregate": True}
        self.stream = specs.dashboard_ops(self.seed)
        ops = [dict(fill, file=i) for i in range(len(self.paths))] + specs.dashboard_warm()
        ops += [next(self.stream) for _ in specs.CYCLE]
        self.info["warm_up_s"] = [self.query_op(-1, op).get("s") for op in ops]
        self.warm_keys = {specs.spec_key(op) for op in ops}

    def loop(self) -> None:
        spent, op_id = 0.0, 0
        deadline = time.monotonic() + _MAX_WALL_FACTOR * self.seconds
        while spent < self.seconds and time.monotonic() < deadline:
            rec = self.query_op(op_id, next(self.stream))
            if rec["ok"]:
                self.records.append(rec)
                spent += rec["s"]
            op_id += 1
        seen, repeats = set(self.warm_keys), 0
        by_kind: dict[str, list[float]] = {}
        for r in self.records:
            repeats += r["key"] in seen
            seen.add(r["key"])
            # the warm-up consumed one whole cycle, so op i is CYCLE[i]
            by_kind.setdefault(specs.CYCLE[r["id"] % len(specs.CYCLE)], []).append(r["s"] * 1e3)
        self.info["repeat_share"] = repeats / max(len(self.records), 1)
        self.info["median_ms_by_kind"] = {k: statistics.median(v) for k, v in sorted(by_kind.items())}

    def check(self) -> None:
        """Every distinct result against DuckDB, outside the timed window."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.run_dir, 'duckdb-tmp')}'")
        con.execute(f"SET threads={self.cpus}")
        for i, path in enumerate(self.paths):
            con.execute(f"CREATE TABLE f{i} AS SELECT * FROM read_parquet('{path}')")
        for variants in self.results.values():
            for op, table in variants.values():
                why = oracle.same_table(table, oracle.duckdb_answer(con, f"f{op['file']}", fixtures.COLUMNS, op))
                if why is not None:
                    self.failed += 1
                    self.errors.append(f"wrong result for {op}: {why}")
        con.close()


class Registry(Workload):
    """Registered queries of the operator layer on a fixed corpus; the seed
    sets the query order of each pass."""

    name = "registry"
    batch = len(specs.REGISTRY_QUERIES)  # one pass

    def prepare_inputs(self) -> dict:
        import pyarrow.parquet as pq

        import __spark_entry__

        registered = __spark_entry__.queries()
        self.registry = {n: registered[n] for n in specs.REGISTRY_QUERIES}
        files = {t: os.path.join(CORPUS, f"{t}.parquet") for t in CORPUS_TABLES}
        return {
            "corpus": "sf0.01",
            "queries": specs.REGISTRY_QUERIES,
            "rows": {t: pq.ParquetFile(p).metadata.num_rows for t, p in files.items()},
            "bytes": {t: os.path.getsize(p) for t, p in files.items()},
        }

    def registry_op(self, op_id: int, name: str) -> dict:
        fn = self.registry[name]
        spark = self.spark
        build_jobs = []

        def call():
            if self.probe is None:
                df = fn(spark, CORPUS)
            else:
                df = self.tracer.wrap(f"queries:{name}", fn)(spark, CORPUS)
                t0 = time.perf_counter_ns()
                build_jobs.append(len(self.probe.sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op_id}")))
                self.tracer.overhead_ns[op_id] += time.perf_counter_ns() - t0
            return df.columns, df.collect()

        self.attempted += 1
        try:
            took, (cols, rows), counters = self._timed(op_id, call)
        except Exception:
            return self._fail({"query": name}, traceback.format_exc())
        canon = oracle.canonical_rows(list(cols), [tuple(r) for r in rows])
        digest = hashlib.sha1(repr((sorted(cols), canon)).encode()).hexdigest()
        self.results.setdefault(name, {}).setdefault(digest, (list(cols), canon))
        rec = {"id": op_id, "kind": "registry", "ok": True, "s": took, "key": name, "spark": counters}
        if build_jobs:
            rec["build_jobs"] = build_jobs[0]
        return rec

    def warm_up(self) -> None:
        """One untimed pass, which builds every query's artifacts and
        caches."""
        self.info["warm_up_s"] = {
            op["query"]: self.registry_op(-1, op["query"]).get("s") for op in specs.registry_pass(self.seed, 0)
        }

    def loop(self) -> None:
        """Whole passes until ``seconds`` of op time, and at least two."""
        spent, op_id, pass_no = 0.0, 0, 1
        deadline = time.monotonic() + _MAX_WALL_FACTOR * self.seconds
        while (spent < self.seconds or pass_no <= 2) and time.monotonic() < deadline:
            for op in specs.registry_pass(self.seed, pass_no):
                rec = self.registry_op(op_id, op["query"])
                if rec["ok"]:
                    self.records.append(rec)
                    spent += rec["s"]
                op_id += 1
            pass_no += 1
        by_query: dict[str, list[float]] = {}
        for r in self.records:
            by_query.setdefault(r["key"], []).append(r["s"] * 1e3)
        self.info["median_ms_by_query"] = {k: statistics.median(v) for k, v in sorted(by_query.items())}

    def check(self) -> None:
        """Every distinct result against the query's registered DuckDB
        oracle, exactly."""
        import duckdb

        import __spark_entry__

        sqls = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.run_dir, 'duckdb-tmp')}'")
        for t in CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(CORPUS, t + '.parquet')}')")
        for name, variants in self.results.items():
            rel = con.sql(sqls[name])
            want_cols = list(rel.columns)
            want = oracle.canonical_rows(want_cols, rel.fetchall())
            for cols, got in variants.values():
                if sorted(cols) != sorted(want_cols) or got != want:
                    self.failed += 1
                    self.errors.append(f"wrong result for {name}")
        con.close()


WORKLOADS = {w.name: w for w in (Dashboard, Registry)}

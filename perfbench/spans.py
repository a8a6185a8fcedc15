"""Outside-in layer tracing for ``--trace 1`` runs.

The package is not edited: while a traced run is live, the benchmark
wraps each layer's public functions (``LAYER_FUNCTIONS``) in every
package module that holds them, so a call opens a span named after the
layer. Every op runs under its own Spark job group. After each op,
outside its wall, the tracer reads what Spark recorded:

- jobs of the op's group (``StatusTracker``) with their submission and
  completion times and stages (core status store);
- per stage: run time, CPU time, shuffle, spill, peak memory, bytes in
  and out, and the SQL accumulators of Python workers and file scans;
- the op's SQL executions (SQL status store): final physical plans,
  cached-relation scans, Python-node output rows;
- Catalyst phase times from ``QueryPlanningTracker``, by planning each
  DataFrame the op wrote once more.

Self time: a span's duration minus what its child spans cover. A Spark
job belongs to the innermost span open when it was submitted, and the
part of a span's self time covered by its jobs goes to ``exec`` and
``udf``, split by the Python workers' share of executor run time. In a
span that plans and runs a query (the query op's ``noop`` write, the
store's parquet write, ``DataFrame.collect``) the driver time before its
first job is ``catalyst``. Self time of spans outside ``SELF_LAYERS``
(the op itself, the ``cli`` entry point's own code) is ``unattributed``.
"""

from __future__ import annotations

import importlib
import re
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

PKG = "data_integration_pipelines_spark"

#: layer -> (module, function) pairs wrapped while tracing
LAYER_FUNCTIONS = {
    "session": [("session", "get_spark")],
    "catalog": [("catalog", "load_table")],
    "cache": [("operators.cache", "bounded_persist"), ("operators.cache", "presented")],
    "sources": [("sources.swc", "read_swc_points")],
    "pipelines": [("pipelines", "morphology_quality")],
    "upsert": [
        ("operators.merge", "merge_classify"),
        ("streaming.upsert", "_versions"),
        ("streaming.upsert", "read_store"),
        ("streaming.upsert", "upsert_batch"),
    ],
    "sinks": [("sources.sinks", "write_json_report"), ("sources.sinks", "write_tsv")],
}

#: layers that get a per-op self time, in report order
SELF_LAYERS = ("session", "plans", "catalyst", "exec", "udf", "cache", "catalog", "sources",
               "pipelines", "upsert", "sinks", "unattributed")

#: (is a file scan node, SQL metric name) -> per-layer metric
_NODE_METRICS = {
    (False, "time to run Python workers"): "udf.worker_s",
    (False, "data sent to Python workers"): "udf.bytes_sent",
    (False, "data returned from Python workers"): "udf.bytes_received",
    (False, "number of output rows"): "udf.rows",
    (True, "number of files read"): "sources.files",
    (True, "size of files read"): "sources.bytes",
}
_CACHED_SCAN = re.compile(r"^[\s:+\-|]*InMemoryTableScan ", re.M)
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "FlatMapGroupsInArrow", "PythonMapInArrow")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, lo, hi = 0.0, None, None
    for s, e in sorted(intervals):
        if hi is None or s > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = s, e
        else:
            hi = max(hi, e)
    return total + (hi - lo if hi is not None else 0.0)


def _metric_value(text: str) -> float:
    """A SQL metric as the SQL store formats it (``1,234``, ``12.3 KiB``,
    ``792 ms``, or a ``total (min, med, max ...)`` block whose second line
    starts with the total), in bytes, seconds or a plain count."""
    line = text.strip().split("\n")[-1] if text.startswith("total") else text.strip()
    parts = line.replace(",", "").split()
    if not parts:
        return 0.0
    return float(parts[0]) * _UNITS.get(parts[1], 1) if len(parts) > 1 else float(parts[0])


def jiter(seq):
    """Iterate a JVM collection (Scala Seq or Java List) through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


class NullTracer:
    """Untraced runs: every hook is free."""

    def span(self, name, layer=None, planned=False):
        return nullcontext()

    def attach(self, spark):
        pass

    def setup_round(self, i):
        return nullcontext()

    def mark_built(self, df):
        pass

    def op(self, name):
        return nullcontext()

    def close_op(self, wall):
        pass

    def suspended(self):
        return nullcontext()


class Tracer(NullTracer):
    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.ops: list[dict] = []
        self.setup: list[dict] = []
        self.op_id: int | None = None
        self.paused = False
        self.written: list = []
        self.spark = None
        self._wrap_layers()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name, layer=None, planned=False):
        if self.paused:
            yield None
            return
        t = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer or name,
               "parent": self.stack[-1] if self.stack else None, "op": self.op_id,
               "planned": planned, "start": time.time(), "end": None, "cost": 0.0}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        rec["cost"] = time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            self.stack.pop()
            rec["cost"] += time.perf_counter() - t

    def _wrap_layers(self):
        """Replace each layer function, in every package module that holds
        it, by a wrapper that opens a span; wrap the parquet writer and
        ``DataFrame.collect`` too."""
        targets = {}
        for layer, fns in LAYER_FUNCTIONS.items():
            for mod, fn in fns:
                m = importlib.import_module(f"{PKG}.{mod}")
                targets[getattr(m, fn)] = (layer, f"{mod}.{fn}")
        for mod in ("cli", "plans"):
            importlib.import_module(f"{PKG}.{mod}")
        wrapped = {orig: self._wrapper(orig, layer, qual) for orig, (layer, qual) in targets.items()}
        for name, mod in list(sys.modules.items()):
            if mod is not None and (name == PKG or name.startswith(PKG + ".")):
                for attr, val in list(vars(mod).items()):
                    if callable(val) and val in wrapped:
                        setattr(mod, attr, wrapped[val])

        from pyspark.sql.readwriter import DataFrameWriter

        orig_parquet, tracer = DataFrameWriter.parquet, self

        def parquet(writer, *a, **kw):
            if tracer.paused or tracer.op_id is None:
                return orig_parquet(writer, *a, **kw)
            tracer.written.append(writer._df)
            with tracer.span("DataFrameWriter.parquet", layer="upsert", planned=True):
                return orig_parquet(writer, *a, **kw)

        DataFrameWriter.parquet = parquet

        from pyspark.sql.classic.dataframe import DataFrame

        orig_collect = DataFrame.collect

        def collect(df):
            if tracer.paused or tracer.op_id is None:
                return orig_collect(df)
            with tracer.span("DataFrame.collect", layer="exec", planned=True):
                return orig_collect(df)

        DataFrame.collect = collect

    def _wrapper(self, orig, layer, qual):
        tracer = self

        def traced(*a, **kw):
            with tracer.span(qual, layer=layer):
                return orig(*a, **kw)

        traced.__wrapped__, traced.__name__, traced.__doc__ = orig, orig.__name__, orig.__doc__
        return traced

    def attach(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()

    def _drain(self):
        """Wait until Spark's listeners have recorded every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def setup_round(self, i):
        first = len(self.spans)
        t0 = time.time()
        yield
        wall = time.time() - t0
        self._drain()
        rec = {"round": i, "wall_s": wall}
        tops = [s for s in self.spans[first:] if s["parent"] is None]
        for s in tops:
            rec[f"{s['layer']}_s"] = rec.get(f"{s['layer']}_s", 0.0) + s["end"] - s["start"]
        catalog = [s for s in tops if s["layer"] == "catalog"]
        rec["catalog_jobs"] = sum(
            1 for j in jiter(self.jsc.statusStore().jobsList(None))
            if not j.submissionTime().isEmpty()
            and any(s["start"] <= j.submissionTime().get().getTime() / 1000.0 <= s["end"]
                    for s in catalog)
        )
        self.setup.append(rec)

    @contextmanager
    def suspended(self):
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    # -- ops -----------------------------------------------------------------

    @contextmanager
    def op(self, name):
        from data_integration_pipelines_spark.operators.cache import pool_size

        sc = self.spark.sparkContext
        self.op_id = len(self.ops)
        rec = {"op": name, "group": f"perfbench-op-{self.op_id}", "pool_at_start": pool_size(),
               "sql_before": int(self.spark._jsparkSession.sharedState().statusStore()
                                 .executionsCount())}
        self.ops.append(rec)
        self.written = []
        sc.setJobGroup(rec["group"], name, False)
        try:
            with self.span(name, layer="op"):
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_id = None

    def mark_built(self, df):
        from data_integration_pipelines_spark.operators.cache import pool_size

        if self.paused:
            return
        self.ops[-1]["pool_after_build"] = pool_size()
        self.written.append(df)

    def close_op(self, wall):
        """Read Spark's records of the op just finished (outside its wall)."""
        from data_integration_pipelines_spark.operators.cache import pool_size

        t0 = time.perf_counter()
        self._drain()
        rec, op_id = self.ops[-1], len(self.ops) - 1
        rec["wall_s"] = wall
        rec["cache.pool_after_build"] = rec.pop("pool_after_build", pool_size())
        rec["cache.pool_after_exec"] = pool_size()
        rec["cache.mem_bytes"] = sum(int(r.memSize()) for r in self.jsc.getRDDStorageInfo())
        spans = [s for s in self.spans if s["op"] == op_id]
        jobs = self._jobs(rec["group"])
        rec.update(self._sql(rec.pop("sql_before")))
        rec.update(self._attribute(spans, jobs, wall, rec["udf.worker_s"]))
        rec.update(self._phases())
        rec["accounted_share"] = 1 - rec["self_s"]["unattributed"] / wall
        rec["trace.overhead_s"] = sum(s["cost"] for s in spans)
        rec["trace.collect_s"] = time.perf_counter() - t0

    def _jobs(self, group):
        store = self.jsc.statusStore()
        jobs = []
        for jid in sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group)):
            j = store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            stages = [self._stage(int(s)) for s in jiter(j.stageIds())]
            jobs.append({"id": jid, "start": sub.get().getTime() / 1000.0,
                         "end": done.get().getTime() / 1000.0,
                         "stages": [s for s in stages if s is not None]})
        return jobs

    def _stage(self, sid):
        from py4j.protocol import Py4JJavaError

        try:
            st = self.jsc.statusStore().lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that never ran is not in the store
            return None
        if str(st.status()) == "SKIPPED":
            return {"skipped": True}
        return {"skipped": False, "tasks": int(st.numTasks()),
                "run_ms": int(st.executorRunTime()), "cpu_ns": int(st.executorCpuTime()),
                "shuffle_read": int(st.shuffleReadBytes()),
                "shuffle_write": int(st.shuffleWriteBytes()),
                "spill": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
                "peak_mem": int(st.peakExecutionMemory()), "output": int(st.outputBytes())}

    def _attribute(self, spans, jobs, wall, py_s):
        """Self time per layer (summing to the op span) and job counts."""
        kids: dict = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)
        owner = {}
        for j in jobs:
            inner = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            owner[j["id"]] = max(inner, key=lambda s: s["start"]) if inner else None
        ran = [st for j in jobs for st in j["stages"] if not st["skipped"]]
        run_ms = sum(st["run_ms"] for st in ran)
        udf_share = min(1.0, py_s * 1000 / run_ms) if run_ms else 0.0

        self_s = dict.fromkeys(SELF_LAYERS, 0.0)
        for s in spans:
            lo, hi = s["start"], s["end"]
            child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            own = clip([(j["start"], j["end"]) for j in jobs if owner[j["id"]] is s], lo, hi)
            in_kids = union_length(child)
            job_s = union_length(own + child) - in_kids
            driver = max(0.0, (hi - lo) - in_kids - job_s)
            if s["planned"]:
                first = min((a for a, _ in own), default=hi)
                plan = min(driver, max(0.0, first - lo - union_length(clip(child, lo, first))))
                self_s["catalyst"] += plan
                driver -= plan
            self_s[s["layer"] if s["layer"] in self_s else "unattributed"] += driver
            self_s["exec"] += job_s * (1 - udf_share)
            self_s["udf"] += job_s * udf_share

        builds = [(s["start"], s["end"]) for s in spans if s["layer"] == "plans"]
        build_jobs = [(j["start"], j["end"]) for j in jobs
                      if any(a <= j["start"] <= b for a, b in builds)]
        every = [st for j in jobs for st in j["stages"]]
        job_wall = union_length([(j["start"], j["end"]) for j in jobs])
        cpu_s = sum(st["cpu_ns"] for st in ran) / 1e9
        layer_wall = lambda name: sum(s["end"] - s["start"] for s in spans if s["name"] == name)  # noqa: E731
        return {
            "self_s": self_s,
            "plans.build_s": sum(b - a for a, b in builds),
            "plans.build_self_s": sum(b - a for a, b in builds) - union_length(build_jobs),
            "plans.build_jobs": len(build_jobs),
            "plans.build_job_s": union_length(build_jobs),
            "exec.wall_s": job_wall,
            "exec.jobs": len(jobs),
            "exec.stages": len(every),
            "exec.stages_skipped": sum(1 for st in every if st["skipped"]),
            "exec.tasks": sum(st["tasks"] for st in ran),
            "exec.job_gap_s": max(0.0, wall - job_wall),
            "exec.run_s": run_ms / 1000.0,
            "exec.cpu_s": cpu_s,
            "exec.cpu_util": cpu_s / (job_wall * self.cpus) if job_wall else 0.0,
            "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in ran),
            "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in ran),
            "exec.spill_bytes": sum(st["spill"] for st in ran),
            "exec.peak_mem_bytes": max((st["peak_mem"] for st in ran), default=0),
            "pipelines.quality_s": layer_wall("pipelines.morphology_quality"),
            "upsert.read_store_s": layer_wall("streaming.upsert.read_store"),
            "upsert.write_s": layer_wall("DataFrameWriter.parquet"),
            "upsert.bytes_written": sum(
                st["output"] for j in jobs for st in j["stages"] if not st["skipped"]
                and owner[j["id"]] is not None and owner[j["id"]]["name"] == "DataFrameWriter.parquet"
            ),
            "sinks.write_s": sum(s["end"] - s["start"] for s in spans if s["layer"] == "sinks"),
        }

    def _sql(self, before):
        """Plan size, cached-relation scans and Python-node output rows
        over the op's SQL executions."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount())
        scans = 0
        totals = dict.fromkeys(_NODE_METRICS.values(), 0.0)
        for e in jiter(store.executionsList(before, max(0, n - before))):
            phys = str(e.physicalPlanDescription()).split("== Physical Plan ==", 1)[-1]
            phys = phys.split("\n\n", 1)[0]
            scans += len(_CACHED_SCAN.findall(phys))
            found = self._node_metrics(store, e.executionId())
            for k, v in found.items():
                totals[k] = totals.get(k, 0) + v
        return {"cache.scans": scans, "sql_executions": n - before, **totals}

    @staticmethod
    def _node_metrics(store, exec_id):
        """Python-worker and file-scan metrics of one SQL execution's nodes."""
        values = store.executionMetrics(exec_id)
        out = {}
        for node in jiter(store.planGraph(exec_id).allNodes()):
            name = str(node.name())
            if not (name.startswith(_PY_NODES) or name.startswith("Scan ")):
                continue
            for m in jiter(node.metrics()):
                key = _NODE_METRICS.get((name.startswith("Scan "), m.name()))
                v = values.get(m.accumulatorId()) if key else None  # a Scala Option
                if v is not None and not v.isEmpty():
                    out[key] = out.get(key, 0) + _metric_value(str(v.get()))
        return out

    def _phases(self):
        """Catalyst phase times of each DataFrame the op wrote, from
        ``QueryPlanningTracker`` after planning it once more."""
        out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
               "catalyst.planning_ms": 0.0, "catalyst.plan_chars": 0}
        for df in self.written:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            out["catalyst.plan_chars"] += len(qe.optimizedPlan().toString())
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                got = phases.get(ph)  # a Scala Option
                if not got.isEmpty():
                    out[f"catalyst.{ph}_ms"] += float(got.get().endTimeMs() - got.get().startTimeMs())
        self.written = []
        return out

    # -- output --------------------------------------------------------------

    def report(self):
        return {"setup": self.setup, "ops": [r for r in self.ops if "self_s" in r],
                "spans": [{k: s[k] for k in ("id", "name", "layer", "parent", "op", "start", "end")}
                          for s in self.spans]}

    def metrics(self, record, per_layer):
        """Per-layer metrics: per-op values summed over each complete pass,
        median over passes; set-up values are medians over set-up rounds."""
        done = [r for r in self.ops if "self_s" in r]
        by_pass: list[list[dict]] = []
        i = 0
        for n in record["pass_sizes"]:
            by_pass.append(done[i:i + n])
            i += n
        by_pass = [p for p in by_pass if p] or [done]

        def value(r, name):
            if name.endswith(".self_s"):
                return r["self_s"][name.split(".")[0]]
            if name == "catalyst.plan_s":
                return r["self_s"]["catalyst"]
            if name == "sources.read_s":
                return r["self_s"]["sources"]
            return r.get(name, 0)

        def per_pass(name, agg=sum):
            return statistics.median(agg([value(r, name) for r in p]) for p in by_pass)

        out = {}
        for name, unit in per_layer:
            if name in SETUP_METRICS:
                out[name] = statistics.median(SETUP_METRICS[name](s) for s in self.setup)
            elif name in record["derived"]:
                out[name] = record["derived"][name]
            elif name == "exec.cpu_util":
                cpu = per_pass("exec.cpu_s")
                wall = per_pass("exec.wall_s")
                out[name] = cpu / (wall * self.cpus) if wall else 0.0
            elif name == "exec.peak_mem_bytes":
                out[name] = per_pass(name, max)
            elif name == "trace.accounted_share":
                out[name] = min(r["accounted_share"] for r in done)
            else:
                out[name] = per_pass(name)
        return {k: {"value": float(out[k]), "unit": u} for k, u in per_layer}


SETUP_METRICS = {
    "session.start_s": lambda s: s.get("session_s", 0.0),
    "catalog.load_s": lambda s: s.get("catalog_s", 0.0),
    "catalog.jobs": lambda s: s.get("catalog_jobs", 0),
}


def make_tracer(enabled: bool, cpus: int):
    return Tracer(cpus) if enabled else NullTracer()

"""Repository benchmark: one command, one JSON result line per run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. ``BENCHMARK.json`` names the gated
workloads (``curation``, ``writeback``); ``workloads.json`` pins their
ops and sizes and also defines ``relational``, which is run by hand.
Each run:

1. makes a fresh working directory under ``.perfbench_runs/`` and points
   every scratch location there (cwd, TMPDIR, Spark local dirs, the JVM
   temp dir), so nothing outside the checkout is read or written and no
   earlier run leaves tables behind;
2. generates its inputs (``gen.py``): the parquet tables from a fixed
   corpus seed, and for ``writeback`` the SWC files from ``--seed``;
3. sets up ``setup_repeats`` times (session, catalog, bucketed
   orders/lineitem build, warm-up query) and reports the median as
   ``setup_s``;
4. warms the workload up, untimed: one pass over the pinned queries, or
   a few write-back rounds;
5. runs passes over the pinned ops in a ``--seed``-shuffled order, one
   op at a time (closed loop, one client), for about ``--seconds``
   seconds and at least one pass; the persist pool is emptied and
   checked empty before every op, outside the timer;
6. checks every timed op against its oracle, outside the timer: query
   ops through ``tests/oracle_compare``, write-back rounds against the
   generator's record of the store;
7. prints a detail line, then the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` the same ops run with spans at every layer boundary
(``spans.py``) and the metrics are the per-layer ones. The detail report
lands in ``.perfbench_out/``. The exit status is non-zero when an op
failed.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import traceback
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "data_integration_pipelines_spark"
COMPARATOR = ROOT / "tests" / "oracle_compare.py"
CONFIG = json.loads((HERE / "workloads.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the table scale (self-test)")
    p.add_argument("--swc-files", type=int, default=None, help="override the SWC file count (self-test)")
    return p.parse_args(argv)


def isolate(run_dir: Path, cpus: int) -> None:
    """Point every scratch location into ``run_dir`` before the JVM starts,
    and put the package on the Python workers' path whatever the cwd."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = CONFIG["driver_mem"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    (run_dir / "work").mkdir()
    os.chdir(run_dir / "work")
    for p in (str(ROOT), str(HERE), str(ROOT / "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)


class RssSampler:
    """Peak resident memory of every process this one started (the driver
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        return kids

    def sample_kb(self) -> int:
        kids, todo, total = self._children(), [os.getpid()], 0
        while todo:
            for c in kids.get(todo.pop(), []):
                todo.append(c)
                try:
                    with open(f"/proc/{c}/statm") as f:
                        total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
                except (OSError, IndexError, ValueError):
                    pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self.sample_kb())


# --- set-up --------------------------------------------------------------------


def setup_once(data_dir: str, tracer):
    """Session, catalog, bucketed fact tables, one warm-up query."""
    from data_integration_pipelines_spark.catalog import TABLES, load_table
    from data_integration_pipelines_spark.plans import REGISTRY
    from data_integration_pipelines_spark.session import get_spark
    from data_integration_pipelines_spark.sources.bucketing import ensure_cobucketed_facts

    with tracer.span("get_spark", layer="session"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark)
    with tracer.span("catalog and bucketed tables", layer="catalog"):
        for t in TABLES:
            load_table(spark, data_dir, t)
        ensure_cobucketed_facts(spark, data_dir)
    with tracer.span("warm-up query", layer="warmup"):
        REGISTRY[CONFIG["warmup_query"]].fn(spark, data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    return spark


def setup(data_dir: str, repeats: int, tracer):
    """Set up ``repeats`` times; every repeat but the last is torn down
    (session stopped, warehouse deleted) so each one redoes all the work."""
    from data_integration_pipelines_spark.operators.cache import release_cached

    walls = []
    for i in range(repeats):
        with tracer.setup_round(i):
            t0 = time.perf_counter()
            spark = setup_once(data_dir, tracer)
            walls.append(time.perf_counter() - t0)
        release_cached()
        if i < repeats - 1:
            spark.stop()
            shutil.rmtree("spark-warehouse", ignore_errors=True)
    return spark, walls


# --- ops -------------------------------------------------------------------------


class Op:
    """One unit of closed-loop work; ``run`` is timed, ``check`` is not."""

    name = ""

    def run(self, spark, tracer):
        raise NotImplementedError

    def check(self, spark) -> tuple[bool, str]:
        raise NotImplementedError


class QueryOp(Op):
    """A registered query: build (``Query.fn``), then a full ``noop``
    write, which plans and executes it."""

    def __init__(self, q, data_dir: str):
        self.q, self.name, self.data_dir = q, q.name, data_dir
        self.df = None

    def run(self, spark, tracer):
        with tracer.span("Query.fn", layer="plans"):
            self.df = self.q.fn(spark, self.data_dir)
        tracer.mark_built(self.df)
        with tracer.span("noop write", layer="exec", planned=True):
            self.df.write.format("noop").mode("overwrite").save()

    def check(self, spark):
        from oracle_compare import compare_query

        from data_integration_pipelines_spark.plans.base import Query

        built = self.df
        frozen = Query(self.name, lambda _s, _d: built, self.q._oracle)
        return compare_query(spark, frozen, self.data_dir)


class GopherKeepOp(QueryOp):
    """Downstream use of the Gopher filter: its verdict over the first
    ``k`` documents by ``doc_id``, filtered to the rejected ones."""

    def __init__(self, data_dir: str, k: int):
        self.name, self.data_dir, self.k = f"gopher_full_filter_frame_reject_{k}", data_dir, k
        self.df = None

    def run(self, spark, tracer):
        from pyspark.sql import functions as F

        from data_integration_pipelines_spark.catalog import load_table
        from data_integration_pipelines_spark.operators.gopher import gopher_full_filter_frame

        with tracer.span("gopher_full_filter_frame", layer="plans"):
            docs = load_table(spark, self.data_dir, "documents").orderBy("doc_id").limit(self.k)
            self.df = gopher_full_filter_frame(docs).filter(~F.col("keep"))
        tracer.mark_built(self.df)
        with tracer.span("noop write", layer="exec", planned=True):
            self.df.write.format("noop").mode("overwrite").save()

    def oracle_sql(self) -> str:
        """The registered ``gopher_full_filter`` oracle, re-pointed from its
        derived corpus at the raw first-``k`` documents."""
        from data_integration_pipelines_spark.plans import REGISTRY
        from data_integration_pipelines_spark.plans import queries_text as qt

        sql = REGISTRY["gopher_full_filter"].oracle
        derived = qt._GDOC_CTE.replace("gdoc AS", "rep AS").strip()
        raw = (
            "rep AS (SELECT doc_id, text FROM "
            f"(SELECT * FROM documents ORDER BY doc_id LIMIT {self.k}))"
        )
        if derived not in sql:
            raise RuntimeError("gopher_full_filter oracle no longer has the expected corpus CTE")
        body = sql.replace(derived, raw)
        return f"SELECT * FROM ({body}) WHERE NOT keep"

    def check(self, spark):
        from oracle_compare import compare_frames, duckdb_run

        return compare_frames(self.df.toPandas(), duckdb_run(self.oracle_sql(), self.data_dir))


class WritebackRound(Op):
    """One ``annotate`` round over the current SWC directory; the corpus
    is mutated before the round and the store checked after it, both
    outside the timer."""

    def __init__(self, corpus, store: str, index: int):
        self.corpus, self.store, self.name = corpus, store, f"annotate_round_{index}"
        self.report_dir = os.path.join(os.path.dirname(store), "annotate_out")
        self.counts: dict = {}
        self.result: dict = {}

    def prepare(self):
        self.counts = self.corpus.mutate()

    def run(self, spark, tracer):
        from data_integration_pipelines_spark.cli import main

        out = io.StringIO()
        with tracer.span("cli.main annotate", layer="cli"), contextlib.redirect_stdout(out):
            rc = main(["annotate", "--swc-dir", self.corpus.root, "--store", self.store,
                       "--output-dir", self.report_dir])
        if rc != 0:
            raise RuntimeError(f"annotate exited {rc}")
        self.result = json.loads(out.getvalue().strip().splitlines()[-1])

    def check(self, spark):
        self.corpus.commit()
        ok, why, rows = check_store(self.store, self.result, self.counts, self.corpus)
        self.result["rows_written"] = rows
        self.result["files"] = len(self.corpus.live)
        self.result["report_bytes"] = sum(
            os.path.getsize(os.path.join(self.report_dir, f)) for f in os.listdir(self.report_dir)
        )
        return ok, why


def latest_store(store: str):
    import pandas as pd

    versions = sorted(
        int(d[2:]) for d in os.listdir(store)
        if d.startswith("v=") and os.path.exists(os.path.join(store, d, "_SUCCESS"))
    )
    return versions[-1], pd.read_parquet(os.path.join(store, f"v={versions[-1]}"))


def check_store(store: str, result: dict, counts: dict, corpus) -> tuple[bool, str, int]:
    """The store's latest version against the generator's record:
    latest ``n_points``, ``_rev`` and ``_deprecated`` per target.
    Returns (ok, why, rows in the version)."""
    version, df = latest_store(store)
    if version != corpus.round:
        return False, f"store at v={version}, expected v={corpus.round}", len(df)
    acts = result.get("actions", {})
    want_acts = {k: v for k, v in counts.items() if v}
    if counts and acts != want_acts:
        return False, f"actions {acts} != generated {want_acts}", len(df)
    if df["target_id"].duplicated().any():
        return False, "duplicate target rows", len(df)
    got = {
        t: (int(n), int(rev), bool(dep))
        for t, n, rev, dep in zip(df["target_id"], df["n_points"], df["_rev"], df["_deprecated"])
    }
    want = {k: (t.n_points, t.rev, t.deprecated) for k, t in corpus.expected.items()}
    if got != want:
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        return False, f"{len(bad)} targets differ, e.g. {bad[0]}: {got.get(bad[0])} vs {want.get(bad[0])}", len(df)
    return True, f"v={version}, {len(df)} rows", len(df)


# --- the workload loop -----------------------------------------------------------


def query_ops(spec: dict, data_dir: str) -> list[Op]:
    from data_integration_pipelines_spark.plans import REGISTRY

    ops: list[Op] = [QueryOp(REGISTRY[n], data_dir) for n in spec["ops"]]
    if spec.get("gopher_keep_docs"):
        ops.append(GopherKeepOp(data_dir, spec["gopher_keep_docs"]))
    return ops


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def quiesce(spark, timeout: float = 30.0) -> None:
    """Empty the persist pool and wait until Spark has dropped the blocks
    of every RDD no longer persisted (``release_cached`` unpersists
    without blocking), so that no op pays for the previous one's clean-up."""
    from spans import jiter

    from data_integration_pipelines_spark.operators.cache import release_cached

    release_cached()
    sc = spark.sparkContext._jsc.sc()
    master = sc.env().blockManager().master()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        live = {int(k) for k in jiter(sc.getPersistentRDDs().keys())}
        statuses = master.getStorageStatus()
        if all(b.rddId() in live for i in range(len(statuses))
               for b in jiter(statuses[i].rddBlocks().keys())):
            return
        time.sleep(0.02)


def run_op(op: Op, spark, tracer, record: dict) -> float | None:
    """Time and check one op and record it; returns its wall, or None
    when it failed."""
    from data_integration_pipelines_spark.operators.cache import pool_size, release_cached

    quiesce(spark)
    if pool_size() != 0:
        record["errors"].append(f"{op.name}: persist pool not empty at op start")
        return None
    if isinstance(op, WritebackRound):
        op.prepare()
    steal0, total0 = cpu_ticks()
    try:
        with tracer.op(op.name):
            t0 = time.perf_counter()
            op.run(spark, tracer)
            wall = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 - every failure counts, none stops the run
        record["errors"].append(f"{op.name}: {traceback.format_exc(limit=-3)[-1500:]}")
        return None
    steal1, total1 = cpu_ticks()
    tracer.close_op(wall)
    t_check = time.perf_counter()
    try:
        ok, why = op.check(spark)
    except Exception:  # noqa: BLE001 - a check that raises is a failed op
        ok, why = False, f"check raised {traceback.format_exc(limit=-3)[-1500:]}"
    finally:
        release_cached()
    check_s = time.perf_counter() - t_check
    record["check_s"] += check_s
    if not ok:
        record["errors"].append(f"{op.name}: {why}")
        return None
    record["ops"].append({"op": op.name, "wall_s": wall, "check_s": check_s,
                          "steal_share": (steal1 - steal0) / max(1, total1 - total0)})
    if isinstance(op, WritebackRound):
        record["rounds"].append({"wall_s": wall, **op.result})
    return wall


def run_workload(spec: dict, spark, data_dir: str, run_dir: Path,
                 seed: int, seconds: float, tracer, record: dict) -> None:
    rng = random.Random(seed)
    if spec["kind"] == "query":
        ops = query_ops(spec, data_dir)
        next_pass = lambda: rng.sample(ops, len(ops))  # noqa: E731
        warm = [op for _ in range(spec.get("warmup_passes", 0)) for op in next_pass()]
    else:
        corpus, store = record["corpus"], str(run_dir / "store")
        counter = itertools.count(1)
        rounds = lambda n: [WritebackRound(corpus, store, next(counter)) for _ in range(n)]  # noqa: E731
        next_pass = lambda: rounds(spec["rounds_per_pass"])  # noqa: E731
        warm = rounds(spec.get("warmup_rounds", 0))
    warm_pass(warm, spark, tracer, record)
    t_start = time.perf_counter()
    while True:
        pass_ops = next_pass()
        walls = []
        for op in pass_ops:
            record["attempted"] += 1
            wall = run_op(op, spark, tracer, record)
            if wall is None:
                record["failed"] += 1
            else:
                walls.append(wall)
        if len(walls) == len(pass_ops):
            record["passes"].append(sum(walls))
            record["pass_sizes"].append(len(walls))
        elapsed = time.perf_counter() - t_start
        # stop when another pass of the mean length would overrun
        if not record["passes"] or elapsed * (1 + 1 / len(record["passes"])) > seconds:
            break


def warm_pass(ops: list[Op], spark, tracer, record: dict) -> None:
    """Run a pass untimed and unchecked (write-back rounds are checked, to
    keep the generator's record in step with the store). A failure here is
    only noted: the same op fails again, and counts, in the timed pass."""
    t0 = time.perf_counter()
    with tracer.suspended():
        for op in ops:
            quiesce(spark)
            try:
                if isinstance(op, WritebackRound):
                    op.prepare()
                op.run(spark, tracer)
                if isinstance(op, WritebackRound):
                    op.check(spark)
            except Exception:  # noqa: BLE001
                record["errors"].append(f"warm-up {op.name}: {traceback.format_exc(limit=-3)[-1500:]}")
    record["warmup_s"] = record.get("warmup_s", 0.0) + time.perf_counter() - t0


def prime_writeback(spec, spark, run_dir: Path, seed: int, n_files: int | None, record, tracer):
    """Write the SWC corpus and the store's first version (all creates)
    before the timed rounds; every timed round then has create, update,
    keep and deprecate actions."""
    from gen import SwcCorpus

    corpus = SwcCorpus(str(run_dir / "swc"), seed, n_files or spec["n_files"], spec["n_points"])
    record["corpus"] = corpus
    first = WritebackRound(corpus, str(run_dir / "store"), 0)
    with tracer.suspended():
        first.run(spark, tracer)
    ok, why = first.check(spark)
    if not ok:
        raise RuntimeError(f"initial store wrong: {why}")


# --- metrics ---------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile, n); the maximum when there are ten or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(record: dict, setup_walls: list[float]) -> dict:
    return {"setup_s": {"value": statistics.median(setup_walls), "unit": "s"},
            "pass_s": {"value": statistics.median(record["passes"]), "unit": "s"}}


def derived_metrics(record: dict, spec: dict) -> dict:
    """Per-layer metrics the run measures itself: peak memory, and the
    write-back round counts (zero on query workloads)."""
    names = ("upsert.create", "upsert.update", "upsert.keep", "upsert.deprecate",
             "upsert.rows_written", "upsert.write_amp", "sinks.bytes", "writeback.files_per_s")
    rounds = record["rounds"]
    if not rounds:
        return {**dict.fromkeys(names, 0.0), "memory.peak_rss_mb": record["peak_rss_mb"]}
    per = spec["rounds_per_pass"]
    passes = [rounds[i:i + per] for i in range(0, len(rounds) - per + 1, per)]

    def pass_sum(f):
        return statistics.median(sum(f(r) for r in p) for p in passes)

    out = {f"upsert.{a}": pass_sum(lambda r, a=a: r["actions"].get(a, 0))
           for a in ("create", "update", "keep", "deprecate")}
    out["upsert.rows_written"] = pass_sum(lambda r: r["rows_written"])
    out["sinks.bytes"] = pass_sum(lambda r: r["report_bytes"])
    out["upsert.write_amp"] = statistics.median(
        r["rows_written"] / sum(r["actions"].get(a, 0) for a in ("create", "update", "deprecate"))
        for r in rounds
    )
    out["writeback.files_per_s"] = statistics.median(r["files"] / r["wall_s"] for r in rounds)
    out["memory.peak_rss_mb"] = record["peak_rss_mb"]
    return out


def detail(record: dict, setup_walls: list[float]) -> dict:
    walls = [o["wall_s"] for o in record["ops"]]
    t, pct, n = tail(walls) if walls else (None, None, 0)
    out = {
        "workload": record["workload"],
        "seed": record["seed"],
        "setup_walls_s": setup_walls,
        "passes_s": record["passes"],
        "op_p50_s": statistics.median(walls) if walls else None,
        "op_tail_s": t,
        "op_tail_pct": pct,
        "op_samples": n,
        "failed_share": record["failed"] / max(1, record["attempted"]),
        "check_s": record["check_s"],
        "warmup_s": record.get("warmup_s"),
        "gen_s": record.get("gen_s"),
        "peak_rss_mb": record.get("peak_rss_mb"),
        "ops": record["ops"],
        "errors": record["errors"],
    }
    if record["rounds"]:
        out["rounds"] = record["rounds"]
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for
    it to exit (it would otherwise outlive us by a few seconds)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_dir() or not COMPARATOR.is_file():
        print(f"perfbench: no package at {PACKAGE.name}/ next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    spec = CONFIG["workloads"][args.workload]
    cpus = min(CONFIG["cpus"], os.cpu_count() or 1)
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "attempted": 0, "failed": 0,
              "ops": [], "passes": [], "pass_sizes": [], "rounds": [], "errors": [],
              "check_s": 0.0}
    spark = None
    try:
        isolate(run_dir, cpus)
        from gen import write_tables
        from spans import make_tracer

        tables = CONFIG["tables"]
        t0 = time.perf_counter()
        data_dir = write_tables(
            str(run_dir / "data"), args.sf or tables["sf"], tables["corpus_seed"],
            tables["n_docs"], tables["n_vecs"],
        )
        record["gen_s"] = time.perf_counter() - t0
        tracer = make_tracer(bool(args.trace), cpus)
        spark, setup_walls = setup(data_dir, CONFIG["setup_repeats"], tracer)
        if spec["kind"] == "writeback":
            prime_writeback(spec, spark, run_dir, args.seed, args.swc_files, record, tracer)
        with RssSampler() as rss:
            run_workload(spec, spark, data_dir, run_dir, args.seed, args.seconds, tracer, record)
        record["peak_rss_mb"] = rss.peak_kb / 1024.0
        info = detail(record, setup_walls)
        metrics = {}
        if record["passes"] and args.trace:
            record["derived"] = derived_metrics(record, spec)
            metrics = tracer.metrics(record, [(m["name"], m["unit"]) for m in BENCH["per_layer"]])
            info["layers"] = tracer.report()
        elif record["passes"]:
            metrics = end_to_end(record, setup_walls)
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            run_dir.parent.rmdir()  # only when no other run is using it
    report_path = ROOT / ".perfbench_out" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    report_path.parent.mkdir(parents=True, exist_ok=True)
    report_path.write_text(json.dumps(info, indent=1, default=str))
    for e in record["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    failed = record["failed"]
    print(json.dumps({k: info[k] for k in ("workload", "seed", "op_p50_s", "op_tail_s",
                                           "op_tail_pct", "op_samples", "failed_share")}))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 and metrics else 1


if __name__ == "__main__":
    sys.exit(main())

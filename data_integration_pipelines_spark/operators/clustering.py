"""Distributed k-means (Lloyd's) and SemDeDup-style cluster-then-dedup
over the ``embeddings`` table — the clustering layer of a training-data
curation pipeline (semantic dedup, corpus bucketing for inspection /
stratified sampling, IVF-style coarse quantizers).

Spark-first shape (the textbook distributed Lloyd's):

- **Assignment is a map-only stage**: the k centroids (k x D numbers)
  are collected to the driver and shipped in the kernel closure, so
  each iteration's argmin is one vectorized NumPy int64 pass per Arrow
  batch (r12, guide §4.2; the whole-stage-codegen expression twin
  survives as :func:`assign_clusters_exprs`, parity-pinned) — no join,
  no shuffle. At 1000 executors this scales embarrassingly: every task
  scores its rows against the same tiny centroid table.
- **The update step is ONE partial-aggregated shuffle per iteration**
  (``posexplode`` -> groupBy (cluster, pos) -> SUM/COUNT), producing
  exactly ``k*D`` rows — the only thing that ever returns to the
  driver. That is the bounded-collect contract (same as PQ training's
  sample, similarity.py). Above ``MAX_CENTROID_CELLS`` the fit
  auto-switches to :func:`kmeans_fit_table`: the centroids live in a
  per-iteration checkpointed table, the update is a DataFrame join,
  and nothing k*D-sized ever reaches the driver — the SemDeDup
  large-k regime (k ~ N/5000) runs as ordinary jobs.

Engine-exact arithmetic (the property every oracle in this repo is
built on): components are quantized to integers at load
(``round(val * 10000)``), so distances are EXACT integer sums —
order-independent, overflow-checked — and centroid updates divide two
exact integers in double precision (one correctly-rounded IEEE op,
identical in Spark, DuckDB and Python). No floating-point summation
order anywhere; the fixture's assignment boundaries cannot flip
between engines.

SemDeDup (Abbas et al. 2023: cluster the corpus, then near-dedup
*within* clusters) composes on top: the final assignment groups the
pair scoring by cluster, so candidate pairs are ~N*avg_cluster_size
instead of N^2; at 100 TB you grow k with N to hold cluster sizes
bounded (k ~ N/5000), exactly how the paper runs on LAION-scale data.
One kernel scores every cluster: rows split into rank blocks of at
most ``MAX_BLOCK`` rows and each block pair is one gram matrix, so no
task holds more than ``MAX_BLOCK``^2 gram cells however skewed a
cluster is (an ordinary cluster is one block).

Reference parity: the reference has no clustering (its pipelines stop
at per-row validation; cf. SURVEY §2.9) — this extends the curation
surface the way dedup.py extends its exact-match checks.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cache import bounded_persist, loop_session as _loop_session
from .dedup import spread

#: scale for quantizing embedding components to integers
Q_SCALE = 10_000
#: extra fixed-point scale for centroid components (centroids carry
#: two more decimal digits than the quantized inputs)
C_SCALE = 100

#: loud ceiling on the k*D numbers collected per iteration — the
#: update collect must stay driver-trivial at any corpus size
MAX_CENTROID_CELLS = 1_000_000

#: below this k the regime probe is folded into the seed collect:
#: pulling k rows before knowing D is bounded by a handful of vectors
#: (each must fit in an executor row anyway), so the defensive 1-row
#: probe job would only add a sequential scheduling round-trip
PROBE_FREE_K = 32


def quantize_vec(vec_col: Column, scale: int = Q_SCALE) -> Column:
    """array<float> -> array<long> with components ``round(x * scale)``
    (half-away-from-zero, matching DuckDB/Spark ROUND). All downstream
    distance math is exact integer arithmetic on this array."""
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _round_half_away(x: float) -> int:
    """Python mirror of SQL ROUND(double): half away from zero on the
    double's TRUE value (DuckDB's std::round). Python's round() is
    banker's, and the folk floor(x + 0.5) is subtly wrong at
    representation edges: for x just below m + 0.5, x + 0.5 can round
    UP to exactly m + 1.0 and floor then overshoots by 1. Computing
    the fraction as x - floor(x) is exact for |x| < 2^52, so the
    half-comparison sees the true value."""
    if x >= 0:
        f = math.floor(x)
        return int(f) + (1 if x - f >= 0.5 else 0)
    c = math.ceil(x)
    return int(c) - (1 if c - x >= 0.5 else 0)


def assign_clusters(
    qdf: DataFrame, centroids: list[tuple[int, list[int]]], qvec_col: str = "qvec"
) -> DataFrame:
    """Append (cluster, dist) for the nearest centroid. ``centroids``
    is a cid-ascending list of (cid, components); ties on exact integer
    distance break to the LOWEST cid, mirroring the oracle's
    ``ROW_NUMBER() OVER (ORDER BY dist, cid)``.

    Vectorized Arrow kernel (r12, guide §4.2): the per-row argmin is a
    NumPy int64 difference/square/accumulate over whole Arrow batches —
    ONLY ``qvec_col`` crosses the Python boundary (every other column
    stays JVM-side; guide §4.1), the centroid matrix is built once per
    task from the closure (k*D <= MAX_CENTROID_CELLS cells, a few MB at
    the cap), and ``np.argmin`` returns the FIRST index of the minimum
    — over a cid-ascending matrix that is exactly the lowest-cid
    tie-break. All arithmetic stays in int64 (differences <= ~2e6 per
    component, squares <= ~4e12, sums exact in 64-bit like the JVM
    longs of the expression twin), so the result is bit-identical to
    :func:`assign_clusters_exprs` — pinned by test on tie fixtures.

    The interpreted-HOF expression twin this replaced evaluated an
    O(k*D) lambda chain PER ROW inside the JVM interpreter — at scale
    the assignment map IS the fit's cost, and one NumPy pass per batch
    beats per-row interpreted folds by orders of magnitude; it survives
    as :func:`assign_clusters_exprs` (parity pin + plan-only paths)."""
    import numpy as np

    cids_np = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)
    cents_np = np.array(
        [[int(v) for v in c] for _, c in centroids], dtype=np.int64
    )

    @F.pandas_udf("struct<cluster: bigint, dist: bigint>")
    def _nearest(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # (iterator form, guide §4.5 — the centroid matrix builds once
        # per task; StructType batches yield as pd.DataFrame)
        k, dim = len(centroids), len(centroids[0][1]) if centroids else 0
        for s in batches:
            # a NULL, wrong-length or NULL-component vector scores
            # (NULL, NULL), as in the expression twin (zip_with pads the
            # short side with NULL and the distance sum goes NULL)
            ok = np.array([v is not None and len(v) == dim for v in s], bool)
            x = np.array([v for v, g in zip(s, ok) if g] or np.empty((0, dim)))
            if x.dtype.kind == "f":  # Arrow's float64 + NaN for NULL components
                good = ~np.isnan(x).any(axis=1)
                ok[ok], x = good, x[good]
            x = x.astype(np.int64) * C_SCALE
            d = np.empty((len(x), k), dtype=np.int64)
            for j in range(k):
                diff = x - cents_np[j]
                # exact int64 accumulation — same overflow contract as
                # the JVM-long expression twin
                d[:, j] = np.einsum("ij,ij->i", diff, diff)
            idx = d.argmin(axis=1)  # first min == lowest cid
            cluster, dist = np.zeros((2, len(s)), dtype=np.int64)
            cluster[ok], dist[ok] = cids_np[idx], d[np.arange(len(x)), idx]
            yield pd.DataFrame(
                {
                    "cluster": pd.arrays.IntegerArray(cluster, ~ok),
                    "dist": pd.arrays.IntegerArray(dist, ~ok),
                }
            )

    # asNondeterministic (guide §4.4): extracting .cluster and .dist
    # from the one struct result otherwise lets CollapseProject inline
    # the UDF into BOTH references — two stacked ArrowEvalPython nodes,
    # every row scored twice (measured in the r12 plan dump). The
    # kernel is pure, but the marker is the supported way to forbid
    # duplication; no filter ever needs to push through this projection.
    _nearest = _nearest.asNondeterministic()

    with_nc = qdf.withColumn("__nc", _nearest(F.col(qvec_col)))
    return with_nc.select(
        "*",
        F.col("__nc.cluster").alias("cluster"),
        F.col("__nc.dist").alias("dist"),
    ).drop("__nc")


def assign_clusters_exprs(
    qdf: DataFrame, centroids: list[tuple[int, list[int]]], qvec_col: str = "qvec"
) -> DataFrame:
    """JVM-expression twin of :func:`assign_clusters` (the pre-r12
    default, retained as the parity pin for the Arrow kernel): the k
    distances come from ONE ``transform`` lambda over a nested
    array<array<long>> centroid literal — a single compiled loop body
    instead of k unrolled folds, so the generated code (and its JIT
    cost, re-paid every iteration because the literals change) is
    O(k*D) data but O(D) code. The literal itself is built as one SQL
    string (one parser call) — k*D individual ``F.lit`` columns cost
    ~1s of driver round-trips per iteration before any job runs.
    Ties on exact integer distance break to the LOWEST cid
    (``array_position`` returns the first index of the min)."""
    cents_sql = ",".join(
        "array(" + ",".join(str(int(v)) for v in c) + ")" for _, c in centroids
    )
    cents = F.expr(f"CAST(array({cents_sql}) AS ARRAY<ARRAY<BIGINT>>)")
    cids_sql = ",".join(str(int(cid)) for cid, _ in centroids)
    cids = F.expr(f"CAST(array({cids_sql}) AS ARRAY<BIGINT>)")

    def dist_to(c: Column) -> Column:
        sq = F.zip_with(
            F.col(qvec_col),
            c,
            lambda x, y: (x * F.lit(C_SCALE) - y) * (x * F.lit(C_SCALE) - y),
        )
        return F.aggregate(sq, F.lit(0).cast("long"), lambda acc, v: acc + v)

    with_d = qdf.withColumn("_dists", F.transform(cents, dist_to))
    idx = F.array_position(F.col("_dists"), F.array_min("_dists")).cast("int")
    return with_d.select(
        "*",
        F.element_at(cids, idx).alias("cluster"),
        F.array_min("_dists").alias("dist"),
    ).drop("_dists")


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, list[tuple[int, list[int]]] | DataFrame]:
    """Fixed-iteration distributed Lloyd's with deterministic init:
    centroid ``c`` starts at the vector whose id is the c-th smallest
    (no RNG — reproducible across runs, engines and partitionings; the
    same convention as ``fixture_codebooks``). Returns the FINAL
    assignment DataFrame (id, qvec, cluster, dist) and the centroids
    that produced it.

    Two regimes, auto-switched on ``k * dim``:

    - ``k*D <= MAX_CENTROID_CELLS`` (the common case): the driver-loop
      path below — map-only literal-inlined assignment, one k*D-row
      collect per iteration. Second return value is the centroid LIST.
      A cluster that loses all members simply drops out (inner-join
      update semantics — well-defined and identically expressible in
      SQL); with data-point init and small k this does not occur on
      the fixtures.
    - ``k*D > MAX_CENTROID_CELLS`` (SemDeDup wants k ~ N/5000, so
      large k*D is the realistic 100 TB regime): delegates to
      :func:`kmeans_fit_table` — the update step is a DataFrame join
      against a per-iteration checkpointed centroid table and NOTHING
      k*D-sized ever reaches the driver. Second return value is the
      centroid TABLE (cluster, pos, cval). Identical fixed point AND
      identical empty-cluster drop-out semantics to the driver loop
      (pinned by test; farthest-point reseeding is opt-in via
      :func:`kmeans_fit_table` directly).
    """
    # The regime decision needs the TRUE dim (a modest k with huge-D
    # vectors blows the cap just as surely as a huge k). For small k
    # (<= PROBE_FREE_K rows, i.e. driver memory bounded by a handful of
    # vectors either way) dim comes out of the seed collect itself —
    # no separate 1-row probe job, one fewer sequential scheduling
    # round-trip per fit (r11, guide §1.2: the driver loop is a chain
    # of blocking jobs, so every job removed is wall time at ANY
    # scale). Only a large k, where collecting k rows before knowing D
    # could be genuinely unbounded, pays the defensive probe first.
    # reseed_empty=False: the auto-switch must preserve the driver
    # loop's drop-out semantics EXACTLY (same function, same answer,
    # whichever side of the cap k*D lands on); callers who want
    # reseeding opt in via kmeans_fit_table directly
    def table_path():
        return kmeans_fit_table(
            df, id_col, vec_col, k, iters,
            checkpoint_dir=checkpoint_dir, reseed_empty=False,
        )

    if k > PROBE_FREE_K:
        probe = df.select(vec_col).first()
        if probe is None:
            raise ValueError("kmeans_fit on an empty DataFrame")
        if probe[0] is None:
            raise ValueError(
                f"kmeans_fit: the dimension probe row's {vec_col!r} is NULL"
            )
        if k * len(probe[0]) > MAX_CENTROID_CELLS:
            return table_path()

    # spread() before the persist: the per-iteration assignment map is
    # a heavy batch kernel (O(k*D) per row), and an unsplittable
    # small scan would serialize every iteration onto one core; no-op
    # at real scale (r11, guide §2.1)
    qdf = bounded_persist(
        spread(
            df.select(
                F.col(id_col).alias("id"),
                quantize_vec(F.col(vec_col)).alias("qvec"),
            )
        )
    )
    # deterministic init: the k smallest ids, centroid scale = Q*C.
    # ONE bounded job (TakeOrderedAndProject): the global sort scans
    # everything, so it doubles as the cache-materialization pass, dim
    # falls out of the seed rows for free, and an Observation riding
    # the same scan yields the exact row count (TakeOrderedAndProject
    # reads every partition fully to get its per-partition top-k, so
    # every row passes the CollectMetrics node) — the right-sizing
    # count below costs zero extra jobs (r11, guide §1.2: the fit is a
    # chain of blocking jobs; one fewer dispatch per fit at ANY scale).
    from pyspark.sql import Observation

    obs = Observation()
    seed_rows = (
        qdf.observe(obs, F.count(F.lit(1)).alias("n"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if not seed_rows:
        raise ValueError("kmeans_fit on an empty DataFrame")
    if any(r["qvec"] is None for r in seed_rows):
        qdf.unpersist(blocking=False)
        raise ValueError(f"kmeans_fit: a seed row's {vec_col!r} is NULL")
    dim = len(seed_rows[0]["qvec"])
    if k * dim > MAX_CENTROID_CELLS:
        # small-k probe-free path crossed the cell cap after all
        # (huge-D vectors): delegate to the table path, identical
        # semantics to the probe-first branch above
        qdf.unpersist(blocking=False)
        return table_path()
    centroids = [
        (int(r["id"]), [int(v) * C_SCALE for v in r["qvec"]]) for r in seed_rows
    ]
    # Right-size the loop's map side (the CC _rightsized convention):
    # spread() fans the interpreted assignment map to full parallelism,
    # but below ~1k rows/partition task-launch overhead dominates the
    # per-task work and every sequential iteration pays it (measured
    # 0.53 -> 0.27 s/iteration at 2k rows on local[32]). The count rode
    # the seed job's Observation above; at real scale rows/partition is
    # far above the floor and the coalesce is a no-op.
    n_rows = int(obs.get["n"])
    target = max(1, min(qdf.rdd.getNumPartitions(), n_rows // 1024 + 1))
    if target < qdf.rdd.getNumPartitions():
        qdf = qdf.coalesce(target)

    # The in-loop collects run on an ISOLATED session clone with AQE
    # off and shuffle_partitions pinned to 1 (r12, VERDICT r11 #7: the
    # old session-conf toggle could strip AQE from queries planned
    # concurrently on other driver threads). The pin is safe ONLY
    # because the loop's single shuffle is the (cluster, pos) aggregate
    # — k*D rows, bounded by the MAX_CENTROID_CELLS guard above and
    # collected to the driver regardless. The table path's loop must
    # NOT take this pin: its shuffles are N*k-sized. The clone shares
    # the CacheManager, so a global_temp view of the pooled qdf cache
    # serves the loop without recompute.
    import uuid

    spark = df.sparkSession
    loop = _loop_session(spark, shuffle_partitions=1)
    view = f"__kmfit_{uuid.uuid4().hex}"
    qdf.createOrReplaceGlobalTempView(view)
    try:
        qloop = loop.table(f"global_temp.{view}")
        for _ in range(iters):
            assigned = assign_clusters(qloop, centroids)
            # ONE shuffle: partial-agg'd SUM/COUNT per (cluster, pos);
            # k*D rows back to the driver (bounded by the guard above)
            sums = (
                assigned.select(
                    "cluster", F.posexplode("qvec").alias("pos", "qv")
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            by_cid: dict[int, list[int]] = {}
            for r in sums:
                comp = by_cid.setdefault(int(r["cluster"]), [0] * dim)
                # exact ints in, one IEEE division, half-away round —
                # bit-identical to the oracle's CAST(ROUND(..) AS BIGINT)
                comp[int(r["pos"])] = _round_half_away(
                    float(r["s"]) * C_SCALE / int(r["n"])
                )
            centroids = sorted(by_cid.items())
    finally:
        spark.catalog.dropGlobalTempView(view)
    # the returned plan still reads qdf — the pooled cache serves the
    # caller's job(s) and is evicted FIFO by later operators
    return assign_clusters(qdf, centroids), centroids


def _round_half_away_col(x: Column) -> Column:
    """Column mirror of :func:`_round_half_away`: half away from zero
    on the double's TRUE value. floor(x + 0.5) is subtly wrong at
    representation edges (x + 0.5 can round UP to exactly m + 1.0);
    computing the fraction as x - floor(x) is exact for |x| < 2^52,
    identical to the Python driver-loop update step."""
    pos = F.floor(x) + F.when(x - F.floor(x) >= 0.5, 1).otherwise(0)
    neg = F.ceil(x) - F.when(F.ceil(x) - x >= 0.5, 1).otherwise(0)
    return F.when(x >= 0, pos).otherwise(neg).cast("long")


def kmeans_fit_table(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    checkpoint_dir: str | None = None,
    reseed_empty: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Large-k*D Lloyd's: the centroids live in a per-iteration
    CHECKPOINTED long-form table ``(cluster, pos, cval)`` and the
    update step is a DataFrame join — nothing k*D-sized is ever
    collected to the driver, so the regime the driver-loop guard
    refuses (SemDeDup's k ~ N/5000 on high-D embeddings) runs as an
    ordinary sequence of jobs.

    Same deterministic fixed point as :func:`kmeans_fit` (pinned by
    test): identical seed convention (centroid c = the vector with the
    c-th smallest id, cid = that id), identical exact-integer distance
    (argmin ties -> lowest cid via a struct min), and an update
    division + half-away round expressed as the same one-multiply /
    one-divide IEEE sequence (:func:`_round_half_away_col`).

    Plan shape per iteration:

    - **assignment**: the exploded data ``(id, pos, qv)`` joins the
      broadcast centroid table on ``pos`` -> per-(id, cluster) partial
      squared distances -> ONE partial-agg'd shuffle on ``id`` -> the
      struct-min argmin. The centroid table broadcasts comfortably in
      regimes where literal inlining already died of driver/codegen
      cost (a 10^7-cell table is ~100 MB broadcast vs an unparseable
      SQL literal); beyond broadcast limits, drop the hint and let AQE
      side the join.
    - **update**: assignment joins the exploded data back on ``id``
      (both sides hash-partitioned on id by the argmin shuffle) ->
      groupBy (cluster, pos) -> SUM/COUNT -> the new centroid table.
    - **checkpoint**: each iteration's table materializes via
      ``localCheckpoint`` (or reliable ``checkpoint`` into
      ``checkpoint_dir`` on a real cluster — survives executor loss,
      same convention as dedup.connected_components), truncating the
      otherwise per-iteration-compounding lineage.

    ``reseed_empty``: a centroid no point chose is re-seeded from the
    FARTHEST assigned point (max dist, ties -> lowest id; the standard
    empty-cluster fix) instead of silently dropping out; lost cids are
    detected with one k-bounded action per iteration (which doubles as
    the checkpoint materializer).

    Returns (assignment ``(id, qvec, cluster, dist)``, final centroid
    table ``(cluster, pos, cval)``).
    """
    spark = df.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(cent: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return cent.checkpoint(eager=False)
        return cent.localCheckpoint(eager=False)

    qdf = bounded_persist(
        df.select(
            F.col(id_col).alias("id"), quantize_vec(F.col(vec_col)).alias("qvec")
        )
    )
    long = bounded_persist(
        qdf.select("id", F.posexplode("qvec").alias("pos", "qv"))
    )
    # seed WITHOUT collecting vectors: the k smallest ids become the
    # centroid table directly (cid = id, cval = qv * C_SCALE)
    seed_ids = qdf.select("id").orderBy("id").limit(k)
    cent = _ckpt(
        long.join(F.broadcast(seed_ids), "id").select(
            F.col("id").alias("cluster"),
            "pos",
            (F.col("qv") * C_SCALE).alias("cval"),
        )
    )
    # The per-iteration distinct-collect exists ONLY to drive the
    # reseed control flow (and it is what forces one blocking job per
    # iteration). With reseed_empty=False the loop has no driver-side
    # decision to make, so it builds the full iteration chain LAZILY:
    # each centroid table stays a lazy localCheckpoint that the
    # caller's first action materializes in sequence (every broadcast
    # of cent_i is its own build job, so the iterations still execute
    # in order and each checkpoint caches + truncates lineage on first
    # compute). That removes iters+1 blocking scheduler round-trips
    # per fit and lets the N*k-sized assignment/update shuffles run
    # under the caller's AQE instead of the loop's no-AQE pin — the
    # right setting for corpus-scale shuffles (r11, guide §1.2, §2.2).
    prev_cids = (
        [int(r[0]) for r in cent.select("cluster").distinct().collect()]
        if reseed_empty
        else []
    )

    assign = None
    # The reseed path's per-iteration distinct-collects run under the
    # session's own AQE since r12: the old no_aqe toggle mutated the
    # SESSION conf (thread-unsafe, VERDICT r11 #7), and this path's
    # in-loop frames derive from per-iteration joins that cannot ride
    # a pre-built global_temp view the way the driver loop's cached
    # qdf can. Cost: one extra stage-materialization job per reseed
    # iteration on a path no registered query takes (every caller
    # passes reseed_empty=False); the lazy no-reseed path has no
    # in-loop actions at all.
    for _ in range(iters):
        # assignment: per-(id, cluster) exact integer distance, then a
        # struct min — (dist asc, cluster asc), the same tie-break as
        # assign_clusters' first-index-of-min over cid-ascending arrays
        term = (F.col("qv") * C_SCALE - F.col("cval")) * (
            F.col("qv") * C_SCALE - F.col("cval")
        )
        dists = (
            long.join(F.broadcast(cent), "pos")
            .groupBy("id", "cluster")
            .agg(F.sum(term).alias("dist"))
        )
        assign = dists.groupBy("id").agg(
            F.min(F.struct("dist", "cluster")).alias("__best")
        ).select(
            "id",
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.dist").alias("dist"),
        )
        # update: join assignments back to the exploded data; exact
        # integer SUM/COUNT, one IEEE multiply + divide, half-away
        # round — the driver loop's arithmetic, verbatim
        new_cent = (
            assign.select("id", "cluster")
            .join(long, "id")
            .groupBy("cluster", "pos")
            .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
            .select(
                "cluster",
                "pos",
                _round_half_away_col(
                    F.col("s").cast("double") * C_SCALE / F.col("n")
                ).alias("cval"),
            )
        )
        new_cent = _ckpt(new_cent)
        if not reseed_empty:
            # lazy path: no driver decision needed — the caller's
            # first action materializes the chain in order
            cent = new_cent
            continue
        # one k-bounded action: detects lost clusters AND materializes
        # the checkpoint (lazy checkpoints only persist when computed)
        new_cids = {int(r[0]) for r in new_cent.select("cluster").distinct().collect()}
        lost = sorted(set(prev_cids) - new_cids)
        if lost and reseed_empty:
            n_lost = len(lost)
            # farthest assigned points (dist desc, id asc), one per
            # lost cid — rank i re-seeds the i-th smallest lost cid
            far = (
                assign.orderBy(F.desc("dist"), F.asc("id"))
                .limit(n_lost)
                .select(
                    "id",
                    F.row_number()
                    .over(Window.orderBy(F.desc("dist"), F.asc("id")))
                    .alias("__rk"),
                )
            )
            lost_sql = ",".join(str(c) for c in lost)
            reseeded = (
                far.join(long, "id")
                .select(
                    F.element_at(
                        F.expr(f"CAST(array({lost_sql}) AS ARRAY<BIGINT>)"),
                        F.col("__rk"),
                    ).alias("cluster"),
                    "pos",
                    (F.col("qv") * C_SCALE).alias("cval"),
                )
            )
            new_cent = _ckpt(new_cent.unionByName(reseeded))
            new_cent.count()  # materialize the reseeded checkpoint
            new_cids |= set(lost)
        cent = new_cent
        prev_cids = sorted(new_cids)

    # final assignment against the final centroids, carrying qvec to
    # mirror kmeans_fit's (id, qvec, cluster, dist) contract
    term = (F.col("qv") * C_SCALE - F.col("cval")) * (
        F.col("qv") * C_SCALE - F.col("cval")
    )
    final = (
        long.join(F.broadcast(cent), "pos")
        .groupBy("id", "cluster")
        .agg(F.sum(term).alias("dist"))
        .groupBy("id")
        .agg(F.min(F.struct("dist", "cluster")).alias("__best"))
        .select(
            "id",
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.dist").alias("dist"),
        )
    )
    return qdf.join(final, "id").select("id", "qvec", "cluster", "dist"), cent


def assign_clusters_pivoted(
    df: DataFrame,
    cent: DataFrame,
    n_super: int,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style APPROXIMATE nearest-centroid assignment for the
    large-k regime (r7): a flat assignment joins every vector against
    every centroid — N·k·D work, and with the SemDeDup sizing k ~ N/64
    that is quadratic in N. Here the centroid table itself gets a
    coarse quantizer (the ann_ivf pattern turned inward):

    1. ``n_super`` SUPER-pivots = the centroids with the n_super
       smallest cluster ids (the fit's own deterministic seed
       convention);
    2. each centroid joins its ONE nearest super-bucket (k·n_super·D —
       centroid-table-sized, never data-scaled);
    3. each vector probes its ``nprobe`` nearest super-buckets
       (N·n_super·D) and computes exact distances ONLY against the
       centroids in those buckets (~N·D·nprobe·k/n_super).

    With n_super ~ sqrt(k·nprobe) the assignment is O(N·D·sqrt(k)) —
    the piece that makes auto_k's k-grows-with-N contract affordable
    end-to-end. Approximate by construction (the true nearest centroid
    can live outside the probed buckets — the standard IVF recall
    trade); EXACT when every centroid is a super or every bucket is
    probed (n_super >= k or nprobe >= n_super — pinned by pytest).
    MISASSIGNMENT IS THE ONLY APPROXIMATION — never row loss: every
    super-bucket holds at least its own centroid (the c2s self-pin
    below), so every vector's probe finds >= 1 candidate and exactly
    one output row (pinned by pytest on a duplicate-centroid fit,
    where pre-r8 the emptied bucket silently dropped its probers).
    Every arithmetic step is the fit's exact integer fixed point, and
    every tie-break is (dist, id) — deterministic, SQL-replicable, so
    the composition is oracle-pinnable (plans/queries_clustering.
    kmeans_assign_pivoted).

    ``cent`` is the long-form centroid table (cluster, pos, cval) that
    ``kmeans_fit_table`` returns. Returns (id, cluster, dist)."""
    long = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(quantize_vec(F.col(vec_col))).alias("pos", "qv"),
    )
    sup_ids = cent.select("cluster").distinct().orderBy("cluster").limit(n_super)
    sup = cent.join(F.broadcast(sup_ids), "cluster").select(
        F.col("cluster").alias("scid"), "pos", F.col("cval").alias("sval")
    )
    # centroid -> nearest super bucket (centroid-table-sized join).
    # SELF-PIN (r8): a super centroid always maps to ITSELF — without
    # it, two identical super centroids tie at distance 0 and the
    # larger-scid super ends up with an EMPTY bucket (even its own
    # centroid breaks the tie to the smaller scid), and any vector
    # probing that bucket would be silently dropped (no output row).
    # The pin only reorders exact-0 ties (a non-super centroid never
    # has cluster == scid), so non-degenerate fits are unchanged; with
    # it every bucket holds >= 1 centroid and every vector survives.
    c2s = (
        cent.join(F.broadcast(sup), "pos")
        .groupBy("cluster", "scid")
        .agg(
            F.sum(
                (F.col("cval") - F.col("sval")) * (F.col("cval") - F.col("sval"))
            ).alias("sdist")
        )
        .withColumn(
            "sdist",
            F.when(F.col("cluster") == F.col("scid"), F.lit(-1)).otherwise(
                F.col("sdist")
            ),
        )
        .groupBy("cluster")
        .agg(F.min(F.struct("sdist", "scid")).alias("__b"))
        .select("cluster", F.col("__b.scid").alias("scid"))
    )
    # vector -> nprobe nearest super buckets
    vterm = (F.col("qv") * C_SCALE - F.col("sval")) * (
        F.col("qv") * C_SCALE - F.col("sval")
    )
    v2s = (
        long.join(F.broadcast(sup), "pos")
        .groupBy("id", "scid")
        .agg(F.sum(vterm).alias("sdist"))
    )
    wprobe = Window.partitionBy("id").orderBy("sdist", "scid")
    probes = (
        v2s.withColumn("__rn", F.row_number().over(wprobe))
        .filter(F.col("__rn") <= nprobe)
        .select("id", "scid")
    )
    # candidates: only centroids sharing a probed bucket; distinct is
    # unnecessary (a centroid lives in exactly ONE bucket, so an (id,
    # cluster) pair arises from at most one probe). The c2s and cent
    # joins stay UNHINTED: both are k-scaled, and with auto_k the
    # centroid table grows with the corpus — AQE broadcasts while they
    # are genuinely small and shuffles when they are not (the
    # kmeans_fit_table "beyond broadcast limits" contract).
    cand = probes.join(c2s, "scid").select("id", "cluster")
    term = (F.col("qv") * C_SCALE - F.col("cval")) * (
        F.col("qv") * C_SCALE - F.col("cval")
    )
    return (
        cand.join(long, "id")
        .join(cent, ["cluster", "pos"])
        .groupBy("id", "cluster")
        .agg(F.sum(term).alias("dist"))
        .groupBy("id")
        .agg(F.min(F.struct("dist", "cluster")).alias("__best"))
        .select(
            "id",
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.dist").alias("dist"),
        )
    )


#: SemDeDup's production sizing: clusters hold ~this many vectors, so
#: k grows with N and per-cluster (quadratic) work stays bounded. 64
#: (vs the paper's ~N/5000 on LAION) keeps the fixture regime honest:
#: the sf0.01 corpus (N=500) resolves to the SAME k=8 the unrolled-CTE
#: oracle pins, while a 30x probe resolves to k=235 — bounded clusters
#: instead of 30x-bigger ones.
SEMDEDUP_TARGET_CLUSTER = 64


def recommended_n_super(k: int, nprobe: int = 1) -> int:
    """Super-pivot count minimizing pivoted-assignment work: the
    N·D·(n_super + nprobe·k/n_super) cost of
    :func:`assign_clusters_pivoted` is minimized at
    n_super = sqrt(k·nprobe). Integer sqrt, floored at 1."""
    return max(1, math.isqrt(k * nprobe))


def auto_k(n_vectors: int, target_cluster_size: int = SEMDEDUP_TARGET_CLUSTER) -> int:
    """Scale-aware cluster count: k = ceil(N / target_cluster_size),
    floored at 2. The SemDeDup contract is per-cluster work ~ cluster
    size squared, so k MUST grow with N — a fixed k makes intra-cluster
    gram work grow quadratically at scale (measured 9.5x at 30x data
    with the oracle-pinned k=8; SCALE.md 1c)."""
    return max(2, math.ceil(n_vectors / target_cluster_size))


#: N*k*D cap for the EXACT flat SemDeDup assignment: below it the
#: full-corpus Lloyd's fit with flat per-iteration assignment is
#: affordable (and oracle-pinnable); above it ``semdedup_assign``
#: routes to the sample-fit + pivoted-probing composition — the same
#: one-metadata-count auto-switch shape as kmeans_fit's centroid-cell
#: cap, the blocked SemDeDup kernel and the quantile cut method. With
#: auto_k (k ~ N/64) the flat term is N^2*D/64 — quadratic in N, the
#: 37.4x-at-30x cliff the flat twin measures (SCALE.md 1d).
FLAT_ASSIGN_CELLS = 64_000_000


def semdedup_route(
    n: int, k: int, dim: int, flat_cells: int = FLAT_ASSIGN_CELLS
) -> str:
    """Which branch :func:`semdedup_assign` takes for a corpus of ``n``
    ``dim``-dimensional vectors at ``k`` clusters — 'flat' (exact
    full-corpus fit) or 'pivoted' (sample-fit + pivoted probing). ONE
    definition shared by the operator and the scale probe's route
    recorder (scripts/scale_probe._semdedup_route), so the recorded
    route can never drift from the front door's actual decision."""
    return "flat" if n * k * dim <= flat_cells else "pivoted"


def semdedup_assign(
    df: DataFrame,
    k: int | str = "auto",
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    flat_cells: int = FLAT_ASSIGN_CELLS,
) -> DataFrame:
    """SemDeDup's clustering stage behind ONE front door (r8): returns
    (id, qvec, cluster) ready for :func:`semdedup_pairs` /
    :func:`semdedup_survivors`, picking the execution strategy from
    the corpus size so callers cannot accidentally take the flat
    N·k·D assignment to 100 TB:

    - ``N*k*D <= flat_cells``: the EXACT full-corpus Lloyd's fit
      (:func:`kmeans_fit` — itself auto-switching driver-loop vs
      centroid-table on k*D). Deterministic and oracle-pinnable; at
      the sf0.01 fixture with ``k='auto'`` this resolves to k=8 and
      reproduces the unrolled-CTE oracle bit-for-bit (pinned by
      pytest — the semdedup_survivors_auto_k precedent).
    - above: centroids fit on a BOUNDED deterministic sample (every
      ``step``-th id, >= max(4096, 8k) rows so every cluster can
      seed — the pq_train precedent) through the centroid-table path,
      then the FULL corpus assigned via :func:`assign_clusters_pivoted`
      at n_super = :func:`recommended_n_super` — O(N·D·sqrt(k)), the
      measured-linear pipeline (7.13x wall at 30x data vs the flat
      twin's 37.4x, SCALE.md 1d).

    ``k='auto'`` sizes k with :func:`auto_k` (bounded ~64-vector
    clusters at any N — the production sizing); an int pins it.
    One count + one 1-row dim probe decide the route — metadata-cheap
    against the clustering work either way.

    The scale-route sample filter keys on ``xxhash64(id)`` mod step,
    not ``id`` mod step (ADVICE r8): raw-id modulo assumes ids are
    dense/uniform — sparse or structured integer ids (content hashes,
    timestamps, all-even surrogate keys) would bias or empty the
    sample. Hashing first is deterministic but id-distribution-
    independent; a loud guard still verifies the sample can seed all
    ``kk`` clusters before fitting (an empty/undershot sample would
    otherwise surface as kmeans_fit_table's opaque seed error)."""
    # ONE routing job: the row count and the dim probe ride the same
    # aggregate (r12, guide §1.2 — the front door is a chain of
    # blocking jobs, so the separate .first() probe was a pure
    # scheduler round-trip; the count's full scan dominates either way
    # and F.first here only needs any one non-NULL vector's length)
    route_row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.first(F.col(vec_col), ignorenulls=True).alias("v"),
    ).first()
    n = int(route_row["n"])
    if n == 0:
        raise ValueError("semdedup_assign on an empty DataFrame")
    if route_row["v"] is None:
        raise ValueError(
            f"semdedup_assign: every {vec_col!r} value is NULL ({n} rows)"
        )
    dim = len(route_row["v"])
    kk = auto_k(n) if k == "auto" else int(k)
    if semdedup_route(n, kk, dim, flat_cells) == "flat":
        assigned, _ = kmeans_fit(df, id_col, vec_col, k=kk, iters=iters)
        # pooled-persist the assignment: downstream the pairs kernel
        # reads it once and the survivors rollup (or keep anti-join)
        # once more — without the pool each consumer re-runs the
        # interpreted HOF distance map (r11, guide §5.2)
        return bounded_persist(assigned.select("id", "qvec", "cluster"))
    step = max(1, n // max(4096, 8 * kk))
    # pooled-persist the sample: the seed guard's count and the fit's
    # iterations otherwise each re-pay the full corpus scan + hash
    # filter (ADVICE via r9 self-review)
    sample = bounded_persist(
        df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(step)) == 0)
    )
    n_sample = sample.count()
    if n_sample < kk:
        raise ValueError(
            f"semdedup_assign scale route: hash-sample at step={step} "
            f"yielded {n_sample} rows < k={kk} seeds (N={n}); the id "
            f"column {id_col!r} may be near-constant under xxhash64 — "
            "pass a smaller k or pre-sample explicitly"
        )
    _, cent = kmeans_fit_table(
        sample, id_col, vec_col, k=kk, iters=iters, reseed_empty=False
    )
    assigned = assign_clusters_pivoted(
        df,
        cent,
        n_super=recommended_n_super(kk),
        nprobe=1,
        id_col=id_col,
        vec_col=vec_col,
    )
    qdf = df.select(
        F.col(id_col).alias("id"), quantize_vec(F.col(vec_col)).alias("qvec")
    )
    # same pooled-persist as the flat branch: one materialization
    # serves every downstream consumer of the assignment
    return bounded_persist(
        assigned.select("id", "cluster").join(qdf, "id").select(
            "id", "qvec", "cluster"
        )
    )


def semdedup(
    df: DataFrame,
    threshold: float,
    k: int | str = "auto",
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    flat_cells: int = FLAT_ASSIGN_CELLS,
) -> DataFrame:
    """The SemDeDup pipeline end-to-end behind the auto-routing front
    door: :func:`semdedup_assign` (exact flat fit below the N·k·D cap,
    sample-fit + pivoted probing above) then the keep-one policy
    (:func:`semdedup_survivors`, whose pair kernel rank-blocks every
    cluster). Returns the per-cluster (cluster, n_members, n_removed,
    n_kept) funnel."""
    return semdedup_survivors(
        semdedup_assign(df, k, iters, id_col, vec_col, flat_cells), threshold
    )


_PAIR_SCHEMA = "cluster bigint, id_a bigint, id_b bigint, cosine_e4 bigint"

#: rows per rank block of :func:`semdedup_pairs`: no task scores more
#: than MAX_BLOCK^2 gram cells, however skewed a cluster is. Read at
#: call time, so a test that patches it forces multi-block clusters.
MAX_BLOCK = 4096


def semdedup_pairs(
    assigned: DataFrame,
    threshold: float,
    qvec_col: str = "qvec",
) -> DataFrame:
    """Within-cluster cosine near-duplicate pairs over the quantized
    vectors: a vectorized numpy gram matrix scores the intra-cluster
    pairs (the SemDeDup paper's kernel — candidates are
    ~N*cluster_size, never N^2; at 100 TB k grows with N so each group
    stays matmul-sized). Returns (cluster, id_a, id_b, cosine_e4) —
    the cosine as basis-point BIGINT (hash-proof output contract,
    functions/quantize.py).

    Every cluster is rank-blocked: its rows split into blocks of
    exactly <= MAX_BLOCK rows (row_number over id, divided by
    MAX_BLOCK) and every BLOCK PAIR (i <= j) is its own applyInPandas
    group scoring only i x j. That is a hard per-task memory bound of
    MAX_BLOCK^2 gram cells, where a hash-modulo split would only bound
    the expectation (a tail-heavy hash block could still OOM an
    executor sized to the cap), so a duplicate-heavy corpus that
    concentrates 10^6 vectors in one cluster cannot OOM a task. A
    cluster of at most MAX_BLOCK rows is one block and one group
    (0, 0): one gram matrix over the whole cluster. Pair (a, b) lands
    in exactly the group of its two blocks, so the pair set does not
    depend on MAX_BLOCK; compute stays quadratic in cluster size (that
    is SemDeDup's semantics), only MEMORY is capped. A row is
    replicated into its cluster's block count, ceil(n / MAX_BLOCK),
    of groups.

    Engine-exact despite numpy: quantized components are integers, so
    every product (<= 4e7) and every partial sum (<= 3e9) is an
    integer far below 2^53 — dgemm order and FMA cannot perturb an
    exact integer result. Norms are one IEEE sqrt each, the cosine one
    multiply + one divide — bit-identical to the SQL engines, so the
    threshold compare cannot flip.

    A JVM-only formulation (zip_with/aggregate folds per pair) gives
    the same bits but ~3x the time at fixture scale: higher-order
    array functions are interpreted per pair, while this kernel is one
    BLAS call per block pair."""
    import numpy as np

    # a NULL-embedding row is assigned no cluster (assign_clusters);
    # it has no clustermate to pair with, so it never reaches a kernel
    assigned = assigned.filter(F.col("cluster").isNotNull())
    by_cluster = Window.partitionBy("cluster")
    rank = F.row_number().over(by_cluster.orderBy("id")) - 1
    n_blocks = F.ceil(F.count(F.lit(1)).over(by_cluster) / MAX_BLOCK)
    rows = assigned.select(
        "cluster",
        "id",
        qvec_col,
        F.floor(rank / MAX_BLOCK).cast("int").alias("__blk"),
        n_blocks.cast("int").alias("__nb"),
    )
    block_pairs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.col("__nb") - 1),
            lambda x: F.struct(
                F.least(F.col("__blk"), x).alias("i"),
                F.greatest(F.col("__blk"), x).alias("j"),
            ),
        )
    )
    rep = rows.withColumn("__bp", F.explode(block_pairs)).select(
        "cluster",
        F.col("__bp.i").alias("bi"),
        F.col("__bp.j").alias("bj"),
        "__blk",
        "id",
        qvec_col,
    )

    def block_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from ..functions.quantize import np_e4

        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])

        def side(blk):
            part = pdf[pdf["__blk"] == blk]
            ids = part["id"].to_numpy()
            order = np.argsort(ids)
            X = np.array(part[qvec_col].tolist(), dtype=np.float64)[order]
            return ids[order], X, np.sqrt((X * X).sum(axis=1))

        # every block of a cluster holds >= 1 row: no side is empty
        ids_a, A, norm_a = side(bi)
        if bi == bj:
            # exact: integer-valued entries < 2^53
            cos = (A @ A.T) / np.outer(norm_a, norm_a)
            ii, jj = np.triu_indices(len(ids_a), k=1)
            hit = cos[ii, jj] >= threshold
            ii, jj, ids_b = ii[hit], jj[hit], ids_a
        else:
            ids_b, B, norm_b = side(bj)
            cos = (A @ B.T) / np.outer(norm_a, norm_b)
            ii, jj = np.nonzero(cos >= threshold)
        # orient every pair as (smaller id, larger id)
        la, lb = ids_a[ii], ids_b[jj]
        return pd.DataFrame(
            {
                "cluster": np.full(len(ii), int(pdf["cluster"].iloc[0])),
                "id_a": np.minimum(la, lb),
                "id_b": np.maximum(la, lb),
                "cosine_e4": np_e4(cos[ii, jj]),
            }
        )

    return rep.groupBy("cluster", "bi", "bj").applyInPandas(
        block_kernel, _PAIR_SCHEMA
    )


def semdedup_keep(assigned: DataFrame, threshold: float) -> DataFrame:
    """The SemDeDup keep LIST — (id, cluster) of every vector that
    SURVIVES the keep-one policy (no smaller-id clustermate clears the
    similarity bar). This is what a production run actually joins
    against the corpus to drop duplicates; :func:`semdedup_survivors`
    reports the per-cluster accounting of the same decision. The
    anti-join is unhinted: the removed set scales with the corpus's
    duplicate mass, so AQE must be free to pick broadcast vs shuffle
    (the dedup_survivors loser-set precedent)."""
    pairs = semdedup_pairs(assigned, threshold)
    removed = pairs.select("cluster", F.col("id_b").alias("id")).distinct()
    return assigned.select("id", "cluster").join(
        removed, ["cluster", "id"], "left_anti"
    )


def semdedup_survivors(assigned: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup keep-one policy: within each cluster, a vector is
    REMOVED iff some smaller-id vector in the same cluster clears the
    similarity threshold with it (the deterministic analogue of the
    paper's keep-one-per-duplicate-group). Returns per-cluster
    (cluster, n_members, n_removed, n_kept)."""
    pairs = semdedup_pairs(assigned, threshold)
    removed = pairs.select("cluster", F.col("id_b").alias("id")).distinct()
    flagged = assigned.select("cluster", "id").join(
        removed.withColumn("rm", F.lit(1)), ["cluster", "id"], "left"
    )
    return (
        flagged.groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            # count() skips nulls — exactly the oracle's COUNT(r.id)
            F.count("rm").alias("n_removed"),
        )
        .withColumn("n_kept", F.col("n_members") - F.col("n_removed"))
    )
